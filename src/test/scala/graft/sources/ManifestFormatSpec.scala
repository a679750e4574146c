package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The on-disk bytes of [[SnapshotTable]]'s manifests, pinned as text:
  * a fixed verb sequence (a write registering numeric and string stats
  * columns, an append, a DV delete, a staged WAP branch, its publish on
  * a checkpoint-cadence version, and a compact) is compared, manifest by
  * manifest, against literal expected lines. Only what a rerun cannot
  * reproduce is masked: the `#ts=` commit stamp and the random 8-hex
  * tokens in staged file names (numbered in order of first appearance).
  * The checkpoint sidecar's rows are pinned the same way.
  */
class ManifestFormatSpec extends SparkSpec {

  private def tempTable(): String =
    java.nio.file.Files.createTempDirectory("snapformat").toString + "/t"

  private def rows(ks: Seq[Long]) = {
    import spark.implicits._
    ks.map(k => (k, s"w$k", 0L)).toDF("k", "s", "p").coalesce(1)
  }

  test("manifests, branch manifest and checkpoint rows keep their bytes") {
    val dir = tempTable()
    val mdir = java.nio.file.Paths.get(dir, "_manifests")
    val key = "spark.graft.snapshot.checkpointInterval"
    spark.conf.set(key, "4")
    try {
      SnapshotTable.write(spark, dir, rows(1L to 5L), "p",
        Map("statscols" -> "k,s")) // v1
      SnapshotTable.append(spark, dir, rows(6L to 8L), "p") // v2
      SnapshotTable.deleteWhereDV(spark, dir, col("k") === 2L) // v3
      SnapshotTable.writeBranch(spark, dir, rows(9L to 10L), "p", "b1")
      val branch = bytes(mdir.resolve("branch.b1.manifest"))
      SnapshotTable.publishBranch(spark, dir, "b1") // v4, checkpointed
      SnapshotTable.compact(spark, dir, "p") // v5
      val ckpt = spark.read.parquet(mdir.resolve("ckpt.v4.parquet").toString)
        .collect().map(_.getString(0)).toSeq

      val tokens = scala.collection.mutable.LinkedHashMap.empty[String, String]
      def mask(text: String): String =
        "-([0-9a-f]{8})-".r.replaceAllIn(
          "(?m)^#ts=[0-9]+$".r.replaceAllIn(text, "#ts=*"),
          m => s"-${tokens.getOrElseUpdate(m.group(1), s"u${tokens.size + 1}")}-")
      def lines(ls: String*): String = ls.mkString("", "\n", "\n")
      val got = (1 to 5).map(v => mask(bytes(mdir.resolve(s"v$v.manifest"))))
      val gotBranch = mask(branch)
      val gotCkpt = mask(lines(ckpt: _*))

      assert(got(0) == lines(
        "#format=2",
        "#statscols=k,s",
        "#ts=*",
        "p=0/snap-u1-0.parquet",
        "%k|1|5|p=0/snap-u1-0.parquet",
        "%s|s:w1|s:w5|p=0/snap-u1-0.parquet"))
      assert(got(1) == lines(
        "#base=1",
        "#format=2",
        "#statscols=k,s",
        "#ts=*",
        "+p=0/snap-u2-0.parquet",
        "+%k|6|8|p=0/snap-u2-0.parquet",
        "+%s|s:w6|s:w8|p=0/snap-u2-0.parquet"))
      assert(got(2) == lines(
        "#base=2",
        "#format=2",
        "#statscols=k,s",
        "#ts=*",
        "+~_dv/dv-u3-0.parquet"))
      assert(gotBranch == lines(
        "#format=2",
        "p=0/snap-u4-0.parquet"))
      assert(got(3) == lines(
        "#base=3",
        "#batch=wap.b1/0",
        "#format=2",
        "#lastbatch.wap.b1=0:4",
        "#statscols=k,s",
        "#ts=*",
        "#wap=b1",
        "+p=0/snap-u4-0.parquet",
        "+%k|9|10|p=0/snap-u4-0.parquet",
        "+%s|s:w10|s:w9|p=0/snap-u4-0.parquet"))
      assert(gotCkpt == lines(
        "p=0/snap-u1-0.parquet",
        "p=0/snap-u2-0.parquet",
        "p=0/snap-u4-0.parquet",
        "~_dv/dv-u3-0.parquet",
        "%k|1|5|p=0/snap-u1-0.parquet",
        "%s|s:w1|s:w5|p=0/snap-u1-0.parquet",
        "%k|6|8|p=0/snap-u2-0.parquet",
        "%s|s:w6|s:w8|p=0/snap-u2-0.parquet",
        "%k|9|10|p=0/snap-u4-0.parquet",
        "%s|s:w10|s:w9|p=0/snap-u4-0.parquet"))
      assert(got(4) == lines(
        "#base=4",
        "#datachange=false",
        "#format=2",
        "#lastbatch.wap.b1=0:4",
        "#statscols=k,s",
        "#ts=*",
        "-p=0/snap-u1-0.parquet",
        "-p=0/snap-u2-0.parquet",
        "-p=0/snap-u4-0.parquet",
        "+p=0/snap-u5-0.parquet",
        "-~_dv/dv-u3-0.parquet",
        "-%k|1|5|p=0/snap-u1-0.parquet",
        "-%s|s:w1|s:w5|p=0/snap-u1-0.parquet",
        "-%k|6|8|p=0/snap-u2-0.parquet",
        "-%s|s:w6|s:w8|p=0/snap-u2-0.parquet",
        "-%k|9|10|p=0/snap-u4-0.parquet",
        "-%s|s:w10|s:w9|p=0/snap-u4-0.parquet",
        "+%k|1|10|p=0/snap-u5-0.parquet",
        "+%s|s:w1|s:w9|p=0/snap-u5-0.parquet"))
      assert(SnapshotTable.read(spark, dir).count() == 9L)
    } finally spark.conf.unset(key)
  }

  /** A file's bytes as UTF-8 text, line terminators included. */
  private def bytes(p: java.nio.file.Path): String =
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
}
