package graft.sources

import graft.SparkSpec
import scala.jdk.CollectionConverters._

/** Manifest headers are `#key=value` lines, so a key holding '=' or any
  * header holding '\n' or '\r' would read back as something else after
  * a cold start. Every such header is refused with an
  * IllegalArgumentException before anything is published, and the
  * refused verb leaves no staged data file behind.
  */
class ManifestHeaderSpec extends SparkSpec {

  private def tempTable(): String =
    java.nio.file.Files.createTempDirectory("snaphdr").toString + "/t"

  private def mkDf(ks: Seq[Long]) = {
    import spark.implicits._
    ks.map(k => (k, k % 2, k * 7L)).toDF("k", "p", "v")
  }

  private def version(dir: String): Long =
    SnapshotTable.latest(spark, dir).get._1

  /** Parquet data files under `dir` that the latest snapshot does not
    * reference. */
  private def stray(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    val (_, files, dvs) = SnapshotTable.latestFull(spark, dir).get
    val walk = java.nio.file.Files.walk(root)
    val rels =
      try walk.iterator().asScala.map(p => root.relativize(p).toString).toList
      finally walk.close()
    rels.filter(r => r.endsWith(".parquet") && !r.startsWith("_manifests/") &&
      !(files ++ dvs).contains(r))
  }

  test("a constraint predicate with a carriage return is refused, so a " +
      "cold reader never sees a weakened constraint") {
    val dir = tempTable()
    SnapshotTable.write(spark, dir, mkDf(1L to 10L), "p")
    intercept[IllegalArgumentException] {
      SnapshotTable.addConstraint(spark, dir, "c", "k >= 0\rAND k < 100")
    }
    assert(version(dir) == 1L, "a refused constraint must not commit")
    SnapshotTable.clearMetadataCaches()
    assert(SnapshotTable.constraints(spark, dir).isEmpty)
  }

  test("a streaming query id the header key cannot carry is refused and " +
      "its staged batch is dropped") {
    val dir = tempTable()
    SnapshotTable.write(spark, dir, mkDf(1L to 10L), "p")
    for (q <- Seq("a=b", "a\nb", "a\rb")) {
      intercept[IllegalArgumentException] {
        SnapshotTable.appendBatch(spark, dir, mkDf(Seq(100L)), "p", 0L, q)
      }
      intercept[IllegalArgumentException] {
        SnapshotTable.mergeBatch(spark, dir, "p", "k", mkDf(Seq(1L, 200L)),
          0L, q)
      }
    }
    assert(version(dir) == 1L, "no refused batch may commit")
    assert(stray(dir).isEmpty, s"stray staged files: ${stray(dir)}")
    assert(SnapshotTable.read(spark, dir).count() == 10L)
  }

  test("write and writeIf refuse bad header keys and values without " +
      "staging leftovers") {
    val dir = tempTable()
    SnapshotTable.write(spark, dir, mkDf(1L to 10L), "p")
    for (meta <- Seq(Map("note" -> "x\ny"), Map("note" -> "x\ry"),
        Map("a=b" -> "1"), Map("a\rb" -> "1"))) {
      intercept[IllegalArgumentException] {
        SnapshotTable.write(spark, dir, mkDf(20L to 25L), "p", meta)
      }
      intercept[IllegalArgumentException] {
        SnapshotTable.writeIf(spark, dir, mkDf(20L to 25L), "p", 1L, meta)
      }
    }
    assert(version(dir) == 1L, "no refused write may commit")
    assert(stray(dir).isEmpty, s"stray staged files: ${stray(dir)}")
  }
}
