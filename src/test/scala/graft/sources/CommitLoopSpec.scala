package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Cleanup contract of [[SnapshotTable]]'s single commit loop: a verb
  * that cannot win its CAS gives up after the attempt budget with one
  * `could not … after N attempts` error, leaves the version where it
  * was, and leaves no staged data file, DV sidecar or bloom sidecar
  * behind that the latest manifest does not reference.
  *
  * Exhaustion is forced without a test seam: a vacuum low watermark far
  * above the table's versions (`_manifests/low.v1000000.watermark`)
  * makes every publish retract itself (the vacuum guard of
  * `writeManifest`), so every attempt loses exactly like a CAS race.
  */
class CommitLoopSpec extends SparkSpec {

  private def tempTable(): String =
    java.nio.file.Files.createTempDirectory("commitloop").toString + "/t"

  private def mkDf(rows: Seq[(Long, Long, Long)]) = {
    import spark.implicits._
    rows.toDF("k", "p", "v")
  }

  /** A two-partition table with two files in partition 0 (so compact
    * has a crowded partition to rewrite). */
  private def tinyTable(): String = {
    val dir = tempTable()
    SnapshotTable.write(spark, dir,
      mkDf(Seq((1L, 0L, 10L), (2L, 1L, 20L), (3L, 0L, 30L))), "p")
    SnapshotTable.append(spark, dir, mkDf(Seq((4L, 0L, 40L))), "p")
    dir
  }

  private def blockCommits(dir: String): Unit =
    assert(new java.io.File(dir, "_manifests/low.v1000000.watermark")
      .createNewFile())

  /** Parquet files and bloom sidecars under `dir` that the latest
    * manifest does not reference (manifest checkpoints and files staged
    * by a WAP branch excluded). */
  private def unreferenced(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    val (_, files, dvs) = SnapshotTable.latestFull(spark, dir).get
    val idxDirs = SnapshotTable.history(spark, dir).head._3.collect {
      case (k, rel) if k.startsWith("bloomidx.") => rel
    }.toSet
    val mdir = root.resolve("_manifests").toFile
    val branchFiles = Option(mdir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("branch.") &&
        f.getName.endsWith(".manifest"))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().toList finally src.close()
      }
    val referenced = (files ++ dvs ++ branchFiles).toSet
    val walk = java.nio.file.Files.walk(root)
    val rels =
      try walk.iterator().asScala.map(p => root.relativize(p).toString).toList
      finally walk.close()
    val strayFiles = rels.filter(r => r.endsWith(".parquet") &&
      !r.startsWith("_manifests/") && !r.startsWith("_idx/") &&
      !referenced.contains(r))
    val strayIdx = rels.filter(r => r.startsWith("_idx/") &&
      r.count(_ == '/') == 1 && !idxDirs.contains(r))
    strayFiles ++ strayIdx
  }

  /** `verb` on a commit-blocked table must exhaust cleanly. */
  private def assertExhaustsClean(name: String)(
      verb: String => Any): Unit = {
    val dir = tinyTable()
    val before = SnapshotTable.latest(spark, dir).get._1
    assert(unreferenced(dir).isEmpty, s"$name: stray files before the verb")
    blockCommits(dir)
    val e = intercept[RuntimeException](verb(dir))
    assert(e.getMessage.matches("could not .+ after 20 attempts"),
      s"$name: unexpected failure ${e.getMessage}")
    assert(SnapshotTable.latest(spark, dir).get._1 == before,
      s"$name: the version moved")
    val stray = unreferenced(dir)
    assert(stray.isEmpty, s"$name left unreferenced files: $stray")
  }

  test("append exhausts cleanly: staged files dropped") {
    assertExhaustsClean("append") { dir =>
      SnapshotTable.append(spark, dir, mkDf(Seq((5L, 1L, 50L))), "p")
    }
  }

  test("write exhausts cleanly: staged files dropped") {
    assertExhaustsClean("write") { dir =>
      SnapshotTable.write(spark, dir, mkDf(Seq((6L, 0L, 60L))), "p")
    }
  }

  test("deleteWhereDV exhausts cleanly: every attempt's sidecar dropped") {
    assertExhaustsClean("deleteWhereDV") { dir =>
      SnapshotTable.deleteWhereDV(spark, dir, col("k") === 1L)
    }
  }

  test("mergeDV exhausts cleanly: sidecars and upsert files dropped") {
    assertExhaustsClean("mergeDV") { dir =>
      SnapshotTable.mergeDV(spark, dir, "p", "k",
        mkDf(Seq((2L, 1L, 21L), (7L, 0L, 70L))))
    }
  }

  test("updateWhere exhausts cleanly: sidecars and rewritten rows dropped") {
    assertExhaustsClean("updateWhere") { dir =>
      SnapshotTable.updateWhere(spark, dir, "p", col("k") === 3L,
        Map("v" -> (col("v") + 1L)))
    }
  }

  test("compact exhausts cleanly: every attempt's rewrite dropped") {
    assertExhaustsClean("compact") { dir =>
      SnapshotTable.compact(spark, dir, "p")
    }
  }

  test("analyzeBloom exhausts cleanly: every attempt's sidecar dropped") {
    assertExhaustsClean("analyzeBloom") { dir =>
      SnapshotTable.analyzeBloom(spark, dir, "k", bitsPerFile = 1L << 10)
    }
  }

  test("addConstraint exhausts cleanly: nothing staged, version unchanged") {
    assertExhaustsClean("addConstraint") { dir =>
      SnapshotTable.addConstraint(spark, dir, "v_pos", "v > 0")
    }
  }

  test("a refused attempt drops the call's staged files (constraint " +
      "violation on append and write)") {
    val dir = tinyTable()
    SnapshotTable.addConstraint(spark, dir, "v_pos", "v > 0")
    val before = SnapshotTable.latest(spark, dir).get._1
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.append(spark, dir, mkDf(Seq((8L, 0L, -1L))), "p")
    }
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.write(spark, dir, mkDf(Seq((9L, 1L, -1L))), "p")
    }
    assert(SnapshotTable.latest(spark, dir).get._1 == before)
    assert(unreferenced(dir).isEmpty)
  }

  test("racing replays of one batch: the losers drop their stage") {
    // all racers pass the pre-stage replay check and stage their rows;
    // the winner commits, every loser sees the marker on its next state
    // read and must drop what it staged
    val dir = tinyTable()
    val before = SnapshotTable.latest(spark, dir).get._1
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 3).map { _ =>
      new Thread(() => {
        gate.await()
        try results.add(SnapshotTable.appendBatch(spark, dir,
          mkDf(Seq((10L, 1L, 1L))), "p", batchId = 0L)): Unit
        catch { case t: Throwable => errs.add(t): Unit }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"racer failed: ${Option(errs.peek()).map(_.toString)}")
    assert(results.asScala.toSet == Set(before + 1))
    assert(SnapshotTable.latest(spark, dir).get._1 == before + 1)
    assert(unreferenced(dir).isEmpty)
  }
}
