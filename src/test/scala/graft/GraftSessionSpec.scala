package graft

import java.nio.file.Files

/** The one session builder and the one gate temp-dir fixture: the test
  * session runs every engine conf of [[GraftSession]] (only master and
  * shuffle partitions are test-scale overrides), and [[Tables.gateDir]]
  * hands each (gate, scale) one stable, freshly emptied directory. */
class GraftSessionSpec extends SparkSpec {

  test("the test session holds every engine conf except the test-scale overrides") {
    val engine = GraftSession.conf.filter(_._1 != "spark.sql.shuffle.partitions")
    assert(engine.map(_._1).contains("spark.sql.ansi.enabled"))
    engine.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k: session has ${spark.conf.get(k)}, builder sets $v")
    }
  }

  test("file: paths resolve to LocalFs, which starts no chmod process") {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass == classOf[graft.io.LocalFs])
  }

  test("parity mode: x/0 is null, never an exception (SURVEY H5)") {
    assert(spark.sql("SELECT 1 / 0 AS q").head().isNullAt(0))
  }

  test("gateDir is stable per (name, sf) and distinct across scales") {
    val a = Tables.gateDir("spec_stable", "testdata/sf0.001")
    val b = Tables.gateDir("spec_stable", "testdata/sf0.001")
    val c = Tables.gateDir("spec_stable", "testdata/sf0.01")
    assert(a == b)
    assert(a != c)
  }

  test("gateDir wipes what a previous call left behind") {
    val first = Tables.gateDir("spec_wipe", sf)
    Files.createDirectories(first.resolve("nested"))
    Files.writeString(first.resolve("nested/stale.parquet"), "stale")
    Files.writeString(first.resolve("stale.txt"), "stale")
    val again = Tables.gateDir("spec_wipe", sf)
    assert(again == first)
    assert(!Files.exists(again.resolve("stale.txt")))
    assert(!Files.exists(again.resolve("nested")))
  }

  test("gateDir returns an existing, empty directory") {
    val dir = Tables.gateDir("spec_empty", sf)
    assert(Files.isDirectory(dir))
    assert(Option(dir.toFile.list()).exists(_.isEmpty))
  }
}
