package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every entry point runs under: Bench,
  * Verify, Profile, PlanDump, `etl.Pipeline.main` and the test fixture
  * [[SparkSpec]] (which overrides only master and shuffle partitions for
  * test scale). One place decides the SQL semantics, so the oracle, the
  * tests and the bench all check and time the same mode and plan.
  *
  * Master is `local[$SPARK_GRAFT_CPUS]`, defaulting to the host's
  * available processors.
  */
object GraftSession {
  /** Every engine conf, in the order the builder sets it. */
  private[graft] val conf: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // parity mode (SURVEY §7.4 H5): the pandas reference never raises on
    // x/0 or an overflowing cast, so neither does the engine
    "spark.sql.ansi.enabled" -> "false",
    // One session holds far more than 100 distinct generated classes
    // (84+ query plans in Bench/Verify, 14 ETL tables exporting
    // concurrently); the default static codegen cache (100 entries) then
    // misses on nearly every task and Janino recompiles per task:
    // measured 343 s → 51 s at the 10,000× ETL scale rung from this one
    // setting (round-4 finding, PERFORMANCE.md). It is an upper bound,
    // not a reservation.
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    // Tungsten pages must stay BELOW half a G1 region or every sort
    // page is a humongous allocation (G1 regions: heap/2048, so 16 MiB
    // at a 31 GiB heap, 32 MiB at 64 GiB; humongous = ≥ half region).
    // Spark's auto page (up to 64 MiB on big heaps) and 16m both land
    // humongous: old gen fills with page allocations and G1 churns
    // concurrent marks (measured: old gen pinned at 99.9% during sorts,
    // nondeterministic multi-minute stalls). 2m is sub-humongous for
    // every heap ≥ 8 GiB, and sorters address 8192 pages × 2 MiB =
    // 16 GiB per consumer.
    "spark.buffer.pageSize" -> "2m",
    // Local-FS streams (CSV/parquet part writes, the golden concat's
    // source reads) default to io.file.buffer.size=4096: 4 KiB write
    // syscalls under the CRC layer (measured 11 MB/s on the golden
    // concat). 1 MiB buffers make every stream sequential-IO-sized.
    "spark.hadoop.io.file.buffer.size" -> "1048576",
    // Every `file:` mkdirs/create through Hadoop starts a `chmod` process
    // when libhadoop is absent; LocalFs sets the same bits in-process
    // (see its doc). Only the implementation key: the cache bypass that
    // `Load` adds for sessions built elsewhere would cost a filesystem
    // instance per call here.
    "spark.hadoop.fs.file.impl" -> classOf[graft.io.LocalFs].getName,
    "spark.ui.enabled" -> "false")

  def builder(app: String): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    conf.foldLeft(SparkSession.builder().master(s"local[$cpus]").appName(app)) {
      case (b, (k, v)) => b.config(k, v)
    }
  }

  def start(app: String): SparkSession = {
    val spark = builder(app).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
