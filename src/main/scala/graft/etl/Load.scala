package graft.etl

import graft.io.LocalFs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Stage 5 — Load (S4-S5; ref: src/etl_functions.py:396-439).
  *
  * Writes all 13 tables as Parquet and as one headered CSV file each. The
  * CSV is the one ordered sink: rows sorted by natural keys (hazard H1 —
  * pandas groupby orders by key, Spark groupBy doesn't) in a single file,
  * the reference's layout. Parquet is unsorted by design: it has no
  * row-order contract (S5). At 100 TB see [[writeAtScale]].
  *
  * Every parquet and CSV-part write, and the CSV concat, run their file
  * system calls through [[graft.io.LocalFs]] (passed as write options,
  * so a session built elsewhere gets it too): the stock local filesystem
  * starts a `chmod` process per directory and file it makes, about 263
  * per refresh at golden scale. A table whose parquet is one file sorts
  * its CSV in one task (1 job); larger ones keep the distributed range
  * sort (3 jobs).
  */
object Load {

  /** Natural output ordering per table (H1). */
  val sortKeys: Map[String, Seq[String]] = Map(
    "dim_date" -> Seq("id"),
    "dim_customer" -> Seq("customer_id"),
    "dim_product" -> Seq("product_id"),
    "dim_seller" -> Seq("seller_id"),
    "dim_order" -> Seq("order_id"),
    "dim_review" -> Seq("review_id"),
    "fact_sales" -> Seq("order_id", "order_item_id"),
    "agg_sales_by_date" -> Seq("year", "month"),
    "agg_sales_by_category" -> Seq("category_name"),
    "agg_sales_by_location" -> Seq("state"),
    "agg_sales_by_city" -> Seq("state", "city"),
    "agg_sales_by_seller" -> Seq("seller_id"),
    "agg_review_metrics" -> Seq("review_score"))

  def allTables(star: StarSchema, aggs: AggTables): Map[String, DataFrame] =
    star.dims ++ aggs.byName + ("fact_sales" -> star.factSales)

  /** Runs `body` with every Spark job it launches from this thread
    * described as `desc`, so event logs name the layer and table. */
  private[etl] def described[T](spark: SparkSession, desc: String)(body: => T): T = {
    spark.sparkContext.setJobDescription(desc)
    try body finally spark.sparkContext.setJobDescription(null)
  }

  def writeAll(star: StarSchema, aggs: AggTables, outDir: String): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val spark = star.factSales.sparkSession
    // Share the transformed frames across the 13 exports (the round-3
    // 100,000× lever — BASELINE.md's [load] itemization showed every
    // parquet sink re-running its joins over the raw input): the fact
    // feeds 7 outputs (itself + 6 aggregates) and each DIMENSION feeds
    // its own sink plus every aggregate that joins it, so all seven
    // upstream frames persist for the export's lifetime. The aggregates
    // themselves write exactly once each — caching them too is the
    // measured 10,000× cache-thrash trap (fourteen concurrent full-table
    // caches exceed storage memory; BASELINE.md round-3 finding #2).
    // MATERIALIZE before the parallel writers launch: persist() alone is
    // lazy, so the concurrent futures would race to compute the same
    // cached partitions and duplicate the work. Dims materialize
    // concurrently — each count is an independent job.
    val tAll = System.nanoTime()
    val shared = star.dims.values.toSeq :+ star.factSales
    shared.foreach(_.persist())
    Await.result(Future.sequence(shared.map(df =>
      Future(described(spark, "etl.load cache")(df.count())))), Duration.Inf)
    System.err.println(
      f"[load] cache materialization ${(System.nanoTime() - tAll) / 1e9}%.1fs")
    val storage = spark.sparkContext.getRDDStorageInfo
    storage.foreach { i =>
      System.err.println(s"[load] cached ${i.name} parts=${i.numCachedPartitions}/" +
        s"${i.numPartitions} mem=${i.memSize / 1048576}MB disk=${i.diskSize / 1048576}MB")
    }
    // Bounded export concurrency, sized by the MEASURED data scale
    // (SPARK_GRAFT_ETL_POOL overrides): at golden scale the 26 exports
    // are sub-second jobs and wall time is pure scheduling latency, so
    // run them all side by side; at GB scale the same concurrency is the
    // measured wall-killer — 13 concurrent global sorts split the
    // executor-memory pool 13 ways and saturate one disk, so the three
    // GB-scale tables' CSV exports took ~980 s EACH under contention vs
    // 13 s isolated (round-4 timeline, PERFORMANCE.md); two-wide was the
    // measured optimum (221 s vs 420 s four-wide, 1045 s serial includes
    // the pre-fix concat). The switch reads the just-materialized cache
    // footprint from the block manager — metadata, no extra job.
    val cachedBytes = storage.map(i => i.memSize + i.diskSize).sum
    val poolSize = sys.env.get("SPARK_GRAFT_ETL_POOL").map(_.toInt)
      .getOrElse(if (cachedBytes > (2L << 30)) 2 else 13)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(poolSize)
    val poolEc: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      // independent output tables write concurrently; Spark schedules the
      // jobs side by side (26 tiny jobs serially = pure scheduling latency)
      val jobs = allTables(star, aggs).toSeq.map { case (name, df) =>
        Future {
          // One sort per table, for the CSV, range-partitioned and fully
          // DISTRIBUTED (no task holds a whole table). The CSV reads back
          // the parquet just written, with the frame's own schema (no
          // inference job), instead of re-running the table's upstream
          // joins over the raw input (most of the load stage at the 9.5 GB
          // baseline scale). Rejected formulations:
          //  - orderBy(...).coalesce(1) collapsed the SORT itself into
          //    the single writer task — minutes of single-core spill-sort
          //    per GB-scale table at 100,000× (most of that run's 36 min);
          //  - sorting into a persisted cache and coalescing only for the
          //    write fixed 100,000× but thrashed at 10,000×: fourteen
          //    concurrent full-table caches exceed storage memory and the
          //    single writer task re-reads spilled blocks (282 s vs 55 s);
          //  - one persisted sorted frame feeding both sinks: AQE cannot
          //    coalesce a cached plan, so every table wrote 32 parts.
          val t0 = System.nanoTime()
          val path = s"$outDir/parquet/$name"
          described(spark, s"etl.load $name parquet") {
            df.write.mode("overwrite").options(LocalFs.options).parquet(path)
          }
          val t1 = System.nanoTime()
          described(spark, s"etl.load $name csv") {
            val back = spark.read.schema(df.schema).parquet(path)
            val keys = sortKeys(name).map(col)
            // A table whose parquet is ONE file (from the file listing:
            // no job, no planning) was written by one task, so one task
            // sorts its CSV: 1 job, where the range sort's sample,
            // shuffle and write are 3. coalesce(1) keeps a file that
            // splits in one partition. On one split both keep tied rows
            // (fact_sales, H8) in parquet file order (ExportPinSpec).
            val sorted =
              if (back.inputFiles.length == 1) back.coalesce(1).sortWithinPartitions(keys: _*)
              else back.orderBy(keys: _*)
            writeOrderedCsv(sorted, df.columns.toSeq, s"$outDir/csv/$name")
          }
          // per-table cost itemization (stderr keeps the stdout report
          // line contract clean); start/end are seconds since writeAll
          // entry so concurrent-phase overlap is reconstructible from the
          // log (per-table durations alone hide queueing)
          System.err.println(f"[load] $name%-22s parquet=${(t1 - t0) / 1e9}%6.1fs " +
            f"csv=${(System.nanoTime() - t1) / 1e9}%6.1fs " +
            f"start=${(t0 - tAll) / 1e9}%6.1fs end=${(System.nanoTime() - tAll) / 1e9}%6.1fs")
        }(poolEc)
      }
      Await.result(Future.sequence(jobs), Duration.Inf)
    } finally {
      shared.foreach(_.unpersist())
      pool.shutdown()
    }
  }

  /** Ordered single-file CSV without any single-task sort: the sorted
    * frame writes as headerless parts (each part a contiguous key range —
    * range partitioning — and part file names carry the partition index),
    * which then byte-concatenate in name order under a generated header
    * line. Sequential IO is the only serial step; at 100 TB the concat
    * itself is the thing to drop, not the sort (and `writeAtScale` below
    * does exactly that). */
  private def writeOrderedCsv(sorted: DataFrame, columns: Seq[String], dest: String): Unit = {
    import org.apache.hadoop.fs.Path
    val conf = sorted.sparkSession.sessionState.newHadoopConfWithOptions(LocalFs.options)
    val tmp = new Path(dest + "__parts")
    val fs = tmp.getFileSystem(conf)
    val tw = System.nanoTime()
    sorted.write.mode("overwrite").options(LocalFs.options)
      .option("header", "false")
      // default CSV writer prints ms precision; golden carries ns
      // (we keep µs — the max Spark holds)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(tmp.toString)
    val tc = System.nanoTime()
    val destPath = new Path(dest)
    fs.delete(destPath, true)
    fs.mkdirs(destPath)
    // Concat through the RAW local filesystem with a 1 MiB copy buffer.
    // The default path (ChecksumFileSystem + io.file.buffer.size=4096)
    // CRC-checksums every 512-byte chunk and issues 4 KiB write syscalls:
    // measured 355 s (~11 MB/s, one core pegged in writeChunk) to concat
    // dim_order's 4 GB at the 100,000× rung — the single largest cost in
    // the whole scaled export. Raw FS + big buffer is pure sequential IO
    // (the golden artifact carries no .crc sidecar anyone reads).
    val rawFs = fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    // order parts by their NUMERIC partition index, not the file name:
    // Spark pads the index to 5 digits, so a lexicographic sort silently
    // misorders part-100000 before part-99999 beyond 10^5 partitions
    // (ADVICE r3) — parse the index and fail loudly on an unparseable name
    val partIdx = "part-(\\d+)".r
    val parts = fs.listStatus(tmp)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .sortBy { f =>
        partIdx.findFirstMatchIn(f.getPath.getName).map(_.group(1).toLong)
          .getOrElse(sys.error(s"unparseable part file name: ${f.getPath.getName}"))
      }
    val out = rawFs.create(new Path(destPath, "part-00000-ordered.csv"), true)
    try {
      out.write((columns.mkString(",") + "\n").getBytes("UTF-8"))
      parts.foreach { p =>
        val in = rawFs.open(p.getPath)
        try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 1 << 20, false)
        finally in.close()
      }
    } finally out.close()
    val td = System.nanoTime()
    fs.delete(tmp, true)
    System.err.println(f"[csv] $dest parts=${(tc - tw) / 1e9}%.1fs " +
      f"concat=${(td - tc) / 1e9}%.1fs del=${(System.nanoTime() - td) / 1e9}%.1fs")
  }

  /** Cluster-scale layout: the fact partitions by month (date_id prefix) so
    * time-sliced queries prune partitions at the file index, and rows are
    * sorted by date_id within files for min/max row-group skipping. The
    * dimensions stay unpartitioned single-directory parquet (they
    * broadcast). At 100 TB this is the only write path; the golden
    * single-file layout above exists for reference parity. */
  def writeAtScale(star: StarSchema, aggs: AggTables, outDir: String): Unit = {
    val fact = star.factSales
      .withColumn("month_id", (org.apache.spark.sql.functions.col("date_id") / 100L)
        .cast("long"))
      .repartition(org.apache.spark.sql.functions.col("month_id"))
      .sortWithinPartitions("date_id", "order_id")
    fact.write.mode("overwrite").partitionBy("month_id")
      .parquet(s"$outDir/fact_sales")
    (star.dims ++ aggs.byName).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$name")
    }
  }
}
