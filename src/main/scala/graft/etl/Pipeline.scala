package graft.etl

import org.apache.spark.sql.SparkSession

/** End-to-end wiring (ref: src/etl_functions.py:562-585): extract →
  * transform → model → aggregate → load. Each output table is one lazy
  * logical plan; the only driver-side materializations are the per-table
  * imputation medians (Transform) — the same barrier the reference has.
  */
object Pipeline {

  final case class Result(star: StarSchema, aggs: AggTables)

  def build(spark: SparkSession, rawPath: String): Either[String, Result] =
    Extract(spark, rawPath).map { raw =>
      val transformed = Transform(raw)
      val star = Model(transformed)
      val aggs = Aggregates(star.factSales, star)
      Result(star, aggs)
    }

  /** Build + write every table as CSV + Parquet, plus the S9 instructions
    * side output (`reports/dashboard/power_bi_instructions.md`) and the
    * S8 chart sink (the five reference-named dashboard PNGs). */
  def run(spark: SparkSession, rawPath: String, outDir: String): Either[String, Result] =
    build(spark, rawPath).map { r => exportAll(spark, r, outDir); r }

  /** The one export step (shared by [[run]] and [[main]]): all 26 table
    * sinks, the S9 instructions file, the S8 dashboard PNGs. The four
    * chart inputs read back the agg PARQUET just written (with the plans'
    * schemas, so no inference job runs): writeAll has unpersisted the
    * shared frames by then, so the agg plans would re-run their upstream
    * joins over the raw input — measured ~15 s of the 10,000×-scale run
    * (round-12 ladder re-measure root cause). */
  private def exportAll(spark: SparkSession, r: Result, outDir: String): Unit = {
    Load.writeAll(r.star, r.aggs, outDir)
    Instructions.write(outDir)
    Charts.writeDashboard(
      Charts.Inputs.map { n =>
        n -> spark.read.schema(r.aggs.byName(n).schema).parquet(s"$outDir/parquet/$n")
      }.toMap,
      java.nio.file.Paths.get(outDir, "reports", "dashboard").toString)
  }

  def main(args: Array[String]): Unit = {
    val rawPath = if (args.length > 0) args(0) else "/root/reference/data/raw"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_etl_out"
    val spark = graft.GraftSession.start("graft-etl")
    val t0 = System.nanoTime()
    Pipeline.build(spark, rawPath) match {
      case Left(err) => System.err.println(s"pipeline failed: $err"); sys.exit(1)
      case Right(r) =>
        // build_sec captures the eager fraction of plan construction —
        // essentially the per-table imputation-median barriers (each
        // forces a scan); load_sec is everything the 26 exports execute.
        // The split plus Load's per-table [load] stderr lines itemize
        // where a scaled run's wall goes (round-3 9.5 GB finding: the
        // single-task sorts hid there).
        val buildSecs = (System.nanoTime() - t0) / 1e9
        val tL = System.nanoTime()
        exportAll(spark, r, outDir)
        val loadSecs = (System.nanoTime() - tL) / 1e9
        // in-process ETL seconds (extract→export), excluding JVM/session
        // startup — the number comparable across engines at scale
        val runSecs = (System.nanoTime() - t0) / 1e9
        val report = Quality.check(r.star, r.aggs)
        println(f"pipeline ok=${report.ok} run_sec=$runSecs%.2f " +
          f"build_sec=$buildSecs%.2f load_sec=$loadSecs%.2f fk=${report.fkViolations} " +
          s"nulls=${report.nullCounts} fact=${report.factTotalSales} agg=${report.aggTotalSales}")
    }
    spark.stop()
  }
}
