package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The one session configuration every workload runs under. Values
  * follow the engine's own bench main (shuffle width, AQE, codegen cache,
  * page size, IO buffers) at four local cores; ANSI mode is set
  * explicitly so the measured SQL semantics never depend on the Spark
  * default. Every entry lands in the run artifact. */
object Session {
  val Cores = 4

  def confs(workDir: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$Cores]",
    "spark.app.name" -> "graft-perfbench",
    "spark.sql.ansi.enabled" -> "true",
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.buffer.pageSize" -> "2m",
    "spark.hadoop.io.file.buffer.size" -> "1048576",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$workDir/spark-local",
    "spark.sql.warehouse.dir" -> s"$workDir/spark-warehouse")

  def start(workDir: String): SparkSession = {
    val spark = confs(workDir)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
