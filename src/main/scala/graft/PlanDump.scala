package graft

import java.nio.file.{Files, Paths}

/** Plan-capture aid for the optimization rounds: writes
  * `.explain("formatted")` of each named query to `<outDir>/<name>_<tag>.txt`.
  *
  * Usage: tools/run.sh graft.PlanDump <sfDir> <outDir> <tag> <q1,q2,...>
  *
  * Runs under the same [[GraftSession]] as [[Bench]] so the captured
  * plan (join strategy, exchange count, AQE wrapping) is the plan the
  * bench actually executes. Gate-style queries whose builders run eagerly
  * (lakehouse/streaming) execute their setup; the captured plan is the
  * plan of the RETURNED relation — exactly what the noop sink times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, qlist) = args.take(4)
    val names = qlist.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = GraftSession.start("graft-plandump")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${n}_$tag.txt"), plan)
        println(s"[plandump] wrote $n")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
