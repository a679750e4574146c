package graft

import org.apache.spark.scheduler._

/** Single-query wall-clock decomposition for the optimization rounds:
  * runs each named query once through the noop sink (the Bench timing
  * contract) with a listener that attributes wall time to Spark jobs vs
  * driver-side gaps (planning, manifest IO, collect-based loops), and
  * prints per-job task-time totals. The output answers the §1 guide
  * question "is the time in tasks, in scheduling, or on the driver?"
  * without the UI (headless host).
  *
  * Usage: tools/run.sh graft.Profile <sfDir> <q1,q2,...>
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, qlist) = args.take(2)
    val names = qlist.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = GraftSession.start("graft-profile")

    final case class JobRec(id: Int, desc: String, start: Long,
      var end: Long = 0L, var tasks: Int = 0, var taskMs: Long = 0L,
      var gcMs: Long = 0L, var shuffleReadB: Long = 0L,
      var shuffleWriteB: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("")
        jobs.put(e.jobId, JobRec(e.jobId, desc, e.time))
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val j = stageToJob.get(e.stageId)
        Option(jobs.get(j)).foreach { r =>
          r.synchronized {
            r.tasks += 1
            Option(e.taskMetrics).foreach { m =>
              r.taskMs += m.executorRunTime
              r.gcMs += m.jvmGCTime
              r.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
              r.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
            }
          }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    Bench.runNoop(spark, sfDir, "q1_agg", "profile") // warm-up, as in Bench

    names.foreach { n =>
      jobs.clear(); stageToJob.clear()
      val t0 = System.nanoTime()
      Bench.runNoop(spark, sfDir, n, "profile")
      val wallMs = (System.nanoTime() - t0) / 1e6
      // serialize: job spans sorted by start; gaps = wall - union(spans)
      val recs = {
        import scala.jdk.CollectionConverters._
        jobs.values.asScala.toSeq.sortBy(_.start)
      }
      val spans = recs.map(r => (r.start, math.max(r.end, r.start)))
      var covered = 0L
      var cursor = 0L
      spans.foreach { case (s0, e0) =>
        val s1 = math.max(s0, cursor)
        if (e0 > s1) { covered += e0 - s1; cursor = e0 }
        else cursor = math.max(cursor, e0)
      }
      val nJobs = recs.size
      val taskMs = recs.map(_.taskMs).sum
      val gcMs = recs.map(_.gcMs).sum
      val shr = recs.map(_.shuffleReadB).sum
      println(f"== $n: wall=${wallMs / 1000}%.2fs jobs=$nJobs " +
        f"jobSpan=${covered / 1000.0}%.2fs driverGap=${(wallMs - covered) / 1000}%.2fs " +
        f"taskSum=${taskMs / 1000.0}%.2fs gc=${gcMs / 1000.0}%.2fs shufRead=${shr / 1024 / 1024}MB")
      recs.filter(r => (r.end - r.start) >= 200).foreach { r =>
        println(f"   job ${r.id}%4d ${(r.end - r.start) / 1000.0}%6.2fs tasks=${r.tasks}%4d " +
          f"taskSum=${r.taskMs / 1000.0}%7.2fs ${r.desc.take(80)}")
      }
    }
    spark.stop()
  }
}
