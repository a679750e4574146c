package graft.perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** One timed region: a benchmark op or a layer call inside one. Times
  * are epoch milliseconds (the clock Spark stamps job events with) plus
  * a monotonic duration for the span itself. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long,
    endMs: Long, seconds: Double)

/** In-memory span recorder. Spans nest on the calling thread; a
  * disabled tracer runs the body and records nothing, so the untraced
  * run pays one branch per call. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val secs = (System.nanoTime() - t0) / 1e9
        stack = stack.tail
        spans.synchronized {
          spans += Span(id, parent, name, startMs, System.currentTimeMillis(), secs)
        }
      }
    }
}

/** Per-job totals gathered from task-end events. */
final class JobStats(val id: Int, val submitMs: Long) {
  var endMs: Long = submitMs
  var tasks = 0L
  var failedTasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
}

/** Observes every Spark job of the session. Jobs are attributed to
  * spans afterwards by time window — jobs launched from pool threads
  * (the ETL's concurrent medians and sinks) carry no caller identity,
  * but their submission time always falls inside the caller's span. */
final class JobLog extends SparkListener {
  private val jobs = scala.collection.mutable.LinkedHashMap[Int, JobStats]()
  private val stageJob = scala.collection.mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobStats(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId)) {
      j.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def snapshot(): Seq[JobStats] = synchronized(jobs.values.toList)
}

object JobLog {
  /** Length of the union of the jobs' [submit, end] intervals clipped
    * to [lo, hi]: the time at least one job was running. */
  def busyMs(js: Seq[JobStats], lo: Long, hi: Long): Long = {
    val iv = js.map(j => (math.max(j.submitMs, lo), math.min(j.endMs, hi)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }
}
