package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One timed op as the loop saw it. `span` is its op span's id in the
  * traced phase, -1 otherwise. */
final case class OpRec(kind: String, name: String, seconds: Double, ok: Boolean,
    startMs: Long, endMs: Long, span: Int, counters: Map[String, Long])

/** Runs one workload in one JVM and writes the run artifact as JSON.
  *
  * Usage: Bench --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE
  *
  * Set-up (session start plus one cheap call into the workload) runs
  * `SetupReps` times and each is timed. Prepare then runs every op once,
  * untimed, and the closed loop runs ops for S seconds. With trace 1 the
  * loop runs three times for S/3 seconds each, the middle one with spans
  * and the job listener, so the artifact carries the per-layer numbers
  * and the tracing overhead. Output checks run after the loop. */
object Bench {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (workload, seed, seconds) = (opt("workload"), opt("seed").toLong, opt("seconds").toDouble)
    val trace = opt("trace") == "1"
    val work = opt("work")
    val loadStart = loadAvg()
    val wl = Workloads(workload, opt("data"), work, seed)

    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Session.start(work)
      wl.warmUp(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val checks = ArrayBuffer[Check]()
    val tPrep = System.nanoTime()
    checks ++= wl.prepare(spark)
    val prepareSecs = (System.nanoTime() - tPrep) / 1e9
    val heapPrepared = liveHeapMb()

    val untraced = new Tracer(false)
    val traced = new Tracer(true)
    val jobs = new JobLog
    // traced: untraced, traced, untraced thirds, so the warm-up the JVM
    // still does during the loop cancels out of the overhead estimate
    val (ops, loopSecs, finals, untracedOps) =
      if (!trace) {
        val (o, s) = loop(spark, wl, untraced, seconds, checks)
        (o, s, run(spark, wl, wl.finalSteps(spark), untraced, checks), Seq.empty[OpRec])
      } else {
        val (a1, _) = loop(spark, wl, untraced, seconds / 3, checks)
        spark.sparkContext.addSparkListener(jobs)
        val (b, s) = loop(spark, wl, traced, seconds / 3, checks)
        val f = run(spark, wl, wl.finalSteps(spark), traced, checks)
        org.apache.spark.ListenerDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(jobs)
        val (a2, _) = loop(spark, wl, untraced, seconds / 3, checks)
        (b, s, f, a1 ++ a2)
      }
    val jobStats = jobs.snapshot()
    val heapMb = math.max(heapPrepared, liveHeapMb())

    val tCheck = System.nanoTime()
    try checks ++= wl.check(spark)
    catch { case NonFatal(e) => checks += Check("check", ok = false, e.toString) }
    val checkSecs = (System.nanoTime() - tCheck) / 1e9
    val confs = spark.conf.getAll.toSeq.sortBy(_._1).toMap
    spark.stop()

    val all = ops ++ finals
    val e2e = Metrics.endToEnd(ops, setups, heapMb)
    val layers =
      if (trace) Metrics.perLayer(all, traced.spans.toSeq, jobStats, untracedOps, ops)
      else Map.empty[String, Double]
    val spans = if (trace) Metrics.spanTable(traced.spans.toSeq, jobStats) else Nil
    val artifact = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "load_avg_start" -> loadStart, "load_avg_end" -> loadAvg(),
      "confs" -> confs, "setup_s" -> setups, "prepare_s" -> prepareSecs,
      "loop_s" -> loopSecs, "check_s" -> checkSecs,
      "ops" -> all.map(o => Map("kind" -> o.kind, "name" -> o.name, "s" -> o.seconds,
        "ok" -> o.ok)),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "end_to_end" -> e2e, "per_layer" -> layers, "spans" -> spans)
    Files.write(Paths.get(opt("out")), Json(artifact).getBytes("UTF-8"))
  }

  /** The closed loop: one op at a time until `seconds` have passed and
    * the workload has sampled every op it needs. */
  private def loop(spark: SparkSession, wl: Workload, t: Tracer, seconds: Double,
      checks: ArrayBuffer[Check]): (Seq[OpRec], Double) = {
    val ops = ArrayBuffer[OpRec]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < seconds || !wl.covered(ops.toSeq))
      ops ++= run(spark, wl, Seq(wl.next(spark, t)), t, checks)
    (ops.toSeq, elapsed)
  }

  private def run(spark: SparkSession, wl: Workload, steps: Seq[Step], t: Tracer,
      checks: ArrayBuffer[Check]): Seq[OpRec] = steps.map { s =>
    val before = if (t.enabled) wl.counters() else Map.empty[String, Long]
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ok = try { t.span(s.kind)(s.run()); true } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] ${s.kind} ${s.name} failed: $e")
        false
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val span = if (t.enabled) t.spans.last.id else -1
    val delta =
      if (t.enabled) wl.counters().map { case (k, v) => k -> (v - before(k)) }
      else Map.empty[String, Long]
    if (ok) {
      try checks ++= s.after()
      catch { case NonFatal(e) => checks += Check(s"${s.kind}.after", ok = false, e.toString) }
    }
    OpRec(s.kind, s.name, secs, ok, startMs, endMs, span, delta)
  }

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Used heap right after a full collection. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
