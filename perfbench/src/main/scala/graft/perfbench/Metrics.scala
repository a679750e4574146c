package graft.perfbench

/** End-to-end and per-layer numbers from the ops, spans and jobs of
  * one run. */
object Metrics {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Median time of each distinct (kind, name) op. */
  private def perOp(ops: Seq[OpRec]): Seq[Double] =
    ops.filter(_.ok).groupBy(o => (o.kind, o.name)).values.map(g => median(g.map(_.seconds))).toSeq

  /** Time of one pass over the mix: the sum of the per-op medians. */
  def mix(ops: Seq[OpRec]): Double = perOp(ops).sum

  /** Both op statistics weigh each distinct op once, however often the
    * loop happened to run it. */
  def endToEnd(ops: Seq[OpRec], setups: Seq[Double], heapMb: Double): Map[String, Double] =
    Map(
      "setup_s" -> median(setups),
      "op_geomean_s" -> math.exp(mean(perOp(ops).map(math.log))),
      "mix_s" -> mix(ops),
      "heap_peak_mb" -> heapMb)

  private final case class Attributed(span: Span, jobs: Seq[JobStats])

  /** Every job goes to the innermost span whose window holds its
    * submission time; a span's jobs include its descendants'. */
  private def attribute(spans: Seq[Span], jobs: Seq[JobStats]): Map[Int, Attributed] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + depth(byId(s.parent))
    val direct = jobs.groupBy { j =>
      spans.filter(s => s.startMs <= j.submitMs && j.submitMs <= s.endMs)
        .sortBy(s => (-depth(s), s.seconds)).headOption.map(_.id).getOrElse(-1)
    }
    val children = spans.groupBy(_.parent)
    def all(id: Int): Seq[JobStats] =
      direct.getOrElse(id, Nil) ++ children.getOrElse(id, Nil).flatMap(c => all(c.id))
    spans.map(s => s.id -> Attributed(s, all(s.id))).toMap
  }

  private def taskS(js: Seq[JobStats]) = js.map(_.taskMs).sum / 1000.0
  private def mb(x: Long) = x / 1048576.0

  /** Per-span rows for the artifact: self time, jobs, job span (time at
    * least one job ran) and driver gap (the rest). */
  def spanTable(spans: Seq[Span], jobs: Seq[JobStats]): Seq[Map[String, Any]] = {
    val at = attribute(spans, jobs)
    val childSecs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.sortBy(_.id).map { s =>
      val js = at(s.id).jobs
      val busy = JobLog.busyMs(js, s.startMs, s.endMs) / 1000.0
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "s" -> s.seconds,
        "self_s" -> (s.seconds - childSecs.getOrElse(s.id, 0.0)),
        "jobs" -> js.size, "job_span_s" -> busy,
        "driver_gap_s" -> math.max(0.0, s.seconds - busy), "task_s" -> taskS(js))
    }
  }

  def perLayer(all: Seq[OpRec], spans: Seq[Span], jobs: Seq[JobStats],
      untracedOps: Seq[OpRec], tracedOps: Seq[OpRec]): Map[String, Double] = {
    val at = attribute(spans, jobs)
    def named(n: String) = spans.filter(_.name == n)
    def medS(n: String) = median(named(n).map(_.seconds))
    def perSpan(n: String)(f: Seq[JobStats] => Double) = mean(named(n).map(s => f(at(s.id).jobs)))
    val traced = all.filter(o => o.ok && o.span >= 0)
    def ofKinds(ks: Set[String]) = traced.filter(o => ks(o.kind))
    def busy(o: OpRec) = JobLog.busyMs(at(o.span).jobs, o.startMs, o.endMs) / 1000.0
    def gap(o: OpRec) = math.max(0.0, o.seconds - busy(o))
    val queries = ofKinds(Set("query"))
    val commits = ofKinds(Set("append", "merge_dv", "delete_dv", "compact"))
    val traceOverhead = mix(tracedOps) - mix(untracedOps)
    val untracedMix = mix(untracedOps)

    val etl = Map(
      "etl.extract_s" -> medS("etl.extract"),
      "etl.transform_s" -> medS("etl.transform"),
      "etl.transform_jobs" -> perSpan("etl.transform")(_.size.toDouble),
      "etl.model_s" -> medS("etl.model"),
      "etl.aggregates_s" -> medS("etl.aggregates"),
      "etl.load_s" -> medS("etl.load"),
      "etl.load_jobs" -> perSpan("etl.load")(_.size.toDouble),
      "etl.load_task_s" -> perSpan("etl.load")(taskS),
      "etl.load_output_mb" -> perSpan("etl.load")(js => mb(js.map(_.outputBytes).sum)),
      "etl.charts_s" -> medS("etl.charts"),
      "etl.instructions_s" -> medS("etl.instructions"))
    val operators = Map(
      "operators.build_s" -> medS("operators.build"),
      "operators.exec_s" -> medS("operators.exec"),
      "operators.jobs_per_query" -> mean(queries.map(o => at(o.span).jobs.size.toDouble)),
      "operators.driver_gap_s" -> median(queries.map(gap)),
      "operators.task_s" -> mean(queries.map(o => taskS(at(o.span).jobs))),
      "operators.shuffle_mb" -> mean(queries.map(o =>
        mb(at(o.span).jobs.map(j => j.shuffleWriteBytes).sum))))
    def verb(k: String) = median(ofKinds(Set(k)).map(_.seconds))
    val sources = Map(
      "sources.append_s" -> verb("append"),
      "sources.merge_dv_s" -> verb("merge_dv"),
      "sources.delete_dv_s" -> verb("delete_dv"),
      "sources.compact_s" -> verb("compact"),
      "sources.read_s" -> verb("read"),
      "sources.time_travel_s" -> verb("time_travel"),
      "sources.jobs_per_commit" -> mean(commits.map(o => at(o.span).jobs.size.toDouble)),
      "sources.commit_driver_gap_s" -> median(commits.map(gap)),
      "sources.commit_job_span_s" -> median(commits.map(busy)),
      "sources.manifest_reads_per_commit" ->
        mean(commits.map(_.counters.getOrElse("manifest_reads", 0L).toDouble)),
      "sources.staged_mb" -> mean(commits.map(o => mb(o.counters.getOrElse("table_bytes", 0L)))))
    val spark = Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.failed_tasks" -> jobs.map(_.failedTasks).sum.toDouble,
      "spark.task_s" -> taskS(jobs),
      "spark.gc_s" -> jobs.map(_.gcMs).sum / 1000.0,
      "spark.shuffle_read_mb" -> mb(jobs.map(_.shuffleReadBytes).sum),
      "spark.shuffle_write_mb" -> mb(jobs.map(_.shuffleWriteBytes).sum),
      "spark.spill_mb" -> mb(jobs.map(_.spillBytes).sum))
    etl ++ operators ++ sources ++ spark ++ Map(
      "trace.overhead_s" -> traceOverhead,
      "trace.overhead_pct" -> (if (untracedMix > 0) 100 * traceOverhead / untracedMix else 0.0))
  }
}
