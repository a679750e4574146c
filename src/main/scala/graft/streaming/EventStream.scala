package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table shape (builder
  * prompt: readStream → transforms → writeStream; watermark + windowed
  * aggs; stateful sessionization).
  *
  * The reference is strictly batch (SURVEY §2.9); this module is the
  * north-star streaming twin of EventQueries: q31's tumbling window and
  * q32's sessionization re-expressed over an unbounded source, so a user
  * can run the same analytics on a live event feed. File-source streaming
  * scales by partition discovery (maxFilesPerTrigger), state is bounded
  * by the watermark — both 1000-executor-safe shapes.
  */
object EventStream {

  /** Stream-source schema: staged directories always hold NORMALIZED
    * events files (µs TIMESTAMP ts — see [[stageEvents]]), so the file
    * source schema is build-independent. The raw table's
    * TIMESTAMP(NANOS) physical type surfaces differently across Spark
    * builds (legacy long nanos vs native TIMESTAMP_NTZ); only
    * [[graft.Tables.events]] deals with that, once. */
  val streamSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Write `df` as exactly one parquet file `dir/name.parquet` — the
    * file-at-a-time staging a file stream source consumes (each file is
    * one discovery unit; maxFilesPerTrigger maps files to micro-batches).
    * Test/gate plumbing, not an engine path. */
  def writeEventsFile(df: DataFrame, dir: java.nio.file.Path, name: String): Unit = {
    val stage = dir.resolve(name + "_stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    java.nio.file.Files.move(
      java.nio.file.Files.list(stage).filter(_.toString.endsWith(".parquet"))
        .findFirst().get(), dir.resolve(name + ".parquet"))
  }

  /** Stage the events table into `dir/name.parquet` normalized to a µs
    * TIMESTAMP ts column, so downstream streaming reads are independent
    * of how the raw TIMESTAMP(NANOS) column surfaces on this build. */
  def stageEvents(spark: SparkSession, sfDir: String,
      dir: java.nio.file.Path, name: String,
      userMod: Long = 1L): Unit =
    writeEventsFile(
      graft.Tables.events(spark, sfDir)
        .withColumn("ts", col("ts").cast("timestamp"))
        // optional deterministic user slice (user_id % userMod == 0):
        // gates proving PER-USER state semantics (stream-stream joins)
        // don't need the full corpus streamed through a micro-batch
        // harness — the oracle applies the identical slice
        .filter(col("user_id") % userMod === 0),
      dir, name)

  /** Pin the discovery ORDER of staged files: the parquet file source
    * sorts new files by modification time, and files staged within the
    * same clock tick can tie — letting a "later" file ride an earlier
    * micro-batch (ADVICE r12). Rewrites mtimes as now, now+10s, now+20s…
    * in the given order, so staging order IS discovery order. Gate/test
    * plumbing, like [[writeEventsFile]]. */
  def spaceFileMtimes(dir: java.nio.file.Path, names: Seq[String]): Unit = {
    val base = System.currentTimeMillis()
    names.zipWithIndex.foreach { case (n, i) =>
      java.nio.file.Files.setLastModifiedTime(
        dir.resolve(n + ".parquet"),
        java.nio.file.attribute.FileTime.fromMillis(base + i * 10000L))
    }
  }

  /** Source descriptor (VERDICT r7 #6): every job below consumes the ONE
    * normalized event schema, so the physical source — replayed files, the
    * rate generator, a socket feed, or (in a Kafka-equipped deployment) a
    * Kafka topic mapped the same way — is a reader concern the job
    * definitions never see. Watermarks, dedup state, and session windows
    * key off `ts`/`event_id`/`user_id` columns, not source internals. */
  sealed trait EventSource
  /** Replayed parquet files (one file = one discovery unit). */
  final case class FileSource(dir: String) extends EventSource
  /** The built-in rate source mapped onto the event schema — an infinite
    * deterministic-shape feed for soak tests and source-agnosticism
    * proofs (event attributes derive from the monotone `value`). */
  final case class RateSource(rowsPerSecond: Int, numUsers: Int = 50)
      extends EventSource
  /** Line-oriented socket feed: each line `event_id,epoch_ms,user_id,
    * event_type,value` (the netcat-style dev loop; a production broker
    * source maps its records through the same parse-select). */
  final case class SocketSource(host: String, port: Int) extends EventSource

  /** Open `src` as an unbounded DataFrame in the normalized event schema.
    * Every mapping ends in the same strongly-typed select, so a schema
    * drift in any one source fails analysis here, not in a job. */
  def readEvents(spark: SparkSession, src: EventSource): DataFrame = src match {
    case FileSource(dir) =>
      spark.readStream.schema(streamSchema).parquet(dir)
    case RateSource(rps, users) =>
      spark.readStream.format("rate")
        .option("rowsPerSecond", rps.toString).load()
        .select(
          col("value").as("event_id"),
          col("timestamp").as("ts"),
          pmod(col("value"), lit(users.toLong)).as("user_id"),
          element_at(
            array(lit("view"), lit("click"), lit("signup"), lit("purchase"), lit("error")),
            (pmod(col("value"), lit(5)) + 1).cast("int")).as("event_type"),
          (pmod(col("value") * 7919L, lit(10000L)).cast("double") / 100.0).as("value"),
          lit("{}").as("props"))
    case SocketSource(host, port) =>
      val parts = split(col("value"), ",")
      spark.readStream.format("socket")
        .option("host", host).option("port", port.toString).load()
        .select(
          parts.getItem(0).cast("long").as("event_id"),
          timestamp_millis(parts.getItem(1).cast("long")).as("ts"),
          parts.getItem(2).cast("long").as("user_id"),
          parts.getItem(3).as("event_type"),
          parts.getItem(4).cast("double").as("value"),
          lit("{}").as("props"))
  }

  def readEvents(spark: SparkSession, dir: String): DataFrame =
    readEvents(spark, FileSource(dir))

  /** Tumbling 1-hour windowed counts/sums per event type, 2-hour
    * watermark for late data (q31's streaming twin). */
  def hourlyAggregates(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Session windows per user with a 30-minute inactivity gap (q32's
    * streaming twin, using the native session_window operator — state
    * bounded by the watermark). */
  def userSessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("session_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("session_value"))

  final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionAgg(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, session_value: Double)

  final case class SessState(startMs: Long, lastMs: Long, n: Long, total: Double)

  /** Custom stateful sessionization via flatMapGroupsWithState: per-user
    * state holds the open session; a 30-minute event-time gap closes and
    * emits it; event-time timeout flushes idle users once the watermark
    * passes. This is the arbitrary-state escape hatch for session logic
    * session_window can't express (e.g. value-dependent gaps) — state per
    * key is O(1), so 10^9 users shard across executors. */
  def statefulSessions(events: DataFrame): org.apache.spark.sql.Dataset[SessionAgg] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = 30L * 60 * 1000
    events
      .withWatermark("ts", "2 hours")
      .select("event_id", "ts", "user_id", "event_type", "value").as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionAgg](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[Ev], state: GroupState[SessState]) =>
          def emit(s: SessState): SessionAgg = SessionAgg(user,
            new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.lastMs), s.n, s.total)
          if (state.hasTimedOut) {
            val out = state.getOption.map(emit).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val closed = Seq.newBuilder[SessionAgg]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastMs > gapMs =>
                  closed += emit(s)
                  cur = Some(SessState(t, t, 1, e.value))
                case Some(s) =>
                  // a straggler from an earlier micro-batch can arrive with
                  // t below the open session's bounds (the 2h watermark
                  // admits it); merge by min/max so session_end never
                  // regresses and session_start covers the straggler
                  cur = Some(s.copy(startMs = math.min(t, s.startMs),
                    lastMs = math.max(t, s.lastMs), n = s.n + 1, total = s.total + e.value))
                case None =>
                  cur = Some(SessState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // clamp: a timeout at/below the current watermark throws and
              // kills the query (possible when lastMs+gap lags the
              // watermark after a merge of late data)
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs() + 1, s.lastMs + gapMs))
            }
            closed.result().iterator
          }
      }
  }

  final case class ValueSessState(
      startMs: Long, lastMs: Long, lastValue: Double, n: Long, total: Double)

  /** Value-dependent-gap sessionization — the per-event state logic
    * session_window cannot express (the reason flatMapGroupsWithState
    * exists): a session stays open for 60 minutes after a high-value
    * event (value ≥ threshold), 30 minutes otherwise, so the inactivity
    * gap is a function of the session's LAST event. Batch twin:
    * q78_value_sessions (driver-oracle-gated); the agreement spec pins
    * stream == batch. State per key is O(1); timeout clamping and
    * straggler merging follow [[statefulSessions]]. */
  def valueGapSessions(events: DataFrame, threshold: Double = 50.0)
      : org.apache.spark.sql.Dataset[SessionAgg] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    def gapMs(lastValue: Double): Long =
      if (lastValue >= threshold) 60L * 60 * 1000 else 30L * 60 * 1000
    events
      .withWatermark("ts", "2 hours")
      .select("event_id", "ts", "user_id", "event_type", "value").as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ValueSessState, SessionAgg](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[Ev], state: GroupState[ValueSessState]) =>
          def emit(s: ValueSessState): SessionAgg = SessionAgg(user,
            new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.lastMs), s.n, s.total)
          if (state.hasTimedOut) {
            val out = state.getOption.map(emit).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val closed = Seq.newBuilder[SessionAgg]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastMs > gapMs(s.lastValue) =>
                  closed += emit(s)
                  cur = Some(ValueSessState(t, t, e.value, 1, e.value))
                case Some(s) =>
                  // straggler merge as in statefulSessions; the session's
                  // "last value" only advances when the event really is
                  // the new latest one
                  val isNewLatest = t >= s.lastMs
                  cur = Some(s.copy(
                    startMs = math.min(t, s.startMs),
                    lastMs = math.max(t, s.lastMs),
                    lastValue = if (isNewLatest) e.value else s.lastValue,
                    n = s.n + 1, total = s.total + e.value))
                case None =>
                  cur = Some(ValueSessState(t, t, e.value, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs() + 1, s.lastMs + gapMs(s.lastValue)))
            }
            closed.result().iterator
          }
      }
  }

  /** Stream-stream inner join with event-time bounds: each purchase event
    * joins the same user's click events from the preceding 30 minutes
    * (click-to-purchase attribution). Both sides carry a watermark and the
    * range condition bounds state retention on BOTH sides — the planner
    * derives "a click older than watermark+30min can never match a future
    * purchase" and evicts it, so state is O(recent events), not O(stream).
    * This is the canonical scalable shape for streaming joins at
    * 1000-executor scale: state shards by user_id, eviction by time. */
  /** With joinType "left_outer", purchases with no qualifying click emit
    * (with null click columns) once the watermark proves no match can
    * still arrive — the streaming form of "unattributed conversions".
    * Outer emission is watermark-gated: it happens in a LATER micro-batch
    * than the purchase itself, after event time advances past
    * purchase_ts + the join's tolerable lateness. */
  def purchaseAttribution(events: DataFrame, joinType: String = "inner"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("purchase_ts") - expr("interval 30 minutes") &&
        col("click_ts") < col("purchase_ts"),
      joinType)
      .select("user_id", "purchase_id", "purchase_ts", "click_id", "click_ts")
  }

  /** Stream-static join: enrich the live event stream with a dimension
    * table (here the customer dimension keyed by user_id). Stateless —
    * the static side is re-planned per micro-batch (picking up dimension
    * updates between batches) and broadcast when small, so the stream
    * side never shuffles. The standard dimension-enrichment shape at
    * cluster scale. */
  def enrichedEvents(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(
      broadcast(customers.select(col("c_custkey"), col("c_mktsegment"))),
      events("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("value"), col("c_mktsegment").as("segment"))

  /** Streaming exact dedup: drop replayed events by event_id, with state
    * bounded by the watermark (an id older than the watermark can no
    * longer collide, so its state is evicted — the streaming twin of
    * d37_dedup_exact, and the standard at-least-once → exactly-once
    * repair step in an ingest pipeline). */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Production sink pattern: foreachBatch gives each micro-batch to
    * arbitrary batch-writer code with its batchId — the hook for
    * idempotent writes (partition-overwrite by batchId), merges into
    * warehouse tables, or multi-sink fan-out. Here: hourly aggregates
    * appended as parquet partitioned by event_type. */
  /** Checkpoint dir for a gate-run stream: temp-created AND registered
    * for JVM-exit cleanup (VERDICT r15 #6 — the dual-scale sweeps left
    * one abandoned checkpoint tree per streaming gate run in /tmp). */
  private def ckptDir(): String = {
    val p = java.nio.file.Files.createTempDirectory("graft_ckpt")
    graft.Tables.cleanupOnExit(p.toFile)
    p.toString
  }

  def runToParquet(streamed: DataFrame, outDir: String): Unit = {
    val q = streamed.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
          .write.mode("append").partitionBy("event_type")
          .parquet(outDir)
      }
      .option("checkpointLocation",
        ckptDir())
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Exactly-once variant of [[runToParquet]]: each micro-batch commits
    * into a [[graft.sources.SnapshotTable]] through `appendBatch`, which
    * records the batch id INSIDE the atomically-renamed manifest — a
    * replayed batch (driver death between sink commit and engine
    * checkpoint, the at-least-once window every foreachBatch sink has)
    * finds its id and no-ops instead of appending duplicates. Readers
    * see snapshot-isolated, never-partial table states throughout. */
  def runToSnapshotTable(streamed: DataFrame, dir: String,
      partCol: String, queryId: String = "q"): Unit = {
    val q = streamed.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          graft.sources.SnapshotTable.appendBatch(
            batch.sparkSession, dir, batch.toDF(), partCol, batchId, queryId): Unit
      }
      .option("checkpointLocation",
        ckptDir())
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Streaming maintenance of a PERSISTED SKETCH TABLE (the q157/q166
    * pattern made continuous): every micro-batch folds its rows into
    * per-(day, event_type) mergeable KLL sketch cells and APPENDS them
    * through the exactly-once snapshot sink — no streaming-state store,
    * no update-mode rewrite. Multiple cells per (day, type) across
    * batches are CORRECT by construction: KLL merges losslessly, so the
    * reader unions cells at query time ([[sketchQuantiles]]) and never
    * needs the raw stream again. This is the production telemetry
    * shape: sketch cells are KBs/batch regardless of stream volume, and
    * a replayed batch (the foreachBatch at-least-once window) finds its
    * batch id in the manifest and no-ops instead of double-counting. */
  def runSketchCells(streamed: DataFrame, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    val q = streamed.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          graft.functions.KllAggregates.register(s)
          val cells = batch.toDF()
            .groupBy(to_date(col("ts")).as("day"), col("event_type"))
            .agg(expr("kll_sketch_agg(value, 200)").as("sk"),
              count(lit(1)).as("n_rows"))
          graft.sources.SnapshotTable.appendBatch(
            s, dir, cells, "event_type", batchId): Unit
        }
      }
      .option("checkpointLocation",
        ckptDir())
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Merge-on-read over the streamed sketch table: per-type p50/p90
    * estimates from unioning every persisted cell — seconds of work on
    * KB blobs, independent of how much raw stream ever flowed. */
  def sketchQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.functions.KllAggregates.register(spark)
    graft.sources.SnapshotTable.read(spark, dir, None)
      .groupBy("event_type")
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n_cells"),
        sum("n_rows").as("n_rows"),
        expr("kll_quantile(kll_merge_agg(sk, 200), 0.5d)").as("p50_est"),
        expr("kll_quantile(kll_merge_agg(sk, 200), 0.9d)").as("p90_est"))
      .orderBy("event_type")
  }

  /** Streaming DISTINCT-audience sketch table ([[runSketchCells]]'s
    * theta twin): per-(day, event_type) theta sketches of user_id
    * appended exactly-once. Unlike a streaming countDistinct (whose
    * state store must hold every key), cells are fixed-size and the
    * reader answers distincts AND set algebra (overlap of any two
    * segments, any day range) by merging blobs — the question HLL cells
    * (q157) structurally cannot answer. */
  def runDistinctCells(streamed: DataFrame, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    val q = streamed.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          graft.functions.ThetaAggregates.register(s)
          val cells = batch.toDF()
            .groupBy(to_date(col("ts")).as("day"), col("event_type"))
            .agg(expr("theta_sketch_agg(user_id, 12)").as("sk"))
          graft.sources.SnapshotTable.appendBatch(
            s, dir, cells, "event_type", batchId): Unit
        }
      }
      .option("checkpointLocation",
        ckptDir())
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Merge-on-read over the streamed distinct-cell table: per-type
    * estimated distinct users from unioning every persisted cell. */
  def distinctRollup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.functions.ThetaAggregates.register(spark)
    graft.sources.SnapshotTable.read(spark, dir, None)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_cells"),
        expr("theta_estimate(theta_merge_agg(sk, 12))").as("est_users"))
      .orderBy("event_type")
  }

  /** Persist q158's seasonal baseline (median+MAD per (type, weekday,
    * hour) of hourly counts) as a snapshot table — the model-in-table
    * half of the streaming anomaly monitor. Rebuild nightly; readers of
    * the scorer see baseline swaps atomically (snapshot semantics). */
  def buildSeasonalBaseline(spark: SparkSession, sfDir: String,
      dir: String): Long = {
    graft.sources.SnapshotTable.write(spark, dir,
      graft.EventQueries.seasonalBaseline(spark, sfDir), "event_type")
  }

  /** Streaming seasonal anomaly scoring (the score-in-stream half):
    * watermarked hourly tumbling counts per type, stream–static joined
    * to the persisted baseline grid on the season key, emitting only
    * hours whose count deviates from the seasonal median by more than
    * 3×MAD — q158's flag rule applied continuously. The baseline is a
    * (|types|×168)-row static table, so the join broadcasts; streaming
    * state is the watermark-bounded window store only. */
  def scoreAgainstBaseline(events: DataFrame, spark: SparkSession,
      baselineDir: String): DataFrame = {
    val base = graft.sources.SnapshotTable.read(spark, baselineDir, None)
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hr_ts"), col("event_type"), col("n"))
      .withColumn("dow", weekday(col("hr_ts")) + lit(1))
      .withColumn("hod", hour(col("hr_ts")))
      .join(base, Seq("event_type", "dow", "hod"))
      .filter(abs(col("n") - col("med")) > lit(3.0) * col("mad"))
      .select(col("event_type"), col("hr_ts"), col("n"), col("med"), col("mad"))
  }

  /** Drive a streaming DataFrame to completion against a static directory
    * via the memory sink (test/driver harness; Trigger semantics are
    * identical on a live source). Returns the materialized result. */
  def runToMemory(spark: SparkSession, streamed: DataFrame, name: String): DataFrame = {
    val q: StreamingQuery = streamed.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
