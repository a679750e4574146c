package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream shaped queries over the `events` table: JSON extraction,
  * tumbling-window aggregation (the batch twin of the Structured Streaming
  * job in [[graft.streaming.EventStream]]), and gap-based sessionization.
  *
  * Scale notes: windowed aggregation shuffles once on (window, event_type);
  * sessionization shuffles once on user_id and sorts within partitions —
  * both are the plans a 1000-executor cluster wants. No driver-side state.
  */
object EventQueries {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    /** JSON scalar extraction (get_json_object) + aggregate over the
      * extracted field. */
    "q30_json_extract" -> ((s, d) =>
      events(s, d)
        .select(
          col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(
          avg("k").as("avg_k"),
          max("k").as("max_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),

    /** Spark 4 VARIANT ingestion of semi-structured props (q30's modern
      * twin: `parse_json` → binary-encoded VariantType → typed
      * `variant_get` paths — the open-format answer to repeated JSON
      * string re-parsing): parse ONCE per row, then path extraction is
      * a cheap binary walk instead of a text scan per field, which is
      * the difference that matters when a 100 TB event table carries a
      * wide props object read by many fields. Also exercises the
      * schema_of_variant surface (the gate pins the inferred schema
      * string) and `try_variant_get`'s null-not-crash contract on a
      * missing path.
      *
      * Scale shape: identical to q30 — one codegen'd scan, one
      * partial+final aggregate; the variant encode/decode never
      * shuffles. */
    "q268_variant_json" -> ((s, d) =>
      events(s, d)
        .select(col("event_type"),
          parse_json(col("props")).as("v"))
        .select(col("event_type"),
          expr("variant_get(v, '$.k', 'long')").as("k"),
          expr("try_variant_get(v, '$.missing', 'long')").as("absent"),
          expr("schema_of_variant(v)").as("vschema"))
        .groupBy("event_type")
        .agg(avg("k").as("avg_k"),
          max("k").as("max_k"),
          count(lit(1)).as("n"),
          sum(when(col("absent").isNull, 1L).otherwise(0L)).as("n_absent"),
          first("vschema").as("props_schema"))
        .orderBy("event_type")),

    /** Tumbling 1-hour event-time window per event type — identical logic
      * to the streaming job, run in batch (window().start as window_start). */
    "q31_time_window" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))
        .select(
          col("w.start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("window_start", "event_type")),

    /** Pure RANGE JOIN (point-in-interval, no equi key) via hour-bucket
      * co-partitioning — the pattern that keeps an interval join off the
      * O(points × intervals) cliff: every 6 hours a 90-minute
      * "maintenance window" interval is generated over the events time
      * range, each interval EXPLODES to the hour buckets it overlaps,
      * each event maps to its single hour bucket, and the join becomes
      * an equi-join on bucket with the BETWEEN predicate evaluated only
      * inside matching buckets. Intervals that catch no events still
      * appear (left completion), so the result is the full window
      * roster with counts.
      *
      * Scale shape: the bucket grid turns the non-equi predicate into a
      * shuffle-partitionable key — candidate pairs are bounded by
      * events-per-hour × intervals-per-hour, never |events|·|intervals|;
      * the interval roster is calendar-bounded (4/day), so its explode
      * and the final left join are broadcast-sized, while the event side
      * streams through one bucket shuffle. */
    "q126_range_join" -> ((s, d) => {
      val ev = events(s, d).select(col("ts"), col("value"))
      val bounds = ev.agg(min("ts").as("lo"), max("ts").as("hi"))
      val wins = bounds.select(explode(expr(
          "sequence(date_trunc('DAY', lo), hi, interval 6 hours)")).as("ws"))
        .select(col("ws"), (col("ws") + expr("interval 90 minutes")).as("we"))
      val winBuckets = wins.select(col("ws"), col("we"), explode(expr(
          "sequence(unix_timestamp(ws) div 3600, (unix_timestamp(we) - 1) div 3600)"))
          .as("bucket"))
      val evBuckets = ev.withColumn("bucket", expr("unix_timestamp(ts) div 3600"))
      val matched = evBuckets.join(winBuckets, Seq("bucket"))
        .filter(col("ts") >= col("ws") && col("ts") < col("we"))
        .groupBy("ws", "we")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("v"))
      wins.join(matched, Seq("ws", "we"), "left")
        .select(col("ws").cast("timestamp_ntz").as("window_start"),
          col("we").cast("timestamp_ntz").as("window_end"),
          coalesce(col("n"), lit(0L)).as("n_events"),
          coalesce(col("v"), lit(0.0)).as("total_value"))
        .orderBy("window_start")
    }),

    /** Gap-based sessionization (30-min inactivity) via lag + running
      * conditional sum — the batch equivalent of
      * flatMapGroupsWithState session state. */
    "q32_sessionize" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, d)
        .withColumn("prev_ts", lag("ts", 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            (col("ts").cast("timestamp").cast("double") -
              col("prev_ts").cast("timestamp").cast("double")) > 1800.0, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum("new_session").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(
          count(lit(1)).as("n_events"),
          round(sum("value"), 4).as("session_value"),
          min("ts").as("session_start"),
          max("ts").as("session_end"))
        .orderBy("user_id", "session_id")
    }),

    /** CUBE over two dimensions with grouping_id disambiguating the
      * subtotal levels (multi-dimensional aggregate surface). */
    "q47_cube" -> ((s, d) =>
      lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(
          grouping_id().cast("long").as("gid"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("gid"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    /** ROLLUP year → month over order dates. */
    "q48_rollup_op" -> ((s, d) =>
      orders(s, d)
        .select(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
          col("o_totalprice"))
        .rollup("y", "m")
        .agg(round(sum("o_totalprice"), 2).as("total"), count(lit(1)).as("n"))
        .orderBy(col("y").asc_nulls_first, col("m").asc_nulls_first)),

    /** PIVOT: hourly activity matrix, one column per event type (fixed
      * value list → identical to conditional aggregation, which is how
      * the oracle states it). */
    "q49_pivot" -> ((s, d) =>
      events(s, d)
        .select(hour(col("ts")).as("hour_of_day"), col("event_type"))
        .groupBy("hour_of_day")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("hour_of_day")),

    /** As-of join: each event picks the customer's latest order with
      * o_orderdate <= ts. Spark lacks the operator; rather than a custom
      * SparkPlan, it composes as the classic union + last-ignoring-nulls
      * window: tag both sides, sort within the key partition by (time,
      * tag), carry the most recent order forward, keep event rows. One
      * shuffle on the key — the same cost a native as-of join would pay.
      * Orders are pre-deduped per (customer, date) so ties are
      * deterministic on both engines (DuckDB oracles with native ASOF). */
    "q50_asof_join" -> ((s, d) => {
      val ev = events(s, d).select(
        col("user_id").as("k"), col("ts").as("t"),
        col("event_id"), lit(null).cast("long").as("o_orderkey_in"), lit(1).as("tag"))
      val ord = orders(s, d)
        .groupBy(col("o_custkey").as("k"), col("o_orderdate").cast("timestamp_ntz").as("t"))
        .agg(max("o_orderkey").as("o_orderkey_in"))
        .select(col("k"), col("t"), col("o_orderkey_in"),
          lit(null).cast("long").as("event_id"), lit(0).as("tag"))
        .select("k", "t", "event_id", "o_orderkey_in", "tag")
      val unioned = ev.select("k", "t", "event_id", "o_orderkey_in", "tag")
        .unionByName(ord)
      val w = Window.partitionBy("k")
        .orderBy(col("t"), col("tag"), col("o_orderkey_in").asc_nulls_first)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      unioned
        .withColumn("o_orderkey", last("o_orderkey_in", ignoreNulls = true).over(w))
        .withColumn("matched_t", last(when(col("tag") === 0, col("t")), ignoreNulls = true).over(w))
        .filter(col("tag") === 1)
        .select(col("event_id"), col("k").as("user_id"), col("t").as("ts"),
          col("o_orderkey"), col("matched_t").as("o_orderdate"))
        .orderBy("event_id")
    }),

    /** Range-frame window (time-range join family): per event, activity of
      * the same user in the preceding 10 minutes. A RANGE frame over
      * floor-epoch-seconds — one shuffle on user_id, no self-join blowup;
      * the binned-equi-join alternative only wins when partitions exceed
      * memory. */
    "q54_range_window" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").cast("timestamp").cast("long"))
        .rangeBetween(-600L, 0L)
      events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .withColumn("n_recent", count(lit(1)).over(w))
        .withColumn("recent_value", round(sum("value").over(w), 4))
        .orderBy("event_id")
    }),

    /** UNPIVOT (melt): the hourly activity matrix back to long form —
      * retains explicit zero cells, which a bare group-by would drop. */
    "q64_unpivot" -> ((s, d) => {
      val wide = events(s, d)
        .select(hour(col("ts")).as("hour_of_day"), col("event_type"))
        .groupBy("hour_of_day")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
      wide.unpivot(
        Array(col("hour_of_day")),
        Array(col("click"), col("error"), col("purchase"), col("signup"), col("view")),
        "event_type", "n")
        .orderBy("hour_of_day", "event_type")
    }),

    /** GROUPING SETS — the general form CUBE/ROLLUP specialize, via the
      * SQL surface (the DataFrame API deliberately doesn't expose it):
      * per-flag totals, per-status totals, and the grand total in one
      * pass, disambiguated by grouping_id. */
    "q71_grouping_sets" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_gs")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(grouping_id() AS BIGINT) AS gid,
          |  round(sum(l_quantity), 2) AS sum_qty,
          |  count(1) AS n
          |FROM lineitem_gs
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
          |""".stripMargin)
    }),

    /** Click-to-purchase attribution with NULL emission — the batch twin
      * of the stream-stream LEFT OUTER join
      * ([[graft.streaming.EventStream.purchaseAttribution]] with
      * joinType="left_outer", whose outer rows are watermark-gated):
      * every purchase joins the same user's clicks from the preceding 30
      * minutes; purchases with no qualifying click emit once as
      * "unattributed conversions". The no-match sentinel is click_id = -1
      * / click_ts = epoch rather than NULL because the driver's
      * pandas-hash comparator treats NaT like NaN (NaT != NaT), so
      * nullable timestamp outputs can never hash-match; the streaming
      * twin emits real NULLs and its spec checks them. Equi-join on
      * user_id carries the range condition — one shuffle, no n² blowup. */
    "q77_attribution" -> ((s, d) => {
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"))
      purchases.join(clicks,
          col("user_id") === col("click_user") &&
            col("click_ts") >= col("purchase_ts") - expr("interval 30 minutes") &&
            col("click_ts") < col("purchase_ts"), "left")
        .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"),
          coalesce(col("click_ts"),
            lit("1970-01-01 00:00:00").cast("timestamp_ntz")).as("click_ts"))
        .orderBy("purchase_id", "click_id")
    }),

    /** Value-dependent-gap sessionization — the batch twin of the
      * arbitrary-state streaming escape hatch
      * ([[graft.streaming.EventStream.valueGapSessions]]): a session stays
      * open for 60 minutes after a high-value event (value ≥ 50), 30
      * minutes otherwise — per-event gap logic session_window cannot
      * express. Batch form: the gap threshold for each boundary check
      * derives from lag(value). */
    "q78_value_sessions" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, d)
        .withColumn("prev_ts", lag("ts", 1).over(byUser))
        .withColumn("prev_val", lag("value", 1).over(byUser))
        .withColumn("gap_sec",
          when(col("prev_val") >= 50.0, 3600.0).otherwise(1800.0))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            (col("ts").cast("timestamp").cast("double") -
              col("prev_ts").cast("timestamp").cast("double")) > col("gap_sec"), 1L)
            .otherwise(0L))
        .withColumn("session_id", sum("new_session").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(
          count(lit(1)).as("n_events"),
          round(sum("value"), 4).as("session_value"),
          min("ts").as("session_start"),
          max("ts").as("session_end"))
        .orderBy("user_id", "session_id")
    }),

    /** Streaming exact dedup under the driver's DuckDB hash gate (VERDICT
      * r3 #5): the REAL Structured Streaming pipeline runs inside the
      * builder — the events file staged TWICE into a stream directory (a
      * full at-least-once replay), read with readStream,
      * dropDuplicatesWithinWatermark on event_id, drained through the
      * memory sink. Every replayed event must be dropped, so the result
      * hash-matches `SELECT * FROM events`. Replayed rows are
      * byte-identical to their originals, so which copy survives is
      * immaterial and the output is deterministic. */
    "q79_stream_dedup" -> ((s, d) => {
      val dir = gateDir("q79_dup", d)
      graft.streaming.EventStream.stageEvents(s, d, dir, "a")
      java.nio.file.Files.copy(dir.resolve("a.parquet"), dir.resolve("b.parquet"))
      val sink = "q79_dedup_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val deduped = graft.streaming.EventStream.runToMemory(s,
        graft.streaming.EventStream.dedupedEvents(
          graft.streaming.EventStream.readEvents(s, dir.toString)), sink)
      deduped
        .select(col("event_id"), col("ts").cast("timestamp_ntz").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .orderBy("event_id")
    }),

    /** The foreachBatch production sink under the driver's hash gate
      * (VERDICT r3 #5): the full streaming path — readStream →
      * watermarked hourly aggregate → foreachBatch appending
      * event_type-partitioned parquet — runs in the builder, and the
      * PARQUET OUTPUT (read back from disk) is what the oracle compares,
      * so partition-column round-tripping and the append contract are
      * gated too, not just the aggregate values. Append-mode windows only
      * emit once the watermark passes them, so two far-future sentinel
      * files (filtered from the output) drive the watermark past every
      * real window; maxFilesPerTrigger=1 makes them later micro-batches,
      * and the second sentinel makes the final eviction happen inside a
      * DATA batch (processAllAvailable does not wait for trailing no-data
      * batches). Oracle: identical SQL to q31 — the sink must land
      * exactly the batch answer. */
    "q80_stream_hourly_sink" -> ((s, d) => {
      import s.implicits._
      val dir = gateDir("q80_sink", d)
      graft.streaming.EventStream.stageEvents(s, d, dir, "a")
      val maxMs = events(s, d)
        .agg(max(col("ts").cast("timestamp").cast("double"))).first().getDouble(0)
        .ceil.toLong * 1000L
      def sentinelFile(name: String, hours: Long, id: Long): Unit = {
        val df = Seq((id, new java.sql.Timestamp(maxMs + hours * 3600 * 1000),
          999999L, "zzsentinel", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        graft.streaming.EventStream.writeEventsFile(df, dir, name)
      }
      sentinelFile("b", 10, 900000001L)
      sentinelFile("c", 20, 900000002L)
      val src = s.readStream.schema(graft.streaming.EventStream.streamSchema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      // the sink must live OUTSIDE the stream source directory — the file
      // source re-lists its tree each trigger and would discover the
      // sink's freshly-written parts as conflicting input
      val outDir = gateDir("q80_out", d)
        .resolve("agg_out").toString
      graft.streaming.EventStream.runToParquet(
        graft.streaming.EventStream.hourlyAggregates(src), outDir)
      s.read.parquet(outDir)
        .filter(col("event_type") =!= "zzsentinel")
        .select(col("window_start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n"),
          round(col("total_value"), 4).as("total_value"))
        .orderBy("window_start", "event_type")
    }),

    /** Streaming → lakehouse → materialized view, composed end to end
      * (the production CDC pipeline in one gate: q80 proved the stream
      * sink, q238/q239 the table, q264 the view — this proves they
      * COMPOSE): phase A's events stream through the exactly-once
      * snapshot sink ([[graft.streaming.EventStream.runToSnapshotTable]])
      * and the view is created; phase B's events stream in and the view
      * refreshes INCREMENTALLY (delta files only). Phase B is then
      * replayed wholesale — fresh checkpoint, same query id, the
      * at-least-once window every foreachBatch sink has — and the
      * batch-id manifest tag makes it a no-op: the final refresh
      * returns None and the emitted `mv_source_version` stays 2. The
      * oracle aggregates the raw events table once, so hash equality
      * asserts the whole composition double-counted NOTHING.
      *
      * The streamed value is quantized to an e4 integer lattice at
      * ingest (one IEEE multiply+floor per row), so the view's sum is
      * exact in any batch/merge order — the incremental sum and the
      * oracle's single pass land the same BIGINT.
      *
      * Scale shape: q80's micro-batch appends + q264's delta-only
      * refresh; nothing rescans history at any stage. */
    "q265_stream_mv" -> ((s, d) => {
      import graft.sources.MaterializedView
      import graft.sources.MaterializedView.AggSpec
      import graft.streaming.EventStream
      val srcA = gateDir("smv_a", d); val srcB = gateDir("smv_b", d)
      val tbl = gateDir("smv_tbl", d); val mv = gateDir("smv_mv", d)
      val base = events(s, d).withColumn("ts", col("ts").cast("timestamp"))
      EventStream.writeEventsFile(base.filter(col("event_id") % 3 =!= 0),
        srcA, "a")
      EventStream.writeEventsFile(base.filter(col("event_id") % 3 === 0),
        srcB, "b")
      def ingest(srcDir: java.nio.file.Path, queryId: String): Unit =
        EventStream.runToSnapshotTable(
          s.readStream.schema(EventStream.streamSchema)
            .parquet(srcDir.toString)
            .select(col("event_id"), col("ts"), col("event_type"),
              floor(col("value") * 10000.0 + 0.5).cast("long").as("value_e4")),
          tbl.toString, "event_type", queryId)
      val keys = Seq("event_type")
      val aggs = Seq(AggSpec("count", "", "n_rows"),
        AggSpec("sum", "value_e4", "value_e4_sum"),
        AggSpec("max", "ts", "last_ts"))
      ingest(srcA, "runA")
      MaterializedView.create(s, mv.toString, tbl.toString,
        keys, aggs, "event_type")
      ingest(srcB, "runB")
      require(MaterializedView.refresh(s, mv.toString, tbl.toString,
        keys, aggs, "event_type").nonEmpty, "delta refresh must commit")
      // wholesale replay of phase B: fresh checkpoint, same query id —
      // the manifest batch tag makes it a no-op, so refresh sees nothing
      ingest(srcB, "runB")
      require(MaterializedView.refresh(s, mv.toString, tbl.toString,
        keys, aggs, "event_type").isEmpty, "replayed batch must not commit")
      MaterializedView.read(s, mv.toString)
        .select(col("event_type"), col("n_rows"), col("value_e4_sum"),
          col("last_ts").cast("timestamp_ntz").as("last_ts"),
          lit(MaterializedView.sourceVersion(s, mv.toString))
            .as("mv_source_version"))
        .orderBy("event_type")
    }),

    /** Streaming late-data WATERMARK gate (VERDICT r11 #3): q80 proved
      * the watermarked hourly aggregate emits; this proves the watermark
      * SEMANTICS — a beyond-watermark row is dropped, and state is
      * evicted, not hoarded. Batch 1 streams the real events (max event
      * time M, so the checkpointed watermark becomes M − 2 h). Batch 2
      * (one staged file, maxFilesPerTrigger=1) carries exactly two
      * synthetic rows: a LATE row 10 h behind the watermark — the
      * drop-set candidate — and an advance row at M + 3 h that pushes
      * the final watermark to M + 1 h so every batch-1 window flushes.
      * The two arrive as SEPARATE single-file micro-batches (advance
      * first, late second) because Spark ≥ 3.4 filters late input with
      * the PREVIOUS batch's watermark (the two-watermark semantics of
      * the multi-stateful-operator change): a late row landing in the
      * very batch that first carries the advanced watermark is not yet
      * filtered — measured here, it would sail into state and re-emit
      * its already-closed window. One batch later the late-events
      * watermark has advanced and the row is genuinely dropped. If the
      * engine failed to drop it, the sink would carry a 'zlate' window
      * row and the hash gate would catch it — the oracle aggregates the
      * raw events as if the late row never existed. `late_dropped` pins
      * zero 'zlate' rows in the sink; `state_rows` pins the final
      * state-store row count to EXACTLY 1 (the advance row's unflushed
      * cell) — the bounded-state claim: every flushed window left the
      * store, and the dropped row never entered it.
      *
      * Scale shape: q80's — file-per-micro-batch replay, fixed-size
      * windowed state bounded by the 2 h watermark horizon regardless
      * of stream length. */
    "q278_late_data" -> ((s, d) => {
      import s.implicits._
      val dir = gateDir("q278_src", d)
      graft.streaming.EventStream.stageEvents(s, d, dir, "a")
      val maxMs = events(s, d)
        .agg(max(col("ts").cast("timestamp").cast("double"))).first().getDouble(0)
        .ceil.toLong * 1000L
      def oneRow(name: String, id: Long, ts: Long, tpe: String,
          v: Double): Unit =
        graft.streaming.EventStream.writeEventsFile(
          Seq((id, new java.sql.Timestamp(ts), 999999L, tpe, v, "{}"))
            .toDF("event_id", "ts", "user_id", "event_type", "value",
              "props"),
          dir, name)
      // +7 min keeps the synthetic rows OFF exact hour boundaries: a max
      // event ts landing exactly on a window edge would make the flush
      // set boundary-sensitive (ADVICE r12)
      val offMs = 7L * 60 * 1000
      oneRow("b", 900000001L, maxMs + 3L * 3600 * 1000 + offMs, "zzadvance", 0.0)
      oneRow("c", 900000002L, maxMs - 10L * 3600 * 1000 + offMs, "zlate", 999.0)
      // pin a < b < c discovery order explicitly — the file source orders
      // new files by modification time, and a same-millisecond tie between
      // the staged files would let c ride b's micro-batch (ADVICE r12)
      graft.streaming.EventStream.spaceFileMtimes(dir, Seq("a", "b", "c"))
      val src = s.readStream.schema(graft.streaming.EventStream.streamSchema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      // sink lives outside the source tree (q80's file-source rule)
      val outDir = gateDir("q278_out", d)
        .resolve("agg_out").toString
      val q = graft.streaming.EventStream.hourlyAggregates(src).writeStream
        .outputMode("append")
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            batch.write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation",
          gateDir("q278_ckpt", d).toString)
        .start()
      q.processAllAvailable()
      // state rows from the last progress that actually CONSUMED input
      // (the batch that processed file c): a trailing no-data batch's
      // progress would report the same store size today, but reading the
      // consuming batch is deterministic by construction (ADVICE r12)
      val stateRows = q.recentProgress.filter(_.numInputRows > 0)
        .lastOption.flatMap(_.stateOperators.headOption)
        .map(_.numRowsTotal).getOrElse(-1L)
      q.stop()
      val sink = s.read.parquet(outDir)
      val lateDropped =
        sink.filter(col("event_type") === "zlate").count() == 0L
      sink.filter(!col("event_type").isin("zlate", "zzadvance"))
        .select(col("window_start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n"),
          round(col("total_value"), 4).as("total_value"),
          lit(lateDropped).as("late_dropped"),
          lit(stateRows).as("state_rows"))
        .orderBy("window_start", "event_type")
    }),

    /** Stream-stream JOIN late-data gate (VERDICT r12 #6 — q278's
      * watermark-drop contract extended to the time-bounded join): q77's
      * click→purchase attribution run as a LIVE stream-stream inner join
      * ([[graft.streaming.EventStream.purchaseAttribution]]), with a
      * staged late pair that MUST be excluded by bounded join state.
      * Batch 1 streams the real events (all base matches emit — inner
      * joins emit on arrival, no watermark wait). Batch 2 carries two
      * advance rows (a click and a purchase at M + 3 h, different users,
      * equal ts — matching neither each other nor anything else) that
      * push BOTH sides' watermarks to M + 2 h. Batch 3 — one micro-batch
      * AFTER the advance, per the two-watermark lesson (Spark ≥ 3.4
      * filters late input with the PREVIOUS batch's watermark) — carries
      * a late click 10 h behind the watermark and a purchase 10 minutes
      * after it on the same user: a pair that WOULD join and emit an
      * attribution row if the engine failed to drop late input. The
      * oracle computes the join from the raw events as if the late pair
      * never existed, so a leaked row fails the hash. `late_dropped`
      * pins zero late-user rows in the sink; `state_rows` pins the final
      * join state to EXACTLY the two unexpired advance rows — every
      * base-batch row left BOTH sides' state once the watermark passed
      * (the planner derives eviction bounds from the range condition),
      * and the dropped pair never entered it.
      *
      * Scale shape: the canonical streaming-join deployment — state
      * shards by user_id, eviction by event time, so state is O(recent
      * window), not O(stream), at any executor count. */
    "q284_join_late" -> ((s, d) => {
      import s.implicits._
      val dir = gateDir("q284_src", d)
      // 1-in-3 user slice: the late-drop contract is per-user state
      // semantics; streaming the full corpus through the micro-batch
      // harness adds wall time, not evidence (oracle slices identically;
      // mod 3 keeps attributed pairs at sf0.001 so the claim columns
      // always ride on rows)
      graft.streaming.EventStream.stageEvents(s, d, dir, "a", userMod = 3L)
      val maxMs = events(s, d)
        .agg(max(col("ts").cast("timestamp").cast("double"))).first().getDouble(0)
        .ceil.toLong * 1000L
      val offMs = 7L * 60 * 1000 // keep synthetic rows off hour boundaries
      def rows(name: String, rs: Seq[(Long, Long, Long, String)]): Unit =
        graft.streaming.EventStream.writeEventsFile(
          rs.map { case (id, ts, uid, tpe) =>
            (id, new java.sql.Timestamp(ts), uid, tpe, 0.0, "{}")
          }.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
          dir, name)
      val adv = maxMs + 3L * 3600 * 1000 + offMs
      // the late pair must sit below the watermark the join's late-input
      // filter ACTUALLY applies in its micro-batch — measured on this
      // build, that is the PREVIOUS trigger's watermark w_{N-1} (the
      // join filters with the start-of-batch value, one trigger behind
      // the progress line's wm), and w1 here derives from batch a alone:
      // min over the two sides of (that side's max ts in the SLICE)
      // minus the 1 h delay. Anchoring `late` to the global corpus max
      // broke exactly when the slice's purchase-side max sat hours
      // earlier — so anchor to the slice's own min-side max, 6 h under
      val sliceMinSideMaxMs = events(s, d)
        .filter(col("user_id") % 3 === 0 &&
          col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(max(col("ts").cast("timestamp").cast("double")).as("m"))
        .agg(min("m")).first().getDouble(0).ceil.toLong * 1000L
      val late = sliceMinSideMaxMs - 6L * 3600 * 1000 + offMs
      rows("b", Seq((900000001L, adv, 999997L, "click"),
        (900000002L, adv, 999998L, "purchase")))
      rows("c", Seq((900000003L, late, 999999L, "click"),
        (900000004L, late + 10L * 60 * 1000, 999999L, "purchase")))
      graft.streaming.EventStream.spaceFileMtimes(dir, Seq("a", "b", "c"))
      val src = s.readStream.schema(graft.streaming.EventStream.streamSchema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      val outDir = gateDir("q284_out", d)
        .resolve("join_out").toString
      // a stream-stream join keeps FOUR state stores per shuffle
      // partition; this 3-micro-batch proof gate doesn't need 32 state
      // shards — 8 shards cut the per-batch store maintenance 4x while
      // the semantics under test (watermark drop, bounded state) are
      // shard-count-independent. Stateful queries pin their shard count
      // from the FIRST batch's conf, so set it before start()
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      val stateRows =
        try {
          val q = graft.streaming.EventStream.purchaseAttribution(src)
            .writeStream
            .outputMode("append")
            .foreachBatch {
              (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                  _: Long) =>
                batch.write.mode("append").parquet(outDir)
            }
            .option("checkpointLocation",
              gateDir("q284_ckpt", d).toString)
            .start()
          try {
            q.processAllAvailable()
            q.recentProgress.filter(_.numInputRows > 0)
              .lastOption.flatMap(_.stateOperators.headOption)
              .map(_.numRowsTotal).getOrElse(-1L)
          } finally q.stop()
        } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      val sink = s.read.parquet(outDir)
      val lateDropped = sink.filter(col("user_id") === 999999L).count() == 0L
      sink
        .select(col("user_id"), col("purchase_id"),
          col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
          col("click_id"), col("click_ts").cast("timestamp_ntz").as("click_ts"),
          lit(lateDropped).as("late_dropped"), lit(stateRows).as("state_rows"))
        .orderBy("purchase_id", "click_id")
    }),

    /** Stream-stream LEFT-OUTER join emission gate (q284's sibling —
      * the OTHER half of the streaming-join contract): unattributed
      * purchases must emit with null click columns, but only once the
      * watermark PROVES no qualifying click can still arrive — i.e. in
      * a LATER micro-batch than the purchase itself. Batch 1 streams
      * the real events: matched pairs emit immediately (inner-match
      * semantics), unmatched purchases go to state. Batch 2's advance
      * rows push the click watermark past every base purchase_ts, so
      * the engine flushes every remaining unmatched purchase (in batch
      * 2 or the watermark-triggered empty batch 3). foreachBatch tags
      * each sink row with its batch id, turning the timing contract
      * into data: `matched_immediate` pins every matched row to batch
      * 0, `outer_after_watermark` pins every null-click row to a batch
      * ≥ 1. The advance purchase itself stays in state (the watermark
      * never passes it) and must NOT appear — the oracle is q77's
      * batch left join over the raw events alone, so an early, missing,
      * or phantom outer row fails the hash.
      *
      * Scale shape: q284's — user_id-sharded join state, event-time
      * eviction; outer emission adds no state beyond the inner case. */
    "q286_join_outer" -> ((s, d) => {
      import s.implicits._
      val dir = gateDir("q286_src", d)
      // q284's 1-in-10 user slice, same rationale — oracle matches
      graft.streaming.EventStream.stageEvents(s, d, dir, "a", userMod = 10L)
      val maxMs = events(s, d)
        .agg(max(col("ts").cast("timestamp").cast("double"))).first().getDouble(0)
        .ceil.toLong * 1000L
      val adv = maxMs + 3L * 3600 * 1000 + 7L * 60 * 1000
      graft.streaming.EventStream.writeEventsFile(
        Seq((900000001L, new java.sql.Timestamp(adv), 999997L, "click", 0.0, "{}"),
          (900000002L, new java.sql.Timestamp(adv), 999998L, "purchase", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        dir, "b")
      graft.streaming.EventStream.spaceFileMtimes(dir, Seq("a", "b"))
      val src = s.readStream.schema(graft.streaming.EventStream.streamSchema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      val outDir = gateDir("q286_out", d)
        .resolve("join_out").toString
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions") // q284's
      s.conf.set("spark.sql.shuffle.partitions", "8")              // rationale
      try {
        val q = graft.streaming.EventStream
          .purchaseAttribution(src, "left_outer").writeStream
          .outputMode("append")
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                batchId: Long) =>
              batch.withColumn("batch_id", lit(batchId))
                .write.mode("append").parquet(outDir)
          }
          .option("checkpointLocation",
            gateDir("q286_ckpt", d).toString)
          .start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      val sink = s.read.parquet(outDir)
        .filter(col("user_id") =!= 999998L) // advance purchase must be absent anyway
      val matchedImmediate = sink
        .filter(col("click_id").isNotNull && col("batch_id") =!= 0L).count() == 0L
      val outerGated = sink
        .filter(col("click_id").isNull && col("batch_id") === 0L).count() == 0L
      val advanceUnflushed =
        s.read.parquet(outDir).filter(col("user_id") === 999998L).count() == 0L
      sink
        .select(col("user_id"), col("purchase_id"),
          col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"),
          coalesce(col("click_ts"), lit("1970-01-01 00:00:00").cast("timestamp"))
            .cast("timestamp_ntz").as("click_ts"),
          lit(matchedImmediate).as("matched_immediate"),
          lit(outerGated).as("outer_after_watermark"),
          lit(advanceUnflushed).as("advance_unflushed"))
        .orderBy("purchase_id", "click_id")
    }),

    /** Exactly-once streaming MERGE (CDC apply), driver-gated end to end
      * ([[graft.sources.SnapshotTable.mergeBatch]] — q80/appendBatch's
      * upsert sibling): a live two-micro-batch file stream applies a
      * full load then a CDC update batch into a snapshot table via
      * foreachBatch MERGE, with each batch id committed INSIDE the same
      * manifest as the merged file list. The gate then REPLAYS the last
      * batch by hand — the post-checkpoint-loss path every streaming
      * sink must survive — and pins that the replay is a no-op: same
      * version back, no new commit, no double-applied update (a replayed
      * MERGE is not semantically idempotent; the marker makes replay
      * detection exact). The final table hashes against the oracle's
      * last-writer-wins recompute from the raw CDC set.
      *
      * Scale shape: the canonical streaming-CDC deployment — per-batch
      * key-probe join (broadcastable small batch) + partition-scoped
      * rewrite from [[graft.sources.SnapshotTable.merge]], replay
      * protection one manifest-header lookup, newest-first. */
    "q288_stream_merge" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val srcDir = gateDir("q288_src", d)
      val cdc = orders(s, d).select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("part"),
        col("o_totalprice").as("v"))
      val b1 = cdc.filter(col("k") % 5 === 0)
        .withColumn("v", col("v") + 1000.0)
      graft.streaming.EventStream.writeEventsFile(cdc, srcDir, "b0")
      graft.streaming.EventStream.writeEventsFile(b1, srcDir, "b1")
      graft.streaming.EventStream.spaceFileMtimes(srcDir, Seq("b0", "b1"))
      val tbl = gateDir("q288_tbl", d)
        .resolve("t").toString
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("part",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType)))
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              batchId: Long) =>
            SnapshotTable.mergeBatch(batch.sparkSession, tbl, "part", "k",
              batch, batchId, "q288"): Unit
        }
        .option("checkpointLocation",
          gateDir("q288_ckpt", d).toString)
        .start()
      q.processAllAvailable()
      q.stop()
      val vAfter = SnapshotTable.latest(s, tbl).get._1
      // simulate checkpoint loss: the engine re-delivers the last batch
      val vReplay = SnapshotTable.mergeBatch(s, tbl, "part", "k", b1, 1L, "q288")
      val vFinal = SnapshotTable.latest(s, tbl).get._1
      val replayNoop = vReplay == vAfter && vFinal == vAfter
      SnapshotTable.read(s, tbl)
        .groupBy("part")
        .agg(count(lit(1)).as("n_rows"), round(sum("v"), 4).as("sum_v"))
        .select(col("part"), col("n_rows"), col("sum_v"),
          lit(vFinal).as("versions"),
          lit(replayNoop).as("replay_noop"))
        .orderBy("part")
    }),

    /** Exactly-once replay detection at DEPTH, driver-gated (VERDICT
      * r13 #1 — [[graft.sources.SnapshotTable.appendBatch]]'s carried
      * `lastbatch.` manifest header, the Delta txn-appId pattern): a
      * 50-commit ladder of streaming appends lands batch-per-version,
      * then the gate pins the COST contract — the manifest-read count
      * of a commit at depth 10 equals the count at depth 50 (the r13
      * newest-first `#batch=` walk matched nothing for every NEW batch
      * id, so each commit read the ENTIRE history: O(n²) cumulative,
      * one GET per historical manifest per micro-batch on object
      * storage) — and the CORRECTNESS contract: replaying the last
      * batch and an ancient mid-ladder batch both return their
      * original versions with no new commit and no duplicate rows.
      * The final table hashes against the oracle's recompute of the
      * same 50-order slice.
      *
      * Scale shape: replay detection reads ONE manifest regardless of
      * history length; a year-long micro-batch stream pays the same
      * commit cost on day 365 as on day 1. */
    "q293_replay_ladder" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val tbl = gateDir("q293_tbl", d)
        .resolve("t").toString
      val sel = orders(s, d)
        .orderBy("o_orderkey").limit(50)
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("part"),
          col("o_totalprice").as("v"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("k")) - 1)
        .cache()
      sel.count() // materialize once; the 50 batch filters reuse it
      def reads(body: => Unit): Long = {
        val before = SnapshotTable.manifestReadCount.get()
        body
        SnapshotTable.manifestReadCount.get() - before
      }
      var readsAt10 = -1L; var readsAt49 = -1L
      val versions = (0 until 50).map { b =>
        var v = -1L
        val r = reads {
          v = SnapshotTable.appendBatch(s, tbl,
            sel.filter(col("rn") === b).drop("rn"), "part", b.toLong, "q293")
        }
        if (b == 10) readsAt10 = r
        if (b == 49) readsAt49 = r
        b.toLong -> v
      }.toMap
      val vTop = SnapshotTable.latest(s, tbl).get._1
      // commit cost must not grow with history depth — the O(1) pin
      val readsConstant = readsAt10 == readsAt49 && readsAt49 <= 4L
      // checkpoint-loss replays: last batch and an ancient batch
      val replayLast = SnapshotTable.appendBatch(s, tbl,
        sel.filter(col("rn") === 49).drop("rn"), "part", 49L, "q293")
      val replayAncient = SnapshotTable.appendBatch(s, tbl,
        sel.filter(col("rn") === 7).drop("rn"), "part", 7L, "q293")
      val vEnd = SnapshotTable.latest(s, tbl).get._1
      val lastNoop = replayLast == versions(49L) && vEnd == vTop
      val ancientNoop = replayAncient == versions(7L) && vEnd == vTop
      sel.unpersist()
      SnapshotTable.read(s, tbl)
        .groupBy("part")
        .agg(count(lit(1)).as("n_rows"), round(sum("v"), 4).as("sum_v"))
        .select(col("part"), col("n_rows"), col("sum_v"),
          lit(vTop).as("versions"),
          lit(readsConstant).as("reads_constant"),
          lit(lastNoop).as("replay_last_noop"),
          lit(ancientNoop).as("replay_ancient_noop"))
        .orderBy("part")
    }),

    /** Hidden (transform) partitioning, driver-gated end to end
      * ([[graft.sources.SnapshotTable.writeTransformPartitioned]] — the
      * Iceberg partition-transform contract: the table is physically
      * partitioned by day(ts), but the MAPPING is table metadata, the
      * derived bucket column never surfaces in any read, writers append
      * RAW rows through the recorded transform, and a reader's
      * plain-`ts` range predicate prunes partition dirs via driver-side
      * transform arithmetic — no `month=`/`day=` predicates for users
      * to remember, which on a hive-layout table is exactly what a
      * forgotten partition filter costs a full scan for): the gate
      * writes the events table day-partitioned, appends a +40-day
      * shifted slice through the transform (claims: old files carried
      * untouched, bucket column hidden), queries a 3-day window by `ts`
      * alone (claims: ≤ a fifth of the files survive pruning), and
      * probes an out-of-domain year (zero files, zero rows). The
      * window's aggregate hashes against the oracle's direct BETWEEN
      * over the raw events.
      *
      * Scale shape: a day-scoped query on a years-long 100 TB event
      * table reads one day's dirs — and no analyst has to know the
      * layout to get that. */
    "q300_hidden_partitioning" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("q300_tbl", d)
        .resolve("t").toString
      val base = events(s, d)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      SnapshotTable.writeTransformPartitioned(s, dir, base, "ts", "day")
      val (_, f0, _) = SnapshotTable.latestFull(s, dir).get
      val shifted = base.filter(col("event_id") % 5 === 0)
        .withColumn("event_id", col("event_id") + 10000000L)
        .withColumn("ts", col("ts") + expr("INTERVAL 40 DAYS"))
      SnapshotTable.appendTransformPartitioned(s, dir, shifted)
      val (_, f1, _) = SnapshotTable.latestFull(s, dir).get
      val noRewrite = f0.forall(f1.contains)
      val hiddenCol = !SnapshotTable.readHidden(s, dir).columns
        .contains("__tp")
      val (df, kept, tot) = SnapshotTable.readSourceRange(s, dir,
        "2024-01-10 00:00:00", "2024-01-12 23:59:59")
      val pruned = kept >= 1 && kept * 5 <= tot
      val (dfE, keptE, _) = SnapshotTable.readSourceRange(s, dir,
        "2030-01-01 00:00:00", "2030-12-31 23:59:59")
      val emptyZero = keptE == 0 && dfE.count() == 0L
      df.groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"), round(sum("value"), 4).as("sum_value"))
        .select(col("event_type"), col("n_rows"), col("sum_value"),
          lit(noRewrite).as("no_file_rewrite"),
          lit(hiddenCol).as("bucket_col_hidden"),
          lit(pruned).as("files_pruned"),
          lit(emptyZero).as("empty_range_zero"))
        .orderBy("event_type")
    }),

    /** Partition transform EVOLUTION, driver-gated end to end
      * ([[graft.sources.SnapshotTable.evolveTransform]] — the Iceberg
      * partition-evolution contract: switching day(ts) → month(ts) is a
      * METADATA-ONLY commit; old files keep their day dirs, new appends
      * bucket monthly, and [[graft.sources.SnapshotTable.readSourceRange]]
      * prunes each file under the transform its OWN dir value was
      * written under — the four transforms' value shapes are
      * self-describing — so mixed-era tables stay exactly prunable with
      * ZERO rewrite): the gate writes events day-partitioned, evolves
      * to month (claims: version bump with the identical file list;
      * re-evolving is a no-op), appends a +60-day slice through the
      * evolved transform (claim: every new dir is month-shaped), then
      * proves a day-era window prunes and returns exactly the direct
      * BETWEEN (claim) and aggregates a month-era window against the
      * oracle's recompute of the shifted slice.
      *
      * Scale shape: re-granulating a 100 TB table because its partition
      * scheme aged badly (hourly dirs at year 3 = millions of dirs)
      * costs one manifest line, not a table rewrite — and no reader
      * ever knows the eras exist. */
    "q307_partition_evolution" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("q307_tbl", d)
        .resolve("t").toString
      val base = events(s, d)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      SnapshotTable.writeTransformPartitioned(s, dir, base, "ts", "day") // v1
      val (_, f1, _) = SnapshotTable.latestFull(s, dir).get
      val v2 = SnapshotTable.evolveTransform(s, dir, "month")            // v2
      val (_, f2, _) = SnapshotTable.latestFull(s, dir).get
      val metadataOnly = v2 == 2L && f1.toSet == f2.toSet
      val shifted = base.filter(col("event_id") % 7 === 0)
        .withColumn("event_id", col("event_id") + 20000000L)
        .withColumn("ts", col("ts") + expr("INTERVAL 60 DAYS"))
      SnapshotTable.appendTransformPartitioned(s, dir, shifted)          // v3
      val (_, f3, _) = SnapshotTable.latestFull(s, dir).get
      val newDirs = (f3.toSet -- f2.toSet).map(_.split('/').head)
      val monthDirs = newDirs.nonEmpty &&
        newDirs.forall(_.stripPrefix("__tp=").length == 7)
      val idem = SnapshotTable.evolveTransform(s, dir, "month") == 3L
      // day-era window: pruned by day arithmetic, rows exactly the
      // direct BETWEEN over the raw slice (month-era dirs cannot
      // intersect January and must prune too)
      val (dfD, keptD, totD) = SnapshotTable.readSourceRange(s, dir,
        "2024-01-10 00:00:00", "2024-01-12 23:59:59")
      val directD = base.filter(col("ts").between(
        lit("2024-01-10 00:00:00").cast("timestamp"),
        lit("2024-01-12 23:59:59").cast("timestamp")))
      val dayExact = CoreQueries.multisetEqual(dfD, directD)
      val dayPruned = keptD >= 1 && keptD * 5 <= totD
      // month-era window: only the evolved era's dirs survive
      val (dfM, keptM, totM) = SnapshotTable.readSourceRange(s, dir,
        "2024-03-01 00:00:00", "2024-03-31 23:59:59")
      val monthPruned = keptM >= 1 && keptM * 5 <= totM
      dfM.groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"), round(sum("value"), 4).as("sum_value"))
        .select(col("event_type"), col("n_rows"), col("sum_value"),
          lit(metadataOnly).as("evolution_metadata_only"),
          lit(monthDirs).as("month_era_dirs"),
          lit(idem).as("evolve_idempotent"),
          lit(dayExact && dayPruned).as("day_window_exact"),
          lit(monthPruned).as("files_pruned"))
        .orderBy("event_type")
    }),

    /** Scalar subquery: orders above the global average price — the 1-row
      * aggregate broadcasts via cross join, fully lazy. */
    "q55_scalar_subquery" -> ((s, d) => {
      val avgPrice = orders(s, d).agg(avg("o_totalprice").as("avg_price"))
      orders(s, d)
        .crossJoin(broadcast(avgPrice))
        .filter(col("o_totalprice") > col("avg_price"))
        .select(col("o_orderkey"), col("o_totalprice"),
          round(col("avg_price"), 6).as("avg_price"))
        .orderBy("o_orderkey")
    }),

    /** CORRELATED scalar subquery — the decorrelation surface: for every
      * order, how many orders the SAME customer has in finished ('F')
      * status. Written as real correlated SQL so Catalyst's subquery
      * rewrite turns the per-row subquery into one filtered aggregation
      * + one equi-join on the correlation key — no per-row re-execution,
      * no nested loop (PlanAuditSpec pins the plan). Includes the
      * classic COUNT-bug case: a customer with NO finished orders has an
      * empty subquery group and must report 0, not null. All-integer
      * output, so the oracle is hash-exact.
      *
      * The correlation is deliberately EQUI-ONLY: a correlated predicate
      * on an inequality over a high-cardinality outer column (e.g.
      * `o2.o_totalprice < o.o_totalprice`) decorrelates through a DOMAIN
      * join — distinct outer values × inner rows through a
      * BroadcastNestedLoopJoin — which is O(n²) when the domain column
      * is near-unique (measured here: the plan audit rejected that
      * variant). Rank-against-peers semantics belong to a window
      * function (q28/q54), not a correlated subquery.
      *
      * Scale shape: one filtered partial+final aggregation on o_custkey,
      * one shuffle-or-broadcast equi-join — both 1000-executor shapes. */
    "q100_correlated" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders_q100")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_orderstatus,
          |  (SELECT count(*) FROM orders_q100 o2
          |   WHERE o2.o_custkey = o.o_custkey
          |     AND o2.o_orderstatus = 'F') AS n_finished_same_cust
          |FROM orders_q100 o ORDER BY o_orderkey""".stripMargin)
    }),

    /** Multi-step funnel (signup → click → purchase, each step within 24
      * hours after the user's previous step): the conversion-analysis
      * primitive. Stated as a chain of per-user min-timestamp
      * aggregations — step k's frame is "first qualifying event inside
      * step k-1's conversion window" — so the plan is three
      * partial+final aggregations and two equi-joins, ALL keyed on
      * user_id (one partitioning serves every hop; AQE handles the
      * shrinking right sides). No window over the raw event stream, no
      * per-user sort: at 100 TB the funnel costs three user-keyed
      * shuffles of ever-smaller frames. */
    "q130_funnel" -> ((s, d) => {
      val deadline = expr("interval 24 hours")
      val ev = events(s, d).select(col("user_id"), col("ts"), col("event_type"))
      val step1 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val step2 = ev.filter(col("event_type") === "click")
        .join(step1, "user_id")
        .filter(col("ts") > col("t1") && col("ts") <= col("t1") + deadline)
        .groupBy("user_id").agg(min("ts").as("t2"))
      val step3 = ev.filter(col("event_type") === "purchase")
        .join(step2, "user_id")
        .filter(col("ts") > col("t2") && col("ts") <= col("t2") + deadline)
        .groupBy("user_id").agg(min("ts").as("t3"))
      def level(df: DataFrame, step: Long, name: String) =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(step).as("step"), lit(name).as("step_name"), col("n_users"))
      level(step1, 1L, "signup")
        .unionByName(level(step2, 2L, "click_after_signup"))
        .unionByName(level(step3, 3L, "purchase_after_click"))
        .orderBy("step")
    }),

    /** Cohort retention matrix: users bucketed by first-activity day,
      * counted once per (cohort_day, day_offset) they return on. Two
      * user-keyed aggregations (first day, distinct active days) and one
      * user-keyed join — the (user, day) dedup happens BEFORE the join,
      * so the retention count is a plain count, not a count-distinct over
      * the joined fact. Day grain keeps the output calendar-bounded
      * (cohorts × offsets), independent of event volume. */
    "q131_cohort_retention" -> ((s, d) => {
      val ev = events(s, d)
        .select(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
        .distinct()
      val first = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
      ev.join(first, "user_id")
        .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .select(col("cohort_day").cast("timestamp_ntz").as("cohort_day"),
          col("day_offset").cast("long").as("day_offset"), col("n_users"))
        .orderBy("cohort_day", "day_offset")
    }),

    /** SLIDING event-time windows (2-hour length, 30-minute slide) — the
      * overlapping-window twin of q31's tumbling windows and of the
      * streaming hourly job. Spark's window() expands each event to its
      * (length / slide) = 4 covering windows BEFORE the aggregation
      * shuffle, so overlap costs a bounded row multiplier on the map
      * side, never a self-join or range join; partial aggregation then
      * collapses each partition's expansion back down. Oracle states the
      * same expansion arithmetically (epoch-aligned slide floor minus
      * k slides, k = 0..3). */
    "q132_sliding_window" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "2 hours", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))
        .select(col("w.start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("window_start", "event_type")),

    /** First-order Markov transition matrix over the per-user event
      * sequence: P(next event type | current type). One lead() window on
      * the user partitioning (the same single shuffle sessionization
      * pays), then a 25-row aggregate; the normalizing sum runs over the
      * AGGREGATED matrix, so the second window touches type² rows, not
      * the corpus. Probabilities divide exact longs in IEEE double on
      * both engines, so the hash gate covers them too. */
    "q133_transition_matrix" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val agg = events(s, d)
        .withColumn("to_type", lead("event_type", 1).over(byUser))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val byFrom = Window.partitionBy("from_type")
      agg
        .withColumn("p",
          round(col("n").cast("double") / sum("n").over(byFrom).cast("double"), 9))
        .select("from_type", "to_type", "n", "p")
        .orderBy("from_type", "to_type")
    }),

    /** Rolling 24-hour active users per hour (the rolling-DAU shape) —
      * count-distinct over a sliding time window WITHOUT a non-equi
      * self-join: dedup (user, hour) once, explode each active hour to
      * the 24 hour-buckets it keeps the user "active" in, dedup (user,
      * target) again, and count per bucket. Both dedups and the count are
      * plain hash shuffles; the ×24 expansion runs on the already-deduped
      * user-hour frame (≤ users × hours rows), which is the bounded term
      * at any corpus size. The hour roster (calendar-bounded) completes
      * empty buckets. */
    "q134_rolling_active" -> ((s, d) => {
      val ev = events(s, d)
      val userHours = ev
        .select(col("user_id"), date_trunc("HOUR", col("ts")).as("hr"))
        .distinct()
      val contrib = userHours
        .select(col("user_id"), explode(expr(
          "sequence(hr, hr + interval 23 hours, interval 1 hour)")).as("target_hr"))
        .distinct()
      val counts = contrib.groupBy("target_hr").agg(count(lit(1)).as("n_active"))
      val roster = ev
        .agg(date_trunc("HOUR", min("ts")).as("lo"), date_trunc("HOUR", max("ts")).as("hi"))
        .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("target_hr"))
      roster.join(counts, Seq("target_hr"), "left")
        .select(col("target_hr").cast("timestamp_ntz").as("hour"),
          coalesce(col("n_active"), lit(0L)).as("n_active_24h"))
        .orderBy("hour")
    }),

    /** CDC latest-wins compaction — the MERGE-INTO/upsert snapshot read
      * over a changelog: the event stream keyed by user_id, the latest
      * record per key (event time, event_id tiebreak) is the key's
      * current state, and a key whose latest record is the tombstone type
      * ('error' stands in for a delete marker) leaves the snapshot. The
      * version count rides along for audit.
      *
      * Scale shape: ONE shuffle on the key serves both windows (rank and
      * version count share the partitioning; Catalyst stacks the two
      * WindowExecs on one exchange). This is the batch dual of the q79
      * streaming dedup — at 100 TB the same plan compacts a day's
      * changelog into a snapshot partition. */
    "q105_upsert_latest" -> ((s, d) => {
      val byKey = Window.partitionBy("user_id")
      val latest = byKey.orderBy(desc("ts"), desc("event_id"))
      events(s, d)
        .withColumn("rn", row_number().over(latest))
        .withColumn("n_versions", count(lit(1)).over(byKey))
        .filter(col("rn") === 1 && col("event_type") =!= "error")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("ts").as("last_ts"), col("event_type").as("last_type"),
          col("value").as("last_value"), col("n_versions"))
        .orderBy("user_id")
    }),

    /** SCD Type-2 dimension build from a changelog: per key (user), the
      * tracked attribute's consecutive duplicates collapse, and each
      * surviving change becomes a versioned validity interval —
      * effective_from = its event time, effective_to = the NEXT change's
      * time (null = current row), the standard warehouse history table.
      *
      * Scale shape: ONE shuffle on the key serves everything — the
      * change-collapse lag, the version row_number, and the interval
      * lead all share the (user_id, ts) sort, so Catalyst stacks three
      * WindowExecs on a single exchange. At 100 TB this is the same
      * plan per changelog partition; no self-joins, no skew terms. */
    "q141_scd2_dimension" -> ((s, d) => {
      val ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, d)
        .withColumn("prev_type", lag("event_type", 1).over(ord))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        .withColumn("version", row_number().over(ord).cast("long"))
        // open intervals close at the classic SCD2 high-date sentinel
        // (also keeps the gated output free of null timestamps)
        .withColumn("effective_to",
          coalesce(lead("ts", 1).over(ord), lit("9999-12-31 00:00:00").cast("timestamp_ntz")))
        .select(col("user_id"), col("version"),
          col("event_type").as("state"),
          col("ts").cast("timestamp_ntz").as("effective_from"),
          col("effective_to").cast("timestamp_ntz").as("effective_to"),
          (col("effective_to") === lit("9999-12-31 00:00:00").cast("timestamp_ntz"))
            .as("is_current"))
        .orderBy("user_id", "version")
    }),

    /** Snapshot diff → CDC changelog: given two keyed snapshots, emit
      * the insert/update/delete row-change feed between them (the
      * inverse of q105's changelog→snapshot compaction; together they
      * round-trip a table through its change history). The "new"
      * snapshot is derived deterministically from orders — keys %13==0
      * deleted, %7==0 status-updated, %11==0 re-keyed as inserts — so
      * the oracle rebuilds both sides exactly.
      *
      * Scale shape: one full outer join on the key — shuffle both sides
      * once, compare co-partitioned, no window, no broadcast of either
      * snapshot. The unchanged majority is filtered AFTER the join but
      * BEFORE any further stage, so downstream consumers see only the
      * delta (the point of CDC at 100 TB: ship changes, not tables). */
    "q142_snapshot_cdc" -> ((s, d) => {
      val old = orders(s, d)
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"))
      val base = orders(s, d)
      val newSnap = base
        .filter(col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 7 === 0, lit("X"))
            .otherwise(col("o_orderstatus")).as("status"))
        .unionByName(base.filter(col("o_orderkey") % 11 === 0)
          .select((col("o_orderkey") + 10000000L).as("k"),
            col("o_orderstatus").as("status")))
      old.as("o").join(newSnap.as("n"), col("o.k") === col("n.k"), "full_outer")
        .select(
          when(col("o.k").isNull, lit("insert"))
            .when(col("n.k").isNull, lit("delete"))
            .when(col("o.status") =!= col("n.status"), lit("update"))
            .otherwise(lit("none")).as("op"),
          coalesce(col("o.k"), col("n.k")).as("o_orderkey"),
          col("o.status").as("old_status"), col("n.status").as("new_status"))
        .filter(col("op") =!= "none")
        .orderBy("o_orderkey", "op")
    }),

    /** Robust per-group statistics: winsorized mean (values CLAMPED to
      * the exact interpolating [p05, p95] — clamping, not trimming, so
      * there is no cross-engine row-membership boundary to disagree on)
      * and MAD (median absolute deviation about the exact median) —
      * the outlier-resistant aggregates a metrics layer needs where
      * mean/stddev (q57) are skew-fragile.
      *
      * Scale shape: pass 1 computes the three percentiles per group;
      * the GROUP-COUNT-sized bounds table broadcasts back onto the fact
      * for pass 2's clamp/deviation aggregate. Two scans total, no
      * self-join. The percentile engine is CONF-TIERED on
      * `spark.graft.stats.exactPercentileLimit` (the knn.exactLimit
      * pattern): at or below the limit, the exact interpolating
      * `percentile` (q14 — but it accumulates every fact value into
      * per-group buffers, a 3-buffer concentration point this table
      * cannot afford at 100 TB); above it, the mergeable KLL sketch
      * ([[graft.functions.KllAggregates]]) — fixed ~KB buffers,
      * partial/final merge, identical plan shape. The forced tier is
      * hash-gated by q269 (rank-neighborhood claim booleans). */
    "q148_robust_stats" -> ((s, d) =>
      robustStats(s, d, forceSketch = false)
        .select("l_returnflag", "n", "mean_price", "winsor_mean",
          "median_price", "mad")
        .orderBy("l_returnflag")),

    /** Forced KLL tier of q148 (the d81/d83/d99 forced-tier pattern):
      * the sketch path that `exactPercentileLimit` selects above gate
      * scale, exercised AT gate scale and claim-gated the q65 way —
      * sketch estimates are randomized engine-internals, so the gate
      * emits booleans the oracle asserts TRUE: each sketch percentile
      * must land inside the exact rank-neighborhood [r−ε, r+ε]
      * (ε = 0.02 ≫ KLL k=800's ~0.4% normalized rank error — the
      * engine's actual parameter, see [[graft.functions.Percentiles]];
      * the wide margin keeps the gate deterministic-in-practice), the
      * sketch-bounds winsorized mean must land inside the exact winsor
      * envelope [winsor(p03,p93), winsor(p07,p97)] (mean of clamp(x,
      * lo, hi) is monotone nondecreasing in both bounds), and the
      * sketch MAD must land in the rank-neighborhood of deviations
      * about the SKETCH median. */
    "q269_robust_stats_sketch" -> ((s, d) => {
      // same conditional spread as robustStats — the exact-envelope
      // percentile passes below buffer the whole price column
      val li = graft.Tables.conditionalSpread(s, lineitem(s, d), "l_orderkey")
      // localCheckpoint pins ONE evaluation of the randomized KLL stats:
      // st feeds both the final claim row and the deviation-neighborhood
      // branch, and a recompute could draw different (valid) estimates
      // for each — the claims must all be about the SAME draw
      val st = robustStats(s, d, forceSketch = true).localCheckpoint()
      val ex = li.groupBy("l_returnflag").agg(
        expr("percentile(l_extendedprice, array(0.03d, 0.07d))").as("b05"),
        expr("percentile(l_extendedprice, array(0.48d, 0.52d))").as("b50"),
        expr("percentile(l_extendedprice, array(0.93d, 0.97d))").as("b95"),
        count(lit(1)).as("n_exact"))
      // ONE claim pass over the fact: both tiny broadcasts (the exact
      // rank-neighborhoods and the sketch median) attach to the same
      // scan, so the winsor envelope AND the deviation neighborhood
      // about the SKETCH median (covering the sketch-MAD path
      // end-to-end) cost one join+aggregate, not two
      val env = li.join(broadcast(ex), "l_returnflag")
        .join(broadcast(st.select(col("l_returnflag"),
          col("median_price").as("med_sk"))), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
          avg(least(greatest(col("l_extendedprice"), col("b05")(0)),
            col("b95")(0))).as("w_lo"),
          avg(least(greatest(col("l_extendedprice"), col("b05")(1)),
            col("b95")(1))).as("w_hi"),
          expr(
            "percentile(abs(l_extendedprice - med_sk), array(0.48d, 0.52d))")
            .as("bmad"),
          first("b05").as("b05"), first("b50").as("b50"),
          first("b95").as("b95"), first("n_exact").as("n_exact"))
      st.join(broadcast(env), "l_returnflag")
        .select(
          col("l_returnflag"),
          col("n"),
          (col("n") === col("n_exact")).as("n_ok"),
          col("p05").between(col("b05")(0), col("b05")(1)).as("p05_ok"),
          col("median_price").between(col("b50")(0), col("b50")(1))
            .as("med_ok"),
          col("p95").between(col("b95")(0), col("b95")(1)).as("p95_ok"),
          col("winsor_mean").between(col("w_lo"), col("w_hi"))
            .as("winsor_ok"),
          col("mad").between(col("bmad")(0), col("bmad")(1)).as("mad_ok"))
        .orderBy("l_returnflag")
    }),

    /** Per-user EWMA over the last 32 events (α = 0.25, ts order) — the
      * online-feature shape (recent-behavior score with exponential
      * forgetting). The recursion ewma_i = α·x_i + (1−α)·ewma_{i−1},
      * seeded at the oldest slice value, is expanded to CLOSED-FORM
      * per-row weights — oldest row (1−α)^(m−1), row at descending rank
      * r < m gets α·(1−α)^(r−1) — so the whole feature is one windowed
      * rank + arithmetic + sum: no array collection, no sequential fold,
      * no HOF (the s139 lesson).
      *
      * Scale shape: one shuffle on user_id; the rank filter bounds state
      * to ≤ 32 rows per key BEFORE the aggregate, so per-key cost is
      * constant regardless of how hot a user's history is — the bound a
      * feature store needs at 100 TB. */
    "q149_ewma_features" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val a = 0.25
      val byUserDesc = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val wu = Window.partitionBy("user_id")
      events(s, d)
        .withColumn("rd", row_number().over(byUserDesc))
        .filter(col("rd") <= 32)
        .withColumn("m", count(lit(1)).over(wu))
        .withColumn("weight",
          when(col("rd") === col("m"), pow(lit(1 - a), col("m") - 1))
            .otherwise(lit(a) * pow(lit(1 - a), col("rd") - 1)))
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_used"),
          sum(col("weight") * col("value")).as("ewma_value"),
          max(when(col("rd") === 1, col("value"))).as("last_value"))
        .orderBy("user_id")
    }),

    /** Top 3-step behavioral paths (sequential pattern mining at n=3 —
      * the path-analysis extension of q133's 1-step transition matrix):
      * each user's event sequence contributes every consecutive
      * (e₁→e₂→e₃) triple; ranked by frequency. One shuffle on user_id
      * for the two leads (both windows share the single sort), one
      * count aggregate, and a top-20 that compiles to
      * TakeOrderedAndProject — bounded heaps, no global sort, the same
      * scale shape as q18. */
    "q151_event_paths" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("e2", lead("event_type", 1).over(w))
        .withColumn("e3", lead("event_type", 2).over(w))
        .filter(col("e3").isNotNull)
        .groupBy(col("event_type").as("step1"), col("e2").as("step2"),
          col("e3").as("step3"))
        .agg(count(lit(1)).as("n_paths"))
        .orderBy(desc("n_paths"), col("step1"), col("step2"), col("step3"))
        .limit(20)
    }),

    /** Heterogeneous-interval merge (gaps-and-islands over RANGES): each
      * event spans [ts, ts + value seconds]; overlapping spans per user
      * merge into maximal islands — distinct from q32's gap sessionize
      * because interval LENGTHS vary, so island boundaries depend on the
      * running max of interval ENDS, not inter-arrival gaps. Emits per
      * user the merged-interval count, total covered seconds, and the
      * longest single span — the machine-utilization/on-call-coverage
      * shape.
      *
      * Scale shape: both windows (running-max end, island counter) and
      * the two aggregates all key on user_id — one shuffle end to end;
      * epoch-seconds double arithmetic is identical on both engines. */
    "q153_interval_merge" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("st"), col("event_id"))
      val prevMax = max("en").over(byUser.rowsBetween(Window.unboundedPreceding, -1))
      // exact µs epoch → double seconds (identical bits on both engines;
      // µs longs are far inside double's exact-integer range)
      val st = unix_micros(col("ts").cast("timestamp")) / lit(1000000.0)
      val spans = events(s, d)
        .select(col("user_id"), col("event_id"),
          st.as("st"), (st + col("value")).as("en"))
        .withColumn("new_island",
          when(col("st") > coalesce(prevMax, lit(Double.NegativeInfinity)), 1L)
            .otherwise(0L))
        .withColumn("island", sum("new_island").over(byUser))
        .groupBy("user_id", "island")
        .agg(min("st").as("island_st"), max("en").as("island_en"))
      spans.groupBy("user_id")
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("island_en") - col("island_st")).as("covered_sec"),
          max(col("island_en") - col("island_st")).as("max_span_sec"))
        .orderBy("user_id")
    }),

    /** Share-of-parent / share-of-total ratios (the BI ratio_to_report
      * surface): revenue share of each (returnflag, linestatus) cell
      * within its returnflag, and of the grand total — two window sums
      * over the ALREADY-AGGREGATED cells (group count × 8 rows), so the
      * windows cost nothing at any corpus size; the heavy lifting is the
      * one partial+final aggregate below them. */
    "q154_share_of_total" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cells = lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_extendedprice").as("revenue"))
      cells
        .withColumn("share_in_flag",
          col("revenue") / sum("revenue").over(Window.partitionBy("l_returnflag")))
        .withColumn("share_of_total",
          col("revenue") / sum("revenue").over(Window.partitionBy()))
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("revenue"), 4).as("revenue"),
          round(col("share_in_flag"), 9).as("share_in_flag"),
          round(col("share_of_total"), 9).as("share_of_total"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    /** Seasonal-baseline anomaly detection: per (event_type, iso weekday,
      * hour-of-day) the robust baseline (median + MAD, q148's two-pass
      * shape) of hourly EVENT COUNTS, then every hour bucket whose count
      * deviates from its seasonal median by more than 3×MAD is flagged —
      * the weekday/hour-seasonality-aware monitor that a plain global
      * threshold (or q148's per-group stats alone) gets wrong on traffic
      * with a daily cycle. Counts (not value sums) are the metric so
      * every compared quantity is an exact integer or an exact .5
      * interpolation — no cross-engine double-ulp row-membership risk at
      * the 3×MAD boundary.
      *
      * Scale shape: one partial+final count aggregate on (event_type,
      * hour-bucket) reduces the raw stream to the hourly grid; both
      * percentile passes and the flag join run on that aggregated grid
      * (|types|×|hours| rows), with the (|types|×168)-row baseline
      * broadcast back — the raw table is scanned exactly once. */
    "q158_seasonal_anomaly" -> ((s, d) => {
      val hourly = hourlyGrid(s, d)
      hourly.join(broadcast(seasonalBaseline(s, d)), Seq("event_type", "dow", "hod"))
        .filter(abs(col("n") - col("med")) > lit(3.0) * col("mad"))
        .select(col("event_type"), col("hr_ts"), col("n"),
          col("med"), col("mad"), col("n_hours"))
        .orderBy("event_type", "hr_ts")
    }),

    /** Audience-overlap matrix: for every ordered pair of event types,
      * how many distinct users did BOTH, with containment (share of the
      * smaller audience) and Jaccard — the segment-intersection query
      * behind "users who viewed also purchased" panels.
      *
      * Scale shape: the raw stream collapses to distinct (user_id,
      * event_type) once (partial+final distinct, the only scan); the
      * self-join keys on user_id, fanning out ≤ T² rows per user for T
      * distinct event types (a bounded catalog, NOT data-sized), and the
      * T-row audience sizes broadcast onto the T²-row result. Nothing in
      * the plan is quadratic in users or events. */
    "q162_audience_overlap" -> ((s, d) => {
      val ut = events(s, d).select("user_id", "event_type").distinct()
      val sizes = ut.groupBy("event_type").agg(count(lit(1)).as("n_users"))
      val pairs = ut.join(ut.select(col("user_id"),
          col("event_type").as("type_b")), "user_id")
        .filter(col("event_type") < col("type_b"))
        .groupBy(col("event_type").as("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_both"))
      pairs
        .join(broadcast(sizes.select(col("event_type").as("type_a"),
          col("n_users").as("n_a"))), "type_a")
        .join(broadcast(sizes.select(col("event_type").as("type_b"),
          col("n_users").as("n_b"))), "type_b")
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("n_both"),
          round(col("n_both") / least(col("n_a"), col("n_b")), 9)
            .as("containment"),
          round(col("n_both") / (col("n_a") + col("n_b") - col("n_both")), 9)
            .as("jaccard"))
        .orderBy("type_a", "type_b")
    }),

    /** Decile gains/lift table — the model-evaluation curve: users ranked
      * by total spend, cut into ten equal-count deciles (ntile), and per
      * decile the cumulative share of all spend plus the lift over a
      * uniform split — "the top 10% of users carry X% of revenue". Spend
      * is ROUNDED to 6 before the ntile ordering (user_id tiebreak), so
      * decile membership cannot flip on summation-order ulps.
      *
      * Scale shape: the raw stream collapses to one row per user first
      * (partial+final sum — the only corpus-sized shuffle). The ranking
      * stage is CONF-TIERED (the q148 pattern): at or below
      * `spark.graft.stats.exactPercentileLimit` users, exact ntile — a
      * total order over users, i.e. a single-partition sort of the
      * aggregated frame (t127's documented bound). Above it, the KLL
      * decile BOUNDARIES replace the sort: 9 sketch quantiles broadcast
      * back and each user banding by value comparison (t137's shape on
      * 9 cuts) — equal-count buckets become equal-probability-mass
      * buckets within the sketch's ~0.4% rank error, and no global sort
      * ever runs. The forced tier is claim-gated by q273. The decile
      * aggregate and both windows run over ten rows either way. */
    "q167_decile_lift" -> ((s, d) => decileLift(s, d, forceSketch = false)),

    /** Forced sketch tier of q167 (the q269 pattern): the >limit bucket
      * join exercised at gate scale, claim-gated — bucket counts are
      * sketch-dependent, so the oracle asserts the CONTRACT: every
      * decile holds 10% ± (2% + 1/N) of users (KLL rank error ~0.4% ≪
      * ε; the 1/N term covers integer discretization at tiny gate
      * corpora — a boundary value moves whole users, so no bucket can
      * sit closer to 10% than one user allows), and the buckets
      * conserve the user count exactly (n_total crosses the comparator
      * as a hard integer both engines compute). */
    "q273_decile_lift_sketch" -> ((s, d) => {
      // observed buckets LEFT-JOIN a literal 1..10 spine (ADVICE r11):
      // a tie-heavy draw that empties a sketch decile must fail the
      // share_ok CLAIM on a zero-count row, not trip the driver's
      // row-cardinality gate — the booleans, not the row count, carry
      // the contract
      val obs = decileLift(s, d, forceSketch = true)
        .select(col("decile"), col("n_users"))
      val tot = obs.agg(sum("n_users").cast("long").as("n_total"))
      s.range(1, 11).select(col("id").as("decile"))
        .join(obs, Seq("decile"), "left")
        .crossJoin(broadcast(tot))
        .select(col("decile"), col("n_total"),
          (abs(coalesce(col("n_users"), lit(0L)) / col("n_total") - 0.1) <=
            lit(0.02) + lit(1.0) / col("n_total")).as("share_ok"))
        .orderBy("decile")
    }),

    /** A/B experiment analysis (two-proportion z-test): users are
      * assigned to variants by the t69 hash-bucket rule (md5 prefix —
      * stable across runs/engines/corpus growth, the property rand()
      * assignment lacks), conversion = the user ever fired a 'purchase'
      * above the 180.0 value cut (every user purchases eventually at
      * this event density, so the raw flag would be degenerate — pooled
      * p = 1 zeroes the z denominator); the pooled two-proportion
      * z-statistic and the
      * |z|>1.96 verdict come out as one wide row — the experiment
      * dashboard's readout.
      *
      * Scale shape: one partial+final aggregate to per-user conversion
      * flags (user_id shuffle), one 2-row aggregate over variants, and
      * a 1-row pivot — z arithmetic runs on a single row. Every input
      * to the z formula is an exact integer count, and the oracle
      * replicates the identical expression tree, so the rounded z and
      * the 1.96 verdict cannot drift cross-engine. */
    "q168_ab_test" -> ((s, d) => {
      val bucket = conv(substring(
        md5(col("user_id").cast("string").cast("binary")), 1, 4), 16, 10)
        .cast("long")
      val perUser = events(s, d)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase" && col("value") > 180.0, 1L)
          .otherwise(0L)).as("converted"))
        .withColumn("variant",
          when(bucket % 2L === 0L, "A").otherwise("B"))
      val wide = perUser.groupBy("variant")
        .agg(count(lit(1)).as("n_users"), sum("converted").as("n_conv"))
        .agg(
          max(when(col("variant") === "A", col("n_users"))).as("n_a"),
          max(when(col("variant") === "A", col("n_conv"))).as("conv_a"),
          max(when(col("variant") === "B", col("n_users"))).as("n_b"),
          max(when(col("variant") === "B", col("n_conv"))).as("conv_b"))
      val pA = col("conv_a") / col("n_a")
      val pB = col("conv_b") / col("n_b")
      val pPool = (col("conv_a") + col("conv_b")) / (col("n_a") + col("n_b"))
      val z = (pA - pB) /
        sqrt(pPool * (lit(1.0) - pPool) * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
      wide.select(
        col("n_a"), col("conv_a"), round(pA, 9).as("rate_a"),
        col("n_b"), col("conv_b"), round(pB, 9).as("rate_b"),
        round(z, 6).as("z_score"),
        (abs(round(z, 6)) > 1.96).as("significant"))
    }),

    /** Last-touch revenue attribution (the marketing-BI question "which
      * channel gets credit for this order"): each order is attributed
      * to the customer's most recent event at or before the order date
      * (the q50 as-of composition — union both sides, one key-partition
      * sort, last-ignoring-nulls carry), orders with no prior touch
      * fall to 'direct'; revenue and order counts roll up per channel.
      *
      * Scale shape: identical to q50 — one shuffle on the customer key
      * for the as-of window (the cost a native as-of join pays), then
      * one partial+final aggregate over |channels| rows. Events are
      * pre-deduped per (user, ts) with max_by on the unique event_id so
      * the as-of pick is deterministic on both engines; order rows sort
      * AFTER event rows at equal ts (tag), matching ASOF's <= bound. */
    "q169_attribution" -> ((s, d) => {
      val ev = events(s, d)
        .groupBy(col("user_id").as("k"), col("ts").as("t"))
        .agg(expr("max_by(event_type, event_id)").as("ch_in"))
        .select(col("k"), col("t"), col("ch_in"),
          lit(null).cast("long").as("o_orderkey"),
          lit(null).cast("double").as("o_totalprice"), lit(0).as("tag"))
      val ord = orders(s, d)
        .select(col("o_custkey").as("k"),
          col("o_orderdate").cast("timestamp_ntz").as("t"),
          lit(null).cast("string").as("ch_in"),
          col("o_orderkey"), col("o_totalprice"), lit(1).as("tag"))
      val w = Window.partitionBy("k")
        .orderBy(col("t"), col("tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.unionByName(ord)
        .withColumn("channel",
          coalesce(last("ch_in", ignoreNulls = true).over(w), lit("direct")))
        .filter(col("tag") === 1)
        .groupBy("channel")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 4).as("revenue"))
        .orderBy("channel")
    }),

    /** Forced sketch tier of q162: audience overlap from MERGEABLE theta
      * sketches ([[graft.functions.ThetaSketchAgg]]) — the set-algebra
      * sketch HLL can't be: per-segment sketches of user_id support
      * INTERSECTION estimates, so "users who did A and B" is answered
      * from persisted KB blobs without q162's raw-table self-join. The
      * exact pair counts ride along to gate the claim (±5%-or-1
      * absolute — below lgK=12's 4096 retained hashes the sketch is in
      * exact mode, so the booleans are deterministic at test scale).
      *
      * Scale shape: one partial+final sketch aggregate (only compact
      * blobs cross the exchange), set algebra on a |types|² broadcast
      * cross of the 5-row sketch table; the exact side (one distinct
      * pass + user-keyed self-join bounded by per-user type fan-out)
      * exists only to gate the claim. */
    "q170_theta_overlap" -> ((s, d) => {
      graft.functions.ThetaAggregates.register(s)
      val sk = events(s, d).groupBy("event_type")
        .agg(expr("theta_sketch_agg(user_id, 12)").as("sk"))
      val est = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"))
        .crossJoin(broadcast(
          sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"))))
        .filter(col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"),
          expr("theta_intersect_estimate(sk_a, sk_b)").as("est_inter"),
          expr("theta_union_estimate(sk_a, sk_b)").as("est_union"))
      val ut = events(s, d).select("user_id", "event_type").distinct()
      val sizes = ut.groupBy("event_type").agg(count(lit(1)).as("n_users"))
      val exact = ut.join(ut.select(col("user_id"),
          col("event_type").as("type_b")), "user_id")
        .filter(col("event_type") < col("type_b"))
        .groupBy(col("event_type").as("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_both"))
        .join(broadcast(sizes.select(col("event_type").as("type_a"),
          col("n_users").as("n_a"))), "type_a")
        .join(broadcast(sizes.select(col("event_type").as("type_b"),
          col("n_users").as("n_b"))), "type_b")
      exact.join(broadcast(est), Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("n_both"),
          (abs(col("est_inter") - col("n_both")) <=
            greatest(col("n_both") * 0.05, lit(1.0))).as("inter_ok"),
          (abs(col("est_union") - (col("n_a") + col("n_b") - col("n_both"))) <=
            greatest((col("n_a") + col("n_b") - col("n_both")) * 0.05, lit(1.0)))
            .as("union_ok"))
        .orderBy("type_a", "type_b")
    }),

    /** Calendar resample + linear interpolation (the pandas
      * `resample('1h').interpolate()` surface): the hourly value-sum
      * series per event type is completed to the FULL hour spine
      * (sequence over the observed bounds × the type roster — empty
      * hours exist as rows, which a bare group-by cannot produce), and
      * missing cells are linearly interpolated between the nearest
      * observed neighbors (edge cells clamp to the nearest value).
      * Emits the filled series with a was_observed flag.
      *
      * Scale shape: the ONLY corpus-sized work is the one partial+final
      * hourly aggregate; the spine is calendar-bounded (|hours|×|types|
      * rows — independent of corpus size), the completion join keys on
      * (type, hour), and both interpolation windows run on the
      * aggregated grid. Hour indexes are exact integers and observed
      * sums round to 6 before interpolation, so the interpolated
      * doubles are bit-identical cross-engine. */
    "q171_resample_interpolate" -> ((s, d) => {
      val hourly = events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(round(sum("value"), 6).as("v"))
      val spine = hourly.agg(min("hr").as("mn"), max("hr").as("mx"))
        .select(explode(sequence(col("mn"), col("mx"),
          expr("interval 1 hour"))).as("hr"))
        .crossJoin(broadcast(hourly.select("event_type").distinct()))
      val grid = spine.join(hourly, Seq("event_type", "hr"), "left")
        .withColumn("h", (unix_micros(col("hr").cast("timestamp")) /
          lit(3600000000L)).cast("long"))
      val wPrev = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val interp = grid
        .withColumn("pv", last("v", ignoreNulls = true).over(wPrev))
        .withColumn("ph", last(when(col("v").isNotNull, col("h")),
          ignoreNulls = true).over(wPrev))
        .withColumn("nv", first("v", ignoreNulls = true).over(wNext))
        .withColumn("nh", first(when(col("v").isNotNull, col("h")),
          ignoreNulls = true).over(wNext))
      interp.select(col("event_type"),
        col("hr").cast("timestamp_ntz").as("hr"),
        round(
          when(col("v").isNotNull, col("v"))
            .when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              (col("h") - col("ph")) / (col("nh") - col("ph"))), 6)
          .as("v_filled"),
        col("v").isNotNull.as("was_observed"))
        .orderBy("event_type", "hr")
    }),

    /** Rolling 7-day median + band (robust trend line): per event type,
      * the trailing-7-row median, min and max of DAILY event counts —
      * the outlier-resistant smoother a rolling mean gets wrong on
      * spiky traffic (q158's seasonal flags are point anomalies; this
      * is the continuous robust baseline). Counts are exact integers so
      * every median is a .0/.5-exact double on both engines.
      *
      * Scale shape: one partial+final count aggregate collapses the
      * corpus to the |days|×|types| grid; the percentile windows buffer
      * AT MOST 7 rows per frame on that grid — cost independent of raw
      * corpus size. */
    "q172_rolling_median" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("dy"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("dy")
        .rowsBetween(-6, Window.currentRow)
      daily.select(col("event_type"), col("dy"), col("n"),
        expr("percentile(n, 0.5)").over(w).as("med7"),
        min("n").over(w).as("min7"),
        max("n").over(w).as("max7"),
        count(lit(1)).over(w).as("n_days7"))
        .orderBy("event_type", "dy")
    }),

    /** CUSUM change-point detection over daily counts (Page 1954 — the
      * sustained-LEVEL-SHIFT detector q158's point-anomaly flags are
      * not): the one-sided CUSUM recursion S_t = max(0, S_{t-1} + x_t −
      * μ) is sequential as written, but closes to pure windows via the
      * prefix-sum identity S_t = P_t − min(0, min_{j≤t} P_j) with
      * P = cumsum(x − μ) — so no driver loop, no sequential fold, no
      * HOF (the q149 lesson applied to a harder recursion). Both
      * directions are emitted (upward spike-shift and downward
      * drop-shift, the mirrored identity), flagged at 3×MAD.
      *
      * Every quantity lives on the exact .5 lattice (integer counts,
      * interpolating medians), so prefix sums and the 3×MAD comparisons
      * are bit-identical cross-engine with NO rounding needed.
      *
      * Scale shape: one partial+final count collapses the corpus to the
      * |days|×|types| grid; the per-type median/MAD (two percentile
      * passes, q148's shape) broadcast back onto the grid; all four
      * windows key on event_type over calendar-bounded frames. */
    "q173_cusum_changepoint" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("dy"))
        .agg(count(lit(1)).as("n"))
      val mu = daily.groupBy("event_type")
        .agg(expr("percentile(n, 0.5)").as("mu"))
      val mad = daily.join(broadcast(mu), "event_type")
        .groupBy("event_type")
        .agg(expr("percentile(abs(n - mu), 0.5)").as("mad"))
      val w = Window.partitionBy("event_type").orderBy("dy")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.join(broadcast(mu), "event_type")
        .join(broadcast(mad), "event_type")
        .withColumn("p", sum(col("n") - col("mu")).over(w))
        .withColumn("s_pos", col("p") - least(min("p").over(w), lit(0.0)))
        .withColumn("s_neg", greatest(max("p").over(w), lit(0.0)) - col("p"))
        .select(col("event_type"), col("dy"), col("n"),
          col("s_pos"), col("s_neg"),
          (col("s_pos") > col("mad") * 3.0).as("spike_shift"),
          (col("s_neg") > col("mad") * 3.0).as("drop_shift"))
        .orderBy("event_type", "dy")
    }),

    /** Period-over-period growth (the BI MoM/YoY readout): monthly
      * revenue with month-over-month and year-over-year growth
      * percentages via lag(1)/lag(12) on the monthly grid. The month
      * axis here is DENSE (verified 80 cells over an 80-month span), so
      * positional lags are exact calendar lags; on sparse data the q171
      * spine-completion pattern is the prescribed guard — documented,
      * not assumed. Edge months yield NULL growth on both engines.
      *
      * Scale shape: the corpus collapses in ONE partial+final monthly
      * aggregate; both lags and the growth arithmetic run on the
      * |months|-row grid (single-partition window over a calendar-
      * bounded frame — the q154/q167 aggregated-grid story). */
    "q174_period_growth" -> ((s, d) => {
      val w = Window.orderBy("month")
      orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate"))
          .cast("timestamp_ntz").as("month"))
        .agg(round(sum("o_totalprice"), 4).as("revenue"),
          count(lit(1)).as("n_orders"))
        .withColumn("prev_m", lag("revenue", 1).over(w))
        .withColumn("prev_y", lag("revenue", 12).over(w))
        .select(col("month"), col("revenue"), col("n_orders"),
          round((col("revenue") - col("prev_m")) / col("prev_m") * 100.0, 9)
            .as("mom_pct"),
          round((col("revenue") - col("prev_y")) / col("prev_y") * 100.0, 9)
            .as("yoy_pct"))
        .orderBy("month")
    }),

    /** Key-skew report (the shuffle-planning diagnostic this engine's
      * own 100 TB advice depends on): the user_id key distribution
      * summarized as max/top-10 load shares and the Gini coefficient —
      * the numbers that decide salting/AQE-skew-join before a job ships.
      * Gini from the sorted-counts identity G = 2·Σ(i·cᵢ)/(k·Σc) −
      * (k+1)/k — every term an exact integer until the final divisions,
      * so the doubles are bit-identical cross-engine.
      *
      * Scale shape: one partial+final count collapses the corpus to the
      * |keys| grid; the rank window and all sums run on that grid. The
      * single-partition rank over |keys| is the exact-Gini barrier —
      * CONF-TIERED (the q148/q167 pattern): above
      * `spark.graft.stats.exactPercentileLimit` keys, the Lorenz curve
      * integrates a 200-point KLL quantile grid instead (no global sort
      * anywhere — max via plain agg, top-10 via a bounded-heap
      * TakeOrdered, Gini via trapezoid over 201 rows), claim-gated by
      * q274. */
    "q175_skew_report" -> ((s, d) => skewReport(s, d, forceSketch = false)),

    /** Forced sketch tier of q175 (the q269/q273 pattern): every
      * deterministic column (row/key/max counts, max and top-10 load
      * shares — the top-10 cut is a bounded-heap TakeOrdered with the
      * same (cnt desc, user_id) tie-break as the exact rank, so it is
      * value-identical) hash-gates directly; the sketch Gini is
      * randomized, so its claim is the error bound against the exact
      * rank-identity Gini: |G_sketch − G_exact| ≤ 0.05 + 1/n_keys (the
      * 1/n_keys term covers trapezoid discretization at tiny gate
      * corpora). */
    "q274_skew_gini_sketch" -> ((s, d) => {
      val sk = skewReport(s, d, forceSketch = true).localCheckpoint()
      val ex = skewReport(s, d, forceSketch = false)
        .select(col("gini").as("gini_exact"))
      sk.crossJoin(broadcast(ex))
        .select(col("n_rows"), col("n_keys"), col("max_cnt"),
          col("max_share"), col("top10_share"),
          (abs(col("gini") - col("gini_exact")) <=
            lit(0.05) + lit(1.0) / col("n_keys")).as("gini_ok"))
    }),

    /** Linear multi-touch attribution (q169's last-touch sibling): every
      * event of the customer inside the order's 7-day lookback shares
      * the order's revenue EQUALLY — the multi-touch model marketing
      * actually reconciles against last-touch. The lookback is a pure
      * range join (no equi time key), kept off the |orders|×|events|
      * cliff by q126's bucket co-partitioning at the USER grain: each
      * order explodes to its ≤8 lookback day-buckets, each event maps
      * to its one bucket, and the join becomes (user, day) equi with
      * BETWEEN evaluated only inside matching buckets — a (order,
      * event) pair meets in exactly one bucket, so no dedup pass is
      * needed. Untouched orders fall to 'direct' via anti-join.
      *
      * Scale shape: the explode is a constant ×8 on the SMALLER side;
      * the join is a shuffled equi-join on (user, day); per-order touch
      * counts run on the matched-pair grid (bounded by touches per
      * order); two partial+final rollups close it out. */
    "q177_linear_attribution" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id").as("k"),
        col("ts").as("t"), col("event_type").as("ch"))
      val ord = orders(s, d).select(col("o_custkey").as("k"),
        col("o_orderdate").cast("timestamp_ntz").as("ot"),
        col("o_orderkey"), col("o_totalprice"))
      val obuck = ord.withColumn("db", explode(sequence(
        to_date(col("ot") - expr("interval 7 days")), to_date(col("ot")))))
      val ebuck = ev.withColumn("db", to_date(col("t")))
      val touches = obuck.join(ebuck, Seq("k", "db"))
        .filter(col("t") >= col("ot") - expr("interval 7 days") &&
          col("t") <= col("ot"))
        .select("o_orderkey", "o_totalprice", "ch")
      val w = Window.partitionBy("o_orderkey")
      val credited = touches
        .withColumn("credit",
          col("o_totalprice") / count(lit(1)).over(w))
        .groupBy(col("ch").as("channel"))
        .agg(round(sum("credit"), 4).as("revenue"),
          countDistinct("o_orderkey").as("n_orders"),
          count(lit(1)).as("n_touches"))
      val direct = ord
        .join(touches.select("o_orderkey").distinct(),
          Seq("o_orderkey"), "left_anti")
        .agg(round(sum("o_totalprice"), 4).as("revenue"),
          count(lit(1)).as("n_orders"))
        .select(lit("direct").as("channel"), col("revenue"),
          col("n_orders"), lit(0L).as("n_touches"))
      credited.unionByName(direct).orderBy("channel")
    }),

    /** New vs returning daily actives (the growth dashboard's first
      * panel): per activity day, users active for the FIRST time vs
      * users returning — derived from each user's min activity day
      * (q131's cohort anchor) joined back onto the deduped (user, day)
      * activity grid. Identity: Σ new over all days = distinct users.
      *
      * Scale shape: one (user, day) dedup shuffle, one user-keyed
      * min-day aggregate joined back on user_id (co-partitioned at
      * scale), one daily rollup — no windows over the corpus. */
    /** CEP-style sequence pattern matching (the Flink-CEP / SQL
      * MATCH_RECOGNIZE workload): each user's event history becomes a
      * code string ('c','e','p','s','v' ordered by ts with event_id
      * tie-break) and patterns are regexes with NEXT (contiguity)
      * semantics — `vc+p` counts view→clicks→purchase funnels with no
      * intervening event, `ee+` counts error bursts, and the longest
      * error run is the max `e+` match length. Greedy non-overlapping
      * regex scanning is left-to-right deterministic and identical in
      * Java and DuckDB's regex engines, so counts hash-match.
      *
      * Scale shape: one user-keyed shuffle collects each history
      * (bounded by events-per-user — for unbounded histories compose
      * with q32's sessionization first, the same contract streaming CEP
      * engines impose via windows); the regex pass is per-row scan
      * work, no further shuffle. */
    "q208_event_pattern_cep" -> ((s, d) => {
      val code = when(col("event_type") === "click", "c")
        .when(col("event_type") === "error", "e")
        .when(col("event_type") === "purchase", "p")
        .when(col("event_type") === "signup", "s")
        .otherwise("v")
      events(s, d)
        .select(col("user_id"),
          struct(col("ts"), col("event_id"), code.as("k")).as("st"))
        .groupBy("user_id")
        .agg(concat_ws("",
          expr("transform(sort_array(collect_list(st)), x -> x.k)")).as("seq"))
        .select(col("user_id"),
          length(col("seq")).cast("long").as("seq_len"),
          expr("regexp_count(seq, 'vc+p')").cast("long").as("n_funnel"),
          expr("regexp_count(seq, 'ee+')").cast("long").as("n_error_bursts"),
          coalesce(expr(
            "array_max(transform(regexp_extract_all(seq, 'e+', 0), x -> length(x)))"),
            lit(0)).cast("long").as("max_error_run"))
        .orderBy("user_id")
    }),

    /** Tie-corrected ROC AUC (Mann–Whitney U form) — the model-eval
      * primitive a training pipeline runs on every scored eval set:
      * label = purchase events, score = the event value, one AUC per
      * user-cohort fold. Ties are handled exactly (each pos/neg tie
      * contributes ½) by grouping to distinct scores FIRST, so the
      * whole statistic is integer until one final division: U2 = 2U is
      * Σ n_pos(s)·(2·cum_neg_below(s) + n_neg(s)), AUC = U2 / (2·P·N).
      *
      * Scale shape: one shuffle to (cohort, score) grain, one
      * cohort-partitioned window over DISTINCT scores (bounded by value
      * cardinality, not row count), one final aggregate. No row-level
      * window, no self-join — the O(P·N) pairwise definition never
      * materializes. */
    "q220_auc_roc" -> ((s, d) => {
      val ev = events(s, d).select(
        (col("user_id") % 4L).as("cohort"), col("value").as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      val g = ev.groupBy("cohort", "score")
        .agg(sum("pos").as("np"), (count(lit(1)) - sum("pos")).as("nn"))
      val w = Window.partitionBy("cohort").orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("cum_nn", sum("nn").over(w) - col("nn"))
        .groupBy("cohort")
        .agg(sum("np").cast("long").as("n_pos"),
          sum("nn").cast("long").as("n_neg"),
          sum(col("np") * (col("cum_nn") * 2L + col("nn"))).cast("long").as("u2"))
        .select(col("cohort"), col("n_pos"), col("n_neg"), col("u2"),
          (col("u2").cast("double") /
            (col("n_pos") * col("n_neg") * 2L).cast("double")).as("auc"))
        .orderBy("cohort")
    }),

    /** Confusion matrix + precision/recall/F1 per fold (threshold
      * classifier: value ≥ 50 predicts purchase). Every ratio is ONE
      * integer-ratio IEEE division — F1 uses the 2tp/(2tp+fp+fn)
      * identity so no compound float arithmetic exists anywhere.
      *
      * Scale shape: scan → one partial+final aggregate on the 5-fold
      * key; conditional sums ride the same pass. */
    "q221_confusion_f1" -> ((s, d) => {
      val ev = events(s, d).select(
        (col("user_id") % 5L).as("fold"),
        (col("event_type") === "purchase").as("truth"),
        (col("value") >= 50.0).as("pred"))
      ev.groupBy("fold").agg(
        sum(when(col("truth") && col("pred"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("truth") && col("pred"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("truth") && !col("pred"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("truth") && !col("pred"), 1L).otherwise(0L)).as("tn"))
        .select(col("fold"), col("tp"), col("fp"), col("fn"), col("tn"),
          (col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
            .as("precision_"),
          (col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
            .as("recall_"),
          ((col("tp") * 2L).cast("double") /
            (col("tp") * 2L + col("fp") + col("fn")).cast("double")).as("f1"))
        .orderBy("fold")
    }),

    /** Expected-calibration-error table (Guo et al. 2017's reliability
      * diagram): pseudo-probability = fractional part of the event
      * value, 10 equal-width bins, per-bin confidence vs accuracy. The
      * per-bin confidence sum rides an integer MILLI-lattice (⌊p·1000⌉
      * summed exactly in any order — the t115 rule) and the |acc−conf|
      * gap lands on the e9 lattice, so no float accumulates anywhere.
      *
      * Scale shape: scan → one aggregate on the 10-bin key. */
    "q222_ece_calibration" -> ((s, d) => {
      val p = col("value") - floor(col("value"))
      val ev = events(s, d).select(
        floor(p * 1000.0 + 0.5).cast("long").as("p_milli"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("label"))
        .withColumn("bin", least(floor(col("p_milli") / 100L), lit(9L)))
      ev.groupBy("bin").agg(
        count(lit(1)).as("n_samples"),
        sum("label").cast("long").as("n_pos"),
        sum("p_milli").cast("long").as("conf_milli_sum"))
        .select(col("bin"), col("n_samples"), col("n_pos"),
          (col("conf_milli_sum").cast("double") /
            (col("n_samples") * 1000L).cast("double")).as("mean_conf"),
          (col("n_pos").cast("double") / col("n_samples").cast("double"))
            .as("frac_pos"))
        .withColumn("gap_e9",
          floor(abs(col("frac_pos") - col("mean_conf")) * 1e9 + 0.5).cast("long"))
        .orderBy("bin")
    }),

    /** Kaplan–Meier survival estimator (1958) over user lifetimes:
      * duration = whole days between a user's first and last event;
      * users whose last event falls in the final 7 days of the corpus
      * are right-censored. S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) evaluated as
      * exp of a windowed ln-sum (the t114 round-6 wash), with the
      * d=n full-extinction row handled exactly (survival 0 from there
      * on, no ln(0) evaluated — Spark's log(0) is NULL, DuckDB's is
      * -inf, so the guard is correctness, not style).
      *
      * Scale shape: one shuffle to user grain, one aggregate to the
      * duration grain (≤ corpus-age rows), then window arithmetic over
      * that tiny table. The 1-row corpus max is a legitimate broadcast. */
    "q223_kaplan_meier" -> ((s, d) => {
      val life = events(s, d).groupBy("user_id")
        .agg(min("ts").as("first_ts"), max("ts").as("last_ts"))
      val mx = life.agg(max("last_ts").as("corpus_max"))
      val durations = life.crossJoin(broadcast(mx))
        .select(
          floor((unix_timestamp(col("last_ts")) - unix_timestamp(col("first_ts")))
            / 86400L).cast("long").as("t_days"),
          (unix_timestamp(col("last_ts")) >
            unix_timestamp(col("corpus_max")) - 7L * 86400L).as("censored"))
      val byT = durations.groupBy("t_days").agg(
        sum(when(!col("censored"), 1L).otherwise(0L)).as("n_deaths"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("n_censored"))
      val ordered = Window.orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val after = Window.orderBy("t_days")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      byT
        .withColumn("n_at_risk",
          sum(col("n_deaths") + col("n_censored")).over(after).cast("long"))
        .withColumn("extinct",
          max(when(col("n_deaths") === col("n_at_risk"), 1L).otherwise(0L))
            .over(ordered))
        .withColumn("survival",
          when(col("extinct") === 1L, 0.0).otherwise(
            round(exp(sum(
              when(col("n_deaths") < col("n_at_risk"),
                log((col("n_at_risk") - col("n_deaths")).cast("double") /
                  col("n_at_risk").cast("double"))).otherwise(0.0))
              .over(ordered)), 6)))
        .select("t_days", "n_at_risk", "n_deaths", "n_censored", "survival")
        .orderBy("t_days")
    }),

    /** Cumulative user-growth curve: users attributed to their
      * first-seen day, daily new-user count plus the running total —
      * the growth-accounting view q189's new/returning split does not
      * give. All integers; the running sum is a window over the tiny
      * day grain.
      *
      * Scale shape: one shuffle to user grain (min ts), one aggregate
      * to day grain, one window over days. */
    "q234_user_growth" -> ((s, d) => {
      val firstSeen = events(s, d).groupBy("user_id")
        .agg(to_date(min("ts")).as("day"))
      val daily = firstSeen.groupBy("day").agg(count(lit(1)).as("n_new"))
      daily.withColumn("cum_users",
        sum("n_new").over(Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
        .orderBy("day")
    }),

    /** Wilson score interval (1927) for per-event-type conversion
      * proportions — the CI that behaves at small n and extreme p̂
      * where q186's normal interval collapses. "Success" = value ≥ 100.
      * z and z² are Scala-computed constants inlined as identical
      * shortest-roundtrip literals in both engines; the interval
      * endpoints are the same left-associated IEEE chain on both sides
      * and land on the e9 lattice.
      *
      * Scale shape: one partial+final aggregate on event_type; the
      * interval arithmetic is per-group scalar math. */
    "q231_wilson_ci" -> ((s, d) => {
      val ev = events(s, d).groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(when(col("value") >= 100.0, 1L).otherwise(0L)).as("x"))
      val n = col("n").cast("double")
      val x = col("x").cast("double")
      val phat = x / n
      val denom = lit(1.0) + lit(WilsonZ.z2) / n
      val center = (phat + lit(WilsonZ.z2) / (n * lit(2.0))) / denom
      val half = lit(WilsonZ.z) *
        sqrt(phat * (lit(1.0) - phat) / n + lit(WilsonZ.z2) / (n * n * lit(4.0))) /
        denom
      ev.select(col("event_type"), col("n"), col("x"), phat.as("phat"),
        floor((center - half) * lit(1e9) + lit(0.5)).cast("long").as("lo_e9"),
        floor((center + half) * lit(1e9) + lit(0.5)).cast("long").as("hi_e9"))
        .orderBy("event_type")
    }),

    /** Funnel conversion latency: exact p50/p90/mean of the
      * signup→purchase delay in whole seconds per converting user —
      * the "how long does the funnel take" companion to q130's "how
      * many make it". Integer seconds all the way; the percentiles
      * interpolate identically on both engines (the q14 contract) and
      * the mean is one integer-ratio division.
      *
      * Scale shape: two first-touch aggregates on user_id (one
      * shuffle), then a single global aggregate; at 100 TB the exact
      * percentile swaps for approx_percentile with the same contract. */
    "q232_funnel_latency" -> ((s, d) => {
      val ev = events(s, d)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("t_signup"))
      val pu = ev.filter(col("event_type") === "purchase")
        .join(su, "user_id")
        .filter(col("ts") > col("t_signup"))
        .groupBy("user_id").agg(min("ts").as("t_purchase"),
          first("t_signup").as("t_signup"))
        .select((unix_timestamp(col("t_purchase")) -
          unix_timestamp(col("t_signup"))).as("lat_sec"))
      pu.agg(
        count(lit(1)).as("n_converted"),
        expr("percentile(lat_sec, 0.5)").as("p50_sec"),
        expr("percentile(lat_sec, 0.9)").as("p90_sec"),
        (sum("lat_sec").cast("double") / count(lit(1)).cast("double"))
          .as("mean_sec"))
    }),

    "q189_new_vs_returning" -> ((s, d) => {
      val userDays = events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("dy")).distinct()
      val firstDay = userDays.groupBy("user_id")
        .agg(min("dy").as("first_dy"))
      userDays.join(firstDay, "user_id")
        .groupBy("dy")
        .agg(
          sum(when(col("dy") === col("first_dy"), 1L).otherwise(0L))
            .as("new_users"),
          sum(when(col("dy") =!= col("first_dy"), 1L).otherwise(0L))
            .as("returning_users"),
          count(lit(1)).as("active_users"))
        .orderBy("dy")
    }),

    /** DAU/MAU stickiness per day (the engagement ratio growth teams
      * steer by): daily actives over trailing-28-day actives, via
      * q134's bounded-explode trick at day grain — each (user, day)
      * activity contributes membership to the ≤28 future days whose
      * trailing window contains it, so the rolling DISTINCT needs no
      * range self-join and no window over the corpus. Only days with
      * actual activity are emitted (the events grid is dense daily).
      *
      * Scale shape: dedup shuffle on (user, day), constant ×28 map-side
      * expansion on the DEDUPED grid (users×days rows, not raw events),
      * one distinct count per day; ratio rounded to 9 on exact integer
      * counts. */
    "q190_stickiness" -> ((s, d) => {
      val userDays = events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("dy")).distinct()
      val dau = userDays.groupBy("dy").agg(count(lit(1)).as("dau"))
      val mau = userDays
        .select(col("user_id"), explode(sequence(col("dy"),
          date_add(col("dy"), 27))).as("win_dy"))
        .distinct()
        .groupBy(col("win_dy").as("dy")).agg(count(lit(1)).as("mau"))
      dau.join(mau, "dy")
        .select(col("dy"), col("dau"), col("mau"),
          round(col("dau") / col("mau"), 9).as("stickiness"))
        .orderBy("dy")
    })
  )

  /** Hourly count grid with (iso weekday, hour-of-day) season keys —
    * q158's aggregation stage, shared with the streaming scorer. */
  private[graft] def hourlyGrid(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr_ts"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dow", weekday(col("hr_ts")) + lit(1))
      .withColumn("hod", hour(col("hr_ts")))

  /** q158's robust seasonal baseline (median + MAD per (event_type,
    * dow, hod) over hourly counts) — the PERSISTABLE model table the
    * streaming scorer ([[graft.streaming.EventStream
    * .scoreAgainstBaseline]]) joins against. */
  private[graft] def seasonalBaseline(s: SparkSession, d: String): DataFrame = {
    val hourly = hourlyGrid(s, d)
    val med = hourly.groupBy("event_type", "dow", "hod")
      .agg(expr("percentile(n, 0.5)").as("med"))
    hourly.join(broadcast(med), Seq("event_type", "dow", "hod"))
      .groupBy("event_type", "dow", "hod")
      .agg(first("med").as("med"),
        expr("percentile(abs(n - med), 0.5)").as("mad"),
        count(lit(1)).as("n_hours"))
  }

  /** Pass-1 percentile bounds for the robust-stats family: per-group
    * [p05, med, p95] over l_extendedprice, via the shared conf-tiered
    * engine ([[graft.functions.Percentiles]] — exact interpolating
    * `percentile` under the limit, mergeable KLL above, identical
    * output schema either way). */
  private def percentileBounds(
      s: SparkSession, li: DataFrame, exact: Boolean): DataFrame =
    graft.functions.Percentiles.grouped(s, li, Seq("l_returnflag"),
      "l_extendedprice", Seq(0.05, 0.5, 0.95), Seq("p05", "med", "p95"),
      exact)

  /** q148's two-pass body, tier-parameterized on the percentile engine
    * (returns the WIDE frame including the pass-1 bounds so the q269
    * claim gate can assert them; q148 narrows to its stable schema).
    * Pass 2's MAD percentile follows the same tier: exact
    * `percentile(abs(x−med), 0.5)` under the limit, a second KLL over
    * the deviations above it. */
  private def robustStats(
      s: SparkSession, d: String, forceSketch: Boolean): DataFrame = {
    // Spread the single-row-group lineitem scan before the percentile
    // passes (r16, guide §2.5): both passes buffer the full price column
    // through the scan's ~3 bin-packed tasks otherwise. Conditional (a
    // many-file fact table skips the shuffle); deterministic orderkey
    // hash. Exact percentiles are order-insensitive; the avg partial-sum
    // regrouping moves doubles by ≤ last-ulp, inside the driver
    // comparator's documented tolerance.
    val li = graft.Tables.conditionalSpread(s, lineitem(s, d), "l_orderkey")
    val exact = graft.functions.Percentiles.exactTierAt(
      s, s"$d#lineitem", li.count(), forceSketch)
    val joined = li.join(broadcast(percentileBounds(s, li, exact)),
      "l_returnflag")
    if (exact)
      joined.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        avg("l_extendedprice").as("mean_price"),
        avg(least(greatest(col("l_extendedprice"), col("p05")), col("p95")))
          .as("winsor_mean"),
        first("med").as("median_price"),
        expr("percentile(abs(l_extendedprice - med), 0.5)").as("mad"),
        first("p05").as("p05"), first("p95").as("p95"))
    else {
      graft.functions.KllAggregates.register(s)
      joined.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        avg("l_extendedprice").as("mean_price"),
        avg(least(greatest(col("l_extendedprice"), col("p05")), col("p95")))
          .as("winsor_mean"),
        first("med").as("median_price"),
        expr("kll_sketch_agg(abs(l_extendedprice - med), 800)").as("madsk"),
        first("p05").as("p05"), first("p95").as("p95"))
        .select(col("l_returnflag"), col("n"), col("mean_price"),
          col("winsor_mean"), col("median_price"),
          expr("kll_quantile(madsk, 0.5d)").as("mad"),
          col("p05"), col("p95"))
    }
  }

  /** q167's body, tier-parameterized on the ranking engine: exact ntile
    * (single-partition sort over the user-grain frame) under the conf
    * limit, KLL decile-boundary banding above it — decile d(v) = 1 +
    * |{k : v < q_k}| over the 9 ascending sketch quantiles, so the top
    * spenders land in decile 1 exactly as under desc-ntile. The
    * boundaries are localCheckpoint-pinned (one draw of the randomized
    * sketch feeds every row). */
  private def decileLift(
      s: SparkSession, d: String, forceSketch: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spend = events(s, d).groupBy("user_id")
      .agg(round(sum("value"), 6).as("spend"))
    val exact =
      graft.functions.Percentiles.exactTierAt(
        s, s"$d#events.users", spend.count(), forceSketch)
    val decd =
      if (exact)
        spend.withColumn("decile",
          ntile(10).over(Window.orderBy(desc("spend"), col("user_id")))
            .cast("long"))
      else {
        val names = (1 to 9).map(k => s"q$k")
        val bounds = graft.functions.Percentiles.grouped(s, spend, Nil,
          "spend", (1 to 9).map(_ / 10.0), names, exact = false)
          .localCheckpoint()
        spend.crossJoin(broadcast(bounds))
          .withColumn("decile",
            (1 to 9).map(k => when(col("spend") < col(s"q$k"), 1L)
              .otherwise(0L)).reduce(_ + _) + lit(1L))
          .select("user_id", "spend", "decile")
      }
    val cells = decd.groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum("spend").as("decile_spend"))
    val w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cells
      .withColumn("cum_share",
        sum("decile_spend").over(w) /
          sum("decile_spend").over(Window.partitionBy()))
      .select(col("decile"), col("n_users"),
        round(col("decile_spend"), 4).as("decile_spend"),
        round(col("cum_share"), 9).as("cum_share"),
        round(col("cum_share") / (col("decile") / lit(10.0)), 6).as("lift"))
      .orderBy("decile")
  }

  /** q175's body, tier-parameterized on the ranking engine. Exact tier:
    * the sorted-counts Gini identity over a single-partition rank of
    * the |keys| grid. Sketch tier (the 100 TB shape): NO global sort —
    * max_cnt from a plain aggregate, the top-10 load share from a
    * bounded-heap TakeOrdered (same (cnt desc, user_id) tie-break as
    * the exact rank, so it is value-identical), and Gini from the
    * Lorenz integral of a 200-point KLL quantile grid: T = ∫Q via
    * trapezoid, L_j = S_j/T the cumulative piece, G = 1 − 2·∫L — all
    * grid arithmetic on 201 rows. The sketch is localCheckpoint-pinned
    * (one draw feeds the whole grid). */
  private def skewReport(
      s: SparkSession, d: String, forceSketch: Boolean): DataFrame = {
    val counts = events(s, d).groupBy("user_id")
      .agg(count(lit(1)).as("cnt"))
    val exact =
      graft.functions.Percentiles.exactTierAt(
        s, s"$d#events.users", counts.count(), forceSketch)
    if (exact) {
      val w = Window.orderBy(col("cnt"), col("user_id"))
      val wd = Window.orderBy(col("cnt").desc, col("user_id"))
      counts
        .withColumn("i", row_number().over(w))
        .withColumn("rd", row_number().over(wd))
        .agg(
          sum("cnt").as("n_rows"),
          count(lit(1)).as("n_keys"),
          max("cnt").as("max_cnt"),
          sum(col("i") * col("cnt")).as("iweighted"),
          sum(when(col("rd") <= 10, col("cnt")).otherwise(0L)).as("top10"))
        .select(col("n_rows"), col("n_keys"), col("max_cnt"),
          round(col("max_cnt") / col("n_rows"), 9).as("max_share"),
          round(col("top10") / col("n_rows"), 9).as("top10_share"),
          round(col("iweighted") * 2.0 / (col("n_keys") * col("n_rows")) -
            (col("n_keys") + 1.0) / col("n_keys"), 9).as("gini"))
    } else {
      graft.functions.KllAggregates.register(s)
      val m = 200
      val base = counts.agg(
        expr("kll_sketch_agg(CAST(cnt AS DOUBLE), 800)").as("sk"),
        sum("cnt").as("n_rows"),
        count(lit(1)).as("n_keys"),
        max("cnt").as("max_cnt")).localCheckpoint()
      val top10 = counts.orderBy(col("cnt").desc, col("user_id")).limit(10)
        .agg(sum("cnt").as("top10"))
      val grid = base.select(col("n_rows"), col("n_keys"), col("max_cnt"),
        posexplode(expr(
          s"transform(sequence(0, $m), " +
            s"j -> kll_quantile(sk, cast(j as double) / ${m}d))")))
        .toDF("n_rows", "n_keys", "max_cnt", "j", "q")
      val wj = Window.orderBy("j")
      val cum = Window.orderBy("j")
        .rowsBetween(Window.unboundedPreceding, 0)
      val lor = grid
        .withColumn("tpiece",
          (col("q") + lag("q", 1).over(wj)) / (2.0 * m))
        // S_0 = 0 (the j=0 row has no piece; an all-null window sums to
        // null, which would poison the j=1 Lorenz trapezoid)
        .withColumn("s_cum", coalesce(sum("tpiece").over(cum), lit(0.0)))
      lor
        .withColumn("lpiece",
          (col("s_cum") + lag("s_cum", 1).over(wj)) / (2.0 * m))
        .agg(
          first("n_rows").as("n_rows"),
          first("n_keys").as("n_keys"),
          first("max_cnt").as("max_cnt"),
          sum("tpiece").as("t_total"),
          sum("lpiece").as("int_l"))
        .crossJoin(broadcast(top10))
        .select(col("n_rows"), col("n_keys"), col("max_cnt"),
          round(col("max_cnt") / col("n_rows"), 9).as("max_share"),
          round(col("top10") / col("n_rows"), 9).as("top10_share"),
          round(lit(1.0) - lit(2.0) * col("int_l") / col("t_total"), 9)
            .as("gini"))
    }
  }

  /** q231's z-constants, computed once and inlined into both engines as
    * identical shortest-roundtrip literals (the d219 FsWeights rule). */
  private object WilsonZ {
    val z: Double = 1.96
    val z2: Double = z * z
  }

  val oracleSql: Map[String, String] = Map(
    "q234_user_growth" ->
      """WITH fs AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS day FROM events GROUP BY 1),
        |daily AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS n_new FROM fs GROUP BY 1)
        |SELECT day, n_new,
        |  CAST(sum(n_new) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM daily ORDER BY day""".stripMargin,
    "q231_wilson_ci" -> {
      val z = WilsonZ.z
      val z2 = WilsonZ.z2
      s"""WITH g AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS x
         |  FROM events GROUP BY 1),
         |c AS (
         |  SELECT event_type, n, x,
         |    CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS phat,
         |    CAST(1 AS DOUBLE) + CAST($z2 AS DOUBLE) / CAST(n AS DOUBLE) AS denom
         |  FROM g),
         |w AS (
         |  SELECT event_type, n, x, phat,
         |    (phat + CAST($z2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(2 AS DOUBLE)))
         |      / denom AS center,
         |    CAST($z AS DOUBLE) * sqrt(phat * (CAST(1 AS DOUBLE) - phat)
         |        / CAST(n AS DOUBLE)
         |      + CAST($z2 AS DOUBLE)
         |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(4 AS DOUBLE)))
         |      / denom AS half
         |  FROM c)
         |SELECT event_type, n, x, phat,
         |  CAST(floor((center - half) * 1e9 + 0.5) AS BIGINT) AS lo_e9,
         |  CAST(floor((center + half) * 1e9 + 0.5) AS BIGINT) AS hi_e9
         |FROM w ORDER BY event_type""".stripMargin
    },
    "q232_funnel_latency" ->
      """WITH su AS (
        |  SELECT user_id, min(ts) AS t_signup FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (
        |  SELECT e.user_id,
        |    date_diff('second', s.t_signup, min(e.ts)) AS lat_sec
        |  FROM events e JOIN su s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s.t_signup
        |  GROUP BY e.user_id, s.t_signup)
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  quantile_cont(lat_sec, 0.5) AS p50_sec,
        |  quantile_cont(lat_sec, 0.9) AS p90_sec,
        |  CAST(sum(lat_sec) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_sec
        |FROM pu""".stripMargin,
    // integer U-statistic, one terminal division (see query scaladoc)
    "q220_auc_roc" ->
      """WITH e AS (
        |  SELECT user_id % 4 AS cohort, value AS score,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events),
        |g AS (
        |  SELECT cohort, score, CAST(sum(pos) AS BIGINT) AS np,
        |    CAST(count(*) - sum(pos) AS BIGINT) AS nn
        |  FROM e GROUP BY 1, 2),
        |c AS (
        |  SELECT cohort, np, nn,
        |    CAST(sum(nn) OVER (PARTITION BY cohort ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nn AS BIGINT)
        |      AS cum_nn
        |  FROM g),
        |r AS (
        |  SELECT cohort, CAST(sum(np) AS BIGINT) AS n_pos,
        |    CAST(sum(nn) AS BIGINT) AS n_neg,
        |    CAST(sum(np * (cum_nn * 2 + nn)) AS BIGINT) AS u2
        |  FROM c GROUP BY 1)
        |SELECT cohort, n_pos, n_neg, u2,
        |  CAST(u2 AS DOUBLE) / CAST(n_pos * n_neg * 2 AS DOUBLE) AS auc
        |FROM r ORDER BY cohort""".stripMargin,
    "q221_confusion_f1" ->
      """WITH e AS (
        |  SELECT user_id % 5 AS fold,
        |    event_type = 'purchase' AS truth, value >= 50.0 AS pred
        |  FROM events),
        |m AS (
        |  SELECT fold,
        |    CAST(sum(CASE WHEN truth AND pred THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN NOT truth AND pred THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN truth AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN NOT truth AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM e GROUP BY 1)
        |SELECT fold, tp, fp, fn, tn,
        |  CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision_,
        |  CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall_,
        |  CAST(tp * 2 AS DOUBLE) / CAST(tp * 2 + fp + fn AS DOUBLE) AS f1
        |FROM m ORDER BY fold""".stripMargin,
    // milli-lattice confidence sums, e9-lattice gap (see query scaladoc)
    "q222_ece_calibration" ->
      """WITH e AS (
        |  SELECT CAST(floor((value - floor(value)) * 1000 + 0.5) AS BIGINT) AS p_milli,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
        |  FROM events),
        |b AS (
        |  SELECT least(p_milli // 100, 9) AS bin,
        |    CAST(count(*) AS BIGINT) AS n_samples,
        |    CAST(sum(label) AS BIGINT) AS n_pos,
        |    CAST(sum(p_milli) AS BIGINT) AS conf_milli_sum
        |  FROM e GROUP BY 1),
        |r AS (
        |  SELECT bin, n_samples, n_pos,
        |    CAST(conf_milli_sum AS DOUBLE) / CAST(n_samples * 1000 AS DOUBLE)
        |      AS mean_conf,
        |    CAST(n_pos AS DOUBLE) / CAST(n_samples AS DOUBLE) AS frac_pos
        |  FROM b)
        |SELECT bin, n_samples, n_pos, mean_conf, frac_pos,
        |  CAST(floor(abs(frac_pos - mean_conf) * 1e9 + 0.5) AS BIGINT) AS gap_e9
        |FROM r ORDER BY bin""".stripMargin,
    // ln-sum windows with the d=n extinction guard (see query scaladoc)
    "q223_kaplan_meier" ->
      """WITH life AS (
        |  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
        |  FROM events GROUP BY 1),
        |mx AS (SELECT max(last_ts) AS corpus_max FROM life),
        |dur AS (
        |  SELECT date_diff('second', first_ts, last_ts) // 86400 AS t_days,
        |    last_ts > corpus_max - INTERVAL 7 DAY AS censored
        |  FROM life CROSS JOIN mx),
        |byt AS (
        |  SELECT t_days,
        |    CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS n_deaths,
        |    CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS n_censored
        |  FROM dur GROUP BY 1),
        |w AS (
        |  SELECT t_days, n_deaths, n_censored,
        |    CAST(sum(n_deaths + n_censored) OVER (ORDER BY t_days
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
        |      AS n_at_risk
        |  FROM byt),
        |sv AS (
        |  SELECT t_days, n_at_risk, n_deaths, n_censored,
        |    max(CASE WHEN n_deaths = n_at_risk THEN 1 ELSE 0 END) OVER (
        |      ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS extinct,
        |    sum(CASE WHEN n_deaths < n_at_risk
        |      THEN ln(CAST(n_at_risk - n_deaths AS DOUBLE) / CAST(n_at_risk AS DOUBLE))
        |      ELSE CAST(0 AS DOUBLE) END) OVER (
        |      ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS lnsum
        |  FROM w)
        |SELECT t_days, n_at_risk, n_deaths, n_censored,
        |  CASE WHEN extinct = 1 THEN CAST(0 AS DOUBLE)
        |       ELSE round(exp(lnsum), 6) END AS survival
        |FROM sv ORDER BY t_days""".stripMargin,
    "q130_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1
        |    AND e.ts <= s1.t1 + INTERVAL 24 HOUR GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |    AND e.ts <= s2.t2 + INTERVAL 24 HOUR GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, 'signup' AS step_name,
        |    count(*) AS n_users FROM s1
        |  UNION ALL SELECT 2, 'click_after_signup', count(*) FROM s2
        |  UNION ALL SELECT 3, 'purchase_after_click', count(*) FROM s3)
        |ORDER BY step""".stripMargin,
    "q131_cohort_retention" ->
      """WITH ev AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1)
        |SELECT f.cohort_day,
        |  CAST(date_diff('day', f.cohort_day, e.day) AS BIGINT) AS day_offset,
        |  count(*) AS n_users
        |FROM ev e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // each event expands to its 4 covering slide-aligned windows — the
    // same epoch alignment Spark's window(ts, len, slide) uses
    "q132_sliding_window" ->
      """WITH slides AS (
        |  SELECT event_type, value,
        |    time_bucket(INTERVAL 30 MINUTE, ts) - k.k * INTERVAL 30 MINUTE AS ws
        |  FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) AS k(k))
        |SELECT ws AS window_start, event_type,
        |  count(*) AS n, round(sum(value), 4) AS total_value
        |FROM slides GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q133_transition_matrix" ->
      """WITH pairs AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |agg AS (
        |  SELECT from_type, to_type, count(*) AS n
        |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(CAST(n AS DOUBLE) /
        |    CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 9) AS p
        |FROM agg ORDER BY 1, 2""".stripMargin,
    // the window membership test hr in (hour-23h, hour] is the join form
    // of the Spark side's explode-to-24-buckets expansion
    "q134_rolling_active" ->
      """WITH uh AS (
        |  SELECT DISTINCT user_id, date_trunc('hour', ts) AS hr FROM events),
        |b AS (SELECT date_trunc('hour', min(ts)) AS lo,
        |  date_trunc('hour', max(ts)) AS hi FROM events),
        |roster AS (
        |  SELECT g.h AS hour FROM b
        |  CROSS JOIN unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS g(h))
        |SELECT r.hour, CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_active_24h
        |FROM roster r LEFT JOIN uh u
        |  ON u.hr > r.hour - INTERVAL 24 HOUR AND u.hr <= r.hour
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q100_correlated" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  (SELECT count(*) FROM orders o2
        |   WHERE o2.o_custkey = o.o_custkey
        |     AND o2.o_orderstatus = 'F') AS n_finished_same_cust
        |FROM orders o ORDER BY o_orderkey""".stripMargin,
    "q105_upsert_latest" ->
      """WITH v AS (
        |  SELECT user_id, event_id, ts, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n_versions
        |  FROM events)
        |SELECT user_id, event_id AS last_event_id, ts AS last_ts,
        |  event_type AS last_type, value AS last_value,
        |  CAST(n_versions AS BIGINT) AS n_versions
        |FROM v WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    "q79_stream_dedup" ->
      """SELECT event_id, ts, user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin,
    // the sink must land exactly the batch hourly aggregate — same SQL as q31
    "q80_stream_hourly_sink" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the raw events aggregated AS IF the late row never existed — the
    // flushed windows must carry no trace of it; the state-store count
    // is pinned to exactly the one unflushed advance-row cell
    "q278_late_data" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n, round(sum(value), 4) AS total_value,
        |  TRUE AS late_dropped, CAST(1 AS BIGINT) AS state_rows
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q77's batch left join over the raw events alone: the streamed
    // outer rows must appear exactly once each (flushed only after the
    // watermark passed), the matched rows exactly as the inner case,
    // and the advance purchase not at all; batch-id claims pin WHEN
    "q286_join_outer" ->
      """SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
        |  coalesce(c.event_id, -1) AS click_id,
        |  coalesce(c.ts, TIMESTAMP '1970-01-01 00:00:00') AS click_ts,
        |  TRUE AS matched_immediate, TRUE AS outer_after_watermark,
        |  TRUE AS advance_unflushed
        |FROM (SELECT user_id, event_id, ts FROM events
        |      WHERE event_type = 'purchase' AND user_id % 10 = 0) p
        |LEFT JOIN (SELECT user_id, event_id, ts FROM events
        |      WHERE event_type = 'click' AND user_id % 10 = 0) c
        |  ON p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts < p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,
    // last-writer-wins over the raw CDC set: batch 1's +1000 update wins
    // for every key it carries; a double-applied replay (+2000) fails the
    // hash, and the version ladder is hard (full load, update → 2)
    "q288_stream_merge" ->
      """WITH upd AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS part,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
        |         ELSE o_totalprice END AS v
        |  FROM orders)
        |SELECT part, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(v), 4) AS sum_v,
        |  CAST(2 AS BIGINT) AS versions,
        |  TRUE AS replay_noop
        |FROM upd GROUP BY 1 ORDER BY 1""".stripMargin,
    // the 50-order ladder recomputed directly: one commit per batch
    // (versions = 50, hard), the O(1) commit-cost claim and both
    // replay no-ops oracle-asserted TRUE; a replayed batch's rows
    // landing twice would fail n_rows/sum_v
    "q293_replay_ladder" ->
      """WITH sel AS (
        |  SELECT o_orderstatus AS part, o_totalprice AS v
        |  FROM orders ORDER BY o_orderkey LIMIT 50)
        |SELECT part, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(v), 4) AS sum_v,
        |  CAST(50 AS BIGINT) AS versions,
        |  TRUE AS reads_constant,
        |  TRUE AS replay_last_noop,
        |  TRUE AS replay_ancient_noop
        |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin,
    // transform pruning routes IO, never changes the relation: the
    // 3-day window recomputed as a plain BETWEEN over raw events (the
    // +40-day appended slice lies outside it by construction); the
    // no-rewrite / hidden-column / pruning / empty-range claims are
    // oracle-asserted TRUE
    "q300_hidden_partitioning" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(value), 4) AS sum_value,
        |  TRUE AS no_file_rewrite,
        |  TRUE AS bucket_col_hidden,
        |  TRUE AS files_pruned,
        |  TRUE AS empty_range_zero
        |FROM events
        |WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
        |             AND TIMESTAMP '2024-01-12 23:59:59'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the month-era window recomputed directly over the shifted slice
    // (all shifted rows land in March by construction); the
    // metadata-only / era-dir / idempotency / day-era-exactness /
    // pruning claims are oracle-asserted TRUE — a range read that lost
    // an era (or scanned one it should prune) fails n_rows/sum_value
    // or the claims
    "q307_partition_evolution" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(value), 4) AS sum_value,
        |  TRUE AS evolution_metadata_only,
        |  TRUE AS month_era_dirs,
        |  TRUE AS evolve_idempotent,
        |  TRUE AS day_window_exact,
        |  TRUE AS files_pruned
        |FROM events
        |WHERE event_id % 7 = 0
        |  AND ts + INTERVAL 60 DAY
        |      BETWEEN TIMESTAMP '2024-03-01 00:00:00'
        |          AND TIMESTAMP '2024-03-31 23:59:59'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q77's inner attribution over the raw events AS IF the staged late
    // pair never arrived — a leaked late row fails the hash; state pins
    // to exactly the two unexpired advance rows
    "q284_join_late" ->
      """SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
        |  c.event_id AS click_id, c.ts AS click_ts,
        |  TRUE AS late_dropped, CAST(2 AS BIGINT) AS state_rows
        |FROM (SELECT user_id, event_id, ts FROM events
        |      WHERE event_type = 'purchase' AND user_id % 3 = 0) p
        |JOIN (SELECT user_id, event_id, ts FROM events
        |      WHERE event_type = 'click' AND user_id % 3 = 0) c
        |  ON p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts < p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,
    // one pass over the raw events — equality proves the streamed,
    // snapshot-committed, incrementally-refreshed view double-counted
    // nothing (the e4 lattice makes the sum order-free on both engines)
    "q265_stream_mv" ->
      """SELECT event_type, count(*) AS n_rows,
        |  CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS value_e4_sum,
        |  max(ts) AS last_ts,
        |  CAST(2 AS BIGINT) AS mv_source_version
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q30_json_extract" ->
      """SELECT event_type,
        |  avg(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS avg_k,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // the variant path extractions reduce to the same JSON values; the
    // missing path is NULL on EVERY row (n_absent = n) and the inferred
    // schema is constant on this uniform props object
    "q268_variant_json" ->
      """SELECT event_type,
        |  avg(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS avg_k,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
        |  count(*) AS n,
        |  count(*) AS n_absent,
        |  'OBJECT<k: BIGINT>' AS props_schema
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q31_time_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the same interval roster joined by the BETWEEN predicate directly —
    // DuckDB's planner handles the non-equi join at oracle scale; the
    // Spark side's bucket grid must produce identical rows
    "q126_range_join" ->
      """WITH b AS (
        |  SELECT date_trunc('day', min(ts)) AS lo, max(ts) AS hi FROM events),
        |wins AS (
        |  SELECT g.ws AS ws, g.ws + INTERVAL 90 MINUTE AS we
        |  FROM b CROSS JOIN unnest(generate_series(lo, hi, INTERVAL 6 HOUR)) AS g(ws)),
        |agg AS (
        |  SELECT w.ws, w.we, count(e.ts) AS n, round(sum(e.value), 4) AS v
        |  FROM wins w LEFT JOIN events e ON e.ts >= w.ws AND e.ts < w.we
        |  GROUP BY 1, 2)
        |SELECT ws AS window_start, we AS window_end,
        |  CAST(n AS BIGINT) AS n_events, coalesce(v, 0.0) AS total_value
        |FROM agg ORDER BY window_start""".stripMargin,
    "q32_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, round(sum(value), 4) AS session_value,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q47_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q48_rollup_op" ->
      """WITH t AS (
        |  SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
        |    CAST(month(o_orderdate) AS INTEGER) AS m, o_totalprice
        |  FROM orders)
        |SELECT y, m, round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total, count(*) AS n
        |FROM t GROUP BY ROLLUP (y, m)
        |ORDER BY y ASC NULLS FIRST, m ASC NULLS FIRST""".stripMargin,
    "q49_pivot" ->
      """SELECT CAST(hour(ts) AS INTEGER) AS hour_of_day,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS "view"
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q50_asof_join" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "q54_range_window" ->
      """SELECT event_id, user_id, ts, value,
        |  count(*) OVER w AS n_recent,
        |  round(sum(value) OVER w, 4) AS recent_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |  RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q64_unpivot" ->
      """WITH m AS (
        |  SELECT CAST(hour(ts) AS INTEGER) AS hour_of_day,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |    CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS "view"
        |  FROM events GROUP BY 1)
        |SELECT hour_of_day, event_type, n FROM (
        |  SELECT hour_of_day, 'click' AS event_type, click AS n FROM m
        |  UNION ALL SELECT hour_of_day, 'error', error FROM m
        |  UNION ALL SELECT hour_of_day, 'purchase', purchase FROM m
        |  UNION ALL SELECT hour_of_day, 'signup', signup FROM m
        |  UNION ALL SELECT hour_of_day, 'view', "view" FROM m)
        |ORDER BY hour_of_day, event_type""".stripMargin,
    "q71_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q77_attribution" ->
      """SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
        |  coalesce(c.event_id, -1) AS click_id,
        |  coalesce(c.ts, TIMESTAMP '1970-01-01 00:00:00') AS click_ts
        |FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts < p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,
    "q78_value_sessions" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(lag(ts) OVER w) >
        |              (CASE WHEN lag(value) OVER w >= 50.0 THEN 3600.0 ELSE 1800.0 END)
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, round(sum(value), 4) AS session_value,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q55_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice,
        |  round((SELECT avg(o_totalprice) FROM orders), 6) AS avg_price
        |FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "q141_scd2_dimension" ->
      """WITH ordered AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type
        |  FROM events),
        |changes AS (
        |  SELECT user_id, ts, event_id, event_type FROM ordered
        |  WHERE prev_type IS NULL OR prev_type <> event_type),
        |versioned AS (
        |  SELECT user_id, event_type AS state, ts AS effective_from,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS version,
        |    coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |      TIMESTAMP '9999-12-31 00:00:00') AS effective_to
        |  FROM changes)
        |SELECT user_id, CAST(version AS BIGINT) AS version, state,
        |  effective_from, effective_to,
        |  effective_to = TIMESTAMP '9999-12-31 00:00:00' AS is_current
        |FROM versioned ORDER BY user_id, version""".stripMargin,
    // same deterministic derivation of the "new" snapshot (%13 deletes,
    // %7 status updates, %11 re-keyed inserts) as the Spark side
    "q142_snapshot_cdc" ->
      """WITH old AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status FROM orders),
        |new_snap AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS status
        |  FROM orders WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000 AS k, o_orderstatus AS status
        |  FROM orders WHERE o_orderkey % 11 = 0),
        |diff AS (
        |  SELECT
        |    CASE WHEN o.k IS NULL THEN 'insert'
        |         WHEN n.k IS NULL THEN 'delete'
        |         WHEN o.status <> n.status THEN 'update'
        |         ELSE 'none' END AS op,
        |    coalesce(o.k, n.k) AS o_orderkey,
        |    o.status AS old_status, n.status AS new_status
        |  FROM old o FULL OUTER JOIN new_snap n ON o.k = n.k)
        |SELECT op, o_orderkey, old_status, new_status
        |FROM diff WHERE op <> 'none' ORDER BY o_orderkey, op""".stripMargin,
    // quantile_cont is the same exact interpolating percentile as
    // Spark's `percentile` (q14/q56 precedent); winsorized mean CLAMPS
    // rather than trims, so no row-membership boundary exists for the
    // engines to disagree on
    "q148_robust_stats" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS p05,
        |    quantile_cont(l_extendedprice, 0.5) AS med,
        |    quantile_cont(l_extendedprice, 0.95) AS p95
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, count(*) AS n,
        |  avg(l_extendedprice) AS mean_price,
        |  avg(least(greatest(l_extendedprice, p05), p95)) AS winsor_mean,
        |  any_value(med) AS median_price,
        |  quantile_cont(abs(l_extendedprice - med), 0.5) AS mad
        |FROM lineitem l JOIN b USING (l_returnflag)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // KLL estimates are randomized engine-internals (q65/q91 pattern):
    // the oracle recomputes n and asserts every rank-neighborhood /
    // envelope claim boolean TRUE
    "q269_robust_stats_sketch" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  TRUE AS n_ok, TRUE AS p05_ok, TRUE AS med_ok, TRUE AS p95_ok,
        |  TRUE AS winsor_ok, TRUE AS mad_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // same closed-form weight expansion of the EWMA recursion
    "q149_ewma_features" ->
      """WITH r AS (
        |  SELECT user_id, event_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM events),
        |f AS (
        |  SELECT *, count(*) OVER (PARTITION BY user_id) AS m
        |  FROM r WHERE rd <= 32)
        |SELECT user_id, count(*) AS n_used,
        |  sum(CASE WHEN rd = m THEN pow(0.75, m - 1)
        |           ELSE 0.25 * pow(0.75, rd - 1) END * value) AS ewma_value,
        |  max(CASE WHEN rd = 1 THEN value END) AS last_value
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "q151_event_paths" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS step1,
        |    lead(event_type, 1) OVER w AS step2,
        |    lead(event_type, 2) OVER w AS step3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT step1, step2, step3, count(*) AS n_paths
        |FROM seq WHERE step3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n_paths DESC, step1, step2, step3
        |LIMIT 20""".stripMargin,
    // same µs-exact epoch seconds, same running-max island derivation
    "q153_interval_merge" ->
      """WITH iv AS (
        |  SELECT user_id, event_id,
        |    epoch_us(ts) / 1000000.0 AS st,
        |    epoch_us(ts) / 1000000.0 + value AS en
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, st, en,
        |    max(en) OVER (PARTITION BY user_id ORDER BY st, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM iv),
        |flagged AS (
        |  SELECT user_id, event_id, st, en,
        |    CASE WHEN prev_max IS NULL OR st > prev_max THEN 1 ELSE 0 END
        |      AS new_island
        |  FROM m),
        |islands AS (
        |  SELECT user_id, st, en,
        |    sum(new_island) OVER (PARTITION BY user_id ORDER BY st, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM flagged),
        |sp AS (
        |  SELECT user_id, island, min(st) AS island_st, max(en) AS island_en
        |  FROM islands GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_intervals,
        |  sum(island_en - island_st) AS covered_sec,
        |  max(island_en - island_st) AS max_span_sec
        |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin,
    "q154_share_of_total" ->
      """WITH cells AS (
        |  SELECT l_returnflag, l_linestatus, sum(l_extendedprice) AS revenue
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus,
        |  round(revenue, 4) AS revenue,
        |  round(revenue / sum(revenue) OVER (PARTITION BY l_returnflag), 9)
        |    AS share_in_flag,
        |  round(revenue / sum(revenue) OVER (), 9) AS share_of_total
        |FROM cells ORDER BY 1, 2""".stripMargin,
    // Spark weekday()+1 == DuckDB isodow (Mon=1..Sun=7); counts and
    // their .5-interpolated medians are exact on both engines, so the
    // 3×MAD membership boundary cannot flip
    "q158_seasonal_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr_ts,
        |    count(*) AS n,
        |    isodow(date_trunc('hour', ts)) AS dow,
        |    hour(date_trunc('hour', ts)) AS hod
        |  FROM events GROUP BY 1, 2),
        |med AS (
        |  SELECT event_type, dow, hod, quantile_cont(n, 0.5) AS med
        |  FROM hourly GROUP BY 1, 2, 3),
        |base AS (
        |  SELECT h.event_type, h.dow, h.hod,
        |    any_value(m.med) AS med,
        |    quantile_cont(abs(h.n - m.med), 0.5) AS mad,
        |    count(*) AS n_hours
        |  FROM hourly h JOIN med m USING (event_type, dow, hod)
        |  GROUP BY 1, 2, 3)
        |SELECT h.event_type, h.hr_ts, h.n, b.med, b.mad, b.n_hours
        |FROM hourly h JOIN base b USING (event_type, dow, hod)
        |WHERE abs(h.n - b.med) > 3.0 * b.mad
        |ORDER BY event_type, hr_ts""".stripMargin,
    "q162_audience_overlap" ->
      """WITH ut AS (
        |  SELECT DISTINCT user_id, event_type FROM events),
        |sizes AS (
        |  SELECT event_type, count(*) AS n_users FROM ut GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_both
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |  WHERE a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b,
        |  sa.n_users AS n_a, sb.n_users AS n_b, p.n_both,
        |  round(p.n_both / least(sa.n_users, sb.n_users), 9) AS containment,
        |  round(p.n_both / (sa.n_users + sb.n_users - p.n_both), 9) AS jaccard
        |FROM pairs p
        |JOIN sizes sa ON sa.event_type = p.type_a
        |JOIN sizes sb ON sb.event_type = p.type_b
        |ORDER BY type_a, type_b""".stripMargin,
    // spend rounded to 6 BEFORE the ntile order (user_id tiebreak), so
    // decile membership is deterministic across engines
    "q167_decile_lift" ->
      """WITH spend AS (
        |  SELECT user_id, round(sum(value), 6) AS spend
        |  FROM events GROUP BY 1),
        |decd AS (
        |  SELECT user_id, spend,
        |    CAST(ntile(10) OVER (ORDER BY spend DESC, user_id) AS BIGINT)
        |      AS decile
        |  FROM spend),
        |cells AS (
        |  SELECT decile, count(*) AS n_users, sum(spend) AS decile_spend
        |  FROM decd GROUP BY 1)
        |SELECT decile, n_users,
        |  round(decile_spend, 4) AS decile_spend,
        |  round(sum(decile_spend) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    / sum(decile_spend) OVER (), 9) AS cum_share,
        |  round((sum(decile_spend) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    / sum(decile_spend) OVER ()) / (decile / 10.0), 6) AS lift
        |FROM cells ORDER BY decile""".stripMargin,
    // sketch-tier bucket counts are engine-internal; the oracle asserts
    // the contract (10% ± 2% per bucket) and recomputes the exact user
    // conservation total both engines must agree on
    "q273_decile_lift_sketch" ->
      """SELECT CAST(g.range AS BIGINT) AS decile,
        |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
        |    AS n_total,
        |  TRUE AS share_ok
        |FROM range(1, 11) g ORDER BY decile""".stripMargin,
    "q168_ab_test" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND value > 180.0
        |      THEN 1 ELSE 0 END) AS converted,
        |    CASE WHEN CAST(list_sum(list_transform(range(0, 4), i ->
        |      CAST(strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR)), CAST(i + 1 AS INTEGER), 1)) - 1 AS BIGINT)
        |        << CAST(4 * (3 - i) AS INTEGER))) AS BIGINT) % 2 = 0
        |      THEN 'A' ELSE 'B' END AS variant
        |  FROM events GROUP BY user_id),
        |v AS (SELECT variant, count(*) AS n_users, sum(converted) AS n_conv
        |  FROM pu GROUP BY 1),
        |w AS (SELECT
        |    max(CASE WHEN variant = 'A' THEN n_users END) AS n_a,
        |    CAST(max(CASE WHEN variant = 'A' THEN n_conv END) AS BIGINT) AS conv_a,
        |    max(CASE WHEN variant = 'B' THEN n_users END) AS n_b,
        |    CAST(max(CASE WHEN variant = 'B' THEN n_conv END) AS BIGINT) AS conv_b
        |  FROM v)
        |SELECT n_a, conv_a, round(conv_a / n_a, 9) AS rate_a,
        |  n_b, conv_b, round(conv_b / n_b, 9) AS rate_b,
        |  round((conv_a / n_a - conv_b / n_b) /
        |    sqrt(((conv_a + conv_b) / (n_a + n_b)) *
        |      (1.0 - (conv_a + conv_b) / (n_a + n_b)) *
        |      (1.0 / n_a + 1.0 / n_b)), 6) AS z_score,
        |  abs(round((conv_a / n_a - conv_b / n_b) /
        |    sqrt(((conv_a + conv_b) / (n_a + n_b)) *
        |      (1.0 - (conv_a + conv_b) / (n_a + n_b)) *
        |      (1.0 / n_a + 1.0 / n_b)), 6)) > 1.96 AS significant
        |FROM w""".stripMargin,
    "q169_attribution" ->
      """WITH ev AS (
        |  SELECT user_id AS k, ts AS t, max_by(event_type, event_id) AS ch
        |  FROM events GROUP BY 1, 2),
        |o AS (
        |  SELECT o_orderkey, o_custkey AS k,
        |    CAST(o_orderdate AS TIMESTAMP) AS t, o_totalprice
        |  FROM orders),
        |j AS (
        |  SELECT o.o_orderkey, o.o_totalprice,
        |    coalesce(ev.ch, 'direct') AS channel
        |  FROM o ASOF LEFT JOIN ev ON o.k = ev.k AND o.t >= ev.t)
        |SELECT channel, count(*) AS n_orders,
        |  round(sum(o_totalprice), 4) AS revenue
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // theta estimates are engine-internal sketch state (q91/q166
    // pattern): the oracle recomputes the exact overlap matrix and
    // asserts the accuracy booleans
    "q170_theta_overlap" ->
      """WITH ut AS (
        |  SELECT DISTINCT user_id, event_type FROM events),
        |sizes AS (
        |  SELECT event_type, count(*) AS n_users FROM ut GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_both
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |  WHERE a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b,
        |  sa.n_users AS n_a, sb.n_users AS n_b, p.n_both,
        |  TRUE AS inter_ok, TRUE AS union_ok
        |FROM pairs p
        |JOIN sizes sa ON sa.event_type = p.type_a
        |JOIN sizes sb ON sb.event_type = p.type_b
        |ORDER BY type_a, type_b""".stripMargin,
    "q171_resample_interpolate" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr,
        |    round(sum(value), 6) AS v
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(hr) AS mn, max(hr) AS mx FROM hourly),
        |spine AS (
        |  SELECT t.event_type, g.hr
        |  FROM (SELECT DISTINCT event_type FROM hourly) t
        |  CROSS JOIN (SELECT unnest(generate_series(mn, mx,
        |    INTERVAL 1 HOUR)) AS hr FROM b) g),
        |grid AS (
        |  SELECT s.event_type, s.hr, h.v,
        |    CAST(epoch(s.hr) / 3600 AS BIGINT) AS hx
        |  FROM spine s LEFT JOIN hourly h
        |    ON s.event_type = h.event_type AND s.hr = h.hr),
        |f AS (
        |  SELECT event_type, hr, v, hx,
        |    last_value(v IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN hx END IGNORE NULLS)
        |      OVER wp AS ph,
        |    first_value(v IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN hx END IGNORE NULLS)
        |      OVER wn AS nh
        |  FROM grid
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY hx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY event_type ORDER BY hx
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, hr,
        |  round(CASE
        |    WHEN v IS NOT NULL THEN v
        |    WHEN pv IS NULL THEN nv
        |    WHEN nv IS NULL THEN pv
        |    ELSE pv + (nv - pv) * (hx - ph) / (nh - ph) END, 6) AS v_filled,
        |  v IS NOT NULL AS was_observed
        |FROM f ORDER BY event_type, hr""".stripMargin,
    "q172_rolling_median" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS dy, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, dy, n,
        |  quantile_cont(n, 0.5) OVER w AS med7,
        |  min(n) OVER w AS min7,
        |  max(n) OVER w AS max7,
        |  count(*) OVER w AS n_days7
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY dy
        |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, dy""".stripMargin,
    "q173_cusum_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS dy, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |mu AS (
        |  SELECT event_type, quantile_cont(n, 0.5) AS mu
        |  FROM daily GROUP BY 1),
        |mad AS (
        |  SELECT d.event_type, quantile_cont(abs(d.n - m.mu), 0.5) AS mad
        |  FROM daily d JOIN mu m USING (event_type) GROUP BY 1),
        |p AS (
        |  SELECT d.event_type, d.dy, d.n, m2.mad,
        |    sum(d.n - m.mu) OVER w AS p
        |  FROM daily d
        |  JOIN mu m USING (event_type)
        |  JOIN mad m2 USING (event_type)
        |  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.dy
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s AS (
        |  SELECT event_type, dy, n, mad, p,
        |    p - least(min(p) OVER w, 0.0) AS s_pos,
        |    greatest(max(p) OVER w, 0.0) - p AS s_neg
        |  FROM p
        |  WINDOW w AS (PARTITION BY event_type ORDER BY dy
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, dy, n, s_pos, s_neg,
        |  s_pos > mad * 3.0 AS spike_shift,
        |  s_neg > mad * 3.0 AS drop_shift
        |FROM s ORDER BY event_type, dy""".stripMargin,
    "q174_period_growth" ->
      """WITH m AS (
        |  SELECT date_trunc('month', o_orderdate) AS month,
        |    round(sum(o_totalprice), 4) AS revenue,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |l AS (
        |  SELECT month, revenue, n_orders,
        |    lag(revenue, 1) OVER (ORDER BY month) AS prev_m,
        |    lag(revenue, 12) OVER (ORDER BY month) AS prev_y
        |  FROM m)
        |SELECT month, revenue, n_orders,
        |  round((revenue - prev_m) / prev_m * 100.0, 9) AS mom_pct,
        |  round((revenue - prev_y) / prev_y * 100.0, 9) AS yoy_pct
        |FROM l ORDER BY month""".stripMargin,
    "q175_skew_report" ->
      """WITH c AS (
        |  SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
        |r AS (
        |  SELECT cnt,
        |    row_number() OVER (ORDER BY cnt, user_id) AS i,
        |    row_number() OVER (ORDER BY cnt DESC, user_id) AS rd
        |  FROM c),
        |a AS (
        |  SELECT sum(cnt) AS n_rows, count(*) AS n_keys, max(cnt) AS max_cnt,
        |    sum(i * cnt) AS iweighted,
        |    sum(CASE WHEN rd <= 10 THEN cnt ELSE 0 END) AS top10
        |  FROM r)
        |SELECT CAST(n_rows AS BIGINT) AS n_rows, n_keys, max_cnt,
        |  round(max_cnt / n_rows, 9) AS max_share,
        |  round(top10 / n_rows, 9) AS top10_share,
        |  round(iweighted * 2.0 / (n_keys * n_rows) -
        |    (n_keys + 1.0) / n_keys, 9) AS gini
        |FROM a""".stripMargin,
    // the deterministic skew columns hash directly (the sketch tier's
    // top-10 is the same tie-broken cut, bounded-heap instead of a
    // global rank); the randomized Gini gates as its error-bound claim
    "q274_skew_gini_sketch" ->
      """WITH c AS (
        |  SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
        |r AS (
        |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, user_id) AS rd
        |  FROM c),
        |a AS (
        |  SELECT sum(cnt) AS n_rows, count(*) AS n_keys, max(cnt) AS max_cnt,
        |    sum(CASE WHEN rd <= 10 THEN cnt ELSE 0 END) AS top10
        |  FROM r)
        |SELECT CAST(n_rows AS BIGINT) AS n_rows, n_keys, max_cnt,
        |  round(max_cnt / n_rows, 9) AS max_share,
        |  round(top10 / n_rows, 9) AS top10_share,
        |  TRUE AS gini_ok
        |FROM a""".stripMargin,
    // the oracle joins non-equi DIRECTLY — the Spark bucket rewrite must
    // reproduce it row-for-row (the q126 contract)
    "q177_linear_attribution" ->
      """WITH o AS (
        |  SELECT o_custkey AS k, CAST(o_orderdate AS TIMESTAMP) AS ot,
        |    o_orderkey, o_totalprice
        |  FROM orders),
        |touches AS (
        |  SELECT o.o_orderkey, o.o_totalprice, e.event_type AS ch
        |  FROM o JOIN events e ON o.k = e.user_id
        |    AND e.ts >= o.ot - INTERVAL 7 DAY AND e.ts <= o.ot),
        |credited AS (
        |  SELECT ch AS channel,
        |    o_totalprice / (count(*) OVER (PARTITION BY o_orderkey)) AS credit,
        |    o_orderkey
        |  FROM touches),
        |chan AS (
        |  SELECT channel, round(sum(credit), 4) AS revenue,
        |    count(DISTINCT o_orderkey) AS n_orders, count(*) AS n_touches
        |  FROM credited GROUP BY 1),
        |direct AS (
        |  SELECT 'direct' AS channel, round(sum(o_totalprice), 4) AS revenue,
        |    count(*) AS n_orders, CAST(0 AS BIGINT) AS n_touches
        |  FROM o WHERE o_orderkey NOT IN (SELECT o_orderkey FROM touches))
        |SELECT * FROM chan UNION ALL SELECT * FROM direct
        |ORDER BY channel""".stripMargin,
    // same code string (ts, event_id order), same greedy non-overlapping
    // regex semantics in DuckDB's engine
    "q208_event_pattern_cep" ->
      """WITH s AS (
        |  SELECT user_id,
        |    string_agg(CASE event_type WHEN 'click' THEN 'c'
        |      WHEN 'error' THEN 'e' WHEN 'purchase' THEN 'p'
        |      WHEN 'signup' THEN 's' ELSE 'v' END, ''
        |      ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY 1)
        |SELECT user_id, CAST(length(seq) AS BIGINT) AS seq_len,
        |  CAST(len(regexp_extract_all(seq, 'vc+p')) AS BIGINT) AS n_funnel,
        |  CAST(len(regexp_extract_all(seq, 'ee+')) AS BIGINT) AS n_error_bursts,
        |  CAST(coalesce(list_max(list_transform(regexp_extract_all(seq, 'e+'),
        |    x -> length(x))), 0) AS BIGINT) AS max_error_run
        |FROM s ORDER BY user_id""".stripMargin,
    "q189_new_vs_returning" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS dy FROM events),
        |fd AS (SELECT user_id, min(dy) AS first_dy FROM ud GROUP BY 1)
        |SELECT dy,
        |  CAST(sum(CASE WHEN dy = first_dy THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
        |  CAST(sum(CASE WHEN dy <> first_dy THEN 1 ELSE 0 END) AS BIGINT) AS returning_users,
        |  count(*) AS active_users
        |FROM ud JOIN fd USING (user_id)
        |GROUP BY dy ORDER BY dy""".stripMargin,
    // the oracle computes the trailing-28-day distinct via the non-equi
    // membership join directly — the bounded-explode rewrite must match
    // row-for-row (the q126/q134/q177 contract)
    "q190_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS dy FROM events),
        |dau AS (SELECT dy, count(*) AS dau FROM ud GROUP BY 1),
        |mau AS (
        |  SELECT d.dy, count(DISTINCT u.user_id) AS mau
        |  FROM (SELECT DISTINCT dy FROM ud) d
        |  JOIN ud u ON u.dy BETWEEN d.dy - INTERVAL 27 DAY AND d.dy
        |  GROUP BY 1)
        |SELECT dy, dau, mau, round(dau / mau, 9) AS stickiness
        |FROM dau JOIN mau USING (dy) ORDER BY dy""".stripMargin
  )
}
