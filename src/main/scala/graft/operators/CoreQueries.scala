package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core relational operator surface (SURVEY.md §2) expressed over the
  * driver testdata tables. One named query per operator row, each with a
  * DuckDB-equivalent oracle in [[oracleSql]].
  *
  * Scale notes (100 TB design): every query is a declarative DataFrame plan
  * — Catalyst pushes filters/projections to the parquet scan, chooses
  * broadcast-hash joins for the small dimensions (region/nation/supplier,
  * and any aggregate below the broadcast threshold), and runs partial+final
  * hash aggregation around a single shuffle. Nothing collects to the driver
  * except the three scalar collection points the reference itself has
  * (min/max bounds, imputation medians — SURVEY §3.1).
  *
  * Determinism: every query ends in a total order on a unique key set so
  * output is reproducible across engines; integer aggregates are LongType
  * on both sides (DuckDB sums are cast from HUGEINT to BIGINT in the
  * oracle SQL), date parts are IntegerType on both sides.
  */
object CoreQueries {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  // revenue expression used by several queries (TPC-H style)
  private def revenue: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** Multiset equality of two same-schema frames — the gates' relation-
    * identity probe. PROVABLY the same boolean as the old two-way
    * `a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty` (multisets are
    * equal iff per-row multiplicities agree; exceptAll IS multiset
    * difference), computed in ONE pass per side instead of four scans
    * and two set-difference plans (r16 optimization — the probes were a
    * measurable slice of every lakehouse gate's wall time). Join keys
    * compare null-safely (`<=>`), matching exceptAll's null-as-value
    * semantics; doubles compare bitwise-exactly on both paths. */
  private[graft] def multisetEqual(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean = {
    val cols = a.columns.toSeq
    val ca = a.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__ca"))
    val cb = b.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__cb"))
    val cond = cols.map(c => ca(c) <=> cb(c)).reduce(_ && _)
    ca.join(cb, cond, "full_outer")
      .filter(coalesce(col("__ca"), lit(0L)) =!= coalesce(col("__cb"), lit(0L)))
      .isEmpty
  }

  /** A1: hash group-by, multi-agg with exact count-distinct
    * (ref: src/etl_functions.py:261-265).
    *
    * Double sums are emitted as round(sum, 2) — money semantics — because
    * FP summation is non-associative: Spark's partial/final merge order vs
    * DuckDB's sequential scan lands ~1 ulp apart on 10k-row groups, which
    * is invisible at any tolerance but fatal to the driver's byte hash.
    * Same rule applied to every query emitting a sum of doubles. */
  private val q1Agg: Q = (s, d) =>
    lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        countDistinct("l_orderkey").as("order_count"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")

  val queries: Map[String, Q] = Map(
    "q1_agg" -> q1Agg,

    // ---- scans / projections / filters (S1, P1, P3-P5) ----------------

    /** Format round-trip gate (source/sink breadth beyond the
      * reference's CSV+Parquet): lineitem's measure columns are written
      * through the ORC, headered-CSV, and JSON sinks, read back through
      * the matching sources, and each copy must produce byte-identical
      * aggregates to the parquet original — losslessness of the
      * double/long/string round-trip is the claim (Spark serializes
      * doubles shortest-round-trip in text formats, so CSV/JSON read
      * back bit-equal). Sums round on the q1 lattice so split-order
      * summation differences between formats cannot surface.
      *
      * Scale shape: each leg is scan → partial+final aggregate; the
      * writes are the engine's native distributed sinks (the temp dir
      * stands in for a table location). */
    "q204_format_roundtrip" -> ((s, d) => {
      val base = lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
      // the copies must outlive this call: the returned plan re-reads them
      val tmpPath = gateDir("fmt", d).toString
      base.write.mode("overwrite").orc(s"$tmpPath/orc")
      base.write.mode("overwrite").option("header", true).csv(s"$tmpPath/csv")
      base.write.mode("overwrite").json(s"$tmpPath/json")
      val legs: Seq[(String, DataFrame)] = Seq(
        "csv" -> s.read.option("header", true).schema(base.schema).csv(s"$tmpPath/csv"),
        "json" -> s.read.schema(base.schema).json(s"$tmpPath/json"),
        "orc" -> s.read.orc(s"$tmpPath/orc"),
        "parquet" -> base)
      legs.map { case (fmt, df) =>
        df.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            round(sum("l_quantity"), 4).as("sum_qty"),
            round(sum("l_extendedprice"), 2).as("sum_price"))
          .withColumn("format", lit(fmt))
      }.reduce(_.unionByName(_))
        .select("format", "l_returnflag", "n_rows", "sum_qty", "sum_price")
        .orderBy("format", "l_returnflag")
    }),

    /** Schema evolution across staged ingest batches (the lakehouse
      * ingest reality q204's fixed-schema round-trip doesn't exercise:
      * upstream ADDS a column mid-stream and yesterday's files don't
      * have it): batch v1 lands WITHOUT `o_orderstatus`, batch v2 WITH
      * it, and one `mergeSchema` parquet read reconciles both — the
      * union schema with NULLs where the old files are silent. The
      * aggregate classes every row by the coalesced status, so the
      * `<pre-evolution>` bucket is EXACTLY the v1 batch — the gate
      * proves merged-read semantics, not just that the read survived.
      *
      * Scale shape: schema merging is a FOOTER operation — the reader
      * reconciles per-file schemas from metadata, never rewrites data
      * files (the alternative, backfilling old partitions, is a 100 TB
      * rewrite); the aggregate is one partial+final pass. At production
      * scale the merged schema comes from the table catalog instead of
      * per-file footer union (spark.sql.parquet.mergeSchema has scan
      * fan-in cost), which is the SnapshotTable direction. */
    "q262_schema_evolution" -> ((s, d) => {
      val cut = lit("1996-01-01").cast("timestamp")
      val tmpPath = gateDir("evo", d).toString
      orders(s, d).filter(col("o_orderdate") < cut)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$tmpPath/v1")
      orders(s, d).filter(col("o_orderdate") >= cut)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite").parquet(s"$tmpPath/v2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$tmpPath/v1", s"$tmpPath/v2")
        .groupBy(coalesce(col("o_orderstatus"), lit("<pre-evolution>"))
          .as("status_class"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("total_price"))
        .orderBy("status_class")
    }),

    /** Per-row corrupt-record quarantine on semi-structured ingest (the
      * OTHER ingest failure mode — S2/S3 cover a missing/unreadable
      * TABLE, but at crawl scale single bad LINES are routine and must
      * be quarantined, not crash the job or vanish silently): a staged
      * JSON feed carries deterministically mangled lines (orderkey
      * % 19 = 0 truncated mid-object), the PERMISSIVE read routes every
      * unparseable line's RAW TEXT into `_corrupt_record` with data
      * columns null, and the classed aggregate proves the quarantine
      * bucket is exactly the mangled set — with its raw bytes retained
      * for replay (count of non-null `_corrupt_record` doubles as the
      * dead-letter ledger).
      *
      * Scale shape: one text-source scan, parse + classify codegen'd
      * per partition, one partial+final aggregate; no shuffle before
      * the group-by. FAILFAST/DROPMALFORMED are the same reader one
      * option away — PERMISSIVE + ledger is the production default
      * because silent row loss is unauditable at 100 TB. */
    "q263_corrupt_records" -> ((s, d) => {
      val tmpPath = gateDir("corrupt", d).toString
      orders(s, d)
        .select(when(col("o_orderkey") % 19 === 0,
            concat(lit("{\"k\":"), col("o_orderkey"), lit(",\"p\":")))
          .otherwise(to_json(struct(
            col("o_orderkey").as("k"), col("o_totalprice").as("p"),
            col("o_orderstatus").as("st")))).as("value"))
        .write.mode("overwrite").text(s"$tmpPath/feed")
      s.read
        .schema("k LONG, p DOUBLE, st STRING, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(s"$tmpPath/feed")
        .groupBy(when(col("_corrupt_record").isNotNull, lit("<quarantined>"))
          .otherwise(col("st")).as("status_class"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
            .as("n_quarantined"),
          round(sum("p"), 2).as("total_price"))
        .orderBy("status_class")
    }),

    /** Null-safe join semantics (`<=>` vs `=` on a NULLABLE key — the
      * "unknown key" column every dimension model has, here status 'O'
      * mapped to NULL on both sides): the ordinary equi-join DROPS the
      * null-key rows (SQL three-valued logic: NULL = NULL is not true,
      * and Catalyst pushes IsNotNull below the join accordingly — the
      * null bucket never even reaches the exchange), while the
      * null-safe join hashes NULL as an ordinary value and keeps the
      * match. Both variants emitted side by side, so the gate pins the
      * exact row difference.
      *
      * Scale shape: two catalog-sized aggregates then key-grain joins.
      * The operational warning the scaladoc exists for: at fact scale a
      * null-HEAVY key under `<=>` concentrates the whole null bucket on
      * one shuffle partition — q216's salting applies verbatim (salt
      * the null bucket, join, unsalt) since NULL behaves as just
      * another hot key there. */
    "q266_null_safe_join" -> ((s, d) => {
      val key = nullif(col("o_orderstatus"), lit("O")).as("status_key")
      val left = orders(s, d).groupBy(key)
        .agg(count(lit(1)).as("n_left"))
      val right = orders(s, d).filter(col("o_orderkey") % 2 === 0)
        .groupBy(key).agg(count(lit(1)).as("n_right"))
      val equi = left.as("l").join(right.as("r"),
          col("l.status_key") === col("r.status_key"))
        .select(lit("equi").as("join_kind"), col("l.status_key").as("status_key"),
          col("n_left"), col("n_right"))
      val nullSafe = left.as("l").join(right.as("r"),
          col("l.status_key") <=> col("r.status_key"))
        .select(lit("null_safe").as("join_kind"), col("l.status_key").as("status_key"),
          col("n_left"), col("n_right"))
      equi.unionByName(nullSafe)
        .orderBy(col("join_kind"), col("status_key").asc_nulls_first)
    }),

    /** Generator semantics: `explode` vs `explode_outer` on arrays that
      * can be EMPTY (q266's three-valued-logic twin at the generator
      * layer — the silent row loss every flatten pipeline hits: a doc
      * whose filter leaves no tokens simply VANISHES under the inner
      * generator, which is unauditable in a 100 TB flatten): each doc's
      * token array is filtered to tokens containing 'qu' (so roughly a
      * quarter of the arrays come out empty); the inner and
      * outer variants are aggregated side by side — row counts, DOC
      * counts (the retention difference is the claim), and the outer
      * variant's null-token rows equal exactly the empty-array docs.
      *
      * Scale shape: generate runs inside the scan's codegen stage (no
      * shuffle until the aggregate); the outer variant costs one extra
      * null row per empty doc, not a join. */
    "q267_explode_outer" -> ((s, d) => {
      val arr = expr("filter(split(trim(text), '\\\\s+'), t -> t LIKE '%qu%')")
      val base = documents(s, d).select(col("doc_id"), arr.as("zs"))
      def agg(df: DataFrame, kind: String) =
        df.agg(lit(kind).as("variant"),
          count(lit(1)).as("n_rows"),
          countDistinct("doc_id").as("n_docs"),
          sum(when(col("tok").isNull, 1L).otherwise(0L)).as("n_null_toks"))
      agg(base.select(col("doc_id"), explode(col("zs")).as("tok")), "inner")
        .unionByName(
          agg(base.select(col("doc_id"), explode_outer(col("zs")).as("tok")),
            "outer"))
        .orderBy("variant")
    }),

    /** Incrementally maintained materialized view, query-gated end to
      * end ([[graft.sources.MaterializedView]] over a SnapshotTable
      * source — q125/q182 gate the maintenance ALGEBRA; this gates the
      * LIBRARY: stored state, version bookkeeping, crash-atomic
      * commits): the source table is created with pre-1996 orders and
      * appended twice (1996–97, then the rest); the view — per
      * (status, priority) count / sum / min / max — is created at v1
      * and incrementally refreshed after each append, each refresh
      * aggregating ONLY the appended files. The returned rows are the
      * twice-refreshed state; the oracle recomputes the same aggregate
      * from the WHOLE base table, so the hash gate asserts incremental
      * ≡ full recompute. The emitted `mv_source_version` (3) proves the
      * bookkeeping advanced through both refreshes.
      *
      * Scale shape: each refresh is one aggregate over the delta scan
      * plus one key-grain full-outer merge join — source history is
      * never rescanned; the MV state is key-grain small, so its full
      * snapshot rewrite per refresh is catalog-sized work. */
    "q264_mv_refresh" -> ((s, d) => {
      import graft.sources.{MaterializedView, SnapshotTable}
      import graft.sources.MaterializedView.AggSpec
      val srcDir = gateDir("mvsrc", d)
      val mvDir = gateDir("mv", d)
      val keys = Seq("o_orderstatus", "o_orderpriority")
      val aggs = Seq(
        AggSpec("count", "", "n_rows"),
        AggSpec("sum", "o_totalprice", "total_price_raw"),
        AggSpec("min", "o_orderdate", "first_order"),
        AggSpec("max", "o_orderdate", "last_order"))
      val base = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_totalprice"), col("o_orderdate"))
      val c1 = lit("1996-01-01").cast("timestamp")
      val c2 = lit("1997-01-01").cast("timestamp")
      SnapshotTable.write(s, srcDir.toString,
        base.filter(col("o_orderdate") < c1), "o_orderstatus")
      MaterializedView.create(s, mvDir.toString, srcDir.toString,
        keys, aggs, "o_orderstatus")
      SnapshotTable.append(s, srcDir.toString,
        base.filter(col("o_orderdate") >= c1 && col("o_orderdate") < c2),
        "o_orderstatus")
      MaterializedView.refresh(s, mvDir.toString, srcDir.toString,
        keys, aggs, "o_orderstatus")
      SnapshotTable.append(s, srcDir.toString,
        base.filter(col("o_orderdate") >= c2), "o_orderstatus")
      MaterializedView.refresh(s, mvDir.toString, srcDir.toString,
        keys, aggs, "o_orderstatus")
      MaterializedView.read(s, mvDir.toString)
        .select(col("o_orderstatus"), col("o_orderpriority"),
          col("n_rows"), round(col("total_price_raw"), 2).as("total_price"),
          col("first_order"), col("last_order"),
          lit(MaterializedView.sourceVersion(s, mvDir.toString))
            .as("mv_source_version"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // ---- TPC-H classic join shapes (the recognizable multi-way-join
    // benchmarks, adapted to this schema's columns) --------------------

    /** TPC-H Q3 shape (shipping priority): segment-filtered customers'
      * orders placed before the cutoff with items shipped after it,
      * top-10 orders by revenue. The join tree is fact ⋈ shrinking
      * orders ⋈ key-only customers — no broadcast hints; AQE broadcasts
      * the filtered sides while they fit and falls back to shuffled
      * joins at scale (the q5 lesson). Revenue rounds on the 4-dec
      * lattice BEFORE the top-10 order, o_orderkey tie-break. */
    "q205_tpch_q3" -> ((s, d) => {
      val cut = lit("1998-01-01").cast("timestamp")
      val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = orders(s, d).filter(col("o_orderdate") < cut)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val l = lineitem(s, d).filter(col("l_shipdate") > cut)
        .select(col("l_orderkey"), revenue.as("rev"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(round(sum("rev"), 4).as("revenue"))
        .orderBy(desc("revenue"), col("o_orderkey"))
        .limit(10)
    }),

    /** TPC-H Q5 shape (local supplier volume): revenue of lineitems
      * where the supplier and the ordering customer share a nation in
      * ASIA, one order-date year, rolled up per nation. Six-way join;
      * the nation/region dims broadcast (KB-sized at any scale), the
      * customer/supplier sides stay hint-free. */
    "q206_tpch_q5" -> ((s, d) => {
      val o = orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val asia = nation(s, d)
        .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"), revenue.as("rev"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(asia), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum("rev"), 4).as("revenue"))
        .orderBy(desc("revenue"), col("n_name"))
    }),

    /** TPC-H Q18 shape (large-volume customers): orders whose total
      * quantity exceeds 250, joined back to customer. The HAVING filter
      * runs on the pre-aggregated order grain BEFORE any join — the
      * aggregate-then-join ordering that keeps the join input at
      * |qualifying orders|, not |lineitem|. Quantities are integral
      * doubles, so the sums and the threshold cut are exact. */
    "q207_tpch_q18" -> ((s, d) => {
      val big = lineitem(s, d).groupBy("l_orderkey")
        .agg(sum("l_quantity").as("sum_qty"))
        .filter(col("sum_qty") > 250.0)
      big.join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d).select("c_custkey", "c_name"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(20)
    }),

    /** TPC-H Q6 shape (forecasting revenue change): the pure-scan
      * benchmark — one table, three pushable predicates, one sum. Its
      * entire point at scale is that EVERY filter reaches the parquet
      * scan (`PushedFilters`) and the aggregate is partial+final with
      * nothing else in the plan. */
    "q241_tpch_q6" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.02, 0.04) && col("l_quantity") < 24.0)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4)
          .as("revenue"),
          count(lit(1)).as("n_rows"))),

    /** TPC-H Q14 shape (promotion effect): share of one month's revenue
      * from PROMO-typed parts. Both sums land on the 4-dec lattice
      * BEFORE the share division (one IEEE op over two exact inputs),
      * so the ratio is engine-stable. The part dim joins hint-free —
      * AQE broadcasts while it fits (the q205 rule). */
    "q242_tpch_q14" -> ((s, d) => {
      val l = lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("l_partkey"), revenue.as("rev"))
      l.join(part(s, d).select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
        .agg(
          round(sum(when(col("p_type") === "PROMO", col("rev")).otherwise(0.0)), 4)
            .as("promo_revenue"),
          round(sum("rev"), 4).as("total_revenue"))
        .select(col("promo_revenue"), col("total_revenue"),
          (col("promo_revenue") * 100.0 / col("total_revenue"))
            .as("promo_share_pct"))
    }),

    /** TPC-H Q4 shape (order priority checking): orders in one quarter
      * that had at least one late-shipped item (ship after order date —
      * this schema has no commit/receipt dates), counted per priority.
      * The EXISTS is a LEFT SEMI join with a correlated non-equi term:
      * Spark dedups the probe side inside the hash join, so the plan
      * never materializes the one-to-many blowup — at 100 TB the build
      * side is the quarter's orders, shuffled once on the key. */
    "q243_tpch_q4" -> ((s, d) => {
      val o = orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
      o.join(lineitem(s, d).select("l_orderkey", "l_shipdate"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    /** TPC-H Q13 shape (customer order-count distribution): LEFT join
      * customer → urgent orders, count per customer INCLUDING the
      * zero-order customers the left join preserves, then histogram the
      * counts. Two aggregates, both partial+final; the second runs on
      * |customers| rows grouped to ≤ max-order-count keys. */
    "q244_tpch_q13" -> ((s, d) => {
      val o = orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_custkey")
      customer(s, d).select("c_custkey")
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }),

    /** TPC-H Q17 shape (small-quantity-order revenue): per-part average
      * quantity as a self-aggregate joined back to the fact, keeping
      * rows below 20% of their part's average, one brand only. The avg
      * is exact (integral-double sums / exact counts → one IEEE divide)
      * so the 0.2·avg threshold is engine-stable; the final sum lands
      * on the 4-dec lattice before the /7 yearly normalization. At
      * scale both sides shuffle once on l_partkey and the brand filter
      * prunes the probe side at the scan. */
    "q245_tpch_q17" -> ((s, d) => {
      val l = lineitem(s, d)
      val avgQ = l.groupBy(col("l_partkey").as("ap_partkey"))
        .agg(avg("l_quantity").as("avg_qty"))
      l.join(part(s, d).filter(col("p_brand") === "Brand#23")
            .select("p_partkey"),
          col("l_partkey") === col("p_partkey"))
        .join(avgQ, col("l_partkey") === col("ap_partkey"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(round(sum("l_extendedprice"), 4).as("sum_price"),
          count(lit(1)).as("n_rows"))
        .select((round(col("sum_price") / 7.0, 2)).as("avg_yearly"),
          col("n_rows"))
    }),

    /** TPC-H Q19 shape (discounted revenue, disjunctive predicates):
      * three brand/size/quantity OR-arms evaluated in one pass after
      * the part join. The per-table conjuncts Catalyst can factor out
      * (p_size ≥ 1, quantity bounds) push to the scans; the residual
      * disjunction runs post-join — the classic OR-pushdown benchmark. */
    "q246_tpch_q19" -> ((s, d) => {
      val j = lineitem(s, d)
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        .join(part(s, d).select("p_partkey", "p_brand", "p_size"),
          col("l_partkey") === col("p_partkey"))
      j.filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1.0, 11.0)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10.0, 20.0)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20.0, 30.0)))
        .agg(round(sum(revenue), 4).as("revenue"),
          count(lit(1)).as("n_rows"))
    }),

    /** TPC-H Q21 shape (suppliers who kept orders waiting): on finished
      * multi-supplier orders, suppliers whose item shipped >90 days
      * after the order date while EVERY other supplier on the order
      * shipped on time — one LEFT SEMI (some other supplier exists) and
      * one LEFT ANTI (no other LATE supplier exists) over the same
      * order-grain build sides. Both subquery sides are distinct
      * (order, supplier) pairs, so the joins stay at order grain;
      * everything shuffles on l_orderkey once. */
    "q247_tpch_q21" -> ((s, d) => {
      val o = orders(s, d).filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val l = lineitem(s, d).select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, col("l_orderkey") === col("o_orderkey"))
      val late = l.filter(
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      val anySupp = l.select(col("l_orderkey").as("k2"),
        col("l_suppkey").as("s2")).distinct()
      val lateSupp = late.select(col("l_orderkey").as("k3"),
        col("l_suppkey").as("s3")).distinct()
      late
        .join(anySupp, col("k2") === col("l_orderkey") &&
          col("s2") =!= col("l_suppkey"), "left_semi")
        .join(lateSupp, col("k3") === col("l_orderkey") &&
          col("s3") =!= col("l_suppkey"), "left_anti")
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("numwait"))
        .join(supplier(s, d).select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(desc("numwait"), col("s_suppkey"))
        .limit(20)
    }),

    /** TPC-H Q22 shape (global sales opportunity): customers richer
      * than the average positive balance with no recent orders, rolled
      * up per nation. The threshold lives on the integer-cents lattice
      * (BIGINT sum ÷ count, truncating — both engines floor the
      * positive ratio identically), attached by the lazy-scalar cross
      * join; the "no recent orders" is a LEFT ANTI against the
      * date-filtered orders, shuffled on custkey. */
    "q248_tpch_q22" -> ((s, d) => {
      val c = customer(s, d).withColumn("cents",
        round(col("c_acctbal") * 100.0, 0).cast("long"))
      val thresh = c.filter(col("cents") > 0L)
        .agg(floor(sum("cents") / count(lit(1))).as("thresh_cents"))
      val recent = orders(s, d)
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
      c.crossJoin(broadcast(thresh))
        .filter(col("cents") > col("thresh_cents"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(nation(s, d).select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("numcust"),
          round(sum("c_acctbal"), 2).as("totacctbal"))
        .orderBy("n_name")
    }),

    /** TPC-H Q15 shape (top supplier): quarter revenue per supplier,
      * then the suppliers achieving the maximum — the scalar max joins
      * back via the lazy-scalar broadcast, comparing on the 4-dec
      * lattice both sides rounded to, so "equals max" is exact. */
    "q249_tpch_q15" -> ((s, d) => {
      val rev = lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(round(sum(revenue), 4).as("total_revenue"))
      val top = rev.agg(max("total_revenue").as("max_revenue"))
      rev.crossJoin(broadcast(top))
        .filter(col("total_revenue") === col("max_revenue"))
        .join(supplier(s, d).select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    }),

    /** TPC-H Q7 shape (volume shipping between two nations): revenue
      * flowing supplier-nation → customer-nation for one ordered pair
      * of nations in either direction, split by ship year. The two
      * nation lookups broadcast (KB at any scale); the fact joins
      * orders and the two key-only dims on their natural keys. */
    "q250_tpch_q7" -> ((s, d) => {
      val pair = Seq("NATION_3", "NATION_7")
      val n1 = nation(s, d).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val n2 = nation(s, d).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
          revenue.as("rev"))
        .join(orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
        .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(round(sum("rev"), 4).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    /** TPC-H Q8 shape (national market share): within one market region
      * (the customer's), the share of yearly revenue supplied by one
      * nation. Both the numerator and denominator sums land on the
      * 4-dec lattice before the single share division. */
    "q251_tpch_q8" -> ((s, d) => {
      val amer = nation(s, d)
        .join(broadcast(region(s, d).filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))
      lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"), revenue.as("rev"))
        .join(orders(s, d)
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
            .select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(amer), col("c_nationkey") === col("cn_key"), "left_semi")
        .join(supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          round(sum(when(col("s_nationkey") === 7, col("rev"))
            .otherwise(0.0)), 4).as("nation_revenue"),
          round(sum("rev"), 4).as("total_revenue"))
        .select(col("o_year"), col("nation_revenue"), col("total_revenue"),
          (col("nation_revenue") / col("total_revenue")).as("mkt_share"))
        .orderBy("o_year")
    }),

    /** TPC-H Q2 shape (minimum-cost supplier, argmin join): for each
      * filtered part, the supplier with the lowest account balance
      * among suppliers that actually shipped it (this schema has no
      * partsupp cost, so acctbal is the cost stand-in). The correlated
      * min-subquery is the partitioned-window argmin: distinct
      * (part, supplier) pairs ← one shuffle on partkey, row_number over
      * (acctbal, suppkey) — fully distributed, no driver state. */
    "q252_tpch_q2" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = lineitem(s, d).select("l_partkey", "l_suppkey").distinct()
        .join(part(s, d)
            .filter(col("p_size") === 15 && col("p_type") === "STANDARD")
            .select("p_partkey", "p_brand"),
          col("l_partkey") === col("p_partkey"))
        .join(supplier(s, d).select("s_suppkey", "s_name", "s_acctbal"),
          col("l_suppkey") === col("s_suppkey"))
      val w = Window.partitionBy(col("p_partkey"))
        .orderBy(col("s_acctbal"), col("s_suppkey"))
      pairs.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("p_partkey", "p_brand", "s_suppkey", "s_name", "s_acctbal")
        .orderBy("p_partkey")
        .limit(100)
    }),

    /** TPC-H Q9 shape (product-type profit): profit per supplier nation
      * per order year over a part-name pattern, with the schema's cost
      * stand-in (half retail price × quantity). LIKE pushes to the part
      * scan; the 4-way join shuffles the fact once per key. */
    "q253_tpch_q9" -> ((s, d) => {
      val p = part(s, d).filter(col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), revenue.as("rev"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, d).select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .join(orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(round(sum(col("rev") -
          lit(0.5) * col("p_retailprice") * col("l_quantity")), 4)
          .as("sum_profit"))
        .orderBy(col("nation"), desc("o_year"))
    }),

    /** TPC-H Q11 shape (important stock identification): per-part value
      * held by one nation's suppliers, keeping parts above a fraction of
      * the nation's total — the group-aggregate + scalar-threshold
      * benchmark. This schema has no partsupp, so value = shipped
      * extendedprice·quantity; everything lives on the exact
      * integer-cents lattice (cents BIGINT × integral-quantity BIGINT),
      * so the `> total/2000` cut is an exact integer compare in both
      * engines. The scalar total attaches via the lazy-scalar broadcast
      * cross join — at 100 TB the per-part aggregate shuffles once on
      * partkey and the 1-row total broadcasts. */
    "q255_tpch_q11" -> ((s, d) => {
      val v = lineitem(s, d)
        .join(supplier(s, d).filter(col("s_nationkey") === 3)
            .select("s_suppkey"),
          col("l_suppkey") === col("s_suppkey"), "left_semi")
        .withColumn("val_cents",
          round(col("l_extendedprice") * 100.0, 0).cast("long") *
            col("l_quantity").cast("long"))
      val perPart = v.groupBy("l_partkey")
        .agg(sum("val_cents").as("part_cents"))
      val total = perPart.agg(floor(sum("part_cents") / 2000L)
        .cast("long").as("thresh_cents"))
      perPart.crossJoin(broadcast(total))
        .filter(col("part_cents") > col("thresh_cents"))
        .select(col("l_partkey"),
          (col("part_cents") / 100.0).as("part_value"))
        .orderBy(desc("part_value"), col("l_partkey"))
    }),

    /** TPC-H Q12 shape (shipping-mode line counts): lines shipped in one
      * year banded by delivery speed (this schema has no shipmode or
      * receipt date, so the band is the ship-lag class), counting
      * high-priority vs other orders per band via conditional sums —
      * exact integer counts, one fact-orders join shuffled on orderkey,
      * two-row result. */
    "q256_tpch_q12" -> ((s, d) => {
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(orders(s, d).select("o_orderkey", "o_orderdate", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("ship_band",
          when(datediff(col("l_shipdate"), col("o_orderdate")) < 30, "FAST")
            .otherwise("SLOW"))
        .groupBy("ship_band")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy("ship_band")
    }),

    /** TPC-H Q16 shape (parts/supplier relationship): distinct supplier
      * counts per (brand, type, size) over the parts NOT matching an
      * excluded brand/type, with complained suppliers removed — here the
      * exclusion list is the negative-balance suppliers, applied as a
      * LEFT ANTI (the NOT IN shape). Supplier pairs come from the fact
      * table distinct, shuffled once on partkey; counts are exact. */
    "q257_tpch_q16" -> ((s, d) => {
      val pairs = lineitem(s, d).select("l_partkey", "l_suppkey").distinct()
        .join(supplier(s, d).filter(col("s_acctbal") < 0.0)
            .select("s_suppkey"),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
      pairs
        .join(part(s, d)
            .filter(col("p_brand") =!= "Brand#45" &&
              !col("p_type").like("small%"))
            .select("p_partkey", "p_brand", "p_type", "p_size"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"),
          col("p_size"))
        .limit(100)
    }),

    /** TPC-H Q20 shape (potential part promotion): suppliers in one
      * nation band whose next-year shipments of a LIKE-matched part exceeded
      * half that part's prior-year total — the correlated-agg +
      * semi-join-chain benchmark (no partsupp availqty, so "excess
      * availability" is the ramp-up test 2·supp_qty > part_qty, an
      * exact integer compare on integral quantities). The per-part and
      * per-(part,supplier) aggregates each shuffle once; the qualifying
      * supplier set reaches the supplier dim as a LEFT SEMI. */
    "q258_tpch_q20" -> ((s, d) => {
      val l = lineitem(s, d)
        .join(part(s, d).filter(col("p_name").like("red%"))
            .select("p_partkey"),
          col("l_partkey") === col("p_partkey"), "left_semi")
      val base = l
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy(col("l_partkey").as("bp_key"))
        .agg(sum(col("l_quantity").cast("long")).as("qty_1996"))
      val ramp = l
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity").cast("long")).as("qty_1997"))
        .join(base, col("l_partkey") === col("bp_key"))
        .filter(lit(2L) * col("qty_1997") > col("qty_1996"))
      supplier(s, d).filter(col("s_nationkey") < 13)
        .join(ramp.select("l_suppkey"),
          col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    }),

    /** Lakehouse time travel, query-gated end to end: the
      * [[graft.sources.SnapshotTable]] manifest-commit table is built
      * fresh (write → snapshot-isolated deleteWhere → append) and all
      * THREE versions are read back and aggregated — the oracle
      * recomputes each version's expected state from the base table, so
      * the hash gate covers stage→atomic-rename-commit→manifest-resolved
      * read for every mutation kind. Version 1 must still be fully
      * readable after the delete (old files never rewritten), which IS
      * the snapshot-isolation claim.
      *
      * Scale shape: the mutations are the table's own partition-scoped
      * staging (delete re-stages only partitions containing matches);
      * the reads are manifest-pruned parquet scans + one aggregate. */
    "q238_time_travel" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("tt", d)
      val base = lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      SnapshotTable.write(s, dir.toString, base, "l_returnflag")
      SnapshotTable.deleteWhere(s, dir.toString, "l_returnflag",
        col("l_returnflag") === "R")
      SnapshotTable.append(s, dir.toString,
        base.filter(col("l_quantity") > 45.0), "l_returnflag")
      (1L to 3L).map { v =>
        SnapshotTable.read(s, dir.toString, Some(v))
          .agg(count(lit(1)).as("n_rows"),
            round(sum("l_quantity"), 4).as("sum_qty"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_qty"))
      }.reduce(_.unionByName(_)).orderBy("version")
    }),

    /** Lakehouse MERGE (upsert), query-gated like q238: a fresh
      * SnapshotTable takes one merge batch that UPDATES every key
      * divisible by 10 (bumping it into a different partition — the
      * partition-move case merge must rewrite correctly) and INSERTS a
      * shifted copy of every key ≡ 5 (mod 10); both versions read back
      * and the oracle recomputes each state from the base table. The
      * hash gate covers match-probe → partition-scoped survivor
      * re-stage → atomic commit.
      *
      * Scale shape: merge's cost model is q238's — one key-probe join
      * plus re-staging only the partitions containing matched keys. */
    "q239_merge_upsert" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("mg", d)
      val base = orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
      SnapshotTable.write(s, dir.toString, base, "prio")
      val upd = base.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), lit("1-URGENT").as("prio"),
          (col("price") + 1000.0).as("price"))
      val ins = base.filter(col("o_orderkey") % 10 === 5)
        .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
          col("prio"), (col("price") * 0.5).as("price"))
      SnapshotTable.merge(s, dir.toString, "prio", "o_orderkey",
        upd.unionByName(ins))
      // Gate on an exact integer-thousandths lattice (the q248 integer-
      // cents pattern): the insert arm's ×0.5 of 2-dp prices makes exact
      // quarter-cent values whose double sum sits ON the round(…,2)
      // half-cent knife edge, so round(sum(double),2) is IEEE-summation-
      // order-dependent (Spark partial/final vs DuckDB single-pass).
      // round(price*1000) is exact per row (3 dp covers ×0.5 of 2 dp) and
      // a BIGINT sum is order-independent.
      (1L to 2L).map { v =>
        SnapshotTable.read(s, dir.toString, Some(v))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct("o_orderkey").as("n_keys"),
            sum(round(col("price") * 1000).cast("long")).as("sum_mills"))
          .select(lit(v).as("version"), col("n_rows"), col("n_keys"),
            col("sum_mills"))
      }.reduce(_.unionByName(_)).orderBy("version")
    }),

    /** Lakehouse maintenance composed end to end (VERDICT r11 #2 — the
      * q238/q265 composition pattern over [[graft.sources.SnapshotTable]]
      * compact/vacuum, whose machinery was spec-green but never
      * driver-gated): write → three small-file appends → OPTIMIZE
      * compact (one file per partition, new snapshot, old files
      * untouched) → vacuum retain=1 (pre-compact files and manifests
      * dropped) → read back. The emitted row set is the post-vacuum
      * table aggregated per partition key, which the oracle recomputes
      * from the raw table (base ∪ the three append slices), so the hash
      * gate proves compaction changed file BOUNDARIES and nothing else,
      * across the whole maintenance cycle. Claim columns carry the
      * file-count contract (exactly one file per partition after
      * compact — a hard integer, not a boolean), row preservation
      * (pre-compact aggregate == post-compact aggregate, exact on
      * integer-valued quantities), that vacuum deleted something, and
      * that a vacuumed snapshot read now FAILS CLEANLY instead of
      * returning partial data.
      *
      * Scale shape: compact re-stages only crowded partitions and
      * vacuum is a manifest-diff file sweep — both manifest-metadata
      * jobs, never a full-table rewrite beyond the crowded set; the
      * pre/post aggregates are one manifest-pruned scan each. */
    "q277_compact_vacuum" -> ((s, d) => {
      import graft.sources.SnapshotTable
      import scala.util.Try
      val dir = gateDir("cv", d)
      val base = lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      SnapshotTable.write(s, dir.toString, base, "l_returnflag")
      // three small-file appends, each touching every partition
      SnapshotTable.append(s, dir.toString,
        base.filter(col("l_quantity") > 45.0), "l_returnflag")
      SnapshotTable.append(s, dir.toString,
        base.filter(col("l_quantity") < 5.0), "l_returnflag")
      SnapshotTable.append(s, dir.toString,
        base.filter(col("l_orderkey") % 7 === 0), "l_returnflag")
      val (preV, preFiles) = SnapshotTable.latest(s, dir.toString).get
      def aggOf(v: Long): Map[String, (Long, Long)] =
        SnapshotTable.read(s, dir.toString, Some(v))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("long")).as("q"))
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
      val preAgg = aggOf(preV)
      val (postV, compacted) = SnapshotTable.compact(s, dir.toString,
        "l_returnflag")
      val (_, postFiles) = SnapshotTable.latest(s, dir.toString).get
      val preserved = aggOf(postV) == preAgg
      val deleted = SnapshotTable.vacuum(s, dir.toString, retain = 1)
      val oldReadFails =
        Try(SnapshotTable.read(s, dir.toString, Some(preV)).count()).isFailure
      SnapshotTable.read(s, dir.toString) // latest — post-vacuum readable
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 4).as("sum_qty"))
        .select(col("l_returnflag"), col("n_rows"), col("sum_qty"),
          lit(postFiles.size.toLong).as("n_files_after"),
          lit(postV).as("compact_version"),
          lit(compacted.size.toLong).as("n_parts_compacted"),
          lit(preserved && preFiles.size > postFiles.size)
            .as("compact_preserved"),
          lit(deleted > 0).as("vacuum_deleted"),
          lit(oldReadFails).as("old_read_fails"))
        .orderBy("l_returnflag")
    }),

    /** Deletion-vector row deletes, driver-gated end to end
      * ([[graft.sources.SnapshotTable.deleteWhereDV]] — the
      * position-delete design every current lakehouse format ships):
      * two stacked DV deletes commit WITHOUT touching a single data
      * file (claim: the data-file list is bit-identical across both
      * deletes, with DV sidecars added), the pre-delete snapshot stays
      * fully readable (time-travel claim), and OPTIMIZE folds the
      * accumulated addresses into rewritten files, returning the table
      * to the DV-free fast read path (claims: zero DV lines after
      * compaction, aggregates identical across the fold). The final
      * read-back hashes against the oracle's direct NOT-predicate
      * recompute over the raw table — a DV must behave exactly like
      * the delete it encodes, only cheaper.
      *
      * Scale shape: THE small-delete contract at 100 TB —
      * [[graft.sources.SnapshotTable.deleteWhere]] re-stages every
      * partition a match lives in (one matching row per partition =
      * full table rewrite); a DV pays one address scan plus
      * delete-sized sidecar bytes, and readers pay one delete-sized
      * anti-join (AQE-broadcast in the common case) until compaction
      * folds it away. */
    "q287_delete_vectors" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("dv", d)
      val base = lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      // two halves → every partition holds ≥2 files, so the final
      // OPTIMIZE rewrites every partition and must fold ALL DVs away
      SnapshotTable.write(s, dir.toString,
        base.filter(col("l_quantity") <= 25.0), "l_returnflag")
      SnapshotTable.append(s, dir.toString,
        base.filter(col("l_quantity") > 25.0), "l_returnflag")
      val (_, f0, _) = SnapshotTable.latestFull(s, dir.toString).get
      val del1 = col("l_quantity") < 10.0 || col("l_orderkey") % 13 === 0
      val (_, n1) = SnapshotTable.deleteWhereDV(s, dir.toString, del1)
      val (_, f1, dv1) = SnapshotTable.latestFull(s, dir.toString).get
      val (_, n2) = SnapshotTable.deleteWhereDV(s, dir.toString,
        col("l_quantity") > 45.0)
      val (_, f2, dv2) = SnapshotTable.latestFull(s, dir.toString).get
      val noRewrite = f0 == f1 && f1 == f2 &&
        dv1.nonEmpty && dv2.size > dv1.size
      val baseCount = base.count()
      val v2Intact = // pre-delete snapshot unaffected by later DVs
        SnapshotTable.read(s, dir.toString, Some(2L)).count() == baseCount
      def aggOf(v: Long): Map[String, (Long, Long)] =
        SnapshotTable.read(s, dir.toString, Some(v))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("long")).as("q"))
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
      val preFold = aggOf(4L)
      val (foldV, _) = SnapshotTable.compact(s, dir.toString, "l_returnflag")
      val (_, _, dvAfter) = SnapshotTable.latestFull(s, dir.toString).get
      val folded = dvAfter.isEmpty && aggOf(foldV) == preFold
      SnapshotTable.read(s, dir.toString)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 4).as("sum_qty"))
        .select(col("l_returnflag"), col("n_rows"), col("sum_qty"),
          lit(n1 + n2).as("deleted_rows"),
          lit(foldV).as("final_version"),
          lit(noRewrite).as("no_file_rewrite"),
          lit(v2Intact).as("old_snapshot_intact"),
          lit(folded).as("dv_folded"))
        .orderBy("l_returnflag")
    }),

    /** Right-to-erasure composed end to end — the compliance story the
      * deletion-vector design (q287) makes SUBTLE and this gate makes
      * HONEST: a DV delete is logical-only (the gate proves the
      * victim's bytes are still scannable RAW on disk after the DV
      * commits — exactly the caveat every DV-based lakehouse carries),
      * and physical erasure is the documented two-step: OPTIMIZE folds
      * the DV into rewritten files, vacuum drops every pre-fold file
      * and the DV sidecars. The physical claim scans the table
      * DIRECTORY raw (not the manifest — a manifest can't vouch for
      * bytes it no longer references): zero victim rows in any parquet
      * under the root, and no `_dv/` sidecar left. The survivor
      * aggregate hashes against the oracle's NOT-victim recompute.
      *
      * Scale shape: erasure cost = one address scan + delete-sized
      * sidecar now, amortized into the NEXT routine compaction+vacuum
      * cycle — never a dedicated full-table rewrite. */
    "q291_erasure_proof" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("er", d)
      val base = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_custkey"))
      val victim = base.agg(min("o_custkey")).first().getLong(0)
      // two halves → every partition ≥2 files → OPTIMIZE rewrites all
      SnapshotTable.write(s, dir.toString,
        base.filter(col("o_orderkey") % 2 === 0), "o_orderstatus")
      SnapshotTable.append(s, dir.toString,
        base.filter(col("o_orderkey") % 2 =!= 0), "o_orderstatus")
      val (_, n) = SnapshotTable.deleteWhereDV(s, dir.toString,
        col("o_custkey") === victim)
      // raw byte-level scan of every parquet under the table root —
      // deliberately BYPASSES the manifest: compliance is about bytes
      // on disk, not about what a well-behaved reader resolves
      def victimRowsRaw(): Long = {
        val files = Option(dir.toFile.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.contains("="))
          .flatMap(p => Option(p.listFiles()).getOrElse(Array.empty))
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(_.toString)
        if (files.isEmpty) 0L
        else s.read.option("basePath", dir.toString).parquet(files.toSeq: _*)
          .filter(col("o_custkey") === victim).count()
      }
      val logicalGone = SnapshotTable.read(s, dir.toString)
        .filter(col("o_custkey") === victim).count() == 0L
      val bytesStillThere = victimRowsRaw() == n // the DV caveat, proven
      SnapshotTable.compact(s, dir.toString, "o_orderstatus")
      SnapshotTable.vacuum(s, dir.toString, retain = 1)
      val physGone = victimRowsRaw() == 0L
      val dvGone = !dir.resolve("_dv").toFile.exists()
      SnapshotTable.read(s, dir.toString)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 4).as("sum_price"))
        .select(col("o_orderstatus"), col("n_rows"), col("sum_price"),
          lit(n).as("erased_rows"),
          lit(logicalGone && bytesStillThere).as("logical_before_physical"),
          lit(physGone).as("physically_erased"),
          lit(dvGone).as("dv_sidecars_gone"))
        .orderBy("o_orderstatus")
    }),

    /** Manifest-level file skipping, driver-gated end to end
      * ([[graft.sources.SnapshotTable.writeClustered]] /
      * [[graft.sources.SnapshotTable.readRange]] — per-file min/max
      * stats committed as manifest lines, the third pruning leg next
      * to hive partition dirs (q259) and Z-order buckets (q280)): the
      * fact writes range-clustered on l_orderkey (16 range slices ×
      * 3 partition values), a DV delete stacks on top (stats must
      * carry, deletions must still apply through the pruned read), and
      * a middle-eighth range query plans from manifest arithmetic
      * alone. Claims pin: every data file carries committed stats, the
      * pruned read touched at most HALF the files (measured ~⅛), and
      * an out-of-domain range prunes to zero files AND zero rows. The
      * aggregate hashes against the oracle's direct range+NOT-delete
      * filter over the raw table — skipping routes IO, never changes
      * the relation.
      *
      * Scale shape: pruning is driver-side manifest arithmetic —
      * file-count-sized, zero footer reads, zero data IO; on a
      * clustered 100 TB table a narrow key range touches O(range)
      * files regardless of table size. */
    "q290_file_skipping" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("fsk", d)
      val base = lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      SnapshotTable.writeClustered(s, dir.toString, base,
        "l_returnflag", "l_orderkey")
      val mm = base.agg(min("l_orderkey").as("mn"), max("l_orderkey").as("mx"))
        .first()
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val lo = mn + (mx - mn) / 8
      val hi = mn + (mx - mn) / 4
      SnapshotTable.deleteWhereDV(s, dir.toString, col("l_orderkey") % 7 === 0)
      val statsCover =
        SnapshotTable.fileStats(s, dir.toString, "l_orderkey").size
      val (df, kept, total) =
        SnapshotTable.readRange(s, dir.toString, "l_orderkey", lo, hi)
      val (dfE, keptE, _) =
        SnapshotTable.readRange(s, dir.toString, "l_orderkey", mx + 10, mx + 20)
      val emptyZero = keptE == 0 && dfE.count() == 0L
      df.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 4).as("sum_qty"))
        .select(col("l_returnflag"), col("n_rows"), col("sum_qty"),
          lit(statsCover == total).as("stats_cover_all"),
          lit(kept >= 1 && kept * 2 <= total).as("files_pruned"),
          lit(emptyZero).as("empty_range_zero"))
        .orderBy("l_returnflag")
    }),

    /** Add-column schema evolution at the SNAPSHOT layer — the
      * "SnapshotTable direction" q262's plain-parquet mergeSchema gate
      * names as the production path (there the merged schema comes from
      * per-file footer union; here the manifest bounds the file set and
      * time travel pins WHEN the column appeared): an append
      * whose frame carries a NEW column commits as pure metadata — no
      * existing file is rewritten — and the merged read surfaces the
      * column as null for every pre-evolution row (count(new_col)
      * counts exactly the appended rows). Time travel to the
      * pre-evolution snapshot must NOT show the column (claim: v1's
      * schema is the original column set — evolution is a property of
      * the data added, not a retroactive rewrite). Hashes against the
      * oracle's UNION ALL of the base slice with the evolved slice.
      *
      * Scale shape: add-column on a 100 TB table is one manifest
      * commit; parquet footers carry per-file schemas, so the merge is
      * planning-time work, never a data pass. */
    "q289_schema_evolution" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("se", d)
      val base = orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      SnapshotTable.write(s, dir.toString, base, "o_orderstatus")
      val (_, f1, _) = SnapshotTable.latestFull(s, dir.toString).get
      val evolved = orders(s, d).filter(col("o_orderkey") % 10 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"),
          length(col("o_orderpriority")).cast("long").as("priority_len"))
      SnapshotTable.append(s, dir.toString, evolved, "o_orderstatus")
      val (_, f2, _) = SnapshotTable.latestFull(s, dir.toString).get
      val noRewrite = f1.forall(f2.contains) // old files carried untouched
      val v1Cols = SnapshotTable.read(s, dir.toString, Some(1L)).columns.toSet
      val v1Unevolved = !v1Cols.contains("priority_len") &&
        v1Cols == Set("o_orderkey", "o_orderstatus", "o_totalprice")
      SnapshotTable.read(s, dir.toString)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 4).as("sum_price"),
          count(col("priority_len")).as("evolved_rows"),
          coalesce(sum("priority_len"), lit(0L)).as("sum_priority_len"))
        .select(col("o_orderstatus"), col("n_rows"), col("sum_price"),
          col("evolved_rows"), col("sum_priority_len"),
          lit(noRewrite).as("no_file_rewrite"),
          lit(v1Unevolved).as("v1_unevolved"))
        .orderBy("o_orderstatus")
    }),

    /** DV-aware incremental view maintenance, driver-gated end to end
      * (VERDICT r13 #6 — [[graft.sources.SnapshotTable.readChangesSince]]
      * composing (inserts, deletes) from the file-list diff + DV diff,
      * consumed by [[graft.sources.MaterializedView.refreshWithDeletes]]):
      * the source takes an append AND a deletion-vector erasure after
      * the view was created; the plain append-only refresh must REFUSE
      * (its r13 fail-loud contract — a file-diff cannot see row
      * deletes), while the change-feed refresh folds `- deletes +
      * inserts` into the stored count/sum state in one delta-sized
      * pass. The claims pin the refusal, that the folded state is
      * row-identical to a from-scratch recompute of the new snapshot,
      * and that the view's recorded source version caught up. Hashes
      * against the oracle's direct NOT-deleted recompute.
      *
      * Scale shape: the nightly-refresh story at 100 TB with GDPR
      * deletes in the stream — the maintainer pays (new files) +
      * (new DV rows), never a base rescan; a deleted group's count
      * reaching zero retires the group exactly as a rebuild would. */
    "q294_mv_change_feed" -> ((s, d) => {
      import graft.sources.{MaterializedView, SnapshotTable}
      val dir = gateDir("cdf", d)
      val src = dir.resolve("src").toString
      val mv = dir.resolve("mv").toString
      val base = lineitem(s, d).select(col("l_orderkey"), col("l_returnflag"),
        col("l_quantity").cast("long").as("ql"))
      val keys = Seq("l_returnflag")
      val aggs = Seq(MaterializedView.AggSpec("count", "", "n_rows"),
        MaterializedView.AggSpec("sum", "ql", "sum_ql"))
      SnapshotTable.write(s, src,
        base.filter(col("l_orderkey") % 2 === 0), "l_returnflag")
      MaterializedView.create(s, mv, src, keys, aggs, "l_returnflag")
      SnapshotTable.append(s, src,
        base.filter(col("l_orderkey") % 2 =!= 0), "l_returnflag")
      val (_, nDel) = SnapshotTable.deleteWhereDV(s, src,
        col("ql") < 10L || col("l_orderkey") % 13 === 0)
      // the append-only refresh must fail loudly once a DV landed
      val plainRefuses =
        try { MaterializedView.refresh(s, mv, src, keys, aggs, "l_returnflag")
              false }
        catch { case _: IllegalStateException => true }
      MaterializedView.refreshWithDeletes(s, mv, src, keys, aggs, "l_returnflag")
      val folded = MaterializedView.read(s, mv)
        .select(col("l_returnflag"), col("n_rows").cast("long").as("n_rows"),
          col("sum_ql").cast("long").as("sum_ql"))
      val scratch = MaterializedView.fullState(
          SnapshotTable.read(s, src), keys, aggs)
        .select(col("l_returnflag"), col("n_rows").cast("long").as("n_rows"),
          col("sum_ql").cast("long").as("sum_ql"))
      val foldExact = folded.except(scratch).isEmpty &&
        scratch.except(folded).isEmpty
      val caughtUp = MaterializedView.sourceVersion(s, mv) ==
        SnapshotTable.latest(s, src).get._1
      folded
        .select(col("l_returnflag"), col("n_rows"), col("sum_ql"),
          lit(nDel > 0L).as("dv_deletes_folded"),
          lit(plainRefuses).as("plain_refresh_refuses"),
          lit(foldExact).as("fold_equals_recompute"),
          lit(caughtUp).as("source_caught_up"))
        .orderBy("l_returnflag")
    }),

    /** Merge-on-read row-level UPDATE, driver-gated end to end
      * ([[graft.sources.SnapshotTable.updateWhere]] — the third
      * mutation verb on the q287 deletion-vector substrate: DV-delete
      * the old row versions + append the new versions in ONE atomic
      * commit): two STACKED updates run (the second's predicate matches
      * rows the first just rewrote, so merge-on-read composition is on
      * the hash path), with claims pinning that no data file was ever
      * rewritten (both updates carry every prior file), that the DV set
      * grew twice, that the pre-update snapshot still time-travels
      * intact, and that OPTIMIZE folds the accumulated update DVs away
      * with the aggregate unchanged. Hashes against the oracle's
      * composed CASE-expression recompute over the raw table.
      *
      * Scale shape: THE small-update contract at 100 TB — a
      * MERGE-based update re-stages every partition containing a match
      * (one matched row per partition = full table rewrite); this pays
      * one predicate scan plus update-sized bytes, and the read-side
      * anti-join amortizes into the next routine OPTIMIZE. */
    "q295_update_mor" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("upd", d)
      val base = lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"),
          col("l_quantity").cast("long").as("q"))
      SnapshotTable.write(s, dir.toString,
        base.filter(col("l_orderkey") % 2 === 0), "l_returnflag")
      SnapshotTable.append(s, dir.toString,
        base.filter(col("l_orderkey") % 2 =!= 0), "l_returnflag")
      val (_, f0, _) = SnapshotTable.latestFull(s, dir.toString).get
      val (_, n1) = SnapshotTable.updateWhere(s, dir.toString, "l_returnflag",
        col("l_orderkey") % 7 === 0, Map("q" -> (col("q") + 5L)))
      val (_, f1, dv1) = SnapshotTable.latestFull(s, dir.toString).get
      // the second update's predicate intersects the first's outputs —
      // it MUST see the updated values through the DV-applied read
      val (_, n2) = SnapshotTable.updateWhere(s, dir.toString, "l_returnflag",
        col("q") > 45L, Map("q" -> (col("q") * 2L)))
      val (_, f2, dv2) = SnapshotTable.latestFull(s, dir.toString).get
      val noRewrite = f0.forall(f1.contains) && f1.forall(f2.contains) &&
        dv1.nonEmpty && dv2.size > dv1.size
      val baseCount = base.count()
      val baseSum = base.agg(sum("q")).first().getLong(0)
      val v2 = SnapshotTable.read(s, dir.toString, Some(2L))
        .agg(count(lit(1)), sum("q")).first()
      val v2Intact = v2.getLong(0) == baseCount && v2.getLong(1) == baseSum
      def aggNow(): Map[String, (Long, Long)] =
        SnapshotTable.read(s, dir.toString)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum("q").as("sq"))
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
      val preFold = aggNow()
      val (foldV, _) = SnapshotTable.compact(s, dir.toString, "l_returnflag")
      val folded =
        SnapshotTable.latestFull(s, dir.toString).get._3.isEmpty &&
          aggNow() == preFold
      SnapshotTable.read(s, dir.toString)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"), sum("q").as("sum_qty"))
        .select(col("l_returnflag"), col("n_rows"), col("sum_qty"),
          lit(n1 + n2).as("updated_rows"),
          lit(foldV).as("final_version"),
          lit(noRewrite).as("no_file_rewrite"),
          lit(v2Intact).as("old_snapshot_intact"),
          lit(folded).as("dv_folded"))
        .orderBy("l_returnflag")
    }),

    /** ANALYZE stats backfill, driver-gated end to end
      * ([[graft.sources.SnapshotTable.analyzeStats]] — the metadata-only
      * job that makes an APPEND-BUILT table skippable: plain appends
      * land stats-less because they skip the clustered writer's range
      * shuffle, so q290's manifest pruning is inert until the index is
      * computed): three disjoint-key-range appends build the table, the
      * gate proves pruning is IMPOSSIBLE before (pruned read keeps every
      * file), runs ANALYZE (one column-pruned pass over only the
      * missing files), proves full stats coverage, actual pruning on
      * the middle third, and idempotency (a second ANALYZE commits
      * nothing). The middle-third aggregate hashes against the
      * oracle's direct range recompute.
      *
      * Scale shape: the nightly stats job after a day of appends scans
      * one column of the day's files — never the table; pruning then
      * costs driver-side manifest arithmetic (q290's contract). */
    "q296_analyze_skipping" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("ana", d)
      val base = orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val mm = base.agg(min("o_orderkey"), max("o_orderkey")).first()
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val t1 = mn + (mx - mn) / 3
      val t2 = mn + 2 * (mx - mn) / 3
      SnapshotTable.write(s, dir.toString,
        base.filter(col("o_orderkey") <= t1), "o_orderstatus")
      SnapshotTable.append(s, dir.toString,
        base.filter(col("o_orderkey") > t1 && col("o_orderkey") <= t2),
        "o_orderstatus")
      SnapshotTable.append(s, dir.toString,
        base.filter(col("o_orderkey") > t2), "o_orderstatus")
      val statslessBlind = SnapshotTable.fileStats(s, dir.toString,
        "o_orderkey").isEmpty
      val (_, kept0, tot0) =
        SnapshotTable.readRange(s, dir.toString, "o_orderkey", t1 + 1, t2)
      val noPruneBefore = kept0 == tot0
      val vA = SnapshotTable.analyzeStats(s, dir.toString, "o_orderkey")
      val coverAll = SnapshotTable.fileStats(s, dir.toString, "o_orderkey")
        .keySet == SnapshotTable.latest(s, dir.toString).get._2.toSet
      val idempotent =
        SnapshotTable.analyzeStats(s, dir.toString, "o_orderkey") == vA
      val (df, kept1, tot1) =
        SnapshotTable.readRange(s, dir.toString, "o_orderkey", t1 + 1, t2)
      val prunesAfter = kept1 * 2 <= tot1 && kept1 >= 1
      df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 4).as("sum_price"))
        .select(col("o_orderstatus"), col("n_rows"), col("sum_price"),
          lit(statslessBlind && noPruneBefore).as("blind_before_analyze"),
          lit(coverAll).as("stats_cover_all"),
          lit(prunesAfter).as("files_pruned"),
          lit(idempotent).as("analyze_idempotent"))
        .orderBy("o_orderstatus")
    }),

    /** Full re-cluster OPTIMIZE, driver-gated end to end
      * ([[graft.sources.SnapshotTable.compactClustered]] — the
      * OPTIMIZE-ZORDER-style maintenance verb: one commit rewrites the
      * whole table range-clustered on the stats column, folds every
      * deletion vector in, and refreshes the complete skipping index):
      * four INTERLEAVED appends build a table whose every file spans
      * the whole key domain (clustering fully degraded — even with
      * stats, nothing can prune), a DV delete stacks on top, then the
      * re-cluster runs. Claims pin that the fresh index covers every
      * rewritten file, that a middle-eighth range NOW prunes to at most
      * half the files, that the DV set folded away, and the version
      * ladder. The full-table aggregate hashes against the oracle's
      * NOT-deleted recompute — maintenance moves bytes, never rows.
      *
      * Scale shape: the heavy cadence job — one range shuffle of the
      * table, slice count derived from the corpus so file sizes stay
      * flat; after it, q290's narrow-range contract holds again. */
    "q297_optimize_cluster" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("rcl", d)
      val base = lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      (0 until 4).foreach { i =>
        val chunk = base.filter(col("l_orderkey") % 4 === i)
        if (i == 0) SnapshotTable.write(s, dir.toString, chunk, "l_returnflag")
        else SnapshotTable.append(s, dir.toString, chunk, "l_returnflag")
      }
      SnapshotTable.deleteWhereDV(s, dir.toString, col("l_orderkey") % 9 === 0)
      // interleaved appends: even WITH stats nothing could prune — every
      // file's [min, max] spans the domain (proven, then repaired)
      SnapshotTable.analyzeStats(s, dir.toString, "l_orderkey")
      val mm = base.agg(min("l_orderkey"), max("l_orderkey")).first()
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val (lo, hi) = (mn + (mx - mn) / 8, mn + (mx - mn) / 4)
      val (_, keptB, totB) =
        SnapshotTable.readRange(s, dir.toString, "l_orderkey", lo, hi)
      val degraded = keptB == totB
      val vR = SnapshotTable.compactClustered(s, dir.toString,
        "l_returnflag", "l_orderkey", rangeParts = 16)
      val (_, files, dvs) = SnapshotTable.latestFull(s, dir.toString).get
      val foldedClean = dvs.isEmpty &&
        SnapshotTable.fileStats(s, dir.toString, "l_orderkey")
          .keySet == files.toSet
      val (_, keptA, totA) =
        SnapshotTable.readRange(s, dir.toString, "l_orderkey", lo, hi)
      val prunesAfter = keptA * 2 <= totA && keptA >= 1
      SnapshotTable.read(s, dir.toString)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 4).as("sum_qty"))
        .select(col("l_returnflag"), col("n_rows"), col("sum_qty"),
          lit(vR).as("final_version"),
          lit(degraded).as("degraded_before"),
          lit(foldedClean).as("dv_folded_index_fresh"),
          lit(prunesAfter).as("files_pruned"))
        .orderBy("l_returnflag")
    }),

    /** Per-commit change-data-feed, driver-gated end to end
      * ([[graft.sources.SnapshotTable.tableChanges]] — the Delta
      * `table_changes` read surface over the manifest ladder: every row
      * change between two versions annotated with its change type and
      * the commit that produced it): a four-verb ladder runs (write,
      * append, DV delete, merge-on-read UPDATE), then the feed over
      * v1→v4 must attribute the append's rows as v2 inserts, the
      * erasure as v3 deletes, and the UPDATE as a delete(old)+
      * insert(new) PAIR in the same v4 commit — the standard CDC upsert
      * stream shape. The fold law is claimed (v1 ∖ deletes ∪ inserts
      * row-identical to v4) and the per-(commit, type) aggregate hashes
      * against the oracle's predicate-by-predicate reconstruction of
      * the ladder from the raw table.
      *
      * Scale shape: each step is a delta-sized pairwise file/DV diff —
      * a day of commits replays as the day's deltas, never a
      * table-sized content join. */
    "q298_table_changes" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("cdc", d)
      val base = orders(s, d).select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("part"), col("o_totalprice").as("v"))
      SnapshotTable.write(s, dir.toString,
        base.filter(col("k") % 2 === 0), "part")
      SnapshotTable.append(s, dir.toString,
        base.filter(col("k") % 2 =!= 0), "part")
      SnapshotTable.deleteWhereDV(s, dir.toString, col("k") % 11 === 0)
      SnapshotTable.updateWhere(s, dir.toString, "part",
        col("k") % 13 === 0, Map("v" -> (col("v") + 1000.0)))
      val ch = SnapshotTable.tableChanges(s, dir.toString, 1L, 4L)
      // fold law (MULTISET: union first, then subtract — a row inserted
      // at v2 and deleted at v3 appears once in each leg and must
      // cancel): v1 ⊎ inserts ∖ deletes must equal v4, row-identical
      val cols = Seq(col("k"), col("part"), col("v"))
      val folded = SnapshotTable.read(s, dir.toString, Some(1L))
        .select(cols: _*)
        .unionAll(ch.filter(col(SnapshotTable.ChangeTypeCol) === "insert")
          .select(cols: _*))
        .exceptAll(ch.filter(col(SnapshotTable.ChangeTypeCol) === "delete")
          .select(cols: _*))
      val v4 = SnapshotTable.read(s, dir.toString, Some(4L)).select(cols: _*)
      val foldExact = multisetEqual(folded, v4)
      ch.groupBy(col(SnapshotTable.CommitVersionCol).as("commit_version"),
          col(SnapshotTable.ChangeTypeCol).as("change_type"))
        .agg(count(lit(1)).as("n_rows"), round(sum("v"), 4).as("sum_v"))
        .select(col("commit_version"), col("change_type"),
          col("n_rows"), col("sum_v"),
          lit(foldExact).as("fold_exact"))
        .orderBy("commit_version", "change_type")
    }),

    /** CDC replication — the change feed CONSUMED, driver-gated end to
      * end ([[graft.sources.SnapshotTable.replicate]]: first call
      * copies the source snapshot; later calls read ONLY the feed since
      * the source version recorded in the replica's carried metadata,
      * apply pure deletes as one keyed DV-delete and inserts+updates
      * as one MERGE, and land the bookkeeping atomically with the last
      * applied change): the source takes one of EVERY producer verb
      * after the initial copy (append, DV delete, merge-on-read
      * UPDATE, MERGE that both replaces and inserts — including
      * re-inserting a key the DV delete removed), then ONE incremental
      * replicate must converge the replica to row-identity with the
      * source (claim), in at most two commits (claim), with a
      * further call a no-op (claim). The replica's aggregate hashes
      * against the oracle's CASE-chain reconstruction of the whole
      * ladder — a feed leg missed, double-applied, or applied out of
      * order diverges the hash.
      *
      * Scale shape: the geo-replica story — steady-state cost is
      * delete-sized + upsert-sized commits, never a table copy after
      * the first call. */
    "q302_cdc_replica" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("rep", d)
      val src = dir.resolve("src").toString
      val dst = dir.resolve("dst").toString
      val base = orders(s, d).select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("part"), col("o_totalprice").as("v"))
      SnapshotTable.write(s, src, base.filter(col("k") % 2 === 0), "part")
      SnapshotTable.replicate(s, src, dst, "part", "k") // full copy
      // one of every producer verb lands on the source
      SnapshotTable.append(s, src, base.filter(col("k") % 2 =!= 0), "part")
      SnapshotTable.deleteWhereDV(s, src, col("k") % 11 === 0)
      SnapshotTable.updateWhere(s, src, "part",
        col("k") % 13 === 0, Map("v" -> (col("v") + 1000.0)))
      val m17 = base.filter(col("k") % 17 === 0)
      SnapshotTable.merge(s, src, "part", "k",
        m17.withColumn("v", col("v") + 5000.0)
          .unionAll(m17.select((col("k") + 10000000L).as("k"), col("part"),
            (col("v") + 7000.0).as("v"))))
      val vBefore = SnapshotTable.latest(s, dst).get._1
      val vApplied = SnapshotTable.replicate(s, src, dst, "part", "k")
      val twoCommits = vApplied - vBefore <= 2L
      val cols = Seq(col("k"), col("part"), col("v"))
      val srcDf = SnapshotTable.read(s, src).select(cols: _*)
      val dstDf = SnapshotTable.read(s, dst).select(cols: _*)
      val converged = multisetEqual(dstDf, srcDf)
      val idempotent =
        SnapshotTable.replicate(s, src, dst, "part", "k") == vApplied &&
          SnapshotTable.latest(s, dst).get._1 == vApplied
      SnapshotTable.read(s, dst)
        .groupBy("part")
        .agg(count(lit(1)).as("n_rows"), round(sum("v"), 4).as("sum_v"))
        .select(col("part"), col("n_rows"), col("sum_v"),
          lit(converged).as("replica_equals_source"),
          lit(twoCommits).as("incremental_apply"),
          lit(idempotent).as("uptodate_noop"))
        .orderBy("part")
    }),

    /** Bloom point-lookup index, driver-gated end to end
      * ([[graft.sources.SnapshotTable.analyzeBloom]] /
      * [[graft.sources.SnapshotTable.readPointLookup]] — the Delta
      * bloom-filter-index idea, and the pruning leg min/max stats
      * CANNOT provide: the table is built by four INTERLEAVED appends,
      * so every file spans the whole key domain and a range index is
      * useless for a point predicate; per-file bloom sketches of
      * xxhash64(key) — built by Spark's own codegen'd
      * `bloom_filter_agg`, stored as a parquet sidecar pointed at by a
      * carried manifest header — answer "can this file contain v?" IN
      * EXECUTORS over the file-count-sized sidecar, with only surviving
      * file names collected (VERDICT r14 #2) and zero data IO): the id
      * lookup prunes to at most
      * half the files (claims), an absent id returns zero rows with
      * most files pruned, re-ANALYZE commits nothing, and the lookup's
      * rows hash against the oracle's direct equality recompute.
      *
      * Scale shape: an id lookup on an append-ordered 100 TB event
      * table touches the O(occurrences) files that can actually hold
      * the value, at a false-positive tax set by bits-per-file. */
    "q301_bloom_pointlookup" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("blm", d)
      val base = lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_quantity"))
      (0 until 4).foreach { i =>
        val chunk = base.filter(col("l_orderkey") % 4 === i)
        if (i == 0) SnapshotTable.write(s, dir.toString, chunk, "l_returnflag")
        else SnapshotTable.append(s, dir.toString, chunk, "l_returnflag")
      }
      val vI = SnapshotTable.analyzeBloom(s, dir.toString, "l_orderkey",
        bitsPerFile = 1L << 19)
      val idempotent =
        SnapshotTable.analyzeBloom(s, dir.toString, "l_orderkey", 1L << 19) == vI
      val target = base.agg(max("l_orderkey")).first().getLong(0)
      val (df, kept, tot) =
        SnapshotTable.readPointLookup(s, dir.toString, "l_orderkey", target)
      val pruned = kept >= 1 && kept * 2 <= tot
      val (dfA, keptA, totA) =
        SnapshotTable.readPointLookup(s, dir.toString, "l_orderkey",
          target + 1234567L)
      val absentClean = dfA.count() == 0L && keptA * 2 <= totA
      df.select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("l_quantity"), 4).as("quantity"),
          lit(vI).as("index_version"),
          lit(idempotent).as("analyze_idempotent"),
          lit(pruned).as("files_pruned"),
          lit(absentClean).as("absent_zero_rows"))
        .orderBy("l_linenumber")
    }),

    /** CHECK constraints, driver-gated end to end
      * ([[graft.sources.SnapshotTable.addConstraint]] — the Delta
      * `ALTER TABLE ADD CONSTRAINT` surface: predicates commit as
      * carried manifest headers, existing rows validate before the
      * constraint can land, and every content-adding verb validates its
      * batch in one aggregate pass, refusing WHOLESALE on any
      * violation): the gate adds two constraints, lands a valid append,
      * then proves a mixed good+bad append is refused with version AND
      * relation untouched, an UPDATE that would push rows out of range
      * is refused, and a constraint the existing data already violates
      * cannot commit. The final relation hashes against the oracle's
      * base ∪ valid-slice recompute — refused batches leave no trace.
      *
      * Scale shape: enforcement is one codegen'd conditional-sum pass
      * over the INCOMING batch (all constraints together), never a
      * table scan; the promise to readers costs writers
      * delta-sized work. */
    "q299_constraints" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("chk", d)
      val base = orders(s, d).select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("part"), col("o_totalprice").as("v"))
      SnapshotTable.write(s, dir.toString, base, "part")          // v1
      SnapshotTable.addConstraint(s, dir.toString, "v_pos", "v > 0")   // v2
      SnapshotTable.addConstraint(s, dir.toString, "k_nonneg", "k >= 0") // v3
      val valid = base.filter(col("k") % 10 === 0)
        .withColumn("k", col("k") + 100000000L)
      SnapshotTable.append(s, dir.toString, valid, "part")        // v4
      val vGood = SnapshotTable.latest(s, dir.toString).get._1
      val countGood = SnapshotTable.read(s, dir.toString).count()
      // a MIXED batch (valid rows + one violator) must be refused
      // wholesale: version and relation untouched
      val mixed = valid.limit(3).withColumn("k", col("k") + 1000000000L)
        .unionAll(valid.limit(1).withColumn("v", lit(-1.0)))
      val batchRefused =
        try { SnapshotTable.append(s, dir.toString, mixed, "part"); false }
        catch { case _: SnapshotTable.ConstraintViolationException => true }
      val untouched =
        SnapshotTable.latest(s, dir.toString).get._1 == vGood &&
          SnapshotTable.read(s, dir.toString).count() == countGood
      // an UPDATE pushing rows out of range is refused the same way
      val updateRefused =
        try { SnapshotTable.updateWhere(s, dir.toString, "part",
          col("k") % 97 === 0, Map("v" -> (col("v") - 1.0e9))); false }
        catch { case _: SnapshotTable.ConstraintViolationException => true }
      // a constraint the EXISTING data violates cannot commit
      val addRefused =
        try { SnapshotTable.addConstraint(s, dir.toString,
          "v_huge", "v > 100000000"); false }
        catch { case _: SnapshotTable.ConstraintViolationException => true }
      val stillTwo = SnapshotTable.constraints(s, dir.toString).keySet ==
        Set("v_pos", "k_nonneg")
      SnapshotTable.read(s, dir.toString)
        .groupBy("part")
        .agg(count(lit(1)).as("n_rows"), round(sum("v"), 4).as("sum_v"))
        .select(col("part"), col("n_rows"), col("sum_v"),
          lit(vGood).as("versions"),
          lit(batchRefused && untouched).as("batch_refused_wholesale"),
          lit(updateRefused).as("update_refused"),
          lit(addRefused && stillTwo).as("violating_constraint_refused"))
        .orderBy("part")
    }),

    /** Maintenance-transparent change feed, driver-gated end to end
      * (VERDICT r14 #1 — compact/compactClustered commit
      * `#datachange=false`, the Delta CDF contract, and
      * [[graft.sources.SnapshotTable.tableChanges]] /
      * [[graft.sources.SnapshotTable.readChangesSince]] SKIP them): the
      * gate pins that an OPTIMIZE commit feeds ZERO rows (claim), that a
      * replica whose source advanced by maintenance only applies NO ROWS
      * — one metadata-only marker-advance commit, feed-invisible and
      * idempotent (ADVICE r15: a stale marker would be vacuumed away,
      * forcing a reseed) — and that a feed window STRADDLING
      * two maintenance commits still converges the replica exactly (the
      * multi-run netting path: an append before the OPTIMIZE and a DV
      * delete after it net to the endpoint diff). The replica's
      * aggregate hashes against the oracle recompute.
      *
      * Scale shape: the round's headline CDC fix — a nightly OPTIMIZE
      * on a 100 TB source no longer turns every downstream
      * replica/MV refresh into a full-table delete+insert of identical
      * rows; maintenance costs consumers nothing. */
    "q303_reorg_feed" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("rfd", d)
      val src = dir.resolve("src").toString
      val dst = dir.resolve("dst").toString
      val base = orders(s, d).select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("part"), col("o_totalprice").as("v"))
      SnapshotTable.write(s, src, base.filter(col("k") % 4 === 0), "part") // v1
      SnapshotTable.append(s, src, base.filter(col("k") % 4 === 2), "part") // v2
      SnapshotTable.replicate(s, src, dst, "part", "k") // full copy, marker 2
      val (v3, compacted) = SnapshotTable.compact(s, src, "part") // v3: reorg
      val vDstBefore = SnapshotTable.latest(s, dst).get._1
      // maintenance-only window: the replica applies NO ROWS — it
      // advances its marker with ONE metadata-only #datachange=false
      // commit (ADVICE r15: leaving the marker behind lets a
      // maintenance-only source vacuum it away and forces a full
      // reseed though no row ever changed), invisible to the replica's
      // own downstream feed, and idempotent once advanced
      val dstRowsBefore = SnapshotTable.read(s, dst).count()
      val vMarker = SnapshotTable.replicate(s, src, dst, "part", "k")
      val reorgNoop = vMarker == vDstBefore + 1 &&
        SnapshotTable.read(s, dst).count() == dstRowsBefore &&
        SnapshotTable.readChangesSince(s, dst, vDstBefore).isEmpty &&
        SnapshotTable.replicate(s, src, dst, "part", "k") == vMarker
      SnapshotTable.append(s, src, base.filter(col("k") % 2 =!= 0), "part") // v4
      SnapshotTable.compactClustered(s, src, "part", "k") // v5: reorg
      SnapshotTable.deleteWhereDV(s, src, col("k") % 11 === 0) // v6
      // both OPTIMIZE classes feed zero rows
      val compactFeedEmpty = v3 == 3L && compacted.nonEmpty &&
        SnapshotTable.tableChanges(s, src, 2L, 3L).count() == 0L &&
        SnapshotTable.tableChanges(s, src, 4L, 5L).count() == 0L
      // the straddling window (append at v4, delete at v6, maintenance
      // between) converges the replica through the netted multi-run feed
      val vApplied = SnapshotTable.replicate(s, src, dst, "part", "k")
      val cols = Seq(col("k"), col("part"), col("v"))
      val srcDf = SnapshotTable.read(s, src).select(cols: _*)
      val dstDf = SnapshotTable.read(s, dst).select(cols: _*)
      val converged = multisetEqual(dstDf, srcDf)
      val idempotent =
        SnapshotTable.replicate(s, src, dst, "part", "k") == vApplied
      SnapshotTable.read(s, dst)
        .groupBy("part")
        .agg(count(lit(1)).as("n_rows"), round(sum("v"), 4).as("sum_v"))
        .select(col("part"), col("n_rows"), col("sum_v"),
          lit(reorgNoop).as("reorg_noop"),
          lit(compactFeedEmpty).as("compact_feed_empty"),
          lit(converged).as("replica_equals_source"),
          lit(idempotent).as("uptodate_noop"))
        .orderBy("part")
    }),

    /** Non-invertible MV maintenance, driver-gated end to end (VERDICT
      * r14 #5 — [[graft.sources.MaterializedView.refreshWithDeletes]]'s
      * partial-group recompute: min/max cannot decrement a retired
      * value, so the delete-TOUCHED groups re-aggregate from the base —
      * restricted to their partition dirs via
      * [[graft.sources.SnapshotTable.readPartitions]] when the
      * partition column is a view key — while every untouched group
      * folds its insert delta pointwise): a min/max/count/sum view
      * takes an append plus a DV delete confined to one group, ONE
      * refresh must equal the from-scratch recompute (claim), the
      * recompute's scan is partition-pruned (claim), and the state
      * hashes against the oracle's direct re-aggregation.
      *
      * Scale shape: the common case is deletes touching few groups —
      * the refresh pays (delta) + (touched groups' partitions), never
      * a view rebuild or a base-table scan. */
    "q304_mv_minmax" -> ((s, d) => {
      import graft.sources.{MaterializedView, SnapshotTable}
      val dir = gateDir("mvx", d)
      val src = dir.resolve("src").toString
      val mv = dir.resolve("mv").toString
      val base = lineitem(s, d).select(col("l_orderkey").as("k"),
        col("l_returnflag").as("part"), col("l_quantity").as("v"))
      val keys = Seq("part")
      val aggs = Seq(MaterializedView.AggSpec("count", "", "n_rows"),
        MaterializedView.AggSpec("sum", "v", "sum_qty"),
        MaterializedView.AggSpec("min", "v", "min_qty"),
        MaterializedView.AggSpec("max", "v", "max_qty"))
      SnapshotTable.write(s, src, base.filter(col("k") % 2 === 0), "part")
      MaterializedView.create(s, mv, src, keys, aggs, "part")
      SnapshotTable.append(s, src, base.filter(col("k") % 2 =!= 0), "part")
      SnapshotTable.deleteWhereDV(s, src,
        col("part") === "A" && col("k") % 3 === 0)
      val refreshed = MaterializedView.refreshWithDeletes(
        s, mv, src, keys, aggs, "part", sourcePartKey = Some("part")).nonEmpty
      // the touched group's recompute is partition-pruned: the audit
      // pair of the same restricted read the refresh used
      val (_, keptF, totF) = SnapshotTable.readPartitions(s, src, "part",
        Seq("A"))
      val filesPruned = keptF >= 1 && keptF < totF
      val cast = (df: org.apache.spark.sql.DataFrame) => df.select(
        col("part"), col("n_rows").cast("long"),
        round(col("sum_qty"), 4), round(col("min_qty"), 4),
        round(col("max_qty"), 4))
      val folded = cast(MaterializedView.read(s, mv))
      val scratch = cast(MaterializedView.fullState(
        SnapshotTable.read(s, src), keys, aggs))
      val foldExact = multisetEqual(folded, scratch)
      val caughtUp = MaterializedView.sourceVersion(s, mv) ==
        SnapshotTable.latest(s, src).get._1
      MaterializedView.read(s, mv)
        .select(col("part"), col("n_rows").cast("long").as("n_rows"),
          round(col("sum_qty"), 4).as("sum_qty"),
          round(col("min_qty"), 4).as("min_qty"),
          round(col("max_qty"), 4).as("max_qty"),
          lit(refreshed && foldExact).as("fold_equals_recompute"),
          lit(filesPruned).as("recompute_partition_pruned"),
          lit(caughtUp).as("source_caught_up"))
        .orderBy("part")
    }),

    /** Replica re-seed after a source vacuum gap, driver-gated (VERDICT
      * r14 #3 — [[graft.sources.SnapshotTable.replicate]]'s loud,
      * constructive fallback): the source vacuums past the replica's
      * marker, the next replicate REFUSES with a typed error naming the
      * remedy (claim — a lagging replica must never be silently stuck or
      * silently wrong), `reseed = true` re-copies wholesale and restarts
      * the marker (claim), and incremental replication RESUMES from the
      * re-seeded version (claim). The final replica hashes against the
      * oracle recompute.
      *
      * Scale shape: the re-seed is the one deliberate full copy in the
      * replica lifecycle — an operator opt-in, priced openly, after
      * which steady-state cost returns to delta-sized. */
    "q305_replica_reseed" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("rsd", d)
      val src = dir.resolve("src").toString
      val dst = dir.resolve("dst").toString
      val base = orders(s, d).select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("part"), col("o_totalprice").as("v"))
      SnapshotTable.write(s, src, base.filter(col("k") % 3 === 0), "part") // v1
      SnapshotTable.replicate(s, src, dst, "part", "k") // marker 1
      SnapshotTable.append(s, src, base.filter(col("k") % 3 === 1), "part") // v2
      SnapshotTable.append(s, src, base.filter(col("k") % 3 === 2), "part") // v3
      SnapshotTable.vacuum(s, src, retain = 1) // drops v1, v2 manifests
      val vStuck = SnapshotTable.latest(s, dst).get._1
      val refusedLoudly =
        try { SnapshotTable.replicate(s, src, dst, "part", "k"); false }
        catch { case e: SnapshotTable.ReplicaSourceVacuumedException =>
          e.getMessage.contains("reseed") &&
            SnapshotTable.latest(s, dst).get._1 == vStuck
        }
      val vReseed = SnapshotTable.replicate(s, src, dst, "part", "k",
        reseed = true)
      val cols = Seq(col("k"), col("part"), col("v"))
      val reseedConverged = {
        val a = SnapshotTable.read(s, src).select(cols: _*)
        val b = SnapshotTable.read(s, dst).select(cols: _*)
        multisetEqual(a, b)
      }
      // incremental replication RESUMES from the re-seeded marker
      SnapshotTable.append(s, src, base.filter(col("k") % 5 === 0)
        .withColumn("k", col("k") + 100000000L), "part") // v4
      val vFinal = SnapshotTable.replicate(s, src, dst, "part", "k")
      val incremental = vFinal - vReseed <= 2L
      SnapshotTable.read(s, dst)
        .groupBy("part")
        .agg(count(lit(1)).as("n_rows"), round(sum("v"), 4).as("sum_v"))
        .select(col("part"), col("n_rows"), col("sum_v"),
          lit(refusedLoudly).as("vacuum_gap_refused"),
          lit(reseedConverged).as("reseed_converges"),
          lit(incremental).as("incremental_resumes"))
        .orderBy("part")
    }),

    /** Write-audit-publish branches, driver-gated end to end (the
      * Iceberg WAP pattern on [[graft.sources.SnapshotTable]]'s
      * manifest substrate: [[graft.sources.SnapshotTable.writeBranch]]
      * stages a batch's files behind an unpublished
      * `branch.<name>.manifest` no reader resolves; auditors query the
      * staged rows; [[graft.sources.SnapshotTable.publishBranch]]
      * appends them in one CAS commit that ALSO plants the branch's
      * exactly-once marker — the `lastbatch.` carried-header machinery
      * the streaming sinks ride — so a replayed publish returns the
      * original version; [[graft.sources.SnapshotTable.dropBranch]]
      * deletes the rejected bytes): the gate stages a dirty batch,
      * proves the main table sees NOTHING (claim), the audit counts the
      * bad rows (claim), a publish over a CHECK constraint is refused
      * wholesale (claim), the re-staged clean batch publishes
      * atomically, and a second publish is a no-op returning the same
      * version (claim). The final relation hashes against the oracle's
      * base ∪ clean-slice recompute.
      *
      * Scale shape: the data-CI pattern at 100 TB — stage cost is the
      * write the batch pays anyway, audits read only what they query,
      * publish is one metadata commit + one constraint pass over the
      * staged rows; nothing is ever rewritten or rolled back. */
    "q306_wap" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("wap", d)
      val tbl = dir.resolve("t").toString
      val base = orders(s, d).select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("part"), col("o_totalprice").as("v"))
      SnapshotTable.write(s, tbl, base.filter(col("k") % 2 === 0), "part") // v1
      SnapshotTable.addConstraint(s, tbl, "v_pos", "v > 0")                // v2
      val countBefore = SnapshotTable.read(s, tbl).count()
      val odds = base.filter(col("k") % 2 =!= 0)
      val dirty = odds.unionAll(odds.limit(3).withColumn("v", lit(-1.0))
        .withColumn("k", col("k") + 900000000L))
      SnapshotTable.writeBranch(s, tbl, dirty, "part", "night1")
      // staged bytes are invisible to every reader of the table
      val stagedInvisible =
        SnapshotTable.read(s, tbl).count() == countBefore &&
          SnapshotTable.latest(s, tbl).get._1 == 2L
      // the audit queries the staged rows and finds the bad ones
      val auditCatches = SnapshotTable.readBranch(s, tbl, "night1",
        stagedOnly = true).filter(col("v") <= 0).count() == 3L
      // publishing over the CHECK constraint is refused wholesale
      val publishRefused =
        try { SnapshotTable.publishBranch(s, tbl, "night1"); false }
        catch { case _: SnapshotTable.ConstraintViolationException =>
          SnapshotTable.latest(s, tbl).get._1 == 2L
        }
      SnapshotTable.dropBranch(s, tbl, "night1")
      // the audited-clean batch re-stages under the same (never
      // published) name and publishes atomically
      SnapshotTable.writeBranch(s, tbl, odds, "part", "night1")
      val vPub = SnapshotTable.publishBranch(s, tbl, "night1")          // v3
      val exactlyOnce =
        SnapshotTable.publishBranch(s, tbl, "night1") == vPub &&
          SnapshotTable.latest(s, tbl).get._1 == vPub
      SnapshotTable.read(s, tbl)
        .groupBy("part")
        .agg(count(lit(1)).as("n_rows"), round(sum("v"), 4).as("sum_v"))
        .select(col("part"), col("n_rows"), col("sum_v"),
          lit(vPub).as("versions"),
          lit(stagedInvisible).as("staged_invisible"),
          lit(auditCatches).as("audit_catches"),
          lit(publishRefused).as("bad_publish_refused"),
          lit(exactlyOnce).as("publish_exactly_once"))
        .orderBy("part")
    }),

    /** OPTIMIZE ZORDER BY (a, b), driver-gated end to end
      * ([[graft.sources.SnapshotTable.compactZOrdered]] — Morton
      * interleaving of two integral columns + fresh per-file min/max
      * stats for BOTH, the public Delta OPTIMIZE ZORDER + data-skipping
      * composition): the gate fragments the table with three
      * interleaved appends and a DV delete, 1-D re-clusters on
      * `l_orderkey` and proves the structural blindness — an orderkey
      * range prunes but a partkey range keeps EVERY file, since no
      * partkey stats exist and each slice spans its whole domain
      * (claim) — then Z-orders on (orderkey, partkey) and proves BOTH
      * narrow ranges prune (claim), the relation is row-identical
      * (claim), and the DVs folded (claim). The partkey window's
      * aggregate hashes against the oracle's direct recompute.
      *
      * Scale shape: the second-column pruning leg is what makes a
      * 100 TB table queryable by more than one access path without a
      * copy — a narrow range on either column touches O(√files). */
    "q308_zorder_optimize" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("zor", d)
      val tbl = dir.resolve("t").toString
      val base = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
        col("l_returnflag"), col("l_quantity"))
      (0 until 3).foreach { i =>
        val chunk = base.filter(col("l_orderkey") % 3 === i)
        if (i == 0) SnapshotTable.write(s, tbl, chunk, "l_returnflag")
        else SnapshotTable.append(s, tbl, chunk, "l_returnflag")
      } // v1..v3
      SnapshotTable.deleteWhereDV(s, tbl, col("l_orderkey") % 9 === 0) // v4
      SnapshotTable.compactClustered(s, tbl, "l_returnflag",
        "l_orderkey", rangeParts = 16) // v5: 1-D clustering
      // integer-div middle-fifth windows, replicated exactly in the oracle
      def fifth(c: String): (Long, Long) = {
        val r = base.agg(min(col(c)).cast("long"), max(col(c)).cast("long"))
          .first()
        val (mn, mx) = (r.getLong(0), r.getLong(1))
        (mn + 2 * (mx - mn) / 5, mn + 3 * (mx - mn) / 5)
      }
      val (loA, hiA) = fifth("l_orderkey")
      val (loB, hiB) = fifth("l_partkey")
      val (_, kA1, t1) = SnapshotTable.readRange(s, tbl, "l_orderkey", loA, hiA)
      val (_, kB1, _) = SnapshotTable.readRange(s, tbl, "l_partkey", loB, hiB)
      // 1-D clustering is structurally blind on the other column: no
      // partkey stats exist, so EVERY file conservatively scans
      val oneDimBlind = kA1 * 2 <= t1 && kB1 == t1
      val before = SnapshotTable.read(s, tbl)
      val beforeCount = before.count()
      val vZ = SnapshotTable.compactZOrdered(s, tbl, "l_returnflag",
        "l_orderkey", "l_partkey", rangeParts = 64) // v6: 8x8 cell grid
      val (dfA2, kA2, t2) = SnapshotTable.readRange(s, tbl, "l_orderkey", loA, hiA)
      val (dfB2, kB2, _) = SnapshotTable.readRange(s, tbl, "l_partkey", loB, hiB)
      val bothPruned = kA2 * 2 <= t2 && kB2 * 2 <= t2 &&
        dfA2.count() > 0 && kA2 >= 1 && kB2 >= 1
      val after = SnapshotTable.read(s, tbl)
      val identical = after.count() == beforeCount &&
        multisetEqual(after, before)
      val dvFolded = SnapshotTable.latestFull(s, tbl).get._3.isEmpty
      dfB2.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"), round(sum("l_quantity"), 4).as("sum_qty"))
        .select(col("l_returnflag"), col("n_rows"), col("sum_qty"),
          lit(vZ).as("final_version"),
          lit(oneDimBlind).as("one_dim_blind_on_b"),
          lit(bothPruned).as("both_columns_pruned"),
          lit(identical && dvFolded).as("relation_identical_dv_folded"))
        .orderBy("l_returnflag")
    }),

    /** OPTIMIZE commit-reconciliation, driver-gated end to end
      * ([[graft.sources.SnapshotTable.compactClustered]] /
      * `compactZOrderedN` — VERDICT r15 #1: the pre-reconcile loop
      * re-ran the TABLE-WIDE shuffle on every lost CAS, so a steady
      * append stream livelocked the one maintenance path that folds
      * DVs and rebuilds the skipping index). The gate injects a
      * deterministic CAS loss through the `afterStage` seam twice:
      * a PURE APPEND interleave must commit the already-staged rewrite
      * plus the winner's rows with EXACTLY ONE shuffle derivation
      * (claim, pinned on the optimizeDeriveCount counter — the q293
      * read-count-pin pattern) while still folding the pre-stage DVs
      * (claim); a racing DV DELETE over rewritten rows must force a
      * true re-derive (claim: two derivations) whose result folds the
      * racer's deletion exactly — the final relation hashes against
      * the oracle's recompute of both delete predicates.
      *
      * Scale shape: the reconciled commit is manifest arithmetic plus
      * the winners' file names — a multi-hour 100 TB OPTIMIZE now
      * lands against an append-per-hour table instead of redoing its
      * shuffle forever. */
    "q313_optimize_reconcile" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("rec", d)
      val tbl = dir.resolve("t").toString
      val base = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
        col("l_returnflag"), col("l_quantity"))
      def chunk(i: Int) = base.filter(col("l_orderkey") % 3 === i)
      SnapshotTable.write(s, tbl, chunk(0), "l_returnflag")            // v1
      SnapshotTable.append(s, tbl, chunk(1), "l_returnflag")           // v2
      SnapshotTable.deleteWhereDV(s, tbl, col("l_orderkey") % 9 === 0) // v3
      val d0 = SnapshotTable.optimizeDeriveCount.get()
      val vRec = SnapshotTable.compactClusteredHooked(s, tbl,
        "l_returnflag", "l_orderkey", 16, Nil,
        // the racing append wins v4; the OPTIMIZE must reconcile at v5
        () => { SnapshotTable.append(s, tbl, chunk(2), "l_returnflag"); () })
      val reconciled =
        SnapshotTable.optimizeDeriveCount.get() - d0 == 1 && vRec == 5L
      val dvFolded1 = SnapshotTable.latestFull(s, tbl).get._3.isEmpty
      val d1 = SnapshotTable.optimizeDeriveCount.get()
      val vRed = SnapshotTable.compactZOrderedNHooked(s, tbl,
        "l_returnflag", Seq("l_orderkey", "l_partkey"), 64, 0, Nil,
        // the racing delete wins v6 and addresses rewritten rows — the
        // z-order must RE-DERIVE and commit v7
        () => { SnapshotTable.deleteWhereDV(s, tbl,
          col("l_orderkey") % 13 === 0); () })
      val rederived =
        SnapshotTable.optimizeDeriveCount.get() - d1 == 2 && vRed == 7L
      val dvFolded2 = SnapshotTable.latestFull(s, tbl).get._3.isEmpty
      SnapshotTable.read(s, tbl)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"), round(sum("l_quantity"), 4).as("sum_qty"))
        .select(col("l_returnflag"), col("n_rows"), col("sum_qty"),
          lit(vRed).as("final_version"),
          lit(reconciled).as("append_race_reconciled_no_reshuffle"),
          lit(rederived).as("delete_race_rederived"),
          lit(dvFolded1 && dvFolded2).as("dvs_folded"))
        .orderBy("l_returnflag")
    }),

    /** Partition-scoped OPTIMIZE (`OPTIMIZE ... WHERE`), driver-gated
      * end to end ([[graft.sources.SnapshotTable.compactClustered]]
      * with `scope` — VERDICT r15 #4: both re-cluster verbs rewrote the
      * WHOLE table, so the nightly job could not incrementally z-order
      * only fresh partitions): three appends fragment every partition
      * and a DV delete spans them; the gate then re-clusters ONLY the
      * 'N' partition and proves out-of-scope files are carried BY NAME,
      * byte-identical in the manifest (claim), the DV set is carried so
      * out-of-scope deletions keep applying — the window aggregate
      * hashes against the oracle's recompute over the deletion
      * predicate (and the in-scope DV rows folded into the rewrite) —
      * the change feed stays silent (`#datachange=false`, claim), and a
      * window read prunes INSIDE the scope while conservatively keeping
      * the unstatted out-of-scope files (claim).
      *
      * Scale shape: the scoped rewrite costs O(scope), shrinking the
      * reconcile conflict window from table-rewrite hours to
      * partition-rewrite minutes — the incremental nightly OPTIMIZE a
      * 100 TB table actually runs. */
    "q314_scoped_optimize" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("sco", d)
      val tbl = dir.resolve("t").toString
      val base = lineitem(s, d).select(col("l_orderkey"),
        col("l_returnflag"), col("l_quantity"))
      def chunk(i: Int) = base.filter(col("l_orderkey") % 3 === i)
      SnapshotTable.write(s, tbl, chunk(0), "l_returnflag")             // v1
      SnapshotTable.append(s, tbl, chunk(1), "l_returnflag")            // v2
      SnapshotTable.append(s, tbl, chunk(2), "l_returnflag")            // v3
      SnapshotTable.deleteWhereDV(s, tbl, col("l_orderkey") % 11 === 0) // v4
      val before = SnapshotTable.latest(s, tbl).get._2
      val outBefore = before.filterNot(_.startsWith("l_returnflag=N/")).toSet
      val vS = SnapshotTable.compactClustered(s, tbl, "l_returnflag",
        "l_orderkey", rangeParts = 16, scope = Seq("N"))                // v5
      val stA = SnapshotTable.latestFull(s, tbl).get
      val outIdentical = vS == 5L &&
        stA._2.filterNot(_.startsWith("l_returnflag=N/")).toSet == outBefore
      val dvCarried = stA._3.nonEmpty
      val feedSilent = SnapshotTable.readChangesSince(s, tbl, 4L).isEmpty
      // integer-div middle-fifth window (the q308 rule), oracle-mirrored
      val r0 = base.agg(min(col("l_orderkey")).cast("long"),
        max(col("l_orderkey")).cast("long")).first()
      val (mn, mx) = (r0.getLong(0), r0.getLong(1))
      val (loA, hiA) = (mn + 2 * (mx - mn) / 5, mn + 3 * (mx - mn) / 5)
      val (dfW, kept, tot) =
        SnapshotTable.readRange(s, tbl, "l_orderkey", loA, hiA)
      val inScope = stA._2.count(_.startsWith("l_returnflag=N/"))
      // all out-of-scope files are stat-less (conservatively kept), so
      // every pruned file is in-scope — require real in-scope pruning
      val scopedPruned =
        kept < tot && (kept - (tot - inScope)) * 2 <= inScope
      dfW.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"), round(sum("l_quantity"), 4).as("sum_qty"))
        .select(col("l_returnflag"), col("n_rows"), col("sum_qty"),
          lit(vS).as("final_version"),
          lit(outIdentical).as("out_of_scope_identical"),
          lit(dvCarried).as("dv_out_of_scope_applies"),
          lit(feedSilent).as("feed_silent"),
          lit(scopedPruned).as("in_scope_pruned"))
        .orderBy("l_returnflag")
    }),

    /** RESTORE TABLE TO VERSION, driver-gated end to end
      * ([[graft.sources.SnapshotTable.restore]] — the public Delta
      * RESTORE contract: a metadata-only commit pointing back at an
      * earlier version's files/DVs/stats). The gate builds a ladder
      * with a "bad" DV delete and a "bad" append, restores to the
      * pre-damage version, and asserts the restored relation equals
      * the time-travel read of the target EXACTLY (claim), the undone
      * history stays readable (claim), restore-to-current is a no-op
      * commit-wise (claim), and the change feed across the restore
      * CONVERGES: old-state minus feed-deletes plus feed-inserts is
      * multiset-identical to the restored state (claim) — the law that
      * makes replicas and MVs downstream of a restored table heal
      * without reseeding.
      *
      * Scale shape: the restore itself is driver-side manifest
      * arithmetic — no data moves at any table size; the one scan is
      * constraint validation, skipped here (none registered). */
    "q309_restore" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("rst", d)
      val tbl = dir.resolve("t").toString
      val base = lineitem(s, d).select(col("l_orderkey"),
        col("l_returnflag"), col("l_quantity"))
      SnapshotTable.write(s, tbl, base.filter(col("l_orderkey") % 3 === 0),
        "l_returnflag") // v1
      SnapshotTable.append(s, tbl, base.filter(col("l_orderkey") % 3 === 1),
        "l_returnflag") // v2: the good state
      SnapshotTable.deleteWhereDV(s, tbl, col("l_orderkey") % 7 === 0) // v3: bad delete
      SnapshotTable.append(s, tbl, base.filter(col("l_orderkey") % 3 === 2),
        "l_returnflag") // v4: bad append
      val beforeRestore = SnapshotTable.read(s, tbl)
      val asOfTarget = SnapshotTable.read(s, tbl, Some(2L))
      val vR = SnapshotTable.restore(s, tbl, 2L) // v5
      val after = SnapshotTable.read(s, tbl)
      val restoredExact = after.count() == asOfTarget.count() &&
        multisetEqual(after, asOfTarget)
      val historyIntact = // undone versions stay time-travel readable
        SnapshotTable.read(s, tbl, Some(4L)).count() == beforeRestore.count()
      val noopCurrent = SnapshotTable.restore(s, tbl, vR) == vR
      // feed convergence across the restore: v4-state − deletes +
      // inserts ≡ v5-state (multiset) — what downstream CDC applies
      val (fv, ins, del) = SnapshotTable.readChangesSince(s, tbl, 4L).get
      val healed = beforeRestore.exceptAll(del).unionByName(ins)
      val feedConverges = fv == vR &&
        multisetEqual(healed, after)
      after.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"), round(sum("l_quantity"), 4).as("sum_qty"))
        .select(col("l_returnflag"), col("n_rows"), col("sum_qty"),
          lit(vR).as("final_version"),
          lit(restoredExact).as("restored_exact"),
          lit(historyIntact && noopCurrent).as("history_intact_noop_current"),
          lit(feedConverges).as("feed_converges"))
        .orderBy("l_returnflag")
    }),

    /** Data skipping FROM INGEST, driver-gated end to end
      * ([[graft.sources.SnapshotTable.setStatsColumns]] — the public
      * Delta indexed-columns contract: registered columns get per-file
      * min/max stats computed by EVERY content-adding commit on its new
      * files, in one multi-column pass, so [[graft.sources
      * .SnapshotTable.readRange]] prunes from the moment a batch lands
      * instead of waiting for OPTIMIZE). The gate ingests three
      * range-correlated chunks (the time-ordered-append pattern a real
      * ingest key has): one BEFORE registration (claim: stat-less files
      * scan conservatively — a window read keeps everything), one after
      * (claim: the new files — and ONLY they — carry stats for both
      * registered columns at commit time), backfills history with
      * ANALYZE, proves the narrow window now prunes (claim), and runs
      * OPTIMIZE proving maintenance keeps every current file covered on
      * the ingest key (claim). The pruned window's aggregate hashes
      * against the oracle's direct recompute.
      *
      * Scale shape: THE append-mostly 100 TB contract — a table
      * ingesting on event time / sequence id stays range-skippable with
      * zero maintenance in the loop; cost is one column-pruned pass
      * over each commit's own files. */
    "q310_ingest_stats" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("ist", d)
      val tbl = dir.resolve("t").toString
      val base = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
        col("l_returnflag"), col("l_quantity"))
      val r0 = base.agg(min(col("l_orderkey")).cast("long"),
        max(col("l_orderkey")).cast("long")).first()
      val (mn, mx) = (r0.getLong(0), r0.getLong(1))
      val (c1, c2) = (mn + (mx - mn) / 3, mn + 2 * (mx - mn) / 3)
      SnapshotTable.write(s, tbl,
        base.filter(col("l_orderkey") <= c1), "l_returnflag") // v1
      SnapshotTable.append(s, tbl,
        base.filter(col("l_orderkey") > c1 && col("l_orderkey") <= c2),
        "l_returnflag") // v2: pre-registration — no stats anywhere
      val (w1, w2) = (c2 + (mx - c2) / 4, c2 + (mx - c2) / 2)
      val (_, kPre, tPre) = SnapshotTable.readRange(s, tbl, "l_orderkey", w1, w2)
      val statlessScansAll = kPre == tPre && tPre > 0
      val filesPre = SnapshotTable.latest(s, tbl).get._2.toSet
      SnapshotTable.setStatsColumns(s, tbl,
        Seq("l_orderkey", "l_partkey")) // v3
      SnapshotTable.append(s, tbl,
        base.filter(col("l_orderkey") > c2), "l_returnflag") // v4: ingest stats
      val okStats = SnapshotTable.fileStats(s, tbl, "l_orderkey").keySet
      val pkStats = SnapshotTable.fileStats(s, tbl, "l_partkey").keySet
      val newFiles = SnapshotTable.latest(s, tbl).get._2.toSet -- filesPre
      val ingestCovered = newFiles.nonEmpty &&
        newFiles.forall(f => okStats.contains(f) && pkStats.contains(f)) &&
        filesPre.forall(f => !okStats.contains(f) && !pkStats.contains(f))
      SnapshotTable.analyzeStats(s, tbl, "l_orderkey") // v5: backfill history
      val (win, kPost, tPost) = SnapshotTable.readRange(s, tbl, "l_orderkey", w1, w2)
      val pruned = kPost * 2 <= tPost && kPost >= 1 && win.count() > 0
      val agg = win.groupBy("l_returnflag") // bound to v5's snapshot
        .agg(count(lit(1)).as("n_rows"), round(sum("l_quantity"), 4).as("sum_qty"))
      val (vC, _) = SnapshotTable.compact(s, tbl, "l_returnflag") // v6
      val okAfter = SnapshotTable.fileStats(s, tbl, "l_orderkey").keySet
      val maintCovered = SnapshotTable.latest(s, tbl).get._2
        .forall(okAfter.contains)
      agg.select(col("l_returnflag"), col("n_rows"), col("sum_qty"),
          lit(vC).as("final_version"),
          lit(statlessScansAll).as("statless_scans_all"),
          lit(ingestCovered).as("ingest_covered_new_files_only"),
          lit(pruned).as("window_pruned_after_backfill"),
          lit(maintCovered).as("maintenance_keeps_coverage"))
        .orderBy("l_returnflag")
    }),

    /** STRING-column data skipping, driver-gated end to end
      * ([[graft.sources.SnapshotTable.readRangeString]] /
      * [[graft.sources.SnapshotTable.readPrefix]] — lexicographic
      * per-file min/max string stats riding the same '%' manifest
      * lines as numeric stats, `s:`-marked and URL-encoded, computed
      * at INGEST for registered string columns): a documents table
      * gets a derived `day` date-string key (the shape a real corpus
      * ingests on), three calendar-ordered chunks land — one before
      * registration (stat-less, claim), two after (string-stat-covered
      * at commit, claim) — ANALYZE backfills history type-aware, a
      * month window prunes to the window's files (claim), a month
      * PREFIX read prunes and stays exact vs a direct filter (claim),
      * and the NUMERIC range read on the string column stays
      * conservative — every file kept, none wrongly skipped (claim).
      * The month window's per-language aggregate hashes against the
      * oracle's direct recompute.
      *
      * Scale shape: the corpus-table contract — date-string / URL /
      * source keys are what a 100 TB documents table actually ingests
      * on, and a month-windowed read touches the month's files, never
      * the corpus. */
    "q311_string_skipping" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("sst", d)
      val tbl = dir.resolve("t").toString
      val base = documents(s, d).select(col("doc_id"), col("lang"),
        col("n_chars"),
        date_format(date_add(to_date(lit("2024-01-01")),
          (col("doc_id") % 300).cast("int")), "yyyy-MM-dd").as("day"))
      val m = col("doc_id") % 300
      SnapshotTable.write(s, tbl, base.filter(m < 100), "lang") // v1
      SnapshotTable.setStatsColumns(s, tbl, Seq("day")) // v2
      val filesPre = SnapshotTable.latest(s, tbl).get._2.toSet
      SnapshotTable.append(s, tbl, base.filter(m >= 100 && m < 200),
        "lang") // v3
      SnapshotTable.append(s, tbl, base.filter(m >= 200), "lang") // v4
      val strStats = SnapshotTable.fileStatsStr(s, tbl, "day").keySet
      val newFiles = SnapshotTable.latest(s, tbl).get._2.toSet -- filesPre
      val ingestCovered = newFiles.nonEmpty && newFiles.forall(strStats) &&
        filesPre.forall(f => !strStats(f))
      val vA = SnapshotTable.analyzeStats(s, tbl, "day") // v5: type-aware
      val (win, kW, tW) = SnapshotTable.readRangeString(s, tbl, "day",
        "2024-05-01", "2024-05-31")
      val windowPruned = kW * 2 <= tW && kW >= 1 && win.count() > 0
      val (pre, kP, tP) = SnapshotTable.readPrefix(s, tbl, "day", "2024-02")
      val wantPre = base.filter(col("day").startsWith("2024-02")).count()
      val prefixPrunedExact = kP * 2 <= tP && pre.count() == wantPre
      // the NUMERIC view of a string column is stat-less by design:
      // readRange must keep (scan) every file, never skip one wrongly
      val (_, kN, tN) = SnapshotTable.readRange(s, tbl, "day", 0L, 1L)
      val numericConservative = kN == tN
      win.groupBy("lang")
        .agg(count(lit(1)).as("n_rows"),
          sum("n_chars").cast("long").as("sum_chars"))
        .select(col("lang"), col("n_rows"), col("sum_chars"),
          lit(vA).as("final_version"),
          lit(ingestCovered).as("ingest_covered_new_files_only"),
          lit(windowPruned).as("month_window_pruned"),
          lit(prefixPrunedExact).as("prefix_pruned_exact"),
          lit(numericConservative).as("numeric_view_conservative"))
        .orderBy("lang")
    }),

    /** Merge-on-read MERGE, driver-gated end to end
      * ([[graft.sources.SnapshotTable.mergeDV]] — the Iceberg
      * merge-on-read / Delta DV-merge upsert: matched target rows
      * DV-delete at their addresses, every update row lands in
      * update-sized appended files, one atomic commit). The gate
      * upserts a mixed batch (updates bump a bigint column on a 1/5
      * key slice; inserts add fresh keys in a NEW partition value) and
      * asserts the counts are exact (claim), NO pre-existing data file
      * left the manifest — the MoR write-amplification contract the
      * CoW [[graft.sources.SnapshotTable.merge]] cannot give (claim),
      * the DVs applied (relation matches the oracle recompute), a
      * second stacked mergeDV sees the FIRST's values (claim), and
      * OPTIMIZE folds it all back to a DV-free snapshot with the same
      * relation (claim).
      *
      * Scale shape: one key-probe scan + matched-rows DV bytes +
      * batch-sized file bytes per upsert, independent of partition
      * spread — vs CoW's re-stage of every matched partition. */
    "q312_merge_mor" -> ((s, d) => {
      import graft.sources.SnapshotTable
      val dir = gateDir("mmr", d)
      val tbl = dir.resolve("t").toString
      val base = orders(s, d).select(col("o_orderkey"),
        col("o_orderstatus"), col("o_custkey"))
      val maxKey = base.agg(max(col("o_orderkey")).cast("long"))
        .first().getLong(0)
      SnapshotTable.write(s, tbl, base, "o_orderstatus") // v1
      val filesBefore = SnapshotTable.latest(s, tbl).get._2.toSet
      val upd = base.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_custkey", col("o_custkey") + 1000000L)
      val ins = base.filter(col("o_orderkey") % 7 === 3)
        .select((col("o_orderkey") + maxKey).as("o_orderkey"),
          lit("Z").as("o_orderstatus"), col("o_custkey"))
      val (v2, matched, inserted) =
        SnapshotTable.mergeDV(s, tbl, "o_orderstatus", "o_orderkey",
          upd.unionByName(ins)) // v2
      val wantM = base.filter(col("o_orderkey") % 5 === 0).count()
      val wantI = base.filter(col("o_orderkey") % 7 === 3).count()
      val countsExact = v2 == 2L && matched == wantM && inserted == wantI
      val filesAfter = SnapshotTable.latest(s, tbl).get._2.toSet
      val noRewrite = filesBefore.subsetOf(filesAfter) &&
        SnapshotTable.latestFull(s, tbl).get._3.nonEmpty
      // stacking: a second MoR merge on already-merged keys sees the
      // FIRST merge's values (DV-applied probe), not the originals
      val restack = base.filter(col("o_orderkey") % 5 === 0 &&
          col("o_orderkey") % 3 === 0)
        .withColumn("o_custkey", col("o_custkey") + 3000000L)
      val (v3, m2, i2) =
        SnapshotTable.mergeDV(s, tbl, "o_orderstatus", "o_orderkey", restack)
      val stacks = v3 == 3L && m2 == restack.count() && i2 == 0L
      val beforeFold = SnapshotTable.read(s, tbl)
      val beforeCount = beforeFold.count()
      val (v4, _) = SnapshotTable.compact(s, tbl, "o_orderstatus") // folds
      val after = SnapshotTable.read(s, tbl)
      val foldIdentical = SnapshotTable.latestFull(s, tbl).get._3.isEmpty &&
        after.count() == beforeCount &&
        multisetEqual(after, beforeFold)
      after.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), sum("o_custkey").as("sum_cust"))
        .select(col("o_orderstatus"), col("n_rows"), col("sum_cust"),
          lit(v4).as("final_version"),
          lit(countsExact).as("counts_exact"),
          lit(noRewrite).as("no_data_file_rewritten"),
          lit(stacks).as("stacked_merge_sees_merged"),
          lit(foldIdentical).as("optimize_folds_identical"))
        .orderBy("o_orderstatus")
    }),

    /** In-place crash-safe small-file compaction, driver-gated (the
      * second half of VERDICT r11 #2's named machinery —
      * [[graft.sources.Layouts.compactParquet]], the two-marker
      * intent/commit protocol for plain parquet directories without a
      * manifest): a 40-part fragmented write compacts in place; the
      * read-back hashes against the oracle's recompute from the raw
      * table (compaction moves bytes, never rows), and the claims pin
      * the post-compaction file count (1 at this size), that it
      * SHRANK, and that no protocol markers survive the hand-over.
      * The crash-point matrix (roll forward iff committed) stays in
      * LayoutsSpec — a query gate cannot kill a JVM mid-rename.
      *
      * Scale shape: one distributed read + one coalesced write of the
      * crowded set; replay cost is marker inspection, not data. */
    "q281_compact_inplace" -> ((s, d) => {
      import graft.sources.Layouts
      val dir = gateDir("ci", d)
      val base = lineitem(s, d)
        .select("l_orderkey", "l_returnflag", "l_quantity")
      base.repartition(40).write.mode("overwrite").parquet(dir.toString)
      def files: Array[java.io.File] = Option(dir.toFile.listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      val nBefore = files.length
      val nAfter = Layouts.compactParquet(s, dir.toString)
      val markers = Option(dir.toFile.listFiles()).getOrElse(Array.empty)
        .count(f => f.getName.startsWith("_compact_"))
      s.read.parquet(dir.toString)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 4).as("sum_qty"))
        .select(col("l_returnflag"), col("n_rows"), col("sum_qty"),
          lit(nAfter.toLong).as("n_files_after"),
          lit(nBefore > nAfter).as("compacted"),
          lit(markers == 0).as("markers_cleared"))
        .orderBy("l_returnflag")
    }),

    /** Z-order layout pruning, driver-gated end to end (the q277
      * pattern applied to [[graft.sources.Layouts.writeZOrdered]],
      * previously spec-gated only): the fact writes Morton-bucketed on
      * (partkey, suppkey) — 3 bits per dim, 64 partition directories —
      * and a rectangle query (the middle-eighth of each key range,
      * bounds derived from min/max by INTEGER division so both engines
      * compute identical corners) reads back through the bucket IN-list
      * + residual predicates. The aggregate hashes against the oracle's
      * direct rectangle filter over the raw table — layout routes rows,
      * never changes the relation — and the claim column pins that the
      * planner touched at most a quarter of the buckets (the measured
      * value is ~4 of 64; PlanAuditSpec pins the zb partition filter).
      *
      * Scale shape: the write is one shuffle on the bucket column; the
      * read lists only intersecting partition dirs at planning time —
      * the multi-dimensional analogue of q259's dynamic pruning, and
      * the layout every lakehouse maintains for 2-D range workloads. */
    "q280_zorder_pruning" -> ((s, d) => {
      import graft.sources.Layouts
      val dir = gateDir("zo", d)
      val base = lineitem(s, d)
        .select("l_partkey", "l_suppkey", "l_returnflag", "l_quantity")
      val meta = Layouts.writeZOrdered(base, dir.toString,
        "l_partkey", "l_suppkey", bitsPerDim = 3)
      val xLo = meta.minX + (meta.maxX - meta.minX) / 8
      val xHi = meta.minX + (meta.maxX - meta.minX) / 4
      val yLo = meta.minY + (meta.maxY - meta.minY) / 8
      val yHi = meta.minY + (meta.maxY - meta.minY) / 4
      val listed = Layouts.zBucketsFor(meta, xLo, xHi, yLo, yHi).size
      Layouts.readZOrdered(s, dir.toString, meta,
        "l_partkey", "l_suppkey", xLo, xHi, yLo, yHi)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 4).as("sum_qty"))
        .select(col("l_returnflag"), col("n_rows"), col("sum_qty"),
          lit(64L).as("n_buckets_total"),
          lit(listed * 4 <= 64).as("zorder_pruned"))
        .orderBy("l_returnflag")
    }),

    /** TPC-H Q10 shape (returned-item reporting): revenue lost to
      * returns per customer for one order quarter, top 20 customers.
      * The returnflag filter prunes the fact scan, the quarter filter
      * prunes orders BEFORE the join, and the nation dim broadcasts;
      * revenue lands on the 4-dec lattice BEFORE the top-20 cut
      * (round-then-rank, the q205 rule) with c_custkey tie-break. */
    "q224_tpch_q10" -> ((s, d) => {
      val o = orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      lineitem(s, d).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), revenue.as("rev"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d)
          .select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d).select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(round(sum("rev"), 4).as("revenue"))
        .orderBy(desc("revenue"), col("c_custkey"))
        .limit(20)
    }),

    /** Forced bucketed-layout tier (q216's sibling): the fact ⋈ orders
      * join routed through [[graft.sources.Layouts.writeBucketed]]
      * tables — both sides pre-hashed into 8 matching buckets, so the
      * join runs WITHOUT a shuffle on either side (PlanAuditSpec pins
      * the no-exchange shape). The forced-tier contract: the bucketed
      * plan must reproduce the plain join's bytes exactly — the layout
      * routes rows, it never changes the relation. The oracle IS the
      * plain join.
      *
      * Scale shape: at 100 TB this is the nightly-written co-located
      * fact layout every warehouse maintains precisely so repeated
      * key joins stop paying the shuffle. */
    "q240_bucketed_join" -> ((s, d) => {
      val li = lineitem(s, d).select(col("l_orderkey"), revenue.as("rev"))
      val ord = orders(s, d).select("o_orderkey", "o_orderpriority")
      // a PREVIOUS JVM may have left the managed location behind while
      // this session's in-memory catalog has never heard of the table —
      // saveAsTable refuses that state, so drop both sides explicitly
      for (t <- Seq("graft_q240_li", "graft_q240_ord")) {
        s.sql(s"DROP TABLE IF EXISTS $t")
        val wh = s.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:")
        deleteTree(new java.io.File(wh, t))
      }
      graft.sources.Layouts.writeBucketed(li, "graft_q240_li", 8, Seq("l_orderkey"))
      graft.sources.Layouts.writeBucketed(ord, "graft_q240_ord", 8, Seq("o_orderkey"))
      s.table("graft_q240_li")
        .join(s.table("graft_q240_ord"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"), round(sum("rev"), 4).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    /** Forced layout tier: DYNAMIC PARTITION PRUNING (q240's sibling for
      * the partitioned-fact layout). The fact is staged partitioned by
      * ship month — the nightly date-partitioned layout every warehouse
      * writes — then joined to a month dimension filtered on a
      * NON-partition attribute (the quarter label), so static pruning
      * cannot fire and only Catalyst's runtime DPP subquery (fed from
      * the broadcast dim) can skip the untouched month directories.
      * PlanAuditSpec pins `dynamicpruning` inside the scan's
      * PartitionFilters. The forced-tier contract: the partitioned plan
      * must reproduce the plain predicate's bytes — the oracle computes
      * the same months straight from the raw tables.
      *
      * Scale shape: at 100 TB the fact has ~hundreds of month
      * partitions; DPP means a quarter-scoped query reads 3 of them —
      * the scan-pruning feature that makes date-partitioned layouts
      * work without the user hand-writing partition predicates. */
    "q259_dynamic_pruning" -> ((s, d) => {
      val stage = gateDir("q259_fact", d)
      lineitem(s, d)
        .withColumn("l_month", date_format(col("l_shipdate"), "yyyy-MM"))
        .select(col("l_month"), revenue.as("rev"))
        .write.mode("overwrite").partitionBy("l_month")
        .parquet(stage.toString)
      val monthDim = orders(s, d)
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("m_month"),
          concat(year(col("o_orderdate")).cast("string"), lit("-Q"),
            quarter(col("o_orderdate")).cast("string")).as("m_quarter"))
        .distinct()
      s.read.parquet(stage.toString)
        .join(broadcast(monthDim.filter(col("m_quarter") === "1996-Q2")),
          col("l_month") === col("m_month"))
        .groupBy("l_month")
        .agg(count(lit(1)).as("n_rows"), round(sum("rev"), 4).as("revenue"))
        .orderBy("l_month")
    }),

    /** Forced optimizer tier: RUNTIME BLOOM-FILTER JOIN (the row-level
      * sibling of q259's partition-level pruning). With the broadcast
      * path disabled — the 100 TB regime where the filtered build side
      * is still too big to broadcast — Catalyst injects a
      * bloom_filter aggregate on the selective side and a
      * bloom_filter_might_contain probe onto the fact scan, so most
      * non-matching rows die BEFORE the shuffle instead of after it.
      * Thresholds are lowered in-session to fire at test scale and the
      * result is materialized before the confs are restored (the
      * shared Verify session must not leak a disabled-broadcast
      * optimizer to other queries). The oracle is the plain join.
      *
      * Scale shape: the shuffle writes only probable-match rows —
      * for a 1%-selective dim filter that is a ~100× cut in shuffled
      * fact bytes, the difference between a join that fits and one
      * that spills. */
    "q260_bloom_join" -> ((s, d) => {
      import s.implicits._
      val confs = Seq(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      val rows =
        try {
          confs.foreach { case (k, v) => s.conf.set(k, v) }
          lineitem(s, d).select(col("l_partkey"), revenue.as("rev"))
            .join(part(s, d).filter(col("p_brand") === "Brand#23")
                .select("p_partkey", "p_type"),
              col("l_partkey") === col("p_partkey"))
            .groupBy("p_type")
            .agg(count(lit(1)).as("n_rows"), round(sum("rev"), 4).as("revenue"))
            .orderBy("p_type")
            .collect().toSeq
        } finally saved.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toDF("p_type", "n_rows", "revenue")
    }),

    /** Forced skew tier: the q5-style fact ⋈ orders join routed through
      * [[graft.sources.Layouts.saltedJoin]] (n = 8) — the manual remedy
      * when one hot key floods a shuffle partition past what AQE's
      * skew-split handles. The forced-tier contract (d81/d83): the
      * salted plan must reproduce the plain join's bytes exactly — the
      * salt routes rows, it never changes the relation. The oracle IS
      * the plain join.
      *
      * Scale shape: left rows scatter across n salted copies of their
      * key, the right side replicates ×n (dims/medium tables only —
      * that's the trade), so the hottest key's work spreads over n
      * tasks. */
    "q216_salted_join" -> ((s, d) => {
      val li = lineitem(s, d).select(col("l_orderkey"), revenue.as("rev"))
      val ord = orders(s, d).select("o_orderkey", "o_orderpriority")
      graft.sources.Layouts.saltedJoin(li, ord, "l_orderkey", "o_orderkey", n = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"), round(sum("rev"), 4).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    /** The full TPC-H Q1 pricing summary, executed through the
      * `spark.sql` TEXT surface over a registered temp view — the gate
      * that a SQL-first user (no Column DSL) gets the identical engine:
      * same Catalyst plan, same lattice discipline (sums rounded at
      * their natural decimal precision, averages at 6). Completes the
      * TPC-H set beside q205/q206/q207's DSL join shapes. */
    "q212_sql_entry" -> ((s, d) => {
      lineitem(s, d).createOrReplaceTempView("lineitem_sqlv")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
          round(sum(l_quantity), 4) AS sum_qty,
          round(sum(l_extendedprice), 2) AS sum_base_price,
          round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
          round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 4) AS sum_charge,
          round(avg(l_quantity), 6) AS avg_qty,
          round(avg(l_extendedprice), 6) AS avg_price,
          round(avg(l_discount), 6) AS avg_disc,
          count(*) AS count_order
        FROM lineitem_sqlv
        WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")
    }),

    /** S1+P1: scan with projection + pushed filter. `.explain` shows
      * PushedFilters + 3-column ReadSchema (ref: src/etl_functions.py:199-353). */
    "q2_scan_project" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")),

    /** P3: equality filter (ref: src/etl_functions.py:384). */
    "q3_filter_eq" -> ((s, d) =>
      orders(s, d)
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")),

    /** P4+P5: inequality filter + derived boolean predicate column
      * (ref: src/etl_functions.py:116,385). */
    "q4_filter_range" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_quantity") <= 10)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_discount") <= 0.02).as("low_discount"))
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- joins (J1-J7) ------------------------------------------------

    /** J2: inner equi-join on the fact grain (ref: src/etl_functions.py:215-220).
      * No broadcast hint: orders grows with the fact table, so a pinned
      * broadcast OOMs executors at 100× (r2 verdict). AQE still *chooses*
      * broadcast when the projected orders side fits under the threshold —
      * the local-scale win without the cluster-scale cliff. */
    "q5_join_inner" -> ((s, d) =>
      lineitem(s, d)
        .join(orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"), "inner")
        .select("l_orderkey", "l_linenumber", "o_custkey", "o_orderdate", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")),

    /** J1+J3: left outer join + null-fill on the no-match side
      * (ref: src/etl_functions.py:120-125,230-233). Orders with no lineitem
      * rows get revenue 0. */
    "q6_join_left_fill" -> ((s, d) => {
      val rev = lineitem(s, d).groupBy("l_orderkey")
        .agg(sum(revenue).as("rev"), count(lit(1)).as("n_items"))
      orders(s, d).select("o_orderkey", "o_orderstatus")
        .join(rev, col("o_orderkey") === col("l_orderkey"), "left")
        .select(
          col("o_orderkey"), col("o_orderstatus"),
          // revenue = 2-dec price × 2-dec (1-discount) → a 4-decimal lattice;
          // round AT the lattice precision — rounding at 2 hits exact .xx5
          // ties where Spark (BigDecimal HALF_UP) and DuckDB (x*100 trick)
          // disagree on the same double. At 4 decimals ties are impossible.
          round(coalesce(col("rev"), lit(0.0)), 4).as("revenue"),
          coalesce(col("n_items"), lit(0L)).as("n_items"))
        .orderBy("o_orderkey")
    }),

    /** J5/J6: star join — fact through two broadcast dimension hops
      * (ref BI model: src/etl_functions.py:489-493). region/nation are
      * KB-scale → Catalyst picks BroadcastHashJoin for every hop. */
    "q7_join_star" -> ((s, d) =>
      lineitem(s, d)
        .join(orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          round(sum(revenue), 4).as("revenue"),
          countDistinct("o_orderkey").as("order_count"))
        .orderBy("r_name", "n_name")),

    /** J4: aggregate below join, then attach dimension attributes via
      * differently-named keys (ref: src/etl_functions.py:270-276). */
    "q8_join_diffkey" -> ((s, d) => {
      val perCust = orders(s, d).groupBy("o_custkey")
        .agg(round(sum("o_totalprice"), 2).as("total_spend"),
          count(lit(1)).as("order_count"))
      perCust
        .join(customer(s, d).select("c_custkey", "c_name", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"), "inner")
        .drop("c_custkey")
        .orderBy("o_custkey")
    }),

    /** J7: anti-join (set-difference FK check,
      * ref: notebooks/01_etl_process.ipynb cell 21:5-13) — customers with
      * no high-value order. */
    "q9_join_anti" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d).filter(col("o_totalprice") > 300000.0).select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")),

    /** Semi-join (EXISTS) — dual of J7. */
    "q10_join_semi" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d).select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_nationkey")
        .orderBy("c_custkey")),

    // ---- aggregations (A2-A13) ----------------------------------------

    /** A2: two-level rollup with the reference's sum-of-per-day-distinct
      * semantics (ref: src/etl_functions.py:261-283, hazard H2) —
      * monthly order_count = SUM over days of per-day countDistinct,
      * deliberately NOT month-level distinct. */
    "q11_rollup" -> ((s, d) => {
      val daily = lineitem(s, d)
        .groupBy(to_date(col("l_shipdate")).as("ship_day"))
        .agg(
          countDistinct("l_orderkey").as("order_count"),
          sum("l_extendedprice").as("total_sales"))
      daily
        .groupBy(
          year(col("ship_day")).as("year"),
          month(col("ship_day")).as("month"))
        .agg(
          sum("order_count").as("order_count"),
          round(sum("total_sales"), 2).as("total_sales"))
        .orderBy("year", "month")
    }),

    /** A5: composite-key hash aggregate (ref: src/etl_functions.py:337-340). */
    "q12_group_composite" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"), year(col("l_shipdate")).as("ship_year"))
        .agg(
          countDistinct("l_orderkey").as("order_count"),
          sum("l_quantity").as("sum_qty"))
        .orderBy("l_returnflag", "ship_year")),

    /** A8: global min/max bounds — the reference's one intentional
      * driver-side materialization shape (ref: src/etl_functions.py:149-150);
      * kept fully lazy here as a 1-row aggregate. */
    "q13_minmax" -> ((s, d) =>
      orders(s, d).agg(
        min("o_orderdate").as("min_date"),
        max("o_orderdate").as("max_date"),
        min("o_totalprice").as("min_price"),
        max("o_totalprice").as("max_price"))),

    /** A9: exact interpolating median, global and per-group
      * (ref: src/etl_functions.py:87-88). */
    "q14_median" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          median(col("l_quantity")).as("median_qty"),
          median(col("l_extendedprice")).as("median_price"))
        .orderBy("l_returnflag")),

    /** A10+F15: NPS-style conditional aggregation collapsed into one pass
      * (ref: src/etl_functions.py:382-389). */
    "q15_conditional_agg" -> ((s, d) =>
      lineitem(s, d).agg(
        sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("n_accept"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_return"),
        count(lit(1)).as("n_total"),
        ((sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)) -
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))).cast("double") /
          count(lit(1)) * 100.0).as("nps_like"))),

    /** A11: per-column null counts in a single pass
      * (ref: notebooks/01_etl_process.ipynb cell 21:17). Nulls are
      * synthesized deterministically so the operator is actually exercised. */
    "q16_nullcount" -> ((s, d) =>
      events(s, d)
        .select(
          nullif(col("event_type"), lit("error")).as("event_type_n"),
          when(col("value") < 1.0, lit(null)).otherwise(col("value")).as("value_n"))
        .agg(
          sum(when(col("event_type_n").isNull, 1L).otherwise(0L)).as("null_event_type"),
          sum(when(col("value_n").isNull, 1L).otherwise(0L)).as("null_value"),
          count(lit(1)).as("n_total"))),

    /** A12: histogram / group-by count
      * (ref: notebooks/01_etl_process.ipynb cell 23:42). */
    "q17_histogram" -> ((s, d) =>
      events(s, d).groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")),

    /** T1: top-K via sort+limit → TakeOrderedAndProjectExec; no full sort
      * at scale (ref: notebooks/01_etl_process.ipynb cell 23:20). Tie-broken
      * on the unique key so output is deterministic. */
    "q18_topk" -> ((s, d) =>
      orders(s, d).groupBy("o_custkey")
        .agg(round(sum("o_totalprice"), 2).as("total_spend"))
        .orderBy(desc("total_spend"), col("o_custkey"))
        .limit(10)),

    /** A13/§3.3: the DAX measure surface — SUM, exact DISTINCTCOUNT, safe
      * DIVIDE, under a dimension filter (ref: src/etl_functions.py:500-504,
      * 530-534). try_divide ⇒ null on /0, matching DAX DIVIDE blank. */
    "q19_measures" -> ((s, d) =>
      lineitem(s, d)
        .join(orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d).select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment") =!= "MACHINERY")
        .groupBy("c_mktsegment")
        .agg(
          round(sum("l_extendedprice"), 2).as("total_sales"),
          round(sum(col("l_extendedprice") * col("l_tax")), 4).as("total_tax"),
          countDistinct("l_orderkey").as("order_count"),
          round(try_divide(sum("l_extendedprice"), countDistinct("l_orderkey").cast("double")), 6)
            .as("avg_order_value"),
          round(try_divide(sum(col("l_extendedprice") * col("l_tax")),
            sum("l_extendedprice")) * 100.0, 6).as("tax_percentage"))
        .orderBy("c_mktsegment")),

    /** The 100 TB tier of the A13 measure surface
      * ([[graft.etl.Measures.evaluateApprox]]'s shape, previously
      * spec-gated only): the same measure battery with exact
      * DISTINCTCOUNT replaced by HyperLogLog++ `approx_count_distinct`
      * (rsd 1%) — the single-pass mergeable sketch that removes the
      * distinct expansion at scale. Claim-gated the q65/q91 way: the
      * additive measures hash exactly; the sketch-fed measures
      * (order_count, avg_order_value) assert their error contract —
      * within 5 rsd of the exact value (~5σ; HLL++ bias-corrected, so
      * deterministic-in-practice at any corpus) — because sketch
      * estimates are engine internals no oracle can reproduce.
      *
      * Aggregation shape (measured, transferable — the q110 rule's HLL
      * sibling): NEVER put an HLL aggregate in the same Aggregate as a
      * count_distinct. The distinct rewrite regroups on (group, key),
      * and a same-slot sketch rides that grain — at rsd 1% that is a
      * 2¹⁴-register (~13 KB) buffer PER DISTINCT KEY flowing through
      * two exchanges (measured 6 s vs 1.3 s for q19's exact-only twin
      * at sf0.1). Here the fact collapses to the order grain once
      * (the regroup the exact count needs anyway), and BOTH the exact
      * count and the sketch run on the collapsed frame — one fact
      * pass, KB-sized sketch state only at the segment grain. A pure
      * production deployment (sketch only, no claim to gate) skips the
      * key-grain regroup entirely: one partial+final aggregate. */
    "q282_measures_approx" -> ((s, d) => {
      val orderGrain = lineitem(s, d)
        .join(orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d).select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment") =!= "MACHINERY")
        .groupBy("c_mktsegment", "l_orderkey")
        .agg(sum("l_extendedprice").as("order_sales"))
      val m = orderGrain
        .groupBy("c_mktsegment")
        .agg(
          round(sum("order_sales"), 2).as("total_sales"),
          count(lit(1)).as("exact_count"),
          approx_count_distinct(col("l_orderkey"), 0.01).as("approx_count"))
        .withColumn("avg_order_value_approx",
          round(try_divide(col("total_sales"),
            col("approx_count").cast("double")), 6))
      m.select(col("c_mktsegment"), col("total_sales"), col("exact_count"),
          (abs(col("approx_count") - col("exact_count")) <=
            greatest(col("exact_count") * 0.05, lit(1.0))).as("count_ok"),
          (abs(col("avg_order_value_approx") -
            try_divide(col("total_sales"), col("exact_count").cast("double")))
            <= try_divide(col("total_sales"), col("exact_count").cast("double"))
              * 0.06).as("avg_ok"))
        .orderBy("c_mktsegment")
    }),

    // ---- scalar functions (F2-F16) ------------------------------------

    /** F2-F6: date-part extraction — year/month/day/quarter, pandas
      * Monday=0 weekday (Spark weekday(), hazard H4), is_weekend,
      * yyyyMMdd surrogate id, locale month/day names
      * (ref: src/etl_functions.py:97-101,159-170). */
    "q20_date_parts" -> ((s, d) =>
      orders(s, d)
        .select(date_trunc("DAY", col("o_orderdate")).cast("timestamp_ntz").as("order_day"))
        .distinct()
        .select(
          col("order_day"),
          year(col("order_day")).as("year"),
          month(col("order_day")).as("month"),
          dayofmonth(col("order_day")).as("day"),
          quarter(col("order_day")).as("quarter"),
          weekday(col("order_day")).as("dayofweek"),
          weekday(col("order_day")).isin(5, 6).cast("long").as("is_weekend"),
          date_format(col("order_day"), "yyyyMMdd").cast("long").as("date_id"),
          date_format(col("order_day"), "MMMM").as("month_name"),
          date_format(col("order_day"), "EEEE").as("dayofweek_name"))
        .orderBy("order_day")),

    /** F7: timestamp difference in fractional days via epoch-second cast
      * (ref: src/etl_functions.py:104-113). Like q5, no broadcast hint on
      * the corpus-scaling orders side — AQE decides per actual size. */
    "q21_date_diff" -> ((s, d) =>
      lineitem(s, d)
        .join(orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          ((col("l_shipdate").cast("timestamp").cast("double") -
            col("o_orderdate").cast("timestamp").cast("double")) / 86400.0)
            .as("days_to_ship"))
        .orderBy("l_orderkey", "l_linenumber")),

    /** F8: date-dimension generation — sequence(min,max,1 day) + explode
      * (ref: src/etl_functions.py:154). Stays lazy: the min/max aggregate
      * feeds sequence() inside the same plan, no driver collect. */
    "q22_date_sequence" -> ((s, d) =>
      orders(s, d)
        .agg(min(to_date(col("o_orderdate"))).as("lo"), max(to_date(col("o_orderdate"))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("d"))
        .select(
          col("d").cast("timestamp_ntz").as("date"),
          date_format(col("d"), "yyyyMMdd").cast("long").as("date_id"))
        .orderBy("date")),

    /** F9-F11: imputation — numeric nulls → column median, string nulls →
      * 'unknown' (ref: src/etl_functions.py:84-92). Nulls synthesized
      * deterministically; the median is collected driver-side exactly like
      * the reference's stage-2 barrier (SURVEY §3.1). */
    "q23_impute" -> ((s, d) => {
      val withNulls = events(s, d).select(
        col("event_id"),
        nullif(col("event_type"), lit("error")).as("event_type"),
        when(col("value") < 1.0, lit(null).cast("double")).otherwise(col("value")).as("value"))
      val med = withNulls.agg(median(col("value"))).first().getDouble(0)
      withNulls.na.fill(med, Seq("value")).na.fill("unknown", Seq("event_type"))
        .orderBy("event_id")
    }),

    /** F12: string concatenation (ref: src/etl_functions.py:343). */
    "q24_concat" -> ((s, d) =>
      customer(s, d)
        .select(
          col("c_custkey"),
          concat(col("c_name"), lit(" ("), col("c_mktsegment"), lit(")")).as("label"))
        .orderBy("c_custkey")),

    /** F16: numeric casts / truncation (ref: src/etl_functions.py:164-233).
      * floor() on both sides — raw double→int cast rounds in DuckDB but
      * truncates in Spark, so the portable form is explicit floor. */
    "q25_casts" -> ((s, d) =>
      lineitem(s, d)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          floor(col("l_extendedprice")).as("price_floor"),
          round(col("l_discount") * 100.0, 0).cast("long").as("discount_pct"),
          col("l_quantity").cast("long").as("qty_int"))
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- set ops / distinct -------------------------------------------

    /** Set operation: UNION ALL of two disjoint filtered slices. */
    "q26_union" -> ((s, d) => {
      val hi = orders(s, d).filter(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey"), lit("high").as("band"))
      val lo = orders(s, d).filter(col("o_totalprice") < 1000.0)
        .select(col("o_orderkey"), lit("low").as("band"))
      hi.unionByName(lo).orderBy("o_orderkey")
    }),

    /** DISTINCT → ReplaceDistinctWithAggregate (SURVEY §4.2). */
    "q27_distinct" -> ((s, d) =>
      lineitem(s, d).select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")),

    /** INTERSECT / EXCEPT (set semantics — Catalyst rewrites both to
      * semi/anti joins over distinct): customers appearing in both halves
      * of the order book, and in the first but not the second. */
    "q63_setops" -> ((s, d) => {
      val firstHalf = orders(s, d).filter(col("o_orderkey") % 2 === 0)
        .select(col("o_custkey"))
      val secondHalf = orders(s, d).filter(col("o_orderkey") % 2 === 1)
        .select(col("o_custkey"))
      firstHalf.intersect(secondHalf).select(col("o_custkey"), lit("both").as("side"))
        .unionByName(
          firstHalf.except(secondHalf).select(col("o_custkey"), lit("only_even").as("side")))
        .orderBy("o_custkey", "side")
    }),

    // ---- window functions (north-star extension; SURVEY §2.5) ---------

    /** Ranking window: top-3 orders per market segment via row_number,
      * deterministic tie-break on the unique key. */
    "q28_window_rank" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val joined = orders(s, d)
        .join(customer(s, d).select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      joined
        .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rank"))
        .filter(col("rank") <= 3)
        .orderBy("c_mktsegment", "rank")
    }),

    /** Column profiling — the data-quality census a pipeline runs before
      * ingesting a new 100 TB source: per-column null count, exact
      * distinct count, min/max (string-rendered so heterogeneous types
      * share one long-format schema).
      *
      * Scale shape: TWO streaming passes, deliberately not one. A fused
      * single-agg plan forces SortAggregate end-to-end (min/max over
      * string columns have immutable agg buffers, which disqualifies
      * HashAggregate), and the multi-distinct rewrite Expands the corpus
      * 7× — so the fused shape SORTS a 7×-expanded corpus twice.
      * Splitting lets each branch take its best shape: the
      * distinct+null-count branch (long buffers only) runs as a
      * map-side-deduped HashAggregate over the Expand, and the min/max
      * branch is a global zero-key aggregate (no sort is ever inserted
      * for an empty grouping); both are pure partial+final streams.
      * Exact distinct on every column is the expensive honest choice at
      * 100 TB; swap `count_distinct` for `approx_count_distinct`/q91's
      * HLL sketch when estimates suffice. */
    "q110_profile" -> ((s, d) => {
      val cols = Seq("o_custkey", "o_orderdate", "o_orderkey",
        "o_orderpriority", "o_orderstatus", "o_totalprice")
      val aggsD = cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        count_distinct(col(c)).as(s"${c}__distinct")))
      val aggsM = cols.flatMap(c => Seq(
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max")))
      val one = orders(s, d).agg(aggsD.head, aggsD.tail: _*)
        .crossJoin(broadcast(orders(s, d).agg(aggsM.head, aggsM.tail: _*)))
      one.select(expr(
        s"stack(${cols.length}, " +
          cols.map(c => s"'$c', `${c}__nulls`, `${c}__distinct`, `${c}__min`, `${c}__max`")
            .mkString(", ") +
          ") as (column_name, n_nulls, n_distinct, min_value, max_value)"))
        .orderBy("column_name")
    }),

    /** Frame window: per-customer running order total (rows between
      * unbounded preceding and current row). */
    "q29_window_running" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      orders(s, d)
        .filter(col("o_custkey") <= 100)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    }),

    /** Incremental aggregate maintenance — the warehouse "merge the
      * nightly delta into the materialized aggregate" algebra, gated by
      * EQUALITY TO THE FULL RECOMPUTE: the per-customer aggregate over
      * pre-cutoff orders (the materialized base) full-outer-merges with
      * the same aggregate over post-cutoff orders (the delta), combining
      * count/sum by addition and min/max by least/greatest. The oracle
      * is the plain one-pass aggregate over ALL orders, so the merge
      * algebra itself is what the hash gate checks. Money sums round at
      * the cent lattice on both sides — partial sums add in a different
      * order than the one-pass sum, and only the data's own lattice
      * makes that associativity-free (the q1 lesson; countDistinct is
      * deliberately absent: it does not merge).
      *
      * Scale shape: at 100 TB the base side is a stored aggregate (read,
      * not recomputed — customer-sized, not order-sized) and the delta
      * scan prunes to the new partition; the merge is one shuffle join
      * on the group key. Here both sides derive from the same table to
      * stay self-contained; the cutoff splits mid-range so base and
      * delta genuinely overlap on keys. */
    "q125_incremental_agg" -> ((s, d) => {
      val cutoff = lit("1999-01-01").cast("timestamp")
      def aggFor(df: DataFrame) = df.groupBy("o_custkey").agg(
        count(lit(1)).as("n"), sum("o_totalprice").as("t"),
        min("o_orderdate").as("lo"), max("o_orderdate").as("hi"))
      val base = aggFor(orders(s, d).filter(col("o_orderdate") < cutoff))
        .select(col("o_custkey"), col("n").as("bn"), col("t").as("bt"),
          col("lo").as("blo"), col("hi").as("bhi"))
      val delta = aggFor(orders(s, d).filter(col("o_orderdate") >= cutoff))
        .select(col("o_custkey"), col("n").as("dn"), col("t").as("dt"),
          col("lo").as("dlo"), col("hi").as("dhi"))
      base.join(delta, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_orders"),
          round(coalesce(col("bt"), lit(0.0)) + coalesce(col("dt"), lit(0.0)), 2)
            .as("total_price"),
          least(coalesce(col("blo"), col("dlo")), coalesce(col("dlo"), col("blo")))
            .as("first_order"),
          greatest(coalesce(col("bhi"), col("dhi")), coalesce(col("dhi"), col("bhi")))
            .as("last_order"))
        .orderBy("o_custkey")
    }),

    /** Incremental view maintenance for a JOIN view (q125's algebra one
      * level up — the warehouse nightly-refresh question when BOTH fact
      * sides grow): with L = L₀∪ΔL (lineitem split at the ship-date
      * cutoff) and O = O₀∪ΔO (orders split at the order-date cutoff),
      * the join view refreshes as
      * L⋈O = L₀⋈O₀ ∪ ΔL⋈O₀ ∪ L₀⋈ΔO ∪ ΔL⋈ΔO —
      * the three delta terms each touch at most one full side, so the
      * refresh cost tracks the DELTAS while the result is gated by
      * EQUALITY to the plain full recompute (the oracle computes the
      * ordinary join — the maintenance algebra is exactly what the hash
      * verifies). Emits the per-(status, returnflag) revenue rollup of
      * the maintained view plus the term the row came through, proving
      * all four terms contribute.
      *
      * Scale shape: four hash equi-joins on the same key (one shuffle
      * family, AQE coalesces), partial+final rollup; cutoff predicates
      * reach all four scans by pushdown. */
    "q182_join_ivm" -> ((s, d) => {
      val lCut = lit("1996-01-01").cast("timestamp")
      val oCut = lit("1998-01-01").cast("timestamp")
      val l0 = lineitem(s, d).filter(col("l_shipdate") < lCut)
      val dl = lineitem(s, d).filter(col("l_shipdate") >= lCut)
      val o0 = orders(s, d).filter(col("o_orderdate") < oCut)
      val dd = orders(s, d).filter(col("o_orderdate") >= oCut)
      def term(l: DataFrame, o: DataFrame, name: String) =
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderstatus"), col("l_returnflag"),
            col("l_extendedprice"), lit(name).as("via_term"))
      val view = term(l0, o0, "base_base")
        .unionByName(term(dl, o0, "delta_left"))
        .unionByName(term(l0, dd, "delta_right"))
        .unionByName(term(dl, dd, "delta_delta"))
      view.groupBy("o_orderstatus", "l_returnflag", "via_term")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_extendedprice"), 2).as("revenue"))
        .orderBy("o_orderstatus", "l_returnflag", "via_term")
    }),

    /** Safe structured-string parsing (the dirty-data coercion surface
      * every ingest pipeline needs): regexp group extraction of the
      * priority code and label from '1-URGENT'-style fields, try_cast
      * semantics on values that may not parse (the non-numeric label
      * yields NULL, not a crash — ANSI-safe), split + element_at
      * navigation of the 'Customer#000000042' key format, and parsed
      * numeric round-trip proving the extractions agree. Pure
      * codegen'd scan — string functions never shuffle. */
    "q183_safe_parse" -> ((s, d) =>
      // conditional spread of the single-row-group orders scan (r16,
      // guide §2.5): the four per-row regex extractions below otherwise
      // run in the scan's one task; a many-file table skips the shuffle.
      // All outputs are per-row — partitioning-independent.
      graft.Tables.conditionalSpread(s, orders(s, d), "o_orderkey")
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"),
          regexp_extract(col("o_orderpriority"), "^(\\d)-(.*)$", 1)
            .cast("long").as("priority_code"),
          regexp_extract(col("o_orderpriority"), "^(\\d)-(.*)$", 2)
            .as("priority_label"),
          // try-cast semantics: the LABEL is not numeric → NULL not error
          expr("try_cast(regexp_extract(o_orderpriority, '^(\\\\d)-(.*)$', 2) AS BIGINT)")
            .as("label_as_number"),
          element_at(split(col("c_name"), "#"), 2).cast("long").as("cust_num"),
          (element_at(split(col("c_name"), "#"), 2).cast("long") ===
            col("o_custkey")).as("key_roundtrip"))
        .orderBy("o_orderkey"))
,

    /** Top-N per group (the canonical grouped-ranking ask: each
      * customer's 3 most expensive orders): row_number over the
      * customer partition, filtered at ≤3 — ONE shuffle on the group
      * key, per-partition sort. At pathological group widths the
      * TopKByScore bounded heap (s42's aggregate) is the swap-in that
      * caps per-group memory; at normal fan-in the window form wins
      * because it needs no explode back out. Deterministic tie-break
      * on o_orderkey. */
    "q184_topn_per_group" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("rk").cast("long").as("rk"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey", "rk")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  count(DISTINCT l_orderkey) AS order_count,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // the oracle is the PLAIN join — the bucket layout must not change
    // the bytes (q216's contract; column names differ from q216's so
    // both gates stay independent)
    "q240_bucketed_join" ->
      """SELECT o.o_orderpriority, count(*) AS n_rows,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the oracle is the PLAIN join — the salt must not change the bytes
    "q216_salted_join" ->
      """SELECT o.o_orderpriority, count(*) AS n_items,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q212_sql_entry" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 4) AS sum_charge,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_extendedprice), 6) AS avg_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q205_tpch_q3" ->
      """SELECT l.l_orderkey AS o_orderkey, any_value(o.o_orderdate) AS o_orderdate,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l.l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY 1
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q206_tpch_q5" ->
      """SELECT n.n_name,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, n.n_name""".stripMargin,
    "q207_tpch_q18" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250.0)
        |SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
        |  o.o_totalprice, b.sum_qty
        |FROM big b
        |JOIN orders o ON b.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 20""".stripMargin,
    "q241_tpch_q6" ->
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.04
        |  AND l_quantity < 24.0""".stripMargin,
    // sums rounded to the 4-dec lattice BEFORE the share division
    "q242_tpch_q14" ->
      """WITH m AS (
        |  SELECT
        |    round(sum(CASE WHEN p.p_type = 'PROMO'
        |      THEN l.l_extendedprice * (1.0 - l.l_discount)
        |      ELSE CAST(0 AS DOUBLE) END), 4) AS promo_revenue,
        |    round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4)
        |      AS total_revenue
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
        |    AND l.l_shipdate < TIMESTAMP '1996-04-01')
        |SELECT promo_revenue, total_revenue,
        |  promo_revenue * 100.0 / total_revenue AS promo_share_pct
        |FROM m""".stripMargin,
    "q243_tpch_q4" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o.o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q244_tpch_q13" ->
      """WITH per_cust AS (
        |  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        |  FROM customer c
        |  LEFT JOIN (SELECT * FROM orders
        |             WHERE o_orderpriority = '1-URGENT') o
        |    ON c.c_custkey = o.o_custkey
        |  GROUP BY 1)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM per_cust GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // the avg is exact (integral-double sums, exact counts), so the
    // 0.2*avg cut is engine-stable; round-4 before the /7 division
    "q245_tpch_q17" ->
      """WITH a AS (
        |  SELECT l_partkey, avg(l_quantity) AS avg_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT round(round(sum(l.l_extendedprice), 4) / 7.0, 2) AS avg_yearly,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#23'
        |JOIN a ON l.l_partkey = a.l_partkey
        |WHERE l.l_quantity < 0.2 * a.avg_qty""".stripMargin,
    "q246_tpch_q19" ->
      """SELECT
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE
        |  (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
        |    AND l.l_quantity BETWEEN 1.0 AND 11.0)
        |  OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
        |    AND l.l_quantity BETWEEN 10.0 AND 20.0)
        |  OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
        |    AND l.l_quantity BETWEEN 20.0 AND 30.0)""".stripMargin,
    "q247_tpch_q21" ->
      """WITH l AS (
        |  SELECT l_orderkey, l_suppkey, l_shipdate, o.o_orderdate
        |  FROM lineitem
        |  JOIN orders o ON l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'),
        |late AS (
        |  SELECT * FROM l
        |  WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY),
        |waiters AS (
        |  SELECT l1.l_suppkey, CAST(count(*) AS BIGINT) AS numwait
        |  FROM late l1
        |  WHERE EXISTS (
        |      SELECT 1 FROM l l2
        |      WHERE l2.l_orderkey = l1.l_orderkey
        |        AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (
        |      SELECT 1 FROM late l3
        |      WHERE l3.l_orderkey = l1.l_orderkey
        |        AND l3.l_suppkey <> l1.l_suppkey)
        |  GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, w.numwait
        |FROM waiters w JOIN supplier s ON w.l_suppkey = s.s_suppkey
        |ORDER BY numwait DESC, s_suppkey LIMIT 20""".stripMargin,
    // threshold on the integer-cents lattice: BIGINT sum / exact count,
    // floored — IEEE division of exact integers cannot round an exact
    // integer ratio down, so both engines land the same BIGINT
    "q248_tpch_q22" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal,
        |    CAST(round(c_acctbal * 100.0, 0) AS BIGINT) AS cents
        |  FROM customer),
        |t AS (
        |  SELECT CAST(floor(sum(cents) * 1.0 / count(*)) AS BIGINT)
        |    AS thresh_cents
        |  FROM c WHERE cents > 0)
        |SELECT n.n_name, CAST(count(*) AS BIGINT) AS numcust,
        |  round(sum(c.c_acctbal), 2) AS totacctbal
        |FROM c
        |CROSS JOIN t
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.cents > t.thresh_cents
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // "equals max" compares 4-dec-lattice values, so it is exact
    "q249_tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    round(sum(l_extendedprice * (1.0 - l_discount)), 4)
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, r.total_revenue
        |FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
        |WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q250_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l.l_shipdate) AS INT) AS l_year,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l.l_shipdate < TIMESTAMP '1998-01-01'
        |  AND n1.n_name IN ('NATION_3', 'NATION_7')
        |  AND n2.n_name IN ('NATION_3', 'NATION_7')
        |  AND n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // numerator and denominator both land on the 4-dec lattice before
    // the single share division
    "q251_tpch_q8" ->
      """SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
        |  round(sum(CASE WHEN s.s_nationkey = 7
        |    THEN l.l_extendedprice * (1.0 - l.l_discount)
        |    ELSE CAST(0 AS DOUBLE) END), 4) AS nation_revenue,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4)
        |    AS total_revenue,
        |  round(sum(CASE WHEN s.s_nationkey = 7
        |    THEN l.l_extendedprice * (1.0 - l.l_discount)
        |    ELSE CAST(0 AS DOUBLE) END), 4)
        |    / round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4)
        |    AS mkt_share
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
        |  AND c.c_nationkey IN (
        |    SELECT n.n_nationkey FROM nation n
        |    JOIN region r ON n.n_regionkey = r.r_regionkey
        |    WHERE r.r_name = 'AMERICA')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q252_tpch_q2" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |ranked AS (
        |  SELECT p.p_partkey, p.p_brand, s.s_suppkey, s.s_name, s.s_acctbal,
        |    row_number() OVER (PARTITION BY p.p_partkey
        |      ORDER BY s.s_acctbal, s.s_suppkey) AS rn
        |  FROM pairs pr
        |  JOIN part p ON pr.l_partkey = p.p_partkey
        |    AND p.p_size = 15 AND p.p_type = 'STANDARD'
        |  JOIN supplier s ON pr.l_suppkey = s.s_suppkey)
        |SELECT p_partkey, p_brand, s_suppkey, s_name, s_acctbal
        |FROM ranked WHERE rn = 1
        |ORDER BY p_partkey LIMIT 100""".stripMargin,
    "q253_tpch_q9" ->
      """SELECT n.n_name AS nation,
        |  CAST(year(o.o_orderdate) AS INT) AS o_year,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)
        |    - 0.5 * p.p_retailprice * l.l_quantity), 4) AS sum_profit
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |  AND p.p_name LIKE '%red%'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    // value on the exact integer-cents × integral-quantity lattice;
    // the > total/2000 threshold is an exact BIGINT compare
    "q255_tpch_q11" ->
      """WITH v AS (
        |  SELECT l.l_partkey,
        |    sum(CAST(round(l.l_extendedprice * 100.0, 0) AS BIGINT)
        |      * CAST(l.l_quantity AS BIGINT)) AS part_cents
        |  FROM lineitem l
        |  WHERE EXISTS (
        |    SELECT 1 FROM supplier s
        |    WHERE s.s_suppkey = l.l_suppkey AND s.s_nationkey = 3)
        |  GROUP BY 1),
        |t AS (
        |  SELECT CAST(floor(sum(part_cents) / 2000) AS BIGINT)
        |    AS thresh_cents FROM v)
        |SELECT v.l_partkey, v.part_cents / 100.0 AS part_value
        |FROM v CROSS JOIN t
        |WHERE v.part_cents > t.thresh_cents
        |ORDER BY part_value DESC, l_partkey""".stripMargin,
    "q256_tpch_q12" ->
      """SELECT
        |  CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) < 30
        |    THEN 'FAST' ELSE 'SLOW' END AS ship_band,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l.l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q257_tpch_q16" ->
      """SELECT p.p_brand, p.p_type, p.p_size,
        |  CAST(count(DISTINCT pr.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pr
        |JOIN part p ON pr.l_partkey = p.p_partkey
        |WHERE p.p_brand <> 'Brand#45'
        |  AND p.p_type NOT LIKE 'small%'
        |  AND pr.l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        |LIMIT 100""".stripMargin,
    // 2*qty_1997 > qty_1996 is an exact integer compare (integral
    // quantities summed as BIGINT)
    "q258_tpch_q20" ->
      """WITH red AS (
        |  SELECT l.* FROM lineitem l
        |  WHERE EXISTS (SELECT 1 FROM part p
        |    WHERE p.p_partkey = l.l_partkey AND p.p_name LIKE 'red%')),
        |base AS (
        |  SELECT l_partkey, sum(CAST(l_quantity AS BIGINT)) AS qty_1996
        |  FROM red
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1),
        |ramp AS (
        |  SELECT r.l_partkey, r.l_suppkey,
        |    sum(CAST(r.l_quantity AS BIGINT)) AS qty_1997
        |  FROM red r
        |  WHERE r.l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND r.l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2)
        |SELECT s.s_suppkey, s.s_name
        |FROM supplier s
        |WHERE s.s_nationkey < 13
        |  AND EXISTS (
        |    SELECT 1 FROM ramp r JOIN base b ON r.l_partkey = b.l_partkey
        |    WHERE r.l_suppkey = s.s_suppkey
        |      AND 2 * r.qty_1997 > b.qty_1996)
        |ORDER BY s_suppkey""".stripMargin,
    // the partitioned layout routes rows, it never changes the relation:
    // the oracle computes the same quarter months from the raw tables
    "q259_dynamic_pruning" ->
      """WITH q2 AS (
        |  SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS m_month
        |  FROM orders
        |  WHERE CAST(year(o_orderdate) AS INT) = 1996
        |    AND CAST(quarter(o_orderdate) AS INT) = 2)
        |SELECT strftime(l.l_shipdate, '%Y-%m') AS l_month,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue
        |FROM lineitem l
        |JOIN q2 ON strftime(l.l_shipdate, '%Y-%m') = q2.m_month
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the bloom probe only drops guaranteed-non-matching rows: the
    // oracle is the plain join
    "q260_bloom_join" ->
      """SELECT p.p_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_brand = 'Brand#23'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // v2 = base minus matched keys, plus their updated rows, plus the
    // shifted inserts — recomputed straight from orders
    "q239_merge_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderpriority AS prio, o_totalprice AS price
        |  FROM orders),
        |v2rows AS (
        |  SELECT o_orderkey, prio, price FROM base WHERE o_orderkey % 10 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, '1-URGENT' AS prio, price + 1000.0 AS price
        |  FROM base WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 20000000 AS o_orderkey, prio, price * 0.5 AS price
        |  FROM base WHERE o_orderkey % 10 = 5),
        |v1 AS (
        |  SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |    CAST(sum(CAST(round(price * 1000) AS BIGINT)) AS BIGINT) AS sum_mills
        |  FROM base),
        |v2 AS (
        |  SELECT CAST(2 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |    CAST(sum(CAST(round(price * 1000) AS BIGINT)) AS BIGINT) AS sum_mills
        |  FROM v2rows)
        |SELECT * FROM v1 UNION ALL SELECT * FROM v2 ORDER BY version""".stripMargin,
    // sketch estimates are engine-internal (q65/q91 pattern): the oracle
    // recomputes the exact measures and asserts the error-bound booleans
    "q282_measures_approx" ->
      """SELECT c_mktsegment,
        |  round(sum(l_extendedprice), 2) AS total_sales,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_count,
        |  TRUE AS count_ok, TRUE AS avg_ok
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment <> 'MACHINERY'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // compaction moves bytes, never rows — the oracle recomputes from the
    // raw table; file count is a hard integer at this corpus size
    "q281_compact_inplace" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  CAST(1 AS BIGINT) AS n_files_after,
        |  TRUE AS compacted,
        |  TRUE AS markers_cleared
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // the rectangle recomputed directly from the raw table — integer-div
    // corners make both engines' bounds identical; the layout must not
    // change the relation
    "q280_zorder_pruning" ->
      """WITH r AS (
        |  SELECT min(l_partkey) AS mnx, max(l_partkey) AS mxx,
        |    min(l_suppkey) AS mny, max(l_suppkey) AS mxy
        |  FROM lineitem),
        |sel AS (
        |  SELECT l.l_returnflag, l.l_quantity
        |  FROM lineitem l CROSS JOIN r
        |  WHERE l.l_partkey BETWEEN r.mnx + (r.mxx - r.mnx) // 8
        |                        AND r.mnx + (r.mxx - r.mnx) // 4
        |    AND l.l_suppkey BETWEEN r.mny + (r.mxy - r.mny) // 8
        |                        AND r.mny + (r.mxy - r.mny) // 4)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  CAST(64 AS BIGINT) AS n_buckets_total,
        |  TRUE AS zorder_pruned
        |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin,
    // the post-maintenance table state recomputed from the raw table
    // (base ∪ the three append slices); the file-count/version columns
    // are hard integers (3 partitions → 3 files, write+3 appends+compact
    // → version 5) and the maintenance claims are oracle-asserted TRUE
    // a deletion vector must behave exactly like the delete it encodes —
    // the oracle recomputes the survivors with plain NOT predicates; the
    // deleted count is base minus kept, the version ladder is hard
    // (write, append, DV, DV, compact → 5), and the no-rewrite /
    // time-travel / fold claims are oracle-asserted TRUE
    "q287_delete_vectors" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_returnflag, l_quantity FROM lineitem),
        |kept AS (
        |  SELECT * FROM base
        |  WHERE NOT (l_quantity < 10.0 OR l_orderkey % 13 = 0)
        |    AND NOT (l_quantity > 45.0))
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  CAST((SELECT count(*) FROM base) - (SELECT count(*) FROM kept)
        |    AS BIGINT) AS deleted_rows,
        |  CAST(5 AS BIGINT) AS final_version,
        |  TRUE AS no_file_rewrite,
        |  TRUE AS old_snapshot_intact,
        |  TRUE AS dv_folded
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin,
    // erasure: survivors are everything but the victim (the customer
    // with the minimum key — deterministic on both engines); erased
    // count is the victim's row count; the logical-vs-physical ladder
    // claims are oracle-asserted TRUE
    "q291_erasure_proof" ->
      """WITH v AS (SELECT min(o_custkey) AS vk FROM orders),
        |kept AS (
        |  SELECT o.o_orderstatus, o.o_totalprice
        |  FROM orders o CROSS JOIN v WHERE o.o_custkey <> v.vk)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(o_totalprice), 4) AS sum_price,
        |  CAST((SELECT count(*) FROM orders) - (SELECT count(*) FROM kept)
        |    AS BIGINT) AS erased_rows,
        |  TRUE AS logical_before_physical,
        |  TRUE AS physically_erased,
        |  TRUE AS dv_sidecars_gone
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin,
    // file skipping routes IO, never changes the relation — the oracle
    // recomputes the middle-eighth range (integer-div corners, the q280
    // rule) minus the DV-deleted keys directly from the raw table; the
    // stats-coverage / pruning / empty-range claims are oracle-asserted
    "q290_file_skipping" ->
      """WITH r AS (
        |  SELECT min(l_orderkey) AS mn, max(l_orderkey) AS mx FROM lineitem),
        |sel AS (
        |  SELECT l.l_returnflag, l.l_quantity
        |  FROM lineitem l CROSS JOIN r
        |  WHERE l.l_orderkey BETWEEN r.mn + (r.mx - r.mn) // 8
        |                         AND r.mn + (r.mx - r.mn) // 4
        |    AND l.l_orderkey % 7 <> 0)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  TRUE AS stats_cover_all,
        |  TRUE AS files_pruned,
        |  TRUE AS empty_range_zero
        |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin,
    // add-column evolution: the merged table is the base slice UNION ALL
    // the evolved slice; pre-evolution rows surface the new column as
    // NULL (count(new_col) counts exactly the appended rows), and the
    // no-rewrite / old-schema claims are oracle-asserted TRUE
    "q289_schema_evolution" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    CAST(NULL AS BIGINT) AS priority_len
        |  FROM orders),
        |evolved AS (
        |  SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice,
        |    CAST(length(o_orderpriority) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |allr AS (SELECT * FROM base UNION ALL SELECT * FROM evolved)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(o_totalprice), 4) AS sum_price,
        |  CAST(count(priority_len) AS BIGINT) AS evolved_rows,
        |  CAST(coalesce(sum(priority_len), 0) AS BIGINT)
        |    AS sum_priority_len,
        |  TRUE AS no_file_rewrite,
        |  TRUE AS v1_unevolved
        |FROM allr GROUP BY 1 ORDER BY 1""".stripMargin,
    // the view state recomputed directly from the surviving rows —
    // a stale fold (deletes not applied / applied twice) fails
    // n_rows/sum_ql; the refusal and exactness claims are
    // oracle-asserted TRUE
    "q294_mv_change_feed" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_returnflag,
        |    CAST(l_quantity AS BIGINT) AS ql
        |  FROM lineitem),
        |kept AS (
        |  SELECT * FROM base
        |  WHERE NOT (ql < 10 OR l_orderkey % 13 = 0))
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(ql) AS BIGINT) AS sum_ql,
        |  TRUE AS dv_deletes_folded,
        |  TRUE AS plain_refresh_refuses,
        |  TRUE AS fold_equals_recompute,
        |  TRUE AS source_caught_up
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin,
    // merge-on-read UPDATE composed twice: the oracle applies the same
    // two assignments as CASE expressions IN ORDER (the second sees the
    // first's outputs — a stale second update fails the hash); the
    // updated count is the sum of both match counts, the version ladder
    // is hard (write, append, update, update, compact -> 5), and the
    // no-rewrite / time-travel / fold claims are oracle-asserted TRUE
    "q295_update_mor" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_returnflag,
        |    CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem),
        |u1 AS (
        |  SELECT l_orderkey, l_returnflag,
        |    CASE WHEN l_orderkey % 7 = 0 THEN q + 5 ELSE q END AS q
        |  FROM base),
        |u2 AS (
        |  SELECT l_returnflag,
        |    CASE WHEN q > 45 THEN q * 2 ELSE q END AS q
        |  FROM u1)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(q) AS BIGINT) AS sum_qty,
        |  CAST((SELECT count(*) FROM base WHERE l_orderkey % 7 = 0) +
        |       (SELECT count(*) FROM u1 WHERE q > 45) AS BIGINT)
        |    AS updated_rows,
        |  CAST(5 AS BIGINT) AS final_version,
        |  TRUE AS no_file_rewrite,
        |  TRUE AS old_snapshot_intact,
        |  TRUE AS dv_folded
        |FROM u2 GROUP BY 1 ORDER BY 1""".stripMargin,
    // the middle-third range recomputed directly (integer-div corners,
    // the q280/q290 rule); the blind-before / coverage / pruning /
    // idempotency claims are oracle-asserted TRUE
    "q296_analyze_skipping" ->
      """WITH r AS (
        |  SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx FROM orders),
        |sel AS (
        |  SELECT o.o_orderstatus, o.o_totalprice
        |  FROM orders o CROSS JOIN r
        |  WHERE o.o_orderkey >  r.mn + (r.mx - r.mn) // 3
        |    AND o.o_orderkey <= r.mn + (2 * (r.mx - r.mn)) // 3)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(o_totalprice), 4) AS sum_price,
        |  TRUE AS blind_before_analyze,
        |  TRUE AS stats_cover_all,
        |  TRUE AS files_pruned,
        |  TRUE AS analyze_idempotent
        |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin,
    // maintenance moves bytes, never rows: the post-recluster table is
    // the raw table minus the DV-deleted keys; the version ladder is
    // hard (write, 3 appends, DV, analyze, recluster -> 7) and the
    // degraded-before / fold+index / pruning claims oracle-asserted
    "q297_optimize_cluster" ->
      """WITH kept AS (
        |  SELECT l_returnflag, l_quantity FROM lineitem
        |  WHERE l_orderkey % 9 <> 0)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  CAST(7 AS BIGINT) AS final_version,
        |  TRUE AS degraded_before,
        |  TRUE AS dv_folded_index_fresh,
        |  TRUE AS files_pruned
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin,
    // the change log reconstructed predicate by predicate: v2 inserted
    // the odd keys, v3 deleted the %11 keys, v4's UPDATE emitted a
    // delete(old)/insert(new) pair for the %13 survivors of v3; the
    // fold-law claim is oracle-asserted TRUE — a feed that missed or
    // double-counted a change fails n_rows/sum_v
    "q298_table_changes" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS part,
        |    o_totalprice AS v
        |  FROM orders),
        |c AS (
        |  SELECT 2 AS cv, 'insert' AS ct, count(*) AS n, sum(v) AS sv
        |  FROM base WHERE k % 2 <> 0
        |  UNION ALL
        |  SELECT 3, 'delete', count(*), sum(v)
        |  FROM base WHERE k % 11 = 0
        |  UNION ALL
        |  SELECT 4, 'delete', count(*), sum(v)
        |  FROM base WHERE k % 13 = 0 AND k % 11 <> 0
        |  UNION ALL
        |  SELECT 4, 'insert', count(*), sum(v + 1000.0)
        |  FROM base WHERE k % 13 = 0 AND k % 11 <> 0)
        |SELECT CAST(cv AS BIGINT) AS commit_version, ct AS change_type,
        |  CAST(n AS BIGINT) AS n_rows, round(sv, 4) AS sum_v,
        |  TRUE AS fold_exact
        |FROM c ORDER BY 1, 2""".stripMargin,
    // the replica reconstructed as a CASE chain over the raw table:
    // a key survives iff it escaped the %11 delete OR the %17 merge
    // re-inserted it; the merge's value wins over the update's, which
    // wins over base; the +10M insert slice unions on; convergence /
    // commit-count / idempotency claims oracle-asserted TRUE
    "q302_cdc_replica" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS part,
        |    o_totalprice AS v
        |  FROM orders),
        |kept AS (
        |  SELECT part,
        |    CASE WHEN k % 17 = 0 THEN v + 5000.0
        |         WHEN k % 13 = 0 THEN v + 1000.0
        |         ELSE v END AS v
        |  FROM base WHERE k % 11 <> 0 OR k % 17 = 0),
        |ins AS (
        |  SELECT part, v + 7000.0 AS v FROM base WHERE k % 17 = 0),
        |allr AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
        |SELECT part, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(v), 4) AS sum_v,
        |  TRUE AS replica_equals_source,
        |  TRUE AS incremental_apply,
        |  TRUE AS uptodate_noop
        |FROM allr GROUP BY 1 ORDER BY 1""".stripMargin,
    // the max-key order's line items recomputed directly (equality on
    // the deterministic max key); pruning routes IO, never changes the
    // relation — version ladder hard (4 writes + index -> 5), claims
    // oracle-asserted TRUE
    "q301_bloom_pointlookup" ->
      """WITH t AS (SELECT max(l_orderkey) AS mk FROM lineitem)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
        |  round(l.l_quantity, 4) AS quantity,
        |  CAST(5 AS BIGINT) AS index_version,
        |  TRUE AS analyze_idempotent,
        |  TRUE AS files_pruned,
        |  TRUE AS absent_zero_rows
        |FROM lineitem l CROSS JOIN t WHERE l.l_orderkey = t.mk
        |ORDER BY l.l_linenumber""".stripMargin,
    // refused batches leave no trace: the final relation is base ∪ the
    // one VALID append slice; the version ladder is hard (write, two
    // constraints, valid append -> 4) and every refusal claim is
    // oracle-asserted TRUE
    "q299_constraints" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS part,
        |    o_totalprice AS v
        |  FROM orders),
        |allr AS (
        |  SELECT part, v FROM base
        |  UNION ALL
        |  SELECT part, v FROM base WHERE k % 10 = 0)
        |SELECT part, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(v), 4) AS sum_v,
        |  CAST(4 AS BIGINT) AS versions,
        |  TRUE AS batch_refused_wholesale,
        |  TRUE AS update_refused,
        |  TRUE AS violating_constraint_refused
        |FROM allr GROUP BY 1 ORDER BY 1""".stripMargin,
    // maintenance is invisible to CDC: the replica is simply every row
    // minus the %11 deletes — the two OPTIMIZE commits contributed
    // nothing; the noop / zero-feed / convergence / idempotency claims
    // are oracle-asserted TRUE (a feed that surfaced compact churn or
    // missed a straddling change diverges n_rows/sum_v)
    "q303_reorg_feed" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS part,
        |    o_totalprice AS v
        |  FROM orders),
        |kept AS (SELECT part, v FROM base WHERE k % 11 <> 0)
        |SELECT part, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(v), 4) AS sum_v,
        |  TRUE AS reorg_noop,
        |  TRUE AS compact_feed_empty,
        |  TRUE AS replica_equals_source,
        |  TRUE AS uptodate_noop
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin,
    // the min/max view recomputed directly from the surviving rows —
    // a refresh that failed to retire the deleted group minimum (or
    // rescanned nothing) fails min_qty/max_qty; the pruning and
    // exactness claims are oracle-asserted TRUE
    "q304_mv_minmax" ->
      """WITH base AS (
        |  SELECT l_orderkey AS k, l_returnflag AS part,
        |    l_quantity AS v
        |  FROM lineitem),
        |kept AS (
        |  SELECT part, v FROM base
        |  WHERE NOT (part = 'A' AND k % 3 = 0))
        |SELECT part, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(v), 4) AS sum_qty,
        |  round(min(v), 4) AS min_qty,
        |  round(max(v), 4) AS max_qty,
        |  TRUE AS fold_equals_recompute,
        |  TRUE AS recompute_partition_pruned,
        |  TRUE AS source_caught_up
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin,
    // after the refused gap + reseed + one incremental batch the
    // replica is the whole table plus the shifted %5 slice; the typed
    // refusal / convergence / resume claims are oracle-asserted TRUE
    "q305_replica_reseed" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS part,
        |    o_totalprice AS v
        |  FROM orders),
        |allr AS (
        |  SELECT part, v FROM base
        |  UNION ALL
        |  SELECT part, v FROM base WHERE k % 5 = 0)
        |SELECT part, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(v), 4) AS sum_v,
        |  TRUE AS vacuum_gap_refused,
        |  TRUE AS reseed_converges,
        |  TRUE AS incremental_resumes
        |FROM allr GROUP BY 1 ORDER BY 1""".stripMargin,
    // the partkey middle-fifth window recomputed directly over the
    // surviving rows (integer-div corners, the q280/q290 rule) — a
    // z-order that moved or dropped a row fails n_rows/sum_qty; the
    // ladder is hard (3 appends, DV, recluster, zorder -> 6) and the
    // blindness / dual-pruning / identity claims are oracle-asserted
    "q308_zorder_optimize" ->
      """WITH r AS (
        |  SELECT min(l_partkey) AS mn, max(l_partkey) AS mx
        |  FROM lineitem),
        |sel AS (
        |  SELECT l.l_returnflag, l.l_quantity
        |  FROM lineitem l CROSS JOIN r
        |  WHERE l.l_orderkey % 9 <> 0
        |    AND l.l_partkey >= r.mn + 2 * (r.mx - r.mn) // 5
        |    AND l.l_partkey <= r.mn + 3 * (r.mx - r.mn) // 5)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  CAST(6 AS BIGINT) AS final_version,
        |  TRUE AS one_dim_blind_on_b,
        |  TRUE AS both_columns_pruned,
        |  TRUE AS relation_identical_dv_folded
        |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin,
    // the restored relation IS the pre-damage state: chunks 0 and 1,
    // with the later DV delete and the later append both undone — a
    // restore that leaked either fails the hash; the ladder is hard
    // (write, append, DV, append, restore -> 5) and the exactness /
    // history / no-op / feed-convergence claims are oracle-asserted
    "q309_restore" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  CAST(5 AS BIGINT) AS final_version,
        |  TRUE AS restored_exact,
        |  TRUE AS history_intact_noop_current,
        |  TRUE AS feed_converges
        |FROM lineitem WHERE l_orderkey % 3 <> 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the final relation carries BOTH racing deletes exactly: %9 over
    // chunks 0/1 (landed before chunk 2 appended) and %13 over the
    // whole table — a reconcile that dropped the append-winner's rows,
    // resurrected a deleted row, or double-kept a staged file fails
    // n_rows/sum_qty; the one-derivation / re-derivation / fold claims
    // are oracle-asserted and the version ladder is hard (write,
    // append, DV, append, OPTIMIZE, DV, OPTIMIZE -> 7)
    "q313_optimize_reconcile" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  CAST(7 AS BIGINT) AS final_version,
        |  TRUE AS append_race_reconciled_no_reshuffle,
        |  TRUE AS delete_race_rederived,
        |  TRUE AS dvs_folded
        |FROM lineitem
        |WHERE l_orderkey % 13 <> 0
        |  AND (l_orderkey % 3 = 2 OR l_orderkey % 9 <> 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the orderkey middle-fifth window recomputed over the %11-deleted
    // relation (integer-div corners, the q280/q290 rule) — a scoped
    // rewrite that lost an out-of-scope DV row (resurrection), moved an
    // out-of-scope file, or dropped an in-scope row fails
    // n_rows/sum_qty; byte-identity / DV-carry / feed-silence /
    // in-scope-pruning claims are oracle-asserted
    "q314_scoped_optimize" ->
      """WITH r AS (
        |  SELECT min(l_orderkey) AS mn, max(l_orderkey) AS mx
        |  FROM lineitem),
        |sel AS (
        |  SELECT l.l_returnflag, l.l_quantity
        |  FROM lineitem l CROSS JOIN r
        |  WHERE l.l_orderkey % 11 <> 0
        |    AND l.l_orderkey >= r.mn + 2 * (r.mx - r.mn) // 5
        |    AND l.l_orderkey <= r.mn + 3 * (r.mx - r.mn) // 5)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  CAST(5 AS BIGINT) AS final_version,
        |  TRUE AS out_of_scope_identical,
        |  TRUE AS dv_out_of_scope_applies,
        |  TRUE AS feed_silent,
        |  TRUE AS in_scope_pruned
        |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin,
    // the orderkey window recomputed directly (integer-div corners,
    // the q280/q290 rule) — ingest-time stats that mis-bounded a file
    // would drop or duplicate window rows and fail the hash; the
    // ladder is hard (write, append, register, append, analyze,
    // compact -> 6) and the conservative-scan / ingest-coverage /
    // pruning / maintenance-coverage claims are oracle-asserted
    "q310_ingest_stats" ->
      """WITH r AS (
        |  SELECT min(l_orderkey) AS mn, max(l_orderkey) AS mx
        |  FROM lineitem),
        |w AS (
        |  SELECT mn + 2 * (mx - mn) // 3 AS c2, mx FROM r),
        |sel AS (
        |  SELECT l.l_returnflag, l.l_quantity
        |  FROM lineitem l CROSS JOIN w
        |  WHERE l.l_orderkey >= w.c2 + (w.mx - w.c2) // 4
        |    AND l.l_orderkey <= w.c2 + (w.mx - w.c2) // 2)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  CAST(6 AS BIGINT) AS final_version,
        |  TRUE AS statless_scans_all,
        |  TRUE AS ingest_covered_new_files_only,
        |  TRUE AS window_pruned_after_backfill,
        |  TRUE AS maintenance_keeps_coverage
        |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin,
    // the month window recomputed directly over the same derived
    // date-string key (DuckDB date arithmetic + strftime mirrors the
    // Spark date_add + date_format derivation exactly) — a string-stat
    // bound that wrongly excluded a file would drop that file's window
    // rows and fail the hash; the ladder is hard (write, register,
    // append, append, analyze -> 5) and the ingest-coverage / pruning /
    // prefix-exactness / numeric-conservatism claims are oracle-asserted
    "q311_string_skipping" ->
      """WITH sel AS (
        |  SELECT lang, n_chars,
        |    strftime(DATE '2024-01-01' + CAST(doc_id % 300 AS INTEGER),
        |      '%Y-%m-%d') AS day
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(5 AS BIGINT) AS final_version,
        |  TRUE AS ingest_covered_new_files_only,
        |  TRUE AS month_window_pruned,
        |  TRUE AS prefix_pruned_exact,
        |  TRUE AS numeric_view_conservative
        |FROM sel WHERE day >= '2024-05-01' AND day <= '2024-05-31'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the post-fold relation recomputed directly: every key carries the
    // LAST merge's value (%15 keys the stacked +3000000, other %5 keys
    // the first +1000000, the rest their original), plus the inserted
    // 'Z' partition — a MoR merge that resurrected a suppressed old
    // version, dropped an insert, or double-applied a stack fails
    // n_rows/sum_cust; ladder hard (write, merge, merge, compact -> 4)
    "q312_merge_mor" ->
      """WITH fin AS (
        |  SELECT o_orderstatus,
        |    CASE WHEN o_orderkey % 15 = 0 THEN o_custkey + 3000000
        |         WHEN o_orderkey % 5 = 0 THEN o_custkey + 1000000
        |         ELSE o_custkey END AS c
        |  FROM orders
        |  UNION ALL
        |  SELECT 'Z' AS o_orderstatus, o_custkey AS c
        |  FROM orders WHERE o_orderkey % 7 = 3)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(c) AS BIGINT) AS sum_cust,
        |  CAST(4 AS BIGINT) AS final_version,
        |  TRUE AS counts_exact,
        |  TRUE AS no_data_file_rewritten,
        |  TRUE AS stacked_merge_sees_merged,
        |  TRUE AS optimize_folds_identical
        |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin,
    // refused/dropped stages leave no trace: the published table is
    // exactly base ∪ the clean odd slice; the version ladder is hard
    // (write, constraint, one publish -> 3) and the isolation / audit /
    // refusal / exactly-once claims are oracle-asserted TRUE
    "q306_wap" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS part,
        |    o_totalprice AS v
        |  FROM orders)
        |SELECT part, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(v), 4) AS sum_v,
        |  CAST(3 AS BIGINT) AS versions,
        |  TRUE AS staged_invisible,
        |  TRUE AS audit_catches,
        |  TRUE AS bad_publish_refused,
        |  TRUE AS publish_exactly_once
        |FROM base GROUP BY 1 ORDER BY 1""".stripMargin,
    "q277_compact_vacuum" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_returnflag, l_quantity FROM lineitem),
        |all_rows AS (
        |  SELECT * FROM base
        |  UNION ALL SELECT * FROM base WHERE l_quantity > 45.0
        |  UNION ALL SELECT * FROM base WHERE l_quantity < 5.0
        |  UNION ALL SELECT * FROM base WHERE l_orderkey % 7 = 0)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  CAST(3 AS BIGINT) AS n_files_after,
        |  CAST(5 AS BIGINT) AS compact_version,
        |  CAST(3 AS BIGINT) AS n_parts_compacted,
        |  TRUE AS compact_preserved,
        |  TRUE AS vacuum_deleted,
        |  TRUE AS old_read_fails
        |FROM all_rows GROUP BY 1 ORDER BY 1""".stripMargin,
    // each version's expected state recomputed from the base table —
    // v1 full, v2 minus the deleted partition, v3 = v2 + the appended
    // high-quantity slice
    "q238_time_travel" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_returnflag, l_quantity FROM lineitem),
        |v1 AS (
        |  SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |    round(sum(l_quantity), 4) AS sum_qty
        |  FROM base),
        |v2 AS (
        |  SELECT CAST(2 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |    round(sum(l_quantity), 4) AS sum_qty
        |  FROM base WHERE l_returnflag <> 'R'),
        |v3 AS (
        |  SELECT CAST(3 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |    round(sum(l_quantity), 4) AS sum_qty
        |  FROM (SELECT * FROM base WHERE l_returnflag <> 'R'
        |        UNION ALL SELECT * FROM base WHERE l_quantity > 45.0))
        |SELECT * FROM v1 UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM v3
        |ORDER BY version""".stripMargin,
    "q224_tpch_q10" ->
      """SELECT c.c_custkey, any_value(c.c_name) AS c_name,
        |  any_value(c.c_acctbal) AS c_acctbal, any_value(n.n_name) AS n_name,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY 1
        |ORDER BY revenue DESC, c.c_custkey LIMIT 20""".stripMargin,
    // every format leg must equal the parquet aggregate — the oracle is
    // the parquet side replicated once per format label
    "q204_format_roundtrip" ->
      """WITH a AS (
        |  SELECT l_returnflag, count(*) AS n_rows,
        |    round(sum(l_quantity), 4) AS sum_qty,
        |    round(sum(l_extendedprice), 2) AS sum_price
        |  FROM lineitem GROUP BY 1)
        |SELECT f.format, a.l_returnflag, a.n_rows, a.sum_qty, a.sum_price
        |FROM a CROSS JOIN (VALUES ('csv'), ('json'), ('orc'), ('parquet')) f(format)
        |ORDER BY f.format, a.l_returnflag""".stripMargin,
    // explode_outer's kept-row semantics spelled relationally: the
    // inner rows plus one NULL-token row per empty-array doc
    "q267_explode_outer" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      t -> t LIKE '%qu%') AS zs
        |  FROM documents),
        |inner_rows AS (SELECT doc_id, unnest(zs) AS tok FROM a),
        |outer_rows AS (
        |  SELECT doc_id, tok FROM inner_rows
        |  UNION ALL
        |  SELECT doc_id, NULL AS tok FROM a WHERE len(zs) = 0)
        |SELECT 'inner' AS variant, count(*) AS n_rows,
        |  count(DISTINCT doc_id) AS n_docs,
        |  CAST(sum(CASE WHEN tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_toks
        |FROM inner_rows
        |UNION ALL
        |SELECT 'outer' AS variant, count(*), count(DISTINCT doc_id),
        |  CAST(sum(CASE WHEN tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM outer_rows
        |ORDER BY variant""".stripMargin,
    // IS NOT DISTINCT FROM is the ANSI spelling of <=>; NULLS FIRST
    // matches Spark's ascending default
    "q266_null_safe_join" ->
      """WITH l AS (
        |  SELECT nullif(o_orderstatus, 'O') AS status_key, count(*) AS n_left
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT nullif(o_orderstatus, 'O') AS status_key, count(*) AS n_right
        |  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1)
        |SELECT 'equi' AS join_kind, l.status_key, n_left, n_right
        |FROM l JOIN r ON l.status_key = r.status_key
        |UNION ALL
        |SELECT 'null_safe' AS join_kind, l.status_key, n_left, n_right
        |FROM l JOIN r ON l.status_key IS NOT DISTINCT FROM r.status_key
        |ORDER BY join_kind, status_key NULLS FIRST""".stripMargin,
    // incremental == full recompute: the oracle aggregates the WHOLE
    // base table in one pass; the Spark side produced the same rows by
    // two delta refreshes against stored state. mv_source_version = 3
    // (create + two appends, each refresh advancing the bookkeeping)
    "q264_mv_refresh" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  count(*) AS n_rows,
        |  round(sum(o_totalprice), 2) AS total_price,
        |  min(o_orderdate) AS first_order,
        |  max(o_orderdate) AS last_order,
        |  CAST(3 AS BIGINT) AS mv_source_version
        |FROM orders GROUP BY 1, 2
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    // quarantine semantics recomputed from the base table: the mangled
    // set IS o_orderkey % 19 = 0, whose prices never reach the sum
    "q263_corrupt_records" ->
      """SELECT CASE WHEN o_orderkey % 19 = 0
        |    THEN '<quarantined>' ELSE o_orderstatus END AS status_class,
        |  count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderkey % 19 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_quarantined,
        |  round(sum(CASE WHEN o_orderkey % 19 = 0 THEN NULL
        |    ELSE o_totalprice END), 2) AS total_price
        |FROM orders GROUP BY 1 ORDER BY status_class""".stripMargin,
    // the merged-read semantics recomputed from the base table: rows
    // before the evolution cutoff ARE the NULL-status batch
    "q262_schema_evolution" ->
      """SELECT CASE WHEN o_orderdate < TIMESTAMP '1996-01-01'
        |    THEN '<pre-evolution>' ELSE o_orderstatus END AS status_class,
        |  count(*) AS n_rows,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders GROUP BY 1 ORDER BY status_class""".stripMargin,
    "q3_filter_eq" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderstatus = 'F' ORDER BY o_orderkey""".stripMargin,
    "q4_filter_range" ->
      """SELECT l_orderkey, l_linenumber, l_discount <= 0.02 AS low_discount
        |FROM lineitem WHERE l_quantity <= 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q5_join_inner" ->
      """SELECT l_orderkey, l_linenumber, o_custkey, o_orderdate, l_extendedprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q6_join_left_fill" ->
      """SELECT o_orderkey, o_orderstatus,
        |  round(coalesce(rev, 0.0), 4) AS revenue,
        |  CAST(coalesce(n_items, 0) AS BIGINT) AS n_items
        |FROM orders LEFT JOIN (
        |  SELECT l_orderkey, sum(l_extendedprice * (1.0 - l_discount)) AS rev,
        |         count(*) AS n_items
        |  FROM lineitem GROUP BY l_orderkey) li ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    "q7_join_star" ->
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |  count(DISTINCT o_orderkey) AS order_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q8_join_diffkey" ->
      """SELECT o_custkey, round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_spend,
        |  count(*) AS order_count,
        |  any_value(c_name) AS c_name, any_value(c_mktsegment) AS c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q9_join_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q10_join_semi" ->
      """SELECT c_custkey, c_nationkey FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin,
    "q11_rollup" ->
      """SELECT CAST(year(ship_day) AS INTEGER) AS year,
        |  CAST(month(ship_day) AS INTEGER) AS month,
        |  CAST(sum(order_count) AS BIGINT) AS order_count,
        |  round(sum(total_sales), 2) AS total_sales
        |FROM (
        |  SELECT CAST(l_shipdate AS DATE) AS ship_day,
        |    count(DISTINCT l_orderkey) AS order_count,
        |    sum(l_extendedprice) AS total_sales
        |  FROM lineitem GROUP BY 1) daily
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q12_group_composite" ->
      """SELECT l_returnflag, CAST(year(l_shipdate) AS INTEGER) AS ship_year,
        |  count(DISTINCT l_orderkey) AS order_count,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q13_minmax" ->
      """SELECT min(o_orderdate) AS min_date, max(o_orderdate) AS max_date,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders""".stripMargin,
    "q14_median" ->
      """SELECT l_returnflag,
        |  CAST(median(l_quantity) AS DOUBLE) AS median_qty,
        |  CAST(median(l_extendedprice) AS DOUBLE) AS median_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q15_conditional_agg" ->
      """SELECT
        |  CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_accept,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_return,
        |  count(*) AS n_total,
        |  CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
        |    - sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 100.0 AS nps_like
        |FROM lineitem""".stripMargin,
    "q16_nullcount" ->
      """SELECT
        |  CAST(sum(CASE WHEN nullif(event_type, 'error') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type,
        |  CAST(sum(CASE WHEN (CASE WHEN value < 1.0 THEN NULL ELSE value END) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
        |  count(*) AS n_total
        |FROM events""".stripMargin,
    "q17_histogram" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY 1 ORDER BY 1",
    "q18_topk" ->
      """SELECT o_custkey, round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_spend
        |FROM orders GROUP BY 1
        |ORDER BY total_spend DESC, o_custkey LIMIT 10""".stripMargin,
    "q19_measures" ->
      """SELECT c_mktsegment,
        |  round(sum(l_extendedprice), 2) AS total_sales,
        |  round(sum(l_extendedprice * l_tax), 4) AS total_tax,
        |  count(DISTINCT l_orderkey) AS order_count,
        |  round(sum(l_extendedprice) / CAST(count(DISTINCT l_orderkey) AS DOUBLE), 6) AS avg_order_value,
        |  round(sum(l_extendedprice * l_tax) / sum(l_extendedprice) * 100.0, 6) AS tax_percentage
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment <> 'MACHINERY'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q20_date_parts" ->
      """SELECT order_day,
        |  CAST(year(order_day) AS INTEGER) AS year,
        |  CAST(month(order_day) AS INTEGER) AS month,
        |  CAST(day(order_day) AS INTEGER) AS day,
        |  CAST(quarter(order_day) AS INTEGER) AS quarter,
        |  CAST(isodow(order_day) - 1 AS INTEGER) AS dayofweek,
        |  CAST(CASE WHEN isodow(order_day) - 1 IN (5, 6) THEN 1 ELSE 0 END AS BIGINT) AS is_weekend,
        |  CAST(strftime(order_day, '%Y%m%d') AS BIGINT) AS date_id,
        |  monthname(order_day) AS month_name,
        |  dayname(order_day) AS dayofweek_name
        |FROM (SELECT DISTINCT date_trunc('day', o_orderdate) AS order_day FROM orders)
        |ORDER BY order_day""".stripMargin,
    "q21_date_diff" ->
      """SELECT l_orderkey, l_linenumber,
        |  (epoch(l_shipdate) - epoch(o_orderdate)) / 86400.0 AS days_to_ship
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q22_date_sequence" ->
      """WITH bounds AS (
        |  SELECT min(CAST(o_orderdate AS DATE)) AS lo,
        |         max(CAST(o_orderdate AS DATE)) AS hi FROM orders)
        |SELECT CAST(d AS TIMESTAMP) AS date,
        |  CAST(strftime(d, '%Y%m%d') AS BIGINT) AS date_id
        |FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds)
        |ORDER BY date""".stripMargin,
    "q23_impute" ->
      """WITH base AS (
        |  SELECT event_id,
        |    nullif(event_type, 'error') AS event_type,
        |    CASE WHEN value < 1.0 THEN NULL ELSE value END AS value
        |  FROM events),
        |med AS (SELECT CAST(median(value) AS DOUBLE) AS m FROM base)
        |SELECT event_id,
        |  coalesce(event_type, 'unknown') AS event_type,
        |  coalesce(value, (SELECT m FROM med)) AS value
        |FROM base ORDER BY event_id""".stripMargin,
    "q24_concat" ->
      """SELECT c_custkey, c_name || ' (' || c_mktsegment || ')' AS label
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q25_casts" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  CAST(round(l_discount * 100.0, 0) AS BIGINT) AS discount_pct,
        |  CAST(trunc(l_quantity) AS BIGINT) AS qty_int
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q26_union" ->
      """SELECT o_orderkey, 'high' AS band FROM orders WHERE o_totalprice > 400000.0
        |UNION ALL
        |SELECT o_orderkey, 'low' AS band FROM orders WHERE o_totalprice < 1000.0
        |ORDER BY o_orderkey""".stripMargin,
    "q27_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q63_setops" ->
      """WITH a AS (SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 0),
        |b AS (SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT o_custkey, 'both' AS side FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT o_custkey, 'only_even' AS side FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
        |ORDER BY o_custkey, side""".stripMargin,
    "q28_window_rank" ->
      """SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |WHERE rank <= 3 ORDER BY c_mktsegment, rank""".stripMargin,
    "q29_window_running" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders WHERE o_custkey <= 100
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "q110_profile" -> {
      val cols = Seq("o_custkey", "o_orderdate", "o_orderkey",
        "o_orderpriority", "o_orderstatus", "o_totalprice")
      cols.map(c =>
        s"""SELECT '$c' AS column_name,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value
           |FROM orders""".stripMargin)
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY column_name")
    },
    // the FULL one-pass recompute — equality to it is exactly what makes
    // the incremental merge algebra correct
    "q125_incremental_agg" ->
      """SELECT o_custkey,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price,
        |  min(o_orderdate) AS first_order,
        |  max(o_orderdate) AS last_order
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    // the oracle runs the PLAIN single join and classifies rows by the
    // cutoff predicates — equality proves the 4-term union partitions
    // the join exactly (the maintenance algebra is what the hash gates)
    "q182_join_ivm" ->
      """SELECT o_orderstatus, l_returnflag,
        |  CASE
        |    WHEN l_shipdate < TIMESTAMP '1996-01-01'
        |      AND o_orderdate < TIMESTAMP '1998-01-01' THEN 'base_base'
        |    WHEN l_shipdate >= TIMESTAMP '1996-01-01'
        |      AND o_orderdate < TIMESTAMP '1998-01-01' THEN 'delta_left'
        |    WHEN l_shipdate < TIMESTAMP '1996-01-01' THEN 'delta_right'
        |    ELSE 'delta_delta' END AS via_term,
        |  count(*) AS n_rows,
        |  round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q183_safe_parse" ->
      """SELECT o_orderkey,
        |  CAST(regexp_extract(o_orderpriority, '^(\d)-(.*)$', 1) AS BIGINT)
        |    AS priority_code,
        |  regexp_extract(o_orderpriority, '^(\d)-(.*)$', 2) AS priority_label,
        |  TRY_CAST(regexp_extract(o_orderpriority, '^(\d)-(.*)$', 2) AS BIGINT)
        |    AS label_as_number,
        |  CAST(split_part(c_name, '#', 2) AS BIGINT) AS cust_num,
        |  CAST(split_part(c_name, '#', 2) AS BIGINT) = o_custkey AS key_roundtrip
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q184_topn_per_group" ->
      """SELECT o_custkey, CAST(rk AS BIGINT) AS rk, o_orderkey, o_totalprice
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin
  )
}
