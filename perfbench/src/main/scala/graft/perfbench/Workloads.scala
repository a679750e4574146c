package graft.perfbench

import graft.SparkEntry
import graft.etl._
import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** A named output check, evaluated outside the timed region. */
final case class Check(name: String, ok: Boolean, detail: String = "")

/** One op of the closed loop: `run` is timed, `after` is not (it checks
  * the op's result and updates the workload's own bookkeeping). */
final case class Step(kind: String, name: String, run: () => Unit,
    after: () => Seq[Check] = () => Nil)

trait Workload {
  /** The one cheap call that set-up time includes after session start. */
  def warmUp(spark: SparkSession): Unit = ()
  /** Untimed work between set-up and the timed loop: every op runs at
    * least once, so the loop measures warm code paths. */
  def prepare(spark: SparkSession): Seq[Check] = Nil
  def next(spark: SparkSession, t: Tracer): Step
  /** False while the loop has not yet sampled every op the metrics need. */
  def covered(done: Seq[OpRec]): Boolean = true
  /** Timed ops that run once, after the loop. */
  def finalSteps(spark: SparkSession): Seq[Step] = Nil
  /** Counters sampled around each op in the traced run. */
  def counters(): Map[String, Long] = Map.empty
  def check(spark: SparkSession): Seq[Check]
}

object Workloads {
  /** Relational queries bound by fixed per-query overhead: aggregate,
    * filter, star join, median barrier and a bloom-filter join. */
  val StarQueries: Seq[String] = Seq("q1_agg", "q3_filter_eq", "q7_join_star",
    "q14_median", "q260_bloom_join")

  def apply(name: String, data: String, work: String, seed: Long): Workload = name match {
    case "etl_refresh" => new EtlRefresh(data, work)
    case "star_lakehouse" => new Interleave(Seq(
      new QueryMix(StarQueries, s"$data/tables", work, seed),
      new Lakehouse(s"$data/tables/orders.parquet", work, seed)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def rm(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
}

/** `Pipeline.run` over the generated Olist CSVs in `data/raw`. The
  * traced run makes the same calls one layer at a time so each gets its
  * own span. */
final class EtlRefresh(data: String, work: String) extends Workload {
  private val raw = s"$data/raw"
  private var n = 0
  private var last: Option[(Pipeline.Result, Path)] = None

  /** Plan building runs the pipeline's eager part (the imputation
    * medians); the first full refresh comes untimed, in `prepare`. */
  override def warmUp(spark: SparkSession): Unit =
    Pipeline.build(spark, raw).left.foreach(e => sys.error(e))

  override def prepare(spark: SparkSession): Seq[Check] = {
    val out = Paths.get(work, "etl-warm")
    Pipeline.run(spark, raw, out.toString).left.foreach(e => sys.error(e))
    Workloads.rm(out)
    Nil
  }

  private def traced(spark: SparkSession, t: Tracer, out: String): Pipeline.Result = {
    val rawTables = t.span("etl.extract")(Extract(spark, raw)).fold(e => sys.error(e), identity)
    val transformed = t.span("etl.transform")(Transform(rawTables))
    val star = t.span("etl.model")(Model(transformed))
    val aggs = t.span("etl.aggregates")(Aggregates(star.factSales, star))
    t.span("etl.load")(Load.writeAll(star, aggs, out))
    t.span("etl.instructions")(Instructions.write(out))
    t.span("etl.charts")(Charts.writeDashboard(
      aggs.byName.map { case (name, _) => name -> spark.read.parquet(s"$out/parquet/$name") },
      Paths.get(out, "reports", "dashboard").toString))
    Pipeline.Result(star, aggs)
  }

  def next(spark: SparkSession, t: Tracer): Step = {
    val out = Paths.get(work, s"etl-$n")
    n += 1
    var result: Pipeline.Result = null
    Step("refresh", "Pipeline.run",
      run = () => result =
        if (t.enabled) traced(spark, t, out.toString)
        else Pipeline.run(spark, raw, out.toString).fold(e => sys.error(e), identity),
      after = () => {
        last.foreach { case (_, p) => Workloads.rm(p) }
        last = Some((result, out))
        Nil
      })
  }

  def check(spark: SparkSession): Seq[Check] = last match {
    case None => Seq(Check("etl.ran", ok = false, "no refresh completed"))
    case Some((r, out)) =>
      val q = Quality.check(r.star, r.aggs)
      val fact = spark.read.parquet(s"$out/parquet/fact_sales")
        .agg(count(lit(1)), sum("price"), sum("freight_value")).first()
      val expected = scala.io.Source.fromFile(s"$data/invariants.txt")
      val inv = try expected.getLines().map(_.split("=")).map(a => a(0) -> a(1).toDouble).toMap
        finally expected.close()
      def close(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
      Seq(
        Check("etl.quality", q.ok, q.toString),
        Check("etl.fact_rows", fact.getLong(0) == inv("fact_rows").toLong,
          s"${fact.getLong(0)} vs ${inv("fact_rows")}"),
        Check("etl.sum_price", close(fact.getDouble(1), inv("sum_price")),
          s"${fact.getDouble(1)} vs ${inv("sum_price")}"),
        Check("etl.sum_freight", close(fact.getDouble(2), inv("sum_freight")),
          s"${fact.getDouble(2)} vs ${inv("sum_freight")}"),
        Check("etl.charts", Files.list(Paths.get(out.toString, "reports", "dashboard"))
          .filter(_.toString.endsWith(".png")).count() == 5))
  }
}

/** Queries from `SparkEntry.queries` in a seeded shuffled order, each
  * built and forced through the noop sink. Before the loop every query
  * writes its result once for the oracle comparison and then runs once
  * more: the JIT is still compiling through the second execution of a
  * plan, which made the first timed sample up to 1.5x the later ones. */
final class QueryMix(names: Seq[String], tables: String, work: String, seed: Long)
    extends Workload {
  private val rng = new scala.util.Random(seed)
  private var queue: List[String] = Nil

  private def build(spark: SparkSession, name: String): DataFrame =
    SparkEntry.queries(name)(spark, tables)

  override def warmUp(spark: SparkSession): Unit =
    build(spark, names.head).write.format("noop").mode("overwrite").save()

  override def prepare(spark: SparkSession): Seq[Check] = {
    val dir = Paths.get(work, "results")
    Files.createDirectories(dir)
    names.foreach(n => build(spark, n).write.mode("overwrite").parquet(dir.resolve(n).toString))
    Files.write(dir.resolve("oracle_sql.json"), Json(SparkEntry.oracleSql.filter {
      case (k, _) => names.contains(k)
    }).getBytes("UTF-8"))
    names.foreach(n => build(spark, n).write.format("noop").mode("overwrite").save())
    Nil
  }

  def next(spark: SparkSession, t: Tracer): Step = {
    if (queue.isEmpty) queue = rng.shuffle(names).toList
    val name = queue.head
    queue = queue.tail
    Step("query", name, run = () => {
      val df = t.span("operators.build")(build(spark, name))
      t.span("operators.exec")(df.write.format("noop").mode("overwrite").save())
    })
  }

  override def covered(done: Seq[OpRec]): Boolean =
    names.forall(n => done.exists(_.name == n))

  def check(spark: SparkSession): Seq[Check] = Nil
}

/** Commit rounds against one `SnapshotTable` seeded from the orders
  * table, partitioned by status. Every round appends a batch, upserts
  * about 1 % of the rows through `mergeDV`, deletes a few keys through
  * `deleteWhereDV`, compacts and reads an aggregate. An in-memory replay
  * of the same ops is the expected state. */
final class Lakehouse(orders: String, work: String, seed: Long) extends Workload {
  private val dir = Paths.get(work, "lakehouse").toString
  private val rng = new scala.util.Random(seed)
  private val model = mutable.LinkedHashMap[Long, Seq[Any]]()
  private val aggAt = mutable.LinkedHashMap[Long, Map[String, (Long, Double)]]()
  private var version = 0L
  private var nextKey = 0L
  private var cycle: List[String] = Nil
  private var schema: org.apache.spark.sql.types.StructType = _

  val Batch = 200
  val Deletes = 20
  val Round = List("append", "merge_dv", "delete_dv", "compact", "read")

  override def prepare(spark: SparkSession): Seq[Check] = {
    val df = spark.read.parquet(orders)
    version = SnapshotTable.write(spark, dir, df, "o_orderstatus")
    schema = df.schema
    df.collect().foreach(r => model(r.getLong(0)) = r.toSeq)
    nextKey = model.keys.max + 1
    aggAt(version) = modelAgg()
    val seeded = Check("sources.seed_rows", SnapshotTable.read(spark, dir).count() == model.size)
    // two untimed rounds, for the same reason as the queries' second run
    seeded +: (Round ++ Round).flatMap { _ =>
      val s = next(spark, new Tracer(false))
      s.run()
      s.after()
    }
  }

  private def readAgg(spark: SparkSession, v: Option[Long] = None): Map[String, (Long, Double)] =
    SnapshotTable.read(spark, dir, v).groupBy("o_orderstatus")
      .agg(count(lit(1)), sum("o_totalprice")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap

  private def modelAgg(): Map[String, (Long, Double)] =
    model.values.groupBy(_(2).asInstanceOf[String]).map { case (s, rows) =>
      s -> (rows.size.toLong, rows.map(_(3).asInstanceOf[Double]).sum)
    }

  private def sameAgg(a: Map[String, (Long, Double)], b: Map[String, (Long, Double)]) =
    a.keySet == b.keySet && a.forall { case (k, (n, s)) =>
      b(k)._1 == n && math.abs(b(k)._2 - s) <= 1e-9 * math.max(1.0, math.abs(s))
    }

  private def row(key: Long): Seq[Any] = Seq(key, rng.nextInt(15000).toLong,
    Seq("F", "O", "P")(rng.nextInt(3)), math.round(rng.nextDouble() * 49900000 + 100000) / 100.0,
    java.time.LocalDateTime.of(1995, 1, 1, 0, 0).plusDays(rng.nextInt(2404).toLong),
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(rng.nextInt(5)))

  private def frame(spark: SparkSession, rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromSeq): _*), schema)

  private def sampleKeys(k: Int): Seq[Long] = {
    val keys = model.keysIterator.toIndexedSeq
    Iterator.continually(keys(rng.nextInt(keys.size))).distinct.take(k).toSeq
  }

  /** Check that a commit advanced the version by exactly one, then
    * apply it to the replay and record the replay's aggregate there. */
  private def committed(kind: String, v: Long)(apply: => Unit): Seq[Check] = {
    val ok = v == version + 1
    version = v
    apply
    aggAt(v) = modelAgg()
    if (ok) Nil else Seq(Check(s"sources.$kind.version", ok = false, s"got $v"))
  }

  def next(spark: SparkSession, t: Tracer): Step = {
    if (cycle.isEmpty) cycle = Round
    val kind = cycle.head
    cycle = cycle.tail
    kind match {
      case "append" =>
        val rows = (0 until Batch).map { _ => nextKey += 1; row(nextKey - 1) }
        val df = frame(spark, rows)
        var v = 0L
        Step(kind, kind, () => v = SnapshotTable.append(spark, dir, df, "o_orderstatus"),
          () => committed(kind, v)(rows.foreach(r => model(r.head.asInstanceOf[Long]) = r)))
      case "merge_dv" =>
        val n = math.max(model.size / 100, 2)
        val rows = sampleKeys(n / 2).map(row) ++
          (0 until n - n / 2).map { _ => nextKey += 1; row(nextKey - 1) }
        val df = frame(spark, rows)
        var v = 0L
        Step(kind, kind,
          () => v = SnapshotTable.mergeDV(spark, dir, "o_orderstatus", "o_orderkey", df)._1,
          () => committed(kind, v)(rows.foreach(r => model(r.head.asInstanceOf[Long]) = r)))
      case "delete_dv" =>
        val keys = sampleKeys(Deletes)
        var res = (0L, 0L)
        Step(kind, kind,
          () => res = SnapshotTable.deleteWhereDV(spark, dir, col("o_orderkey").isin(keys: _*)),
          () => committed(kind, res._1)(keys.foreach(model.remove)) ++
            (if (res._2 == keys.size) Nil
             else Seq(Check("sources.delete_dv.count", ok = false, s"${res._2} of ${keys.size}"))))
      case "compact" =>
        var v = 0L
        Step(kind, kind, () => v = SnapshotTable.compact(spark, dir, "o_orderstatus")._1,
          () => committed(kind, v)(()))
      case "read" =>
        var got = Map.empty[String, (Long, Double)]
        Step(kind, kind, () => got = readAgg(spark),
          () => if (sameAgg(got, modelAgg())) Nil
                else Seq(Check("sources.read", ok = false, s"$got vs ${modelAgg()}")))
    }
  }

  /** One read of an earlier snapshot, chosen by the seed. */
  override def finalSteps(spark: SparkSession): Seq[Step] = {
    val older = aggAt.keys.toIndexedSeq.init
    if (older.isEmpty) Nil
    else {
      val v = older(rng.nextInt(older.size))
      var got = Map.empty[String, (Long, Double)]
      Seq(Step("time_travel", s"v$v", () => got = readAgg(spark, Some(v)),
        () => if (sameAgg(got, aggAt(v))) Nil
              else Seq(Check("sources.time_travel", ok = false, s"v$v: $got vs ${aggAt(v)}"))))
    }
  }

  override def covered(done: Seq[OpRec]): Boolean =
    Round.forall(k => done.exists(_.kind == k))

  override def counters(): Map[String, Long] = Map(
    "manifest_reads" -> SnapshotTable.manifestReadCount.get(),
    "table_bytes" -> Workloads.bytesUnder(Paths.get(dir)))

  def check(spark: SparkSession): Seq[Check] = {
    val got = SnapshotTable.read(spark, dir).select(schema.fieldNames.map(col).toIndexedSeq: _*)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val diff = (got.keySet ++ model.keySet).count(k => got.get(k) != model.get(k))
    Seq(
      Check("sources.final_state", diff == 0, s"$diff keys differ of ${model.size}"),
      Check("sources.latest_version",
        SnapshotTable.latest(spark, dir).map(_._1).contains(version)))
  }
}

/** Several workloads in one closed loop, one op from each in turn; an
  * analyst session that queries the star schema and commits to the
  * lakehouse. */
final class Interleave(parts: Seq[Workload]) extends Workload {
  private var turn = -1

  override def warmUp(spark: SparkSession): Unit = parts.foreach(_.warmUp(spark))
  override def prepare(spark: SparkSession): Seq[Check] = parts.flatMap(_.prepare(spark))
  def next(spark: SparkSession, t: Tracer): Step = {
    turn = (turn + 1) % parts.size
    parts(turn).next(spark, t)
  }
  override def covered(done: Seq[OpRec]): Boolean = parts.forall(_.covered(done))
  override def finalSteps(spark: SparkSession): Seq[Step] = parts.flatMap(_.finalSteps(spark))
  override def counters(): Map[String, Long] = parts.flatMap(_.counters()).toMap
  def check(spark: SparkSession): Seq[Check] = parts.flatMap(_.check(spark))
}
