package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** S8 — the PNG chart sink: codec round-trip, bar geometry, font
  * rendering, the five reference-named dashboard files, and render
  * determinism. The gate query (m254) covers the oracle-checked
  * render→decode→measure loop on testdata; this spec covers the
  * sink API surface itself. */
class ChartsSpec extends SparkSpec {

  private val series = Seq(
    ("ALPHA", 120.0), ("BETA", 300.0), ("GAMMA", 75.5),
    ("DELTA", 240.25), ("EPS", 10.0))

  test("Png encode/decode round-trips every pixel") {
    val w = 97; val h = 53 // deliberately non-multiples of anything
    val px = Array.tabulate(w * h)(i => (i * 2654435761L).toInt & 0xFFFFFF)
    val bytes = Png.encode(w, h, px)
    // PNG signature present
    assert((bytes(0) & 0xFF) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G')
    val (dw, dh, dpx) = Png.decodeRgb(bytes)
    assert(dw == w && dh == h)
    assert(dpx.sameElements(px))
  }

  test("vertical bar chart: measured bar extents equal the geometry formula") {
    val png = Charts.barChartVertical(series, "TEST CHART")
    val (w, h, px) = Png.decodeRgb(png)
    assert(w == Charts.Width && h == Charts.Height)
    val vmax = series.map(_._2).max
    series.zipWithIndex.foreach { case ((_, v), i) =>
      val x = Charts.vBarCenterX(i, series.size)
      val measured = (0 until h).count(y => px(y * w + x) == Charts.BarColor)
      assert(measured == Charts.barPx(v, vmax),
        s"bar $i: measured $measured vs formula ${Charts.barPx(v, vmax)}")
    }
    // full-scale bar spans exactly BarSpan pixels
    assert(Charts.barPx(vmax, vmax) == Charts.BarSpan.toInt)
  }

  test("horizontal bar chart: measured bar extents equal the geometry formula") {
    val png = Charts.barChartHorizontal(series, "H CHART")
    val (w, h, px) = Png.decodeRgb(png)
    val vmax = series.map(_._2).max
    series.zipWithIndex.foreach { case ((_, v), i) =>
      val y = Charts.hBarCenterY(i, series.size)
      val measured = (0 until w).count(xx => px(y * w + xx) == Charts.BarColor)
      assert(measured == Charts.barPx(v, vmax))
    }
  }

  test("all-zero series renders a valid empty plot instead of aborting") {
    // an all-zero slice (e.g. a month with zero sales) is legitimate
    // input: the chart must render axes + labels with zero-height bars,
    // not throw and kill the ETL (ADVICE r11)
    val zeros = Seq(("JAN", 0.0), ("FEB", 0.0), ("MAR", 0.0))
    for (png <- Seq(Charts.barChartVertical(zeros, "ZERO V"),
                    Charts.barChartHorizontal(zeros, "ZERO H"))) {
      val (w, h, px) = Png.decodeRgb(png)
      assert(w == Charts.Width && h == Charts.Height)
      assert(!px.exists(_ == Charts.BarColor), "zero series drew bar pixels")
      assert(px.exists(_ == Charts.AxisColor), "axes/labels missing")
    }
  }

  test("negative series max fails loudly; barPx clamps to the plot span") {
    // the all-zero fallback must not silently accept an all-negative
    // series (which would render invisible bars) — that input has no
    // reference chart and must abort loudly (ADVICE r12)
    val negatives = Seq(("JAN", -5.0), ("FEB", -1.0))
    for (f <- Seq(Charts.barChartVertical _, Charts.barChartHorizontal _)) {
      val e = intercept[IllegalArgumentException](f(negatives, "NEG"))
      assert(e.getMessage.contains("negative"), e.getMessage)
    }
    // out-of-contract ratios can no longer paint outside the plot area
    assert(Charts.barPx(2.0, 1.0) == Charts.BarSpan.toInt)
    assert(Charts.barPx(-1.0, 1.0) == 0)
    assert(Charts.barPx(0.5, 1.0) == (Charts.BarSpan / 2).toInt)
  }

  test("title text rasterizes through the built-in font (no AWT fonts)") {
    val png = Charts.barChartVertical(series, "TITLE")
    val (w, _, px) = Png.decodeRgb(png)
    // title row band (y in [12, 26)) must contain axis-color glyph pixels
    val glyphPixels = (12 until 26).flatMap(y =>
      (0 until w).filter(x => px(y * w + x) == Charts.AxisColor))
    assert(glyphPixels.nonEmpty, "no glyph pixels in the title band")
    // and a blank-title render has none
    val blank = Charts.barChartVertical(series, "")
    val (_, _, bpx) = Png.decodeRgb(blank)
    assert((12 until 26).forall(y =>
      (0 until w).forall(x => bpx(y * w + x) != Charts.AxisColor)))
  }

  test("render is byte-deterministic") {
    val a = Charts.barChartHorizontal(series, "SAME")
    val b = Charts.barChartHorizontal(series, "SAME")
    assert(java.util.Arrays.equals(a, b))
  }

  test("writeDashboard emits the five reference-named PNGs with correct dims") {
    import spark.implicits._
    // minimal stand-ins for the four agg tables the charts consume
    val byDate = (1 to 12).map(m => (2017, m, (m + 2) / 3, 100.0 * m))
      .toDF("year", "month", "quarter", "total_sales")
    val byCat = Seq(("beleza_saude", 500.0), ("cama_mesa", 400.0), ("esporte", 300.0))
      .toDF("category_name", "total_sales")
    val byState = Seq(("SP", 900.0), ("RJ", 500.0), ("MG", 400.0))
      .toDF("state", "total_sales")
    val byScore = (1 to 5).map(sc => (sc, sc.toLong * 10))
      .toDF("review_score", "order_count")
    val dir = java.nio.file.Files.createTempDirectory("charts_spec").toFile
    try {
      Charts.writeDashboard(Map(
        "agg_sales_by_date" -> byDate,
        "agg_sales_by_category" -> byCat,
        "agg_sales_by_location" -> byState,
        "agg_review_metrics" -> byScore), dir.toString)
      val names = Seq("sales_by_month.png", "sales_by_category.png",
        "sales_by_state.png", "review_distribution.png", "dashboard_preview.png")
      names.foreach { n =>
        val f = new java.io.File(dir, n)
        assert(f.isFile && f.length > 0, s"$n missing")
        val (w, h, _) = Png.decodeRgb(java.nio.file.Files.readAllBytes(f.toPath))
        if (n == "dashboard_preview.png") assert(w == Charts.Width * 2 && h == Charts.Height * 2)
        else assert(w == Charts.Width && h == Charts.Height)
      }
      // dashboard top-left panel equals the standalone month chart pixel-wise
      val (mw, _, monthPx) = Png.decodeRgb(java.nio.file.Files.readAllBytes(
        new java.io.File(dir, "sales_by_month.png").toPath))
      val (dww, _, dashPx) = Png.decodeRgb(java.nio.file.Files.readAllBytes(
        new java.io.File(dir, "dashboard_preview.png").toPath))
      val y = Charts.MarginTop + 50; val x = Charts.MarginLeft + 50
      assert(monthPx(y * mw + x) == dashPx(y * dww + x))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }
  private def readPng(dir: java.io.File, name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(new java.io.File(dir, name).toPath)

  test("chart series: month fold, top-10 cut and order match the Spark formulation") {
    import spark.implicits._
    // months repeat across two years; quarter-unit values keep every sum exact
    val byDate = (for (y <- Seq(2021, 2022); m <- 1 to 12 if y == 2021 || m % 3 != 0)
      yield (y, m, (m + 2) / 3, 25.25 * ((m * 7 + y) % 13 + 1))).toDF(
      "year", "month", "quarter", "total_sales").repartition(3)
    // 14 categories and 12 states: ties on total_sales inside and across
    // the top-10 cut, one null total (DESC NULLS LAST drops it)
    val byCat = (Seq("toys", "books", "garden", "auto", "pet_shop", "baby", "housewares",
      "watches_gifts", "perfumery", "telephony", "sports", "cool_stuff", "Zeta", "ALPHA")
      .zipWithIndex.map { case (c, i) => (c, Option(Seq(300.0, 120.5, 300.0, 75.0)(i % 4))) } :+
      (("electronics", None: Option[Double]))).toDF("category_name", "total_sales").repartition(3)
    val byState = Seq("SP", "RJ", "MG", "RS", "PR", "SC", "BA", "DF", "GO", "ES", "PE", "CE")
      .zipWithIndex.map { case (st, i) => (st, Seq(900.0, 500.0, 500.0)(i % 3)) }
      .toDF("state", "total_sales").repartition(3)
    val byScore = Seq(3, 0, 5, 1, 4, 2).map(sc => (sc.toLong, sc.toLong * 10 + 1))
      .toDF("review_score", "order_count").repartition(3)
    val dir = java.nio.file.Files.createTempDirectory("charts_series").toFile
    try {
      Charts.writeDashboard(Map(
        "agg_sales_by_date" -> byDate,
        "agg_sales_by_category" -> byCat,
        "agg_sales_by_location" -> byState,
        "agg_review_metrics" -> byScore), dir.toString)

      // the Spark formulation of the four series
      val months = Seq("Jan", "Fev", "Mar", "Abr", "Mai", "Jun",
        "Jul", "Ago", "Set", "Out", "Nov", "Dez")
      val month = byDate.groupBy("month").agg(sum("total_sales")).orderBy("month")
        .collect().map(r => (months(r.getInt(0) - 1), r.getDouble(1))).toSeq
      def top10(df: org.apache.spark.sql.DataFrame, key: String) =
        df.orderBy(desc("total_sales"), col(key)).limit(10).select(key, "total_sales")
          .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      val score = byScore.orderBy("review_score")
        .select(col("review_score"), col("order_count").cast("double"))
        .collect().map(r => (r.get(0).toString, r.getDouble(1))).toSeq
      // seven categories tie at 300.0; the cut falls inside the four-way
      // tie at 120.5, so the key order decides which three are shown
      assert(month.size == 12 && top10(byCat, "category_name").map(_._2).count(_ == 120.5) == 3)

      val expected = Seq(
        "sales_by_month.png" -> Charts.barChartVertical(month, "VENDAS TOTAIS POR MES"),
        "sales_by_category.png" ->
          Charts.barChartHorizontal(top10(byCat, "category_name"), "TOP 10 CATEGORIAS POR VENDAS"),
        "sales_by_state.png" ->
          Charts.barChartHorizontal(top10(byState, "state"), "TOP 10 ESTADOS POR VENDAS"),
        "review_distribution.png" -> Charts.barChartVertical(score, "DISTRIBUICAO DE AVALIACOES"))
      expected.foreach { case (name, png) =>
        assert(java.util.Arrays.equals(readPng(dir, name), png), s"$name differs")
      }
    } finally graft.Tables.deleteTree(dir)
  }

  test("a category with no English name (null key) is left out of the top-10 chart") {
    import spark.implicits._
    val cats = Seq(("toys", Option(50.0)), (null, Option(900.0)), ("books", Option(70.0)))
    val byCat = cats.toDF("category_name", "total_sales")
    val stub = Seq(("SP", 1.0)).toDF("state", "total_sales")
    val dir = java.nio.file.Files.createTempDirectory("charts_null_key").toFile
    try {
      Charts.writeDashboard(Map(
        "agg_sales_by_date" -> Seq((2021, 1, 1, 5.0)).toDF("year", "month", "quarter", "total_sales"),
        "agg_sales_by_category" -> byCat,
        "agg_sales_by_location" -> stub,
        "agg_review_metrics" -> Seq((5L, 1L)).toDF("review_score", "order_count")), dir.toString)
      assert(java.util.Arrays.equals(readPng(dir, "sales_by_category.png"),
        Charts.barChartHorizontal(Seq(("books", 70.0), ("toys", 50.0)),
          "TOP 10 CATEGORIAS POR VENDAS")))
    } finally graft.Tables.deleteTree(dir)
  }
}
