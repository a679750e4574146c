package graft.etl

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** S8 — the PNG chart sink (ref: notebooks/01_etl_process.ipynb cell 23:15,
  * 26,37,47 and cell 25:46): the reference renders five dashboard PNGs with
  * matplotlib/seaborn (sales by month, top-10 categories, top-10 states,
  * review-score distribution, and a 2×2 dashboard composite). This is the
  * Spark-native equivalent: the chart DATA stays a distributed aggregate
  * (the same gated agg tables), and only the four dimension-sized chart
  * inputs are collected for rasterization — a presentation sink, the one
  * place a driver-side collect is the design (same contract as the
  * reference, whose matplotlib call is also a driver-side render).
  *
  * The renderer is deliberately dependency-free and deterministic:
  *  - [[Png]] encodes 8-bit truecolor PNG via `java.util.zip`
  *    (Deflater + CRC32 — public PNG/zlib format, JDK only);
  *  - [[MicroFont]] is a built-in 5×7 bitmap font, so no AWT font
  *    machinery (fontconfig-dependent, non-deterministic across hosts)
  *    is ever touched;
  *  - bar geometry is integer: `bar_px = floor(v / vmax * 300.0 + 0.5)`
  *    over lattice-rounded values, so a decoder can re-measure every bar
  *    and an external oracle can recompute the exact pixel counts (the
  *    m254 gate does both).
  */
object Charts {

  /** Pixel span of a full-scale bar — the one constant the oracle formula
    * reproduces: bar_px = floor(v / vmax * BarSpan + 0.5). */
  val BarSpan: Double = 300.0

  val Width = 640
  val Height = 420
  val MarginLeft = 80
  val MarginTop = 40
  val PlotH = 330 // >= BarSpan; baseline sits at MarginTop + PlotH
  val PlotW = 540

  val Background = 0xFFFFFF
  val BarColor = 0x31688E // viridis mid-blue
  val AxisColor = 0x202020
  val GridColor = 0xDDDDDD

  def barPx(v: Double, vmax: Double): Int =
    // clamp to the plot span: a huge v/vmax ratio (possible only on
    // out-of-contract inputs) must not paint outside the plot area
    math.min(BarSpan.toInt,
      math.max(0, math.floor(v / vmax * BarSpan + 0.5).toInt))

  /** Series scale: 1e-12 ONLY for an all-zero series (legitimate empty
    * slice — render axes + zero-height bars); a negative max means the
    * caller fed a series no reference chart can hold and fails loudly
    * rather than rendering invisible bars (ADVICE r12). */
  private def seriesMax(data: Seq[(String, Double)], title: String): Double = {
    val rawMax = data.map(_._2).max
    require(rawMax >= 0.0,
      s"'$title': negative series max $rawMax — bar charts render " +
        "non-negative magnitudes only")
    if (rawMax == 0.0) 1e-12 else rawMax
  }

  /** Center x of vertical bar `i` of `n` — where the spec/gate re-measures. */
  def vBarCenterX(i: Int, n: Int): Int = {
    val slot = PlotW / n
    val barW = math.max(1, slot * 7 / 10)
    MarginLeft + i * slot + (slot - barW) / 2 + barW / 2
  }

  /** Center y of horizontal bar `i` of `n`. */
  def hBarCenterY(i: Int, n: Int): Int = {
    val slot = PlotH / n
    val barH = math.max(1, slot * 7 / 10)
    MarginTop + i * slot + (slot - barH) / 2 + barH / 2
  }

  /** Vertical bar chart (sales-by-month / review-distribution shape). */
  def barChartVertical(data: Seq[(String, Double)], title: String): Array[Byte] = {
    require(data.nonEmpty, s"'$title': empty series")
    val c = newCanvas(title)
    // an all-zero series is a legitimate slice (e.g. a month with zero
    // sales): render a valid empty plot (axes + labels, zero-height
    // bars) rather than aborting the whole ETL (ADVICE r11)
    val vmax = seriesMax(data, title)
    val n = data.size
    val slot = PlotW / n
    val barW = math.max(1, slot * 7 / 10)
    val base = MarginTop + PlotH
    data.zipWithIndex.foreach { case ((label, v), i) =>
      val px = barPx(v, vmax)
      val x0 = MarginLeft + i * slot + (slot - barW) / 2
      c.fillRect(x0, base - px, barW, px, BarColor)
      val lab = label.take(math.max(1, barW / 6))
      c.drawText(x0 + (barW - lab.length * 6) / 2, base + 6, lab, AxisColor)
    }
    axes(c)
    Png.encode(Width, Height, c.px)
  }

  /** Horizontal bar chart (top-10 category/state shape). */
  def barChartHorizontal(data: Seq[(String, Double)], title: String): Array[Byte] = {
    require(data.nonEmpty, s"'$title': empty series")
    val c = newCanvas(title)
    // all-zero series renders as a valid empty plot (see barChartVertical)
    val vmax = seriesMax(data, title)
    val n = data.size
    val slot = PlotH / n
    val barH = math.max(1, slot * 7 / 10)
    data.zipWithIndex.foreach { case ((label, v), i) =>
      val px = barPx(v, vmax)
      val y0 = MarginTop + i * slot + (slot - barH) / 2
      c.fillRect(MarginLeft, y0, px, barH, BarColor)
      val lab = label.take((MarginLeft - 8) / 6)
      c.drawText(MarginLeft - 6 - lab.length * 6, y0 + (barH - 7) / 2, lab, AxisColor)
    }
    axes(c)
    Png.encode(Width, Height, c.px)
  }

  private def newCanvas(title: String): Canvas = {
    val c = new Canvas(Width, Height)
    c.fill(Background)
    // horizontal gridlines every quarter of the bar span (behind bars)
    (0 to 4).foreach { g =>
      val y = MarginTop + PlotH - (BarSpan * g / 4).toInt
      c.fillRect(MarginLeft, y, PlotW, 1, GridColor)
    }
    c.drawText(MarginLeft, 12, title.take(60), AxisColor, scale = 2)
    c
  }

  private def axes(c: Canvas): Unit = {
    c.fillRect(MarginLeft - 1, MarginTop, 1, PlotH + 1, AxisColor)
    c.fillRect(MarginLeft - 1, MarginTop + PlotH, PlotW + 1, 1, AxisColor)
  }

  /** 2×2 composite (the reference's dashboard.png, cell 25). */
  def dashboard(panels: Seq[Array[Byte]]): Array[Byte] = {
    require(panels.size == 4, "dashboard is a 2x2 grid")
    val imgs = panels.map(Png.decodeRgb)
    val out = new Canvas(Width * 2, Height * 2)
    out.fill(Background)
    imgs.zipWithIndex.foreach { case ((w, h, px), i) =>
      val ox = (i % 2) * Width; val oy = (i / 2) * Height
      var y = 0
      while (y < h) {
        System.arraycopy(px, y * w, out.px, (oy + y) * out.w + ox, w)
        y += 1
      }
    }
    Png.encode(Width * 2, Height * 2, out.px)
  }

  private val MonthNames = // the reference's Portuguese tick labels (cell 23:13)
    Seq("Jan", "Fev", "Mar", "Abr", "Mai", "Jun",
      "Jul", "Ago", "Set", "Out", "Nov", "Dez")

  /** The four agg tables the charts read (AggTables.byName names). */
  val Inputs: Seq[String] = Seq("agg_sales_by_date", "agg_sales_by_category",
    "agg_sales_by_location", "agg_review_metrics")

  /** ASC NULLS FIRST on numeric column `i`, comparing as Spark compares
    * doubles: NaN above every number, -0.0 equal to 0.0. */
  private def numericAsc(a: Row, b: Row, i: Int): Int =
    if (a.isNullAt(i) || b.isNullAt(i)) java.lang.Boolean.compare(b.isNullAt(i), a.isNullAt(i))
    else {
      val (x, y) = (a.getAs[Number](i).doubleValue, b.getAs[Number](i).doubleValue)
      if (x == y) 0 else java.lang.Double.compare(x, y)
    }

  /** The five reference PNGs from the gated agg tables (AggTables.byName
    * layout). Each of the four [[Inputs]] is bounded by a dimension's
    * cardinality (months, categories, states, review scores), so it is
    * collected whole by one plain select, and the month fold, the order
    * and the top-10 cut run on the driver, ordered exactly as Spark's
    * `orderBy` orders them. */
  def writeDashboard(tables: Map[String, DataFrame], dir: String): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val spark = tables(Inputs.head).sparkSession
    // the four collects are independent jobs, and so are the four
    // renders: each runs side by side with the others
    def rows(name: String, cols: String*): Future[Seq[Row]] = Future {
      Load.described(spark, "etl.charts") {
        tables(name).select(cols.map(col): _*).collect().toSeq
      }
    }
    val monthRows = rows("agg_sales_by_date", "month", "total_sales")
    val catRows = rows("agg_sales_by_category", "category_name", "total_sales")
    val stateRows = rows("agg_sales_by_location", "state", "total_sales")
    val scoreRows = rows("agg_review_metrics", "review_score", "order_count")
    val p1 = monthRows.map { rs =>
      val byMonth = rs.filterNot(_.isNullAt(1)) // sum() skips nulls
        .groupMapReduce(_.getAs[Number](0).intValue())(_.getDouble(1))(_ + _)
        .toSeq.sortBy(_._1).map { case (m, v) =>
          require(m >= 1 && m <= 12, s"agg_sales_by_date month out of range: $m")
          (MonthNames(m - 1), v)
        }
      barChartVertical(byMonth, "VENDAS TOTAIS POR MES")
    }
    // orderBy(desc(total_sales), col(key)), strings by UTF-8 bytes. An
    // untranslated category's null key (H3) is dropped, as pandas' groupby
    // drops NaN keys; a null label cannot be drawn.
    def top10(rs: Seq[Row]): Seq[(String, Double)] =
      rs.filterNot(_.isNullAt(0)).sorted[Row] { (a, b) =>
        val byValue = numericAsc(b, a, 1)
        if (byValue != 0) byValue
        else java.util.Arrays.compareUnsigned(
          a.getString(0).getBytes(UTF_8), b.getString(0).getBytes(UTF_8))
      }.take(10).map(r => (r.getString(0), r.getDouble(1)))
    val p2 = catRows.map(rs => barChartHorizontal(top10(rs), "TOP 10 CATEGORIAS POR VENDAS"))
    val p3 = stateRows.map(rs => barChartHorizontal(top10(rs), "TOP 10 ESTADOS POR VENDAS"))
    val p4 = scoreRows.map { rs =>
      val byScore = rs.sorted[Row]((a, b) => numericAsc(a, b, 0))
        .map(r => (r.get(0).toString, r.getAs[Number](1).doubleValue()))
      barChartVertical(byScore, "DISTRIBUICAO DE AVALIACOES")
    }

    val d = new java.io.File(dir); d.mkdirs()
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(new java.io.File(d, name).toPath, bytes)
    val pngs = Await.result(Future.sequence(Seq(p1, p2, p3, p4)), Duration.Inf)
    Seq("sales_by_month.png", "sales_by_category.png", "sales_by_state.png",
      "review_distribution.png").zip(pngs).foreach { case (n, b) => put(n, b) }
    put("dashboard_preview.png", dashboard(pngs))
  }
}

/** Fixed-size RGB raster. */
final class Canvas(val w: Int, val h: Int) {
  val px = new Array[Int](w * h)

  def fill(color: Int): Unit = java.util.Arrays.fill(px, color)

  def fillRect(x: Int, y: Int, rw: Int, rh: Int, color: Int): Unit = {
    var yy = math.max(0, y); val y1 = math.min(h, y + rh)
    val x0 = math.max(0, x); val x1 = math.min(w, x + rw)
    while (yy < y1) {
      var xx = x0
      while (xx < x1) { px(yy * w + xx) = color; xx += 1 }
      yy += 1
    }
  }

  def drawText(x: Int, y: Int, text: String, color: Int, scale: Int = 1): Unit = {
    var cx = x
    text.foreach { ch =>
      val g = MicroFont.glyph(ch)
      var row = 0
      while (row < 7) {
        var colb = 0
        while (colb < 5) {
          if (((g(row) >> (4 - colb)) & 1) != 0)
            fillRect(cx + colb * scale, y + row * scale, scale, scale, color)
          colb += 1
        }
        row += 1
      }
      cx += 6 * scale
    }
  }
}

/** Built-in 5×7 bitmap font (rows of 5 bits, MSB = leftmost column).
  * Upper-case letters, digits, and the punctuation the chart labels use;
  * anything else renders as space. Original glyph set in the classic
  * 5×7 dot-matrix style (public-domain letterforms). */
object MicroFont {
  private def g(rows: String*): Array[Int] =
    rows.map(r => Integer.parseInt(r.replace('.', '0').replace('#', '1'), 2)).toArray

  private val blank = g("00000", "00000", "00000", "00000", "00000", "00000", "00000")

  private val glyphs: Map[Char, Array[Int]] = Map(
    'A' -> g("01110", "10001", "10001", "11111", "10001", "10001", "10001"),
    'B' -> g("11110", "10001", "10001", "11110", "10001", "10001", "11110"),
    'C' -> g("01110", "10001", "10000", "10000", "10000", "10001", "01110"),
    'D' -> g("11110", "10001", "10001", "10001", "10001", "10001", "11110"),
    'E' -> g("11111", "10000", "10000", "11110", "10000", "10000", "11111"),
    'F' -> g("11111", "10000", "10000", "11110", "10000", "10000", "10000"),
    'G' -> g("01110", "10001", "10000", "10111", "10001", "10001", "01111"),
    'H' -> g("10001", "10001", "10001", "11111", "10001", "10001", "10001"),
    'I' -> g("01110", "00100", "00100", "00100", "00100", "00100", "01110"),
    'J' -> g("00111", "00010", "00010", "00010", "00010", "10010", "01100"),
    'K' -> g("10001", "10010", "10100", "11000", "10100", "10010", "10001"),
    'L' -> g("10000", "10000", "10000", "10000", "10000", "10000", "11111"),
    'M' -> g("10001", "11011", "10101", "10101", "10001", "10001", "10001"),
    'N' -> g("10001", "11001", "10101", "10011", "10001", "10001", "10001"),
    'O' -> g("01110", "10001", "10001", "10001", "10001", "10001", "01110"),
    'P' -> g("11110", "10001", "10001", "11110", "10000", "10000", "10000"),
    'Q' -> g("01110", "10001", "10001", "10001", "10101", "10010", "01101"),
    'R' -> g("11110", "10001", "10001", "11110", "10100", "10010", "10001"),
    'S' -> g("01111", "10000", "10000", "01110", "00001", "00001", "11110"),
    'T' -> g("11111", "00100", "00100", "00100", "00100", "00100", "00100"),
    'U' -> g("10001", "10001", "10001", "10001", "10001", "10001", "01110"),
    'V' -> g("10001", "10001", "10001", "10001", "10001", "01010", "00100"),
    'W' -> g("10001", "10001", "10001", "10101", "10101", "10101", "01010"),
    'X' -> g("10001", "10001", "01010", "00100", "01010", "10001", "10001"),
    'Y' -> g("10001", "10001", "01010", "00100", "00100", "00100", "00100"),
    'Z' -> g("11111", "00001", "00010", "00100", "01000", "10000", "11111"),
    '0' -> g("01110", "10001", "10011", "10101", "11001", "10001", "01110"),
    '1' -> g("00100", "01100", "00100", "00100", "00100", "00100", "01110"),
    '2' -> g("01110", "10001", "00001", "00010", "00100", "01000", "11111"),
    '3' -> g("11111", "00010", "00100", "00010", "00001", "10001", "01110"),
    '4' -> g("00010", "00110", "01010", "10010", "11111", "00010", "00010"),
    '5' -> g("11111", "10000", "11110", "00001", "00001", "10001", "01110"),
    '6' -> g("00110", "01000", "10000", "11110", "10001", "10001", "01110"),
    '7' -> g("11111", "00001", "00010", "00100", "01000", "01000", "01000"),
    '8' -> g("01110", "10001", "10001", "01110", "10001", "10001", "01110"),
    '9' -> g("01110", "10001", "10001", "01111", "00001", "00010", "01100"),
    '-' -> g("00000", "00000", "00000", "11111", "00000", "00000", "00000"),
    '_' -> g("00000", "00000", "00000", "00000", "00000", "00000", "11111"),
    '.' -> g("00000", "00000", "00000", "00000", "00000", "01100", "01100"),
    '(' -> g("00010", "00100", "01000", "01000", "01000", "00100", "00010"),
    ')' -> g("01000", "00100", "00010", "00010", "00010", "00100", "01000"),
    '#' -> g("01010", "01010", "11111", "01010", "11111", "01010", "01010"),
    '%' -> g("11001", "11010", "00010", "00100", "01000", "01011", "10011"),
    '/' -> g("00001", "00010", "00010", "00100", "01000", "01000", "10000"),
    '$' -> g("00100", "01111", "10100", "01110", "00101", "11110", "00100"))

  def glyph(ch: Char): Array[Int] =
    glyphs.getOrElse(Character.toUpperCase(ch), blank)
}

/** Minimal deterministic PNG codec over `java.util.zip` — 8-bit truecolor,
  * filter 0, no interlace (PNG spec, public format). Encoding is exercised
  * by the m254 gate and ChartsSpec; `decodeRgb` exists so the dashboard
  * composite and the gate's re-measurement never need AWT. */
object Png {
  private val Signature = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)

  def encode(w: Int, h: Int, px: Array[Int]): Array[Byte] = {
    require(px.length == w * h)
    // raw scanlines: filter byte 0 + RGB triples
    val raw = new Array[Byte](h * (1 + w * 3))
    var y = 0; var o = 0
    while (y < h) {
      raw(o) = 0; o += 1
      var x = 0
      while (x < w) {
        val p = px(y * w + x)
        raw(o) = ((p >> 16) & 0xFF).toByte
        raw(o + 1) = ((p >> 8) & 0xFF).toByte
        raw(o + 2) = (p & 0xFF).toByte
        o += 3; x += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
    deflater.setInput(raw); deflater.finish()
    val buf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](65536)
    while (!deflater.finished()) buf.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()

    val out = new java.io.ByteArrayOutputStream()
    out.write(Signature)
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(w).putInt(h).put(8.toByte).put(2.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte)
    writeChunk(out, "IHDR", ihdr.array())
    writeChunk(out, "IDAT", buf.toByteArray)
    writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  private def writeChunk(out: java.io.ByteArrayOutputStream, tag: String,
      data: Array[Byte]): Unit = {
    val len = java.nio.ByteBuffer.allocate(4).putInt(data.length).array()
    out.write(len)
    val tagB = tag.getBytes("US-ASCII")
    val crc = new java.util.zip.CRC32()
    crc.update(tagB); crc.update(data)
    out.write(tagB); out.write(data)
    out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
  }

  /** Decode a PNG this codec (or any filter-0-capable encoder) produced:
    * 8-bit RGB, all five PNG row filters supported. Returns (w, h, pixels). */
  def decodeRgb(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.position(8) // signature
    var w = 0; var h = 0
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done && bb.remaining() >= 12) {
      val len = bb.getInt
      val tag = new Array[Byte](4); bb.get(tag)
      val name = new String(tag, "US-ASCII")
      val data = new Array[Byte](len); bb.get(data)
      bb.getInt // crc
      name match {
        case "IHDR" =>
          val ib = java.nio.ByteBuffer.wrap(data)
          w = ib.getInt; h = ib.getInt
          require(ib.get() == 8 && ib.get() == 2, "decodeRgb: 8-bit RGB only")
        case "IDAT" => idat.write(data)
        case "IEND" => done = true
        case _ => ()
      }
    }
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    val raw = new Array[Byte](h * (1 + w * 3))
    var off = 0
    while (!inflater.finished() && off < raw.length)
      off += inflater.inflate(raw, off, raw.length - off)
    inflater.end()
    // un-filter (PNG spec §6: None/Sub/Up/Average/Paeth), bpp = 3
    val stride = w * 3
    val px = new Array[Int](w * h)
    val prev = new Array[Int](stride) // previous reconstructed row, unsigned
    var y = 0
    while (y < h) {
      val ft = raw(y * (stride + 1)) & 0xFF
      val row = new Array[Int](stride)
      var i = 0
      while (i < stride) {
        val x = raw(y * (stride + 1) + 1 + i) & 0xFF
        val a = if (i >= 3) row(i - 3) else 0
        val b = prev(i)
        val c = if (i >= 3) prev(i - 3) else 0
        row(i) = ft match {
          case 0 => x
          case 1 => (x + a) & 0xFF
          case 2 => (x + b) & 0xFF
          case 3 => (x + (a + b) / 2) & 0xFF
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            val pr = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            (x + pr) & 0xFF
          case other => throw new IllegalArgumentException(s"filter $other")
        }
        i += 1
      }
      var xx = 0
      while (xx < w) {
        px(y * w + xx) = (row(xx * 3) << 16) | (row(xx * 3 + 1) << 8) | row(xx * 3 + 2)
        xx += 1
      }
      System.arraycopy(row, 0, prev, 0, stride)
      y += 1
    }
    (w, h, px)
  }
}
