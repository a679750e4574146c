package graft.etl

import graft.SparkSpec
import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.Row

/** The export contract of [[Load.writeAll]] as [[Pipeline.run]] writes
  * it, on a small seeded Olist-shaped input built here (no reference
  * data needed): for each of the 13 tables the single CSV carries the
  * frame's columns as its header, its rows ascend by [[Load.sortKeys]],
  * and it holds the same rows as the (unordered) parquet output; the run
  * also writes the five dashboard PNGs. */
class LoadSpec extends SparkSpec {

  /** Seeded Olist CSVs (the shapes of [[Schemas]]): null numerics and
    * review texts to impute, orders without a review and orders with two
    * (each item of such an order becomes two fact rows, H8), purchases on
    * whole days over two years. Returns the ids of the two-review orders. */
  private def writeOlist(dir: File, orders: Int): Set[String] = {
    val rng = new scala.util.Random(7)
    def write(name: String, header: String, rows: Seq[Seq[Any]]): Unit =
      Files.write(new File(dir, name).toPath,
        (header +: rows.map(_.mkString(","))).mkString("", "\n", "\n").getBytes(UTF_8))
    def orNull(v: Int, p: Double): Any = if (rng.nextDouble() < p) "" else v
    val stamp = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    def ts(days: Int, secs: Int): String =
      java.time.LocalDateTime.of(2021, 1, 1, 0, 0).plusDays(days).plusSeconds(secs).format(stamp)
    val states = Seq("SP", "RJ", "MG", "RS", "DF")
    val cities = Seq("sao paulo", "rio de janeiro", "belo horizonte", "porto alegre", "brasilia")
    val categories = Seq("electronics", "furniture", "toys", "books", "clothing", "garden")
    val (nCust, nProd, nSell) = (orders / 2, orders * 3 / 4, orders / 4)
    write("olist_customers_dataset.csv",
      "customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state",
      (0 until nCust).map { i =>
        val k = rng.nextInt(5)
        Seq(s"cust_$i", s"uniq_$i", orNull(10000 + rng.nextInt(90000), 0.05), cities(k), states(k))
      })
    write("olist_sellers_dataset.csv",
      "seller_id,seller_zip_code_prefix,seller_city,seller_state",
      (0 until nSell).map { i =>
        val k = rng.nextInt(5)
        Seq(s"seller_$i", orNull(10000 + rng.nextInt(90000), 0.05), cities(k), states(k))
      })
    write("olist_products_dataset.csv",
      "product_id,product_category_name,product_name_length,product_description_length," +
        "product_photos_qty,product_weight_g,product_length_cm,product_height_cm,product_width_cm",
      (0 until nProd).map { i =>
        Seq(s"prod_$i", categories(rng.nextInt(categories.size))) ++
          Seq(60, 2000, 6, 20000, 100, 60, 100).map(hi => orNull(1 + rng.nextInt(hi), 0.05))
      })
    write("product_category_name_translation.csv",
      "product_category_name,product_category_name_english",
      categories.map(c => Seq(c, c.toUpperCase)))
    write("olist_orders_dataset.csv",
      "order_id,customer_id,order_status,order_purchase_timestamp,order_approved_at," +
        "order_delivered_carrier_date,order_delivered_customer_date,order_estimated_delivery_date",
      (0 until orders).map { i =>
        val delivered = rng.nextDouble() < 0.8
        val day = rng.nextInt(730)
        Seq(s"order_$i", s"cust_${rng.nextInt(nCust)}",
          if (delivered) "delivered" else "shipped",
          ts(day, 0), ts(day, 600 + rng.nextInt(86400)), ts(day + 1, rng.nextInt(86400)),
          if (delivered) ts(day + 2 + rng.nextInt(12), rng.nextInt(86400)) else "",
          ts(day + 7 + rng.nextInt(20), 0))
      })
    val reviewsPerOrder = (0 until orders).map(_ => Seq(0, 1, 1, 1, 1, 1, 1, 1, 2, 2)(rng.nextInt(10)))
    var r = 0
    write("olist_order_reviews_dataset.csv",
      "review_id,order_id,review_score,review_comment_title,review_comment_message," +
        "review_creation_date,review_answer_timestamp",
      reviewsPerOrder.zipWithIndex.flatMap { case (k, i) =>
        (0 until k).map { _ =>
          r += 1
          val day = rng.nextInt(740)
          Seq(s"review_$r", s"order_$i", orNull(1 + rng.nextInt(5), 0.05),
            if (rng.nextBoolean()) "" else s"title $r", if (rng.nextBoolean()) "" else s"message $r",
            ts(day, 0), ts(day, 3600 + rng.nextInt(86400)))
        }
      })
    write("olist_order_items_dataset.csv",
      "order_id,order_item_id,product_id,seller_id,shipping_limit_date,price,freight_value",
      rng.shuffle((0 until orders).toVector).take(orders * 3 / 4).flatMap { i =>
        (1 to 1 + rng.nextInt(4)).map { item =>
          Seq(s"order_$i", item, s"prod_${rng.nextInt(nProd)}", s"seller_${rng.nextInt(nSell)}",
            ts(rng.nextInt(740), rng.nextInt(86400)),
            f"${(1000 + rng.nextInt(99000)) / 100.0}%.2f", f"${(500 + rng.nextInt(9500)) / 100.0}%.2f")
        }
      })
    reviewsPerOrder.zipWithIndex.collect { case (2, i) => s"order_$i" }.toSet
  }

  /** Spark's ascending order on one key value (nulls first). */
  private def compareKey(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: String, y: String) =>
      java.util.Arrays.compareUnsigned(x.getBytes(UTF_8), y.getBytes(UTF_8))
    case (x: Number, y: Number) => java.lang.Double.compare(x.doubleValue, y.doubleValue)
    case other => fail(s"unexpected sort key types $other")
  }

  test("every table: CSV header = columns, CSV ascends by sortKeys, CSV rows = parquet rows") {
    val root = Files.createTempDirectory("load_spec").toFile
    try {
      val raw = new File(root, "raw"); raw.mkdirs()
      val twoReviewOrders = writeOlist(raw, 240)
      assert(twoReviewOrders.nonEmpty, "the input must carry orders with two reviews")
      val out = new File(root, "out").toString
      val result = Pipeline.run(spark, raw.toString, out).fold(e => fail(e), identity)
      val tables = Load.allTables(result.star, result.aggs)
      assert(tables.keySet == Load.sortKeys.keySet && tables.size == 13)

      tables.toSeq.sortBy(_._1).foreach { case (name, df) =>
        val csvFile = new File(s"$out/csv/$name/part-00000-ordered.csv")
        assert(csvFile.isFile, s"$name: no ordered CSV")
        val header = scala.io.Source.fromFile(csvFile, "UTF-8")
        try assert(header.getLines().next() == df.columns.mkString(","), s"$name: header")
        finally header.close()

        val csv = spark.read.schema(df.schema).option("header", "true")
          .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").csv(csvFile.toString)
        val parquet = spark.read.schema(df.schema).parquet(s"$out/parquet/$name")
        val rows = csv.collect() // one small file: one split, file order
        assert(rows.length == parquet.count() && rows.nonEmpty, s"$name: row counts")
        assert(csv.exceptAll(parquet).isEmpty && parquet.exceptAll(csv).isEmpty,
          s"$name: CSV and parquet hold different rows")

        val keys = Load.sortKeys(name).map(df.columns.indexOf(_))
        def key(r: Row): Seq[Any] = keys.map(r.get)
        rows.zip(rows.tail).foreach { case (a, b) =>
          val c = key(a).zip(key(b)).map { case (x, y) => compareKey(x, y) }
            .find(_ != 0).getOrElse(0)
          // H8: an item of a two-review order is two fact rows with one key
          val tieAllowed = name == "fact_sales" && twoReviewOrders(a.getAs[String]("order_id"))
          assert(c < 0 || (c == 0 && tieAllowed),
            s"$name: rows out of order by ${Load.sortKeys(name)}:\n  $a\n  $b")
        }
      }

      Seq("sales_by_month.png", "sales_by_category.png", "sales_by_state.png",
        "review_distribution.png", "dashboard_preview.png").foreach { n =>
        val f = new File(s"$out/reports/dashboard/$n")
        assert(f.isFile && f.length > 0, s"$n missing")
      }
    } finally graft.Tables.deleteTree(root)
  }
}
