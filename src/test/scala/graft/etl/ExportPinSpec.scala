package graft.etl

import graft.SparkSpec
import java.io.File
import java.nio.file.Files
import org.apache.hadoop.fs.LocalFileSystem
import scala.jdk.CollectionConverters._

/** The bytes one refresh exports, pinned without reference data:
  * [[Pipeline.run]] on [[LoadSpec]]'s seeded Olist input, and the SHA-256
  * of its 13 ordered CSVs, the Power BI instructions and the five
  * dashboard PNGs against constants. The input carries two-review
  * orders, so `fact_sales` holds rows tied on its sort keys (H8): the pin
  * holds their CSV order too.
  *
  * The refresh runs in a session whose own `file:` filesystem is
  * Hadoop's stock one, uncached, as in a session that
  * [[graft.GraftSession]] did not build; a JFR recording around it shows
  * that the export still starts no `chmod` process. */
class ExportPinSpec extends SparkSpec {

  private val expected: Map[String, String] = Map(
    "csv/agg_review_metrics/part-00000-ordered.csv" -> "41a98302860ac8cd36d0c3e176c7f041081c53e07f140866fe4069f60a82b63f",
    "csv/agg_sales_by_category/part-00000-ordered.csv" -> "7326f4308500e151a16fe04210dad511ab44a806a65e32d432c5891a965683f8",
    "csv/agg_sales_by_city/part-00000-ordered.csv" -> "45c1a8b605ca16d3380edfb000c390b208304215e450df1c91d6659bf076b6ff",
    "csv/agg_sales_by_date/part-00000-ordered.csv" -> "f4b1f30fd823a17ea3399df17b6d06d485e2942720f4094dfefa13ed6ad03c28",
    "csv/agg_sales_by_location/part-00000-ordered.csv" -> "c9487e82d1de9b53619a2c941acc7844c186c28bf440e389de69a033e5db81fa",
    "csv/agg_sales_by_seller/part-00000-ordered.csv" -> "3dc87da21aade28023b2b66e9b78623f3634d95e957e1ca5ea0dd61106008bcd",
    "csv/dim_customer/part-00000-ordered.csv" -> "42a1a21c2b053e6e291e3da27658eae11893ee9b16c2aa8f951d46042ef9bdff",
    "csv/dim_date/part-00000-ordered.csv" -> "797ada842797dd310dbcb6eae97807f055a171eefa9dffcb6b4a1eec876e99a8",
    "csv/dim_order/part-00000-ordered.csv" -> "eb0e6a0f75c607d3dfbcaadc62f63a1b80e740f385819c8f4a64f82398f9f994",
    "csv/dim_product/part-00000-ordered.csv" -> "5dc3eb7fb088647e99a9ec22921a596bb305ffe96c7e0c0f14f53044398a8ecb",
    "csv/dim_review/part-00000-ordered.csv" -> "9d0ddb3edc6ebab9c21d6d127c2b86133efbb14ce53d09646ad945971decd562",
    "csv/dim_seller/part-00000-ordered.csv" -> "68477c4ec9a3b8fec047a6d70e64d85f8469451c05bbf1f580c2eba0089afb3f",
    "csv/fact_sales/part-00000-ordered.csv" -> "06604cd034b84980dced20ff39e01792dc413ac2cd67def0f22490f831bb85ef",
    "reports/dashboard/dashboard_preview.png" -> "aeffea6e7f19620a3af6e28d93355454d33b9cc8d94f0f8373920006cde7db38",
    "reports/dashboard/power_bi_instructions.md" -> "3382dc0072d3709135a79f88380a1aa4bd2ec162c9ea42814339d21dbe4341c1",
    "reports/dashboard/review_distribution.png" -> "34288e4153c6651fb207987acc1b3472434a4ae73289ab7b1d27272641002897",
    "reports/dashboard/sales_by_category.png" -> "06fe0cf9ebb076d7aa3920aadb9f8108ac2d1485f1c92461de6f4d90cf179625",
    "reports/dashboard/sales_by_month.png" -> "192d8d6f97c48bcbf99c63422ad9eb3d417999639ebe67e8de8644dab8353cce",
    "reports/dashboard/sales_by_state.png" -> "83bd9d075a31451ccb1ca3d755fe8a8b0f3f84a889afc88f393f6222e1c23bc3")

  /** LoadSpec's own generator (private there), so the pin runs on the
    * input whose export contract LoadSpec checks. */
  private def writeOlist(dir: File, orders: Int): Unit = {
    val gen = classOf[LoadSpec].getDeclaredMethod("writeOlist", classOf[File], classOf[Int])
    gen.setAccessible(true)
    gen.invoke(new LoadSpec, dir, Int.box(orders))
  }

  private def sha256(f: File): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f.toPath))
      .map("%02x".format(_)).mkString

  /** (digest per exported file, command of every process started). */
  private lazy val refresh: (Map[String, String], Seq[String]) = {
    val root = Files.createTempDirectory("export_pin").toFile
    try {
      val raw = new File(root, "raw"); raw.mkdirs()
      writeOlist(raw, 240)
      val out = new File(root, "out")
      val session = spark.newSession()
      session.conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
      session.conf.set("fs.file.impl.disable.cache", "true")
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      try Pipeline.run(session, raw.toString, out.toString).fold(e => fail(e), identity)
      finally rec.stop()
      val jfr = new File(root, "process.jfr").toPath
      try rec.dump(jfr) finally rec.close()
      val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
        .map(_.getString("command")).toSeq
      val files = Load.sortKeys.keys.map(n => s"csv/$n/part-00000-ordered.csv") ++
        Seq("power_bi_instructions.md", "sales_by_month.png", "sales_by_category.png",
          "sales_by_state.png", "review_distribution.png", "dashboard_preview.png")
          .map("reports/dashboard/" + _)
      (files.map(f => f -> sha256(new File(out, f))).toMap, commands)
    } finally graft.Tables.deleteTree(root)
  }

  test("CSV, instructions and PNG bytes match their pinned SHA-256") {
    val (actual, _) = refresh
    val diff = (actual.keySet ++ expected.keySet).toSeq.sorted
      .filter(f => actual.get(f) != expected.get(f))
      .map(f => s"""    "$f" -> "${actual.getOrElse(f, "")}",""")
    if (diff.nonEmpty) fail(s"exported bytes differ from the pin:\n${diff.mkString("\n")}")
  }

  test("the export starts no chmod process") {
    val (_, commands) = refresh
    val chmods = commands.filter(_.split("\\s+").exists(_.endsWith("chmod")))
    if (chmods.nonEmpty) fail(s"${chmods.size} chmod process starts, first: ${chmods.take(3)}")
  }
}
