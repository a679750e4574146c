package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: one local session per suite, built by
  * [[GraftSession]] with only the test-scale overrides (4 cores, 4
  * shuffle partitions) — every SQL semantic setting is the engine's.
  * Logs at WARN, as [[GraftSession.start]] does. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(getClass.getSimpleName)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sf: String = "/root/testdata/sf0.001"

  /** Value-level DataFrame equality: sorted rows, doubles at relative
    * tolerance, timestamps at µs. */
  def assertSameRows(expected: DataFrame, actual: DataFrame, tol: Double = 1e-9): Unit = {
    val cols = expected.columns.sorted
    assert(actual.columns.sorted.toSeq == cols.toSeq,
      s"columns differ: ${actual.columns.sorted.toSeq} vs ${cols.toSeq}")
    val e = collectSorted(expected, cols)
    val a = collectSorted(actual, cols)
    assert(e.length == a.length, s"row counts differ: ${e.length} vs ${a.length}")
    e.zip(a).zipWithIndex.foreach { case ((er, ar), i) =>
      cols.indices.foreach { j =>
        val (ev, av) = (er.get(j), ar.get(j))
        val ok = (ev, av) match {
          case (null, null) => true
          case (x: java.lang.Double, y: java.lang.Double) =>
            (x.isNaN && y.isNaN) ||
              math.abs(x - y) <= tol * math.max(math.max(math.abs(x), math.abs(y)), 1.0)
          case (x: java.sql.Timestamp, y: java.sql.Timestamp) =>
            x.getTime / 1000 * 1000 == y.getTime / 1000 * 1000 &&
              x.getNanos / 1000 == y.getNanos / 1000
          case (x, y) => x == y
        }
        assert(ok, s"row $i col ${cols(j)}: expected $ev, got $av\n  expected row: $er\n  actual row:   $ar")
      }
    }
  }

  private def collectSorted(df: DataFrame, cols: Array[String]): Array[Row] = {
    import org.apache.spark.sql.functions.col
    df.select(cols.map(col): _*).collect()
      .sortBy(_.toString) // total deterministic order over stringified rows
  }
}
