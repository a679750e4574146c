package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro and Jaro–Winkler similarity as codegen'd Catalyst expressions —
  * the per-candidate VERIFY step of fuzzy record linkage (d145 generates
  * candidates by PassJoin blocking; these score them), kept native so the
  * hot loop stays inside whole-stage codegen instead of a Scala UDF.
  *
  * Semantics pinned to the textbook definition (and cross-checked
  * hash-exactly against DuckDB's implementations in the q150 oracle):
  * match window ⌊max(|a|,|b|)/2⌋ − 1, greedy left-to-right matching,
  * half-counted transpositions; Winkler prefix bonus ℓ·0.1·(1−J) with
  * ℓ = common prefix capped at 4, applied only when J > 0.7 (the classic
  * boost threshold), and 0.0 when either side is empty.
  */
object StringSimilarity {

  def jaro(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString; val b = ub.toString
    val la = a.length; val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val ma = new Array[Boolean](la)
    val mb = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var done = false
      while (j <= hi && !done) {
        if (!mb(j) && a.charAt(i) == b.charAt(j)) {
          ma(i) = true; mb(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var j = 0
    i = 0
    while (i < la) {
      if (ma(i)) {
        while (!mb(j)) j += 1
        if (a.charAt(i) != b.charAt(j)) t += 1
        j += 1
      }
      i += 1
    }
    (m.toDouble / la + m.toDouble / lb + (m - t / 2.0) / m) / 3.0
  }

  def jaroWinkler(ua: UTF8String, ub: UTF8String): Double = {
    val j = jaro(ua, ub)
    if (j <= 0.7) return j
    val a = ua.toString; val b = ub.toString
    val max = math.min(4, math.min(a.length, b.length))
    var l = 0
    while (l < max && a.charAt(l) == b.charAt(l)) l += 1
    j + l * 0.1 * (1.0 - j)
  }

  /** Register both expressions with the session's function registry
    * (same contract as [[VectorFunctions.register]]). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    Registration.registerOnce(spark, "jaro_sim", exprs => JaroSimilarity(exprs(0), exprs(1)))
    Registration.registerOnce(spark, "jaro_winkler_sim", exprs =>
      JaroWinklerSimilarity(exprs(0), exprs(1)))
  }
}

sealed abstract class StringSimilarityExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expects (string, string), got $other")
    }

  protected def method: String

  override def nullSafeEval(a: Any, b: Any): Any = {
    val ua = a.asInstanceOf[UTF8String]; val ub = b.asInstanceOf[UTF8String]
    if (method == "jaro") StringSimilarity.jaro(ua, ub)
    else StringSimilarity.jaroWinkler(ua, ub)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cls = StringSimilarity.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $cls.$method($a, $b);"
    })
}

case class JaroSimilarity(left: Expression, right: Expression)
    extends StringSimilarityExpression {
  protected def method: String = "jaro"
  override def prettyName: String = "jaro_sim"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class JaroWinklerSimilarity(left: Expression, right: Expression)
    extends StringSimilarityExpression {
  protected def method: String = "jaroWinkler"
  override def prettyName: String = "jaro_winkler_sim"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
