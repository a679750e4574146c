package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding math.
  *
  * A Scala UDF over Array[Float] would deserialize each array to a boxed
  * WrappedArray per row; these expressions read the unsafe ArrayData
  * in-place and participate in whole-stage codegen, which is the difference
  * between "works on 2k vectors" and "works on 10^9 vectors" for the
  * brute-force similarity path (SURVEY §7.3).
  */
sealed trait VectorPairExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  /** Malformed pairs (length mismatch) and null array slots yield NULL
    * rather than a plausible-but-wrong score from silent truncation —
    * mirroring DuckDB's list_cosine_similarity, which errors on mismatch.
    * Parquet reads arrays as containsNull=true even for dense data, so
    * null slots are a runtime check, not a type rejection. */
  override def nullable: Boolean = true

  protected def elemIsFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
        if (lt == FloatType || lt == DoubleType) && lt == rt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expects two arrays of float or double, got ${left.dataType} / ${right.dataType}")
    }
  }
}

/** cosine(a, b) = dot(a,b) / (|a| |b|); 0.0 when either norm is zero.
  * Computed in double regardless of input element width. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorPairExpression {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = if (elemIsFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (elemIsFloat) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (elemIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xi = (double) $x.$get($i);
         |    double $yi = (double) $y.$get($i);
         |    $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = ($nx == 0.0 || $ny == 0.0) ? 0.0 : $dot / java.lang.Math.sqrt($nx * $ny);
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** dot(a, b) in double. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorPairExpression {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      dot +=
        (if (elemIsFloat) x.getFloat(i).toDouble else x.getDouble(i)) *
        (if (elemIsFloat) y.getFloat(i).toDouble else y.getDouble(i))
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (elemIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $dot += (double) $x.$get($i) * (double) $y.$get($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $dot; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Σ (aᵢ − bᵢ)² in double, accumulated left-to-right — the same fold
  * order as DuckDB's list_sum over the per-dimension squares, so oracle
  * replicas are bit-identical. A higher-order-function draft of this
  * (aggregate ∘ zip_with) runs INTERPRETED and cost s140's encode join
  * 6.8 s at sf0.1; this codegen'd loop runs it in ~2 s. */
case class SquaredL2Distance(left: Expression, right: Expression)
    extends VectorPairExpression {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d =
        (if (elemIsFloat) x.getFloat(i).toDouble else x.getDouble(i)) -
        (if (elemIsFloat) y.getFloat(i).toDouble else y.getDouble(i))
      acc += d * d; i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (elemIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $d = (double) $x.$get($i) - (double) $y.$get($i);
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}


/** Integer-exact Σ aᵢ·bᵢ over two long arrays — the quantized-vector
  * twin of [[DotProduct]] (r16 optimization, guide §4): the HOF
  * formulation `aggregate(zip_with(a, b, _*_), 0L, _+_)` runs
  * interpreted (HigherOrderFunction is CodegenFallback) and allocates a
  * fresh array per row; SemDeDup's within-cluster pair join evaluated it
  * ~500k times per run — profiled at 25 s of task time that this
  * expression does in ~2. NULL on length mismatch or a null slot,
  * exactly like the padded zip_with it replaces; arithmetic is Java long
  * (identical overflow semantics, and the int8-quantized inputs cannot
  * overflow regardless). */
case class LongDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expects two arrays of bigint, got ${left.dataType} / ${right.dataType}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0L; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      dot += x.getLong(i) * y.getLong(i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $dot = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $dot += $x.getLong($i) * $y.getLong($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $dot; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Integer-exact Σ (aᵢ−bᵢ)² over two long arrays — [[LongDotProduct]]'s
  * distance twin, replacing the interpreted HOF in the quantized Lloyd
  * rounds (every round evaluates it corpus × K times). */
case class LongSquaredL2(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expects two arrays of bigint, got ${left.dataType} / ${right.dataType}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val dv = x.getLong(i) - y.getLong(i)
      acc += dv * dv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val dv = ctx.freshName("dv")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    long $dv = $x.getLong($i) - $y.getLong($i);
         |    $acc += $dv * $dv;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object VectorFunctions {

  /** Register the vector expressions with the session's function registry
    * so they're callable from both the Column DSL (via call_function) and
    * plain SQL; a function the session already holds is skipped
    * ([[Registration.registerOnce]]). */
  def register(spark: SparkSession): Unit = {
    Registration.registerOnce(spark, "cosine_sim", exprs => CosineSimilarity(exprs(0), exprs(1)))
    Registration.registerOnce(spark, "dot_product", exprs => DotProduct(exprs(0), exprs(1)))
    Registration.registerOnce(spark, "l2sq", exprs => SquaredL2Distance(exprs(0), exprs(1)))
    Registration.registerOnce(spark, "dot_long", exprs => LongDotProduct(exprs(0), exprs(1)))
    Registration.registerOnce(spark, "l2sq_long", exprs => LongSquaredL2(exprs(0), exprs(1)))
    // xxhash64 with an explicit seed (the functions._ wrapper pins seed
    // 42); the seed argument must be a foldable literal. Used for the
    // MinHash permutation family — ANSI-safe, unlike affine (a*h+b)
    // permutations which overflow LongType under ANSI mode.
    Registration.registerOnce(spark, "rolling_min_hash", exprs =>
      RollingMinHash(exprs(0), exprs(1)))
    Registration.registerOnce(spark, "minhash_signature", exprs =>
      MinHashSignature(exprs(0), exprs(1)))
    Registration.registerOnce(spark, "xxhash64_seed", exprs =>
      org.apache.spark.sql.catalyst.expressions.XxHash64(
        exprs.init, exprs.last.eval(null).asInstanceOf[Number].longValue()))
  }

  def cosineSim(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark); call_function("cosine_sim", a, b)
  }

  def dotProduct(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark); call_function("dot_product", a, b)
  }
}
