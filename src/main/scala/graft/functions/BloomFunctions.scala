package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}

/** Session registration for Spark's bloom-filter expressions — the same
  * codegen'd machinery Catalyst's runtime-filter injection uses
  * (`BloomFilterAggregate` builds the sketch as a TypedImperativeAggregate,
  * `BloomFilterMightContain` probes it), exposed as temp functions because
  * they are public classes but absent from the default FunctionRegistry:
  *
  *  - `bloom_filter_agg(xxhash64(x), estimatedItems, numBits)` → binary
  *  - `might_contain(sketch, xxhash64(x))` → boolean — the sketch must be
  *    FOLDABLE (a literal / scalar subquery; Spark's type check enforces
  *    it), the one-global-filter shape d99's decontamination uses;
  *  - `bloom_probe(sketch, xxhash64(x))` → boolean — the per-ROW-sketch
  *    sibling `might_contain` cannot be: SnapshotTable's point-lookup
  *    index stores one sketch PER FILE, and the probe must evaluate in
  *    executors over that file-count-sized frame so sketch bytes never
  *    transit the driver (VERDICT r14 #2). Deserialization cost is one
  *    `BloomFilter.readFrom` per SIDECAR row (= per data file), never
  *    per data row, so an interpreted eval is off the hot path by
  *    construction.
  *
  * Registration follows the [[TopKAggregate]] pattern (idempotent per
  * session).
  */
object BloomFunctions {
  def register(spark: SparkSession): Unit = {
    Registration.registerOnce(spark, "bloom_filter_agg", exprs =>
      new BloomFilterAggregate(exprs(0), exprs(1), exprs(2)).toAggregateExpression())
    Registration.registerOnce(spark, "might_contain", exprs =>
      BloomFilterMightContain(exprs(0), exprs(1)))
    Registration.registerOnce(spark, "bloom_probe", exprs => BloomProbe(exprs(0), exprs(1)))
  }
}

/** `bloom_probe(sketch binary, hash long)` — does the serialized bloom
  * filter possibly contain the 64-bit hash? Unlike Spark's
  * `might_contain`, the sketch operand may be a per-row COLUMN. */
case class BloomProbe(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"expects (binary, long), got $other")
    }

  override def nullSafeEval(sketch: Any, hash: Any): Any =
    BloomProbe.probe(sketch.asInstanceOf[Array[Byte]],
      hash.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, h) => {
      val cls = BloomProbe.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $cls.probe($s, $h);"
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "bloom_probe"
}

object BloomProbe {
  def probe(sketch: Array[Byte], hash: Long): Boolean =
    org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(sketch))
      .mightContainLong(hash)
}
