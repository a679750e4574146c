package graft.functions

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Mergeable KLL quantile sketches (Karnin/Lang/Liberty, FOCS 2016) as
  * Spark aggregates — the quantile twin of the HLL rollup (q157): a
  * nightly job PERSISTS one fixed-size sketch per cell, and any later
  * percentile question over any cell union is answered by merging KB-sized
  * blobs instead of re-sorting raw data. Spark's own `percentile` buffers
  * every value per group (exact but unmergeable across stored results) and
  * `approx_percentile` cannot persist/merge its intermediate either — a
  * stored-sketch table needs the sketch itself to be a first-class value.
  *
  * Three functions (DataSketches KllDoublesSketch under the hood, the
  * library Spark itself uses for its HLL sketch surface):
  *  - `kll_sketch_agg(value, k)`   values → serialized sketch (binary)
  *  - `kll_merge_agg(sketch, k)`   serialized sketches → merged sketch
  *  - `kll_quantile(sketch, rank)` serialized sketch → quantile estimate
  *
  * Scale shape: partial aggregation applies — each task folds its rows
  * into a local sketch and only the ~KB blob crosses the exchange (k=200
  * ⇒ ≤ ~1.65% normalized rank error at 99% confidence, independent of n).
  * KLL compaction is randomized, so estimates are run-nondeterministic
  * within the error bound — gated queries must assert the accuracy
  * contract (rank-error booleans), never hash the raw estimate (q65/q91
  * pattern).
  */
case class KllSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllDoublesSketch] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(k)

  override def update(buf: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: KllDoublesSketch, other: KllDoublesSketch): KllDoublesSketch = {
    buf.merge(other)
    buf
  }

  override def eval(buf: KllDoublesSketch): Any = buf.toByteArray

  override def serialize(buf: KllDoublesSketch): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))

  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
  override def prettyName: String = "kll_sketch_agg"
}

/** Union of serialized KLL sketches — the rollup step over a persisted
  * sketch table. Same buffer/exchange story as [[KllSketchAgg]]. */
case class KllMergeAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllDoublesSketch] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(k)

  override def update(buf: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null) {
      buf.merge(KllDoublesSketch.heapify(Memory.wrap(v.asInstanceOf[Array[Byte]])))
    }
    buf
  }

  override def merge(buf: KllDoublesSketch, other: KllDoublesSketch): KllDoublesSketch = {
    buf.merge(other)
    buf
  }

  override def eval(buf: KllDoublesSketch): Any = buf.toByteArray

  override def serialize(buf: KllDoublesSketch): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))

  override def withNewMutableAggBufferOffset(newOffset: Int): KllMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
  override def prettyName: String = "kll_merge_agg"
}

/** Quantile estimate (INCLUSIVE search) from a serialized KLL sketch.
  * Runs on the handful of post-rollup rows, so interpreted eval is fine
  * (never in a scan hot path — the aggregates above do the heavy work). */
case class KllQuantile(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def nullSafeEval(sketchBytes: Any, rank: Any): Any = {
    val sk = KllDoublesSketch.heapify(
      Memory.wrap(sketchBytes.asInstanceOf[Array[Byte]]))
    if (sk.isEmpty) null
    else sk.getQuantile(rank.asInstanceOf[Double], QuantileSearchCriteria.INCLUSIVE)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "kll_quantile"
}

object KllAggregates {
  /** Register kll_sketch_agg(value, k) / kll_merge_agg(sketch, k) /
    * kll_quantile(sketch, rank); k must be a foldable literal. */
  def register(spark: SparkSession): Unit = {
    Registration.registerOnce(spark, "kll_sketch_agg", exprs =>
      KllSketchAgg(exprs(0),
        exprs(1).eval(null).asInstanceOf[Number].intValue())
        .toAggregateExpression())
    Registration.registerOnce(spark, "kll_merge_agg", exprs =>
      KllMergeAgg(exprs(0),
        exprs(1).eval(null).asInstanceOf[Number].intValue())
        .toAggregateExpression())
    Registration.registerOnce(spark, "kll_quantile", exprs => KllQuantile(exprs(0), exprs(1)))
  }
}
