package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{CompactSketch, SetOperation, Sketch, Union}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Theta sketches (Dasgupta et al., the KMV/theta family) as Spark
  * aggregates — the DISTINCT-SET ALGEBRA sketch: unlike HLL (union-only,
  * q157), theta sketches support set INTERSECTION and difference on the
  * retained-hash samples, so segment-overlap questions ("users who did A
  * and B") are answerable from per-segment sketches without re-touching
  * raw data — the persisted-audience-sketch pattern at 100 TB, where the
  * exact pairwise self-join (q162) over raw events is the cost being
  * avoided.
  *
  *  - `theta_sketch_agg(key)`          long keys → serialized CompactSketch
  *  - `theta_intersect_estimate(a, b)` two sketches → |A ∩ B| estimate
  *  - `theta_union_estimate(a, b)`     two sketches → |A ∪ B| estimate
  *
  * Scale shape: partial+final — each task folds keys into a local union
  * gadget and only compact-sketch blobs (≤ ~32 KB at lgK 12) cross the
  * exchange; set algebra then runs on |segments| KB-blobs. Union state is
  * order-independent (retained = hashes below the min theta), so results
  * are partitioning-stable; estimates are still approximate once any
  * constituent passes exact mode, so gated queries assert the accuracy
  * contract rather than hashing raw estimates (q65/q91/q166 pattern).
  */
case class ThetaSketchAgg(
    child: Expression,
    lgK: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Union] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  private def newUnion(): Union =
    SetOperation.builder().setLogNominalEntries(lgK).buildUnion()

  override def createAggregationBuffer(): Union = newUnion()

  override def update(buf: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: Union, other: Union): Union = {
    buf.union(other.getResult())
    buf
  }

  override def eval(buf: Union): Any = buf.getResult().toByteArray

  override def serialize(buf: Union): Array[Byte] = buf.getResult().toByteArray
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = newUnion()
    u.union(CompactSketch.heapify(Memory.wrap(bytes)))
    u
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
  override def prettyName: String = "theta_sketch_agg"
}

/** Union of serialized theta sketches — the rollup step over a persisted
  * sketch-cell table (the KllMergeAgg twin). */
case class ThetaMergeAgg(
    child: Expression,
    lgK: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Union] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  private def newUnion(): Union =
    SetOperation.builder().setLogNominalEntries(lgK).buildUnion()

  override def createAggregationBuffer(): Union = newUnion()

  override def update(buf: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) {
      buf.union(CompactSketch.heapify(Memory.wrap(v.asInstanceOf[Array[Byte]])))
    }
    buf
  }

  override def merge(buf: Union, other: Union): Union = {
    buf.union(other.getResult())
    buf
  }

  override def eval(buf: Union): Any = buf.getResult().toByteArray

  override def serialize(buf: Union): Array[Byte] = buf.getResult().toByteArray
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = newUnion()
    u.union(CompactSketch.heapify(Memory.wrap(bytes)))
    u
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
  override def prettyName: String = "theta_merge_agg"
}

/** Distinct-count estimate of a single serialized theta sketch. */
case class ThetaEstimate(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override protected def nullSafeEval(a: Any): Any =
    Sketch.heapify(Memory.wrap(a.asInstanceOf[Array[Byte]])).getEstimate
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "theta_estimate"
}

/** |A ∩ B| estimate from two serialized theta sketches. Runs on the
  * post-rollup segment-pair rows (|segments|² of them), never a scan hot
  * path — interpreted eval is fine. */
case class ThetaIntersectEstimate(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val sa = Sketch.heapify(Memory.wrap(a.asInstanceOf[Array[Byte]]))
    val sb = Sketch.heapify(Memory.wrap(b.asInstanceOf[Array[Byte]]))
    SetOperation.builder().buildIntersection()
      .intersect(sa, sb).getEstimate
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "theta_intersect_estimate"
}

/** |A ∪ B| estimate from two serialized theta sketches. */
case class ThetaUnionEstimate(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val sa = Sketch.heapify(Memory.wrap(a.asInstanceOf[Array[Byte]]))
    val sb = Sketch.heapify(Memory.wrap(b.asInstanceOf[Array[Byte]]))
    SetOperation.builder().buildUnion().union(sa, sb).getEstimate
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "theta_union_estimate"
}

object ThetaAggregates {
  /** Register theta_sketch_agg(key, lgK) / theta_intersect_estimate(a, b)
    * / theta_union_estimate(a, b); lgK must be a foldable literal. */
  def register(spark: SparkSession): Unit = {
    Registration.registerOnce(spark, "theta_sketch_agg", exprs =>
      ThetaSketchAgg(exprs(0),
        exprs(1).eval(null).asInstanceOf[Number].intValue())
        .toAggregateExpression())
    Registration.registerOnce(spark, "theta_merge_agg", exprs =>
      ThetaMergeAgg(exprs(0),
        exprs(1).eval(null).asInstanceOf[Number].intValue())
        .toAggregateExpression())
    Registration.registerOnce(spark, "theta_estimate", exprs => ThetaEstimate(exprs(0)))
    Registration.registerOnce(spark, "theta_intersect_estimate", exprs =>
      ThetaIntersectEstimate(exprs(0), exprs(1)))
    Registration.registerOnce(spark, "theta_union_estimate", exprs =>
      ThetaUnionEstimate(exprs(0), exprs(1)))
  }
}
