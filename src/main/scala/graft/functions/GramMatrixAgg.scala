package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Mergeable moment-matrix (Gram) aggregate over integer-quantized
  * vectors — the distributed PCA/whitening/feature-covariance primitive:
  * one pass folds every vector into a single (d² + d + 1)-long integer
  * buffer (Σ qᵢqⱼ, Σ qᵢ, n), partials merge by element-wise addition,
  * and covariance/correlation derive from the result row. The
  * naive alternative (posexplode twice → per-(i,j) aggregate) fans the
  * corpus out ×d², which at d=64 is a 4096× shuffle-volume mistake and
  * at d=1536 is fatal; here only the ~33 KB buffer crosses the
  * exchange, independent of corpus size.
  *
  * Integer accumulation is the point: double sums are partition-order
  * dependent in their low bits, so a double Gram matrix can flip
  * rounding boundaries between engines/runs; on int8-quantized inputs
  * (s90's quantization) every sum is EXACT and order-independent, so
  * downstream covariance doubles are bit-identical everywhere.
  */
case class GramMatrixAgg(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // layout: [0, d²) pair sums row-major; [d², d²+d) element sums; last = n
  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](dim * dim + dim + 1)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      require(arr.numElements() == dim,
        s"gram_matrix_agg(dim=$dim) got a ${arr.numElements()}-element vector")
      val q = new Array[Long](dim)
      var i = 0
      while (i < dim) { q(i) = arr.getLong(i); i += 1 }
      i = 0
      while (i < dim) {
        val qi = q(i)
        val row = i * dim
        var j = 0
        while (j < dim) { buf(row + j) += qi * q(j); j += 1 }
        buf(dim * dim + i) += qi
        i += 1
      }
      buf(dim * dim + dim) += 1L
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData(buf.map(Long.box).asInstanceOf[Array[Any]])

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GramMatrixAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GramMatrixAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
  override def prettyName: String = "gram_matrix_agg"
}

object GramMatrixAgg {
  /** Register gram_matrix_agg(qvec, dim) — dim must be a foldable literal;
    * qvec is array<long> (quantize floats first: exactness is the point). */
  def register(spark: SparkSession): Unit =
    Registration.registerOnce(spark, "gram_matrix_agg", exprs =>
      GramMatrixAgg(exprs(0),
        exprs(1).eval(null).asInstanceOf[Number].intValue())
        .toAggregateExpression())
}
