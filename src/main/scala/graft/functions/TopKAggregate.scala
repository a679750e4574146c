package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

/** Single-pass top-k accumulator: collects the k (score, id) pairs with the
  * highest score (ties broken toward the smaller id), returned as an array
  * of structs ordered best-first.
  *
  * This is the scale path for similarity search: a window row_number over
  * all candidates must sort every partition; this aggregate keeps a
  * bounded k-element heap per partial aggregate, merges heaps across
  * partitions, and never materializes or sorts the full candidate set —
  * the classic distributed top-k shape (O(n log k), bounded memory).
  */
case class TopKByScore(
    scoreExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.PriorityQueue[(Double, Long)]] {

  // min-heap ordered worst-first so the head is the eviction candidate;
  // "worse" = lower score, or equal score with larger id
  private val ord: Ordering[(Double, Long)] =
    Ordering.by[(Double, Long), (Double, Long)](p => (p._1, -p._2))

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType), StructField("score", DoubleType))))

  override def createAggregationBuffer(): java.util.PriorityQueue[(Double, Long)] =
    new java.util.PriorityQueue[(Double, Long)](math.max(k, 1), ord)

  override def update(
      buf: java.util.PriorityQueue[(Double, Long)],
      input: InternalRow): java.util.PriorityQueue[(Double, Long)] = {
    val s = scoreExpr.eval(input)
    val i = idExpr.eval(input)
    if (s != null && i != null) {
      offer(buf, (s.asInstanceOf[Double], i.asInstanceOf[Long]))
    }
    buf
  }

  override def merge(
      buf: java.util.PriorityQueue[(Double, Long)],
      other: java.util.PriorityQueue[(Double, Long)]): java.util.PriorityQueue[(Double, Long)] = {
    val it = other.iterator()
    while (it.hasNext) offer(buf, it.next())
    buf
  }

  private def offer(buf: java.util.PriorityQueue[(Double, Long)], p: (Double, Long)): Unit = {
    if (buf.size < k) buf.offer(p)
    else if (ord.compare(p, buf.peek()) > 0) { buf.poll(); buf.offer(p) }
  }

  override def eval(buf: java.util.PriorityQueue[(Double, Long)]): Any = {
    val arr = new Array[(Double, Long)](buf.size)
    var i = 0
    val it = buf.iterator()
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    // best first: score desc, id asc
    val sorted = arr.sortBy(p => (-p._1, p._2))
    new GenericArrayData(sorted.map { case (s, id) =>
      InternalRow(id, s)
    }.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: java.util.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) { val (s, id) = it.next(); out.writeDouble(s); out.writeLong(id) }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.offer((in.readDouble(), in.readLong())); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1))
  override def prettyName: String = "topk_by_score"
}

object TopKAggregate {
  /** Register topk_by_score(score, id, k) — k must be a foldable literal. */
  def register(spark: SparkSession): Unit =
    Registration.registerOnce(spark, "topk_by_score", exprs =>
      TopKByScore(exprs(0), exprs(1),
        exprs(2).eval(null).asInstanceOf[Number].intValue())
        .toAggregateExpression())
}
