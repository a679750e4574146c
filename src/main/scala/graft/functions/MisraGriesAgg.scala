package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Mergeable Misra–Gries heavy-hitters summary over a LongType key —
  * the deterministic counterpart of the count-min sketch: CMS
  * over-estimates within ε·N with a probability bound, MG
  * UNDER-estimates within a hard N/(k+1) bound, no randomness at all
  * (Misra & Gries '82; mergeability per Agarwal et al., "Mergeable
  * Summaries", PODS'12). Update is the classic k-counter scheme
  * (tracked → increment; room → insert; full → decrement all);
  * merge adds counters pointwise, then restores the size bound by
  * subtracting the (k+1)-th largest count from every counter and
  * dropping the non-positive — the step the PODS proof shows preserves
  *   true − N/(k+1) ≤ est ≤ true
  * for every key, tracked or evicted (est = 0 when absent).
  *
  * Both inequalities are THEOREMS, not tail bounds — q199 gates them
  * as claim booleans that hold on any data at any scale. The summary
  * itself (a k-entry map) is NOT gate-stable: which keys survive
  * depends on partition merge order. Downstream queries must consume
  * the estimates through the guaranteed bounds, never as exact counts.
  *
  * Scale shape: a ≤ k-entry map per group crosses the exchange — the
  * per-key count table never materializes. The O(k) decrement sweep on
  * eviction is the textbook form; production k in the hundreds keeps
  * it cache-resident (the doubly-linked count-group optimization exists
  * for k in the millions, which heavy-hitter use never needs).
  */
case class MisraGriesAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[Long, Long]] {

  require(k >= 1 && k <= 4096,
    s"misra_gries_agg: bad k=$k — update() pays an O(k) decrement sweep per " +
      "untracked arrival when the buffer is full, so k is capped at the " +
      "cache-resident regime the scaladoc assumes; use count_min_agg for " +
      "wider summaries")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType =
    MapType(LongType, LongType, valueContainsNull = false)

  override def createAggregationBuffer(): mutable.HashMap[Long, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[Long, Long],
      input: InternalRow): mutable.HashMap[Long, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      buf.get(x) match {
        case Some(c) => buf(x) = c + 1L
        case None if buf.size < k => buf(x) = 1L
        case None =>
          // decrement-all; drop zeros (one "deleted" occurrence of k+1
          // distinct keys — the move the error bound charges N/(k+1) for)
          val dead = mutable.ArrayBuffer.empty[Long]
          buf.keysIterator.foreach { key =>
            val c = buf(key) - 1L
            if (c <= 0L) dead += key else buf(key) = c
          }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(buf: mutable.HashMap[Long, Long],
      other: mutable.HashMap[Long, Long]): mutable.HashMap[Long, Long] = {
    other.foreach { case (key, c) => buf(key) = buf.getOrElse(key, 0L) + c }
    if (buf.size > k) {
      // subtract the (k+1)-th largest count from everything, drop <= 0
      val counts = buf.values.toArray
      java.util.Arrays.sort(counts)
      val cut = counts(counts.length - (k + 1)) // (k+1)-th largest
      val dead = mutable.ArrayBuffer.empty[Long]
      buf.keysIterator.foreach { key =>
        val c = buf(key) - cut
        if (c <= 0L) dead += key else buf(key) = c
      }
      dead.foreach(buf.remove)
    }
    buf
  }

  override def eval(buf: mutable.HashMap[Long, Long]): Any = {
    // deterministic map order (by key) so repeated eval of the SAME
    // buffer is stable; cross-run key SETS still vary with merge order
    val entries = buf.toArray.sortBy(_._1)
    ArrayBasedMapData(
      entries.map(e => Long.box(e._1): Any),
      entries.map(e => Long.box(e._2): Any))
  }

  override def serialize(buf: mutable.HashMap[Long, Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.size * 16)
    buf.foreach { case (key, c) => bb.putLong(key); bb.putLong(c) }
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): mutable.HashMap[Long, Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val m = mutable.HashMap.empty[Long, Long]
    var i = 0
    val n = bytes.length / 16
    while (i < n) { m(bb.getLong) = bb.getLong; i += 1 }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
  override def prettyName: String = "misra_gries_agg"
}

object MisraGriesAgg {
  /** Register misra_gries_agg(key, k) → map<long, long>; probe with
    * element_at(summary, key) (NULL ⇒ estimate 0). */
  def register(spark: SparkSession): Unit =
    Registration.registerOnce(spark, "misra_gries_agg", exprs =>
      MisraGriesAgg(exprs(0),
        exprs(1).eval(null).asInstanceOf[Number].intValue())
        .toAggregateExpression())
}
