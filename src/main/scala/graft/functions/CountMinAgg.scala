package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Shared count-min hashing: row i's bucket for item x is
  * (h1 + i·h2) mod width (Kirsch–Mitzenmacher double hashing — two
  * 64-bit mixes generate all depth rows with pairwise-independence
  * guarantees good enough for CM error bounds). splitmix64 is the one
  * copy of the finalizer every deterministic hash in the engine uses
  * (MinHash seeds and mixes, d41/s43 hyperplanes); the d39/s43 DuckDB
  * oracles inline the same constants. */
private[graft] object CountMin {
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d4a2965f57d6e3L
    z ^ (z >>> 31)
  }
  def bucket(x: Long, row: Int, width: Int): Int = {
    val h1 = splitmix64(x)
    val h2 = splitmix64(x ^ 0x5851f42d4c957f2dL) | 1L // odd => full-period stride
    val h = h1 + row.toLong * h2
    // floor-mod into [0, width)
    val m = (h % width).toInt
    if (m < 0) m + width else m
  }
}

/** Mergeable count-min sketch over a LongType key — the frequency
  * counterpart of the repo's distinct (theta/HLL) and quantile (KLL)
  * sketches, completing the classic sketch triple. depth×width long
  * counters + a total; update is depth counter bumps, partials merge by
  * element-wise addition, and the ε = e/width, δ = e^-depth guarantee
  * (Cormode & Muthukrishnan '05) survives merging — so per-partition /
  * per-day sketch blobs roll up to any coarser grain without touching
  * raw rows again. At 100 TB the point is the q157/q162 story: a
  * (depth·width + 1)·8-byte blob (~82 KB at 5×2048) crosses the
  * exchange instead of per-key count tables, and saved daily blobs
  * answer later "how often did key k appear in window W" queries by
  * pure blob addition.
  *
  * Estimates are one-sided: est ≥ true always (counters only
  * over-count via collisions), and est ≤ true + ε·N with probability
  * ≥ 1 − δ — the claims the q195 oracle gate asserts.
  */
case class CountMinAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(depth >= 1 && depth <= 16 && width >= 2,
    s"count_min_agg: bad shape depth=$depth width=$width")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // layout: depth rows of width counters, row-major; last slot = total n
  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width + 1)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      var r = 0
      while (r < depth) {
        buf(r * width + CountMin.bucket(x, r, width)) += 1L
        r += 1
      }
      buf(depth * width) += 1L
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

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
  override def prettyName: String = "count_min_agg"
}

/** Point estimate from a count-min blob: min over the depth row
  * counters the item hashes to. Interpreted (CodegenFallback) is fine —
  * estimates run on probe rows (a handful per group), never the corpus
  * scan; the scan-side work all lives in the codegen'd aggregate. */
case class CmsEstimate(
    sketch: Expression,
    item: Expression,
    depth: Int,
    width: Int)
  extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(sketch, item)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val s = sketch.eval(input)
    val it = item.eval(input)
    if (s == null || it == null) null
    else {
      val arr = s.asInstanceOf[ArrayData]
      val x = it.asInstanceOf[Long]
      var est = Long.MaxValue
      var r = 0
      while (r < depth) {
        val c = arr.getLong(r * width + CountMin.bucket(x, r, width))
        if (c < est) est = c
        r += 1
      }
      est
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(sketch = newChildren(0), item = newChildren(1))
  override def prettyName: String = "cms_estimate"
}

object CountMinAgg {
  /** Register count_min_agg(key, depth, width) and
    * cms_estimate(sketch, key, depth, width); shape args must be
    * foldable literals and must match between build and probe. */
  def register(spark: SparkSession): Unit = {
    def lit(e: Expression): Int = e.eval(null).asInstanceOf[Number].intValue()
    Registration.registerOnce(spark, "count_min_agg", exprs =>
      CountMinAgg(exprs(0), lit(exprs(1)), lit(exprs(2))).toAggregateExpression())
    Registration.registerOnce(spark, "cms_estimate", exprs =>
      CmsEstimate(exprs(0), exprs(1), lit(exprs(2)), lit(exprs(3))))
  }
}
