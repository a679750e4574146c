package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** rolling_min_hash(text, k): minimum polynomial rolling hash over all
  * k-byte windows of the UTF-8 text — the classic Rabin-Karp/winnowing
  * document fingerprint. O(n) per document via the rolling update
  * h' = (h - lead·B^(k-1))·B + next, wrapping in Long (ANSI-safe: the
  * wraparound happens in JVM arithmetic, not SQL arithmetic).
  *
  * Equal texts always collide; texts sharing any k-byte run are likely to
  * collide — which is exactly the fingerprint property winnowing-style
  * near-dup detection wants. Texts shorter than k hash their whole bytes.
  */
case class RollingMinHash(left: Expression, right: Expression)
    extends BinaryExpression {

  private val Base = 1000003L

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expects (string, int), got $other")
    }

  override def nullSafeEval(text: Any, kAny: Any): Any = {
    val bytes = text.asInstanceOf[UTF8String].getBytes
    val k = kAny.asInstanceOf[Int]
    RollingMinHash.minHash(bytes, k, Base)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, kv) => {
      val cls = RollingMinHash.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $cls.minHash($t.getBytes(), $kv, ${Base}L);"
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "rolling_min_hash"
}

/** minhash_signature(hashes, n): the n-permutation MinHash signature of a
  * document's pre-hashed shingle set in ONE pass — the n permutation
  * values per shingle derive from its base hash via splitmix64 finalizer
  * mixes (~3 integer ops each), instead of n full string hashes per
  * shingle. For n=48 that removes ~47/48 of the hashing work, which
  * dominates MinHash signature cost. Taking `array<long>` (not the raw
  * strings) keeps the base-hash choice in the query layer — d39 feeds the
  * top-60-bits-of-md5 value both engines can compute, so the whole
  * pipeline is DuckDB-replicable. The mixed family (h, i) →
  * splitmix64(h ⊕ seed_i) is pairwise-independent enough for the LSH
  * banding bound; candidates are exactly verified downstream, so family
  * quality only moves recall, never precision.
  */
case class MinHashSignature(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), IntegerType) if right.foldable =>
        val n = right.eval(null).asInstanceOf[Int]
        if (n >= 1 && n <= MinHashSignature.MaxPerms)
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"numPerms must be in [1, ${MinHashSignature.MaxPerms}], got $n")
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expects (array<long>, foldable int), got $other")
    }

  override def nullSafeEval(arr: Any, nAny: Any): Any =
    MinHashSignature.sig(arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      nAny.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, n) => {
      val cls = MinHashSignature.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $cls.sig($a, $n);"
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "minhash_signature"
}

object MinHashSignature {
  val MaxPerms = 64

  /** Per-permutation xor seeds, fixed for determinism across runs (and
    * inlined as constants into the DuckDB oracle). */
  val seeds: Array[Long] = Array.tabulate(MaxPerms)(i => CountMin.splitmix64(0x5eedL + i))

  /** Signature = per-permutation min over the pre-hashed shingle array.
    * Empty arrays yield all-Long.MaxValue (no shingles → no collisions). */
  def sig(hashes: org.apache.spark.sql.catalyst.util.ArrayData,
      n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val mins = Array.fill(n)(Long.MaxValue)
    var j = 0
    val m = hashes.numElements()
    while (j < m) {
      if (!hashes.isNullAt(j)) {
        val base = hashes.getLong(j)
        var i = 0
        while (i < n) {
          val v = CountMin.splitmix64(base ^ seeds(i))
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }
}

object RollingMinHash {
  /** Minimum polynomial hash over all k-byte windows (whole input if
    * shorter than k). Called from both interpreted eval and codegen. */
  def minHash(bytes: Array[Byte], k: Int, base: Long): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val w = math.max(1, math.min(k, n))
    var pow = 1L // base^(w-1), wrapped
    var i = 1
    while (i < w) { pow *= base; i += 1 }
    var h = 0L
    i = 0
    while (i < w) { h = h * base + (bytes(i) & 0xff); i += 1 }
    var min = h
    i = w
    while (i < n) {
      h = (h - (bytes(i - w) & 0xff) * pow) * base + (bytes(i) & 0xff)
      if (h < min) min = h
      i += 1
    }
    min
  }
}
