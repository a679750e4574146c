package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSimilarity, DotProduct, JaroSimilarity, JaroWinklerSimilarity, KllMergeAgg, KllQuantile, KllSketchAgg, MinHashSignature, RollingMinHash, SquaredL2Distance, ThetaIntersectEstimate, ThetaSketchAgg, ThetaUnionEstimate, TopKByScore}

/** Session-extension entry point: makes the custom expressions available
  * in every session created with
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or
  * `GraftSession.builder(app).withExtensions(new GraftExtensions)`), so SQL
  * users get them without any imperative registration call. The runtime
  * alternative for an already-built session is
  * [[graft.functions.VectorFunctions.register]] /
  * [[graft.functions.TopKAggregate.register]].
  *
  * No custom planner strategies or optimizer rules are injected: every
  * operator in SURVEY §2 and the north-star surface composes from
  * Catalyst built-ins (SURVEY §4.3) — the extension surface is exactly
  * the expression layer where built-ins genuinely fall short
  * (vector math, bounded top-k).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float/double arrays"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - dot product of two float/double arrays"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("topk_by_score"),
      info("topk_by_score",
        "topk_by_score(score, id, k) - top-k (id, score) structs by score, ties to smaller id"),
      (exprs: Seq[Expression]) => TopKByScore(exprs(0), exprs(1),
        exprs(2).eval(null).asInstanceOf[Number].intValue()).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("xxhash64_seed"),
      info("xxhash64_seed", "xxhash64_seed(cols..., seed) - xxhash64 with explicit seed"),
      (exprs: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.XxHash64(
          exprs.init, exprs.last.eval(null).asInstanceOf[Number].longValue())))
    ext.injectFunction((
      FunctionIdentifier("l2sq"),
      info("l2sq", "l2sq(a, b) - squared L2 distance of two float/double arrays"),
      (exprs: Seq[Expression]) => SquaredL2Distance(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("jaro_sim"),
      info("jaro_sim", "jaro_sim(a, b) - Jaro similarity of two strings"),
      (exprs: Seq[Expression]) => JaroSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler_sim"),
      info("jaro_winkler_sim",
        "jaro_winkler_sim(a, b) - Jaro-Winkler similarity (0.7 boost threshold, 4-char prefix cap)"),
      (exprs: Seq[Expression]) => JaroWinklerSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("rolling_min_hash"),
      info("rolling_min_hash",
        "rolling_min_hash(text, k) - min Rabin-Karp hash over k-byte windows"),
      (exprs: Seq[Expression]) => RollingMinHash(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("minhash_signature"),
      info("minhash_signature",
        "minhash_signature(shingles, n) - n-permutation MinHash signature in one pass"),
      (exprs: Seq[Expression]) => MinHashSignature(exprs(0), exprs(1))))
    // mergeable sketches (the persisted-sketch-table surface)
    ext.injectFunction((
      FunctionIdentifier("kll_sketch_agg"),
      info("kll_sketch_agg",
        "kll_sketch_agg(value, k) - mergeable KLL quantile sketch of double values (binary)"),
      (exprs: Seq[Expression]) => KllSketchAgg(exprs(0),
        exprs(1).eval(null).asInstanceOf[Number].intValue()).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("kll_merge_agg"),
      info("kll_merge_agg",
        "kll_merge_agg(sketch, k) - union of serialized KLL sketches (binary)"),
      (exprs: Seq[Expression]) => KllMergeAgg(exprs(0),
        exprs(1).eval(null).asInstanceOf[Number].intValue()).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("kll_quantile"),
      info("kll_quantile",
        "kll_quantile(sketch, rank) - quantile estimate from a serialized KLL sketch"),
      (exprs: Seq[Expression]) => KllQuantile(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("theta_sketch_agg"),
      info("theta_sketch_agg",
        "theta_sketch_agg(key, lgK) - mergeable theta distinct sketch of long keys (binary)"),
      (exprs: Seq[Expression]) => ThetaSketchAgg(exprs(0),
        exprs(1).eval(null).asInstanceOf[Number].intValue()).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("theta_merge_agg"),
      info("theta_merge_agg",
        "theta_merge_agg(sketch, lgK) - union of serialized theta sketches (binary)"),
      (exprs: Seq[Expression]) => graft.functions.ThetaMergeAgg(exprs(0),
        exprs(1).eval(null).asInstanceOf[Number].intValue()).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("theta_estimate"),
      info("theta_estimate",
        "theta_estimate(sketch) - distinct estimate of a serialized theta sketch"),
      (exprs: Seq[Expression]) => graft.functions.ThetaEstimate(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("theta_intersect_estimate"),
      info("theta_intersect_estimate",
        "theta_intersect_estimate(a, b) - |A intersect B| estimate from two theta sketches"),
      (exprs: Seq[Expression]) => ThetaIntersectEstimate(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("theta_union_estimate"),
      info("theta_union_estimate",
        "theta_union_estimate(a, b) - |A union B| estimate from two theta sketches"),
      (exprs: Seq[Expression]) => ThetaUnionEstimate(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("gram_matrix_agg"),
      info("gram_matrix_agg",
        "gram_matrix_agg(qvec, dim) - mergeable integer moment matrix (sum qi*qj, sum qi, n)"),
      (exprs: Seq[Expression]) => graft.functions.GramMatrixAgg(exprs(0),
        exprs(1).eval(null).asInstanceOf[Number].intValue()).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("count_min_agg"),
      info("count_min_agg",
        "count_min_agg(key, depth, width) - mergeable count-min frequency sketch of long keys"),
      (exprs: Seq[Expression]) => graft.functions.CountMinAgg(exprs(0),
        exprs(1).eval(null).asInstanceOf[Number].intValue(),
        exprs(2).eval(null).asInstanceOf[Number].intValue()).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("misra_gries_agg"),
      info("misra_gries_agg",
        "misra_gries_agg(key, k) - mergeable Misra-Gries heavy-hitter summary (map<long,long>)"),
      (exprs: Seq[Expression]) => graft.functions.MisraGriesAgg(exprs(0),
        exprs(1).eval(null).asInstanceOf[Number].intValue()).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("cms_estimate"),
      info("cms_estimate",
        "cms_estimate(sketch, key, depth, width) - point frequency estimate from a count-min sketch"),
      (exprs: Seq[Expression]) => graft.functions.CmsEstimate(exprs(0), exprs(1),
        exprs(2).eval(null).asInstanceOf[Number].intValue(),
        exprs(3).eval(null).asInstanceOf[Number].intValue())))
  }
}
