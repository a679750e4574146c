package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.CountMin.splitmix64

/** Deduplication operators over `documents` / `embeddings` (builder-prompt
  * north-star surface): exact, n-gram Jaccard (inverted-index similarity
  * join), MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design:
  *  - exact dedup = one hash shuffle on the content hash — the canonical
  *    100 TB pattern (group on md5, not on the full text bytes).
  *  - n-gram Jaccard avoids the O(n²) cross join via an inverted-index
  *    self-join on shingles (candidates = docs sharing ≥1 shingle), which
  *    is the standard sparse similarity-join; the DuckDB oracle computes
  *    the same result quadratically at verify scale.
  *  - MinHash+LSH and SimHash bound candidate generation by banding /
  *    pigeonhole blocks, the shapes that survive 1000× data growth; both
  *    verify candidates exactly so precision is 1.0.
  */
object DedupQueries {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  // ---- shared shingle machinery -------------------------------------

  /** doc_id + DISTINCT word-3-gram shingle set as an array, one row per
    * doc. Dedup happens per-row via array_distinct INSIDE the scan stage —
    * no shuffle — so every consumer (the Jaccard inverted index, MinHash
    * signatures, exact verification sets) derives from a shuffle-free
    * frame, and the per-doc set size rides along as size(shingles) for
    * free. (The previous explode-then-.distinct() formulation cost one
    * full shuffle per consumer — the measured d38 regression.) */
  private def shingleArrays(s: SparkSession, d: String): DataFrame =
    documentsSpread(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .select(col("doc_id"),
        array_distinct(when(size(col("t")) >= 3,
          expr("transform(sequence(0, size(t)-3), i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))"))
          .otherwise(array(concat_ws(" ", col("t"))))).as("shingles"))

  /** doc_id + distinct shingles, one row per (doc, shingle) — the exploded
    * view of [[shingleArrays]]; still shuffle-free. */
  private def shingleRows(s: SparkSession, d: String): DataFrame =
    shingleArrays(s, d)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))

  /** Exact pairwise Jaccard similarity join, pairs ≥ minJac, via an
    * inverted-index self-join with size-ratio pruning: jaccard(A,B) ≥ t
    * implies t·|B| ≤ |A| ≤ |B|/t, so candidate co-shingle rows failing
    * the ratio drop *before* the pair aggregation. Output is identical to
    * the quadratic definition — the DuckDB oracle recomputes it all-pairs
    * at verify scale.
    *
    * Two candidate-generation strategies, selected per corpus by
    * `spark.graft.dedup.jaccard.strategy` (`count` | `prefix` | `auto`,
    * default auto — see [[jaccardPairsPrefix]] and the heuristic below):
    * the count-aggregation inverted index (this method's body) wins on
    * tiny-vocabulary corpora where every shingle is dense; the
    * PPJoin-style prefix filter wins on natural zipfian corpora where
    * most shingles are rare (the round-1 measurement: prefix loses 14×
    * on the synthetic small-vocab testdata but is the standard winner on
    * web text). `auto` measures the corpus's distinct-shingle ratio
    * (distinct shingles / shingle rows, one aggregation over the cached
    * frame): a high ratio means the df distribution has the long rare
    * tail prefix filtering feeds on. The chosen strategy is reported in
    * the session conf key `spark.graft.dedup.jaccard.chosenStrategy`.
    * Both strategies verify candidates exactly — output identical.
    *
    * Hot-shingle guard: a corpus-frequent shingle (df docs carrying it)
    * contributes df² co-shingle rows that land in ONE task of the
    * self-join — the skew killer at web scale, where stopword 3-grams
    * reach df ~10⁶. Shingles with df above
    * `spark.graft.dedup.jaccard.hotShingleDf` (default 1000) are routed
    * through a salted join (`spark.graft.dedup.jaccard.salts` tasks per
    * shingle, default 16) so the inherent quadratic work spreads instead
    * of serializing; the salt only routes rows, output is identical. The
    * hot set is ≤ |shingle rows|/df — a zipfian head, always
    * broadcastable. */
  private[graft] val HotShingleDfConf = "spark.graft.dedup.jaccard.hotShingleDf"
  private[graft] val JaccardSaltsConf = "spark.graft.dedup.jaccard.salts"
  private[graft] val JaccardStrategyConf = "spark.graft.dedup.jaccard.strategy"
  private[graft] val JaccardChosenConf = "spark.graft.dedup.jaccard.chosenStrategy"

  /** Ratio above which `auto` picks the prefix filter: at ≥ 0.5 the
    * majority of shingle occurrences are globally unique-ish, so rare-
    * first prefixes prune most of the inverted index; below it the corpus
    * is dense-vocabulary and count aggregation is cheaper (measured 14×
    * on the synthetic testdata). */
  private val PrefixRatioThreshold = 0.5

  private case class ShingleFrame(sh: DataFrame, distinctRatio: Double)

  /** Per-directory cached shingle frame + its distinct-shingle ratio.
    * The exploded frame is the shared input of the Jaccard strategies and
    * both d38 and d62 build it (bench runs each three times): without the
    * cache every query construction persisted a NEW copy and ran its own
    * ratio job — six cached clones of the same frame per bench sweep, and
    * the accumulated cache pressure showed up as a 3× d38 swing in full
    * sweeps. One persisted copy per (application, directory), ratio
    * computed once on first use. The per-doc set size rides along in each
    * row (size of the distinct array, computed before the explode) — no
    * per-doc size table exists, so nothing corpus-sized is joined or
    * broadcast (a broadcast of a one-row-per-document table is multi-GB
    * per executor at 10^9 docs — the round-2 scale-killer). */
  private val shCache = new java.util.concurrent.ConcurrentHashMap[String, ShingleFrame]()

  private def shingleFrame(s: SparkSession, d: String): ShingleFrame =
    shCache.computeIfAbsent(s.sparkContext.applicationId + "|" + d, _ => {
      val sh = shingleArrays(s, d)
        .select(col("doc_id"), size(col("shingles")).cast("long").as("sz"),
          explode(col("shingles")).as("shingle"))
        .persist()
      val ratio = sh.agg(
        (countDistinct("shingle").cast("double") / count(lit(1))).as("r"))
        .first().getDouble(0)
      ShingleFrame(sh, ratio)
    })

  private def jaccardPairs(s: SparkSession, d: String, minJac: Double): DataFrame = {
    val hotDf = s.conf.get(HotShingleDfConf, "1000").toLong
    val nSalt = s.conf.get(JaccardSaltsConf, "16").toInt
    val frame = shingleFrame(s, d)
    val sh = frame.sh
    val chosen = s.conf.get(JaccardStrategyConf, "auto") match {
      case "count" => "count"
      case "prefix" => "prefix"
      case _ => if (frame.distinctRatio >= PrefixRatioThreshold) "prefix" else "count"
    }
    s.conf.set(JaccardChosenConf, chosen)
    if (chosen == "prefix") return jaccardPairsPrefix(s, d, minJac, sh)
    val a = sh.toDF("id1", "sz1", "shingle")
    val b = sh.toDF("id2", "sz2", "shingle")
    val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > hotDf).select("shingle")
    val cold = a.join(broadcast(hot), Seq("shingle"), "left_anti")
      .join(b.join(broadcast(hot), Seq("shingle"), "left_anti"), "shingle")
    val aHot = a.join(broadcast(hot), Seq("shingle"), "left_semi")
      .withColumn("__salt", pmod(xxhash64(col("id1")), lit(nSalt.toLong)))
    val bHot = b.join(broadcast(hot), Seq("shingle"), "left_semi")
      .withColumn("__salt", explode(array((0 until nSalt).map(i => lit(i.toLong)): _*)))
    val hotPairs = aHot.join(bHot, Seq("shingle", "__salt")).drop("__salt")
    val inter = cold.unionByName(hotPairs)
      .filter(col("id1") < col("id2") &&
        col("sz1") >= col("sz2") * minJac - lit(1e-9) &&
        col("sz2") >= col("sz1") * minJac - lit(1e-9))
      .groupBy("id1", "id2", "sz1", "sz2").agg(count(lit(1)).as("n_common"))
    inter
      .select(col("id1").as("doc1"), col("id2").as("doc2"),
        (col("n_common").cast("double") /
          (col("sz1") + col("sz2") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= minJac)
  }

  /** PPJoin/AllPairs-style prefix-filtered candidate generation. Under a
    * global shingle order (df ascending, shingle ascending — rarest
    * first), a pair with jaccard ≥ t shares at least ⌈t·|x|⌉ shingles
    * (size filter gives |y| ≥ t·|x|, so the required overlap
    * t/(1+t)·(|x|+|y|) ≥ t·|x|); if none of x's first
    * |x| − ⌈t·|x|⌉ + 1 ordered shingles were shared, all common shingles
    * would sit in the remaining ⌈t·|x|⌉ − 1 — contradiction. So indexing
    * only each doc's prefix is lossless, and on zipfian corpora prunes
    * the inverted index to its rare tail (hot shingles land in nobody's
    * prefix — the skew guard comes built in). Candidates verify exactly
    * against the per-doc distinct shingle arrays; output is identical to
    * the count strategy. One extra shuffle (the df join + per-doc
    * row_number) buys candidate sets ~|prefix|² instead of ~df². */
  private def jaccardPairsPrefix(s: SparkSession, d: String, minJac: Double,
      sh: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))
    // ceil guards against binary-float round-up: sz*t for t without an
    // exact binary representation (0.1, 0.3, ...) can land one ulp above
    // the true product (30*0.1 → 3.0000000000000004, ceil → 4), which
    // would shorten the prefix below the lossless bound and silently drop
    // pairs whose overlap is exactly t·|x| — candidates the exact-verify
    // stage can never recover. The epsilon only ever lengthens the prefix
    // (adds candidates), so it cannot lose pairs; same tolerance guards
    // the size-ratio comparisons here and in the count strategy.
    val prefix = sh.join(dfreq, "shingle")
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * minJac - lit(1e-9)) + 1)
      .select("doc_id", "sz", "shingle")
    val cand = prefix.toDF("id1", "sz1", "shingle")
      .join(prefix.toDF("id2", "sz2", "shingle"), "shingle")
      .filter(col("id1") < col("id2") &&
        col("sz1") >= col("sz2") * minJac - lit(1e-9) &&
        col("sz2") >= col("sz1") * minJac - lit(1e-9))
      .select("id1", "id2").distinct()
    val arrs = shingleArrays(s, d)
    cand
      .join(arrs.toDF("id1", "sh1"), "id1")
      .join(arrs.toDF("id2", "sh2"), "id2")
      .select(col("id1").as("doc1"), col("id2").as("doc2"),
        (size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2")))).as("jaccard"))
      .filter(col("jaccard") >= minJac)
  }

  // ---- MinHash -------------------------------------------------------

  private val NumPerms = 48
  private val BandRows = 4

  /** d128's design-curve sample bound: with the 1-in-7 modulus this caps
    * the sampled documents at ≤300 (≤~45k pairs) at ANY corpus size, so
    * the curve's quadratic exact-Jaccard side has a fixed cost whether
    * the corpus is 500 docs or 100 TB. (doc_ids < 500 at the correctness
    * SFs, so the cap is invisible to the sf0.001/sf0.01 gates.) */
  private val DesignSampleCap = 2100
  private val NumBands = NumPerms / BandRows // 12

  /** doc_id + minhash signature array (length NumPerms), via the
    * [[graft.functions.MinHashSignature]] expression: each shingle is
    * base-hashed ONCE (top 15 hex digits of md5 — the same portable
    * 60-bit value d40 uses, so DuckDB computes it identically) and the 48
    * permutation values derive from cheap splitmix64 mixes, vs 48 full
    * string hashes per shingle in the aggregate-per-permutation
    * formulation (the measured hot spot). Zero shuffles: the per-doc
    * shingle set is already an array ([[shingleArrays]]), so base hashes
    * map over it with transform() and the signature computes in the same
    * projection — the whole signature stage lives in the scan task. */
  private def minhashSignatures(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    shingleArrays(s, d)
      .select(col("doc_id"),
        expr("transform(shingles, x -> " +
          "CAST(conv(substring(md5(CAST(x AS BINARY)), 1, 15), 16, 10) AS BIGINT))")
          .as("hvs"))
      .select(col("doc_id"),
        call_function("minhash_signature", col("hvs"), lit(NumPerms)).as("sig"))
  }

  // ---- SimHash -------------------------------------------------------

  /** Signature width: 60 bits = top 15 hex digits of md5(token). The token
    * hash is md5-derived (not xxhash64) so the DuckDB oracle can compute
    * the *identical* integer — seeded xxhash64 has no DuckDB equivalent,
    * and 15 digits keep the value positive in a signed 64-bit lane on both
    * engines. Any uniform 64-bit-ish hash serves simhash equally. */
  private[graft] val SimhashBits = 60
  private[graft] val SimhashBlocks = 4 // pigeonhole: hamming<=3 => some 15-bit block equal

  /** (doc_id, h) feature-hash frame → (doc_id, sig) 60-bit simhash.
    * Feature-frequency weighting falls out of summing per occurrence.
    * Shared by d40 (token features) and m136 (binary chunk features). */
  private[graft] def simhashFromHashes(hashed: DataFrame): DataFrame = {
    val bitSums = (0 until SimhashBits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i")
    }
    val sig = (0 until SimhashBits).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    hashed.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sig.as("sig"))
  }

  /** (doc_id, sig) → near-dup pairs within hamming ≤ 3 via the 4×15-bit
    * pigeonhole block join (any such pair has ≥1 unchanged block).
    * Shared candidate machinery for d40 and m136. */
  private[graft] def simhashNearDupPairs(sigs: DataFrame): DataFrame = {
    val blocks = sigs.select(col("doc_id"), col("sig"), posexplode(
      array((0 until SimhashBlocks).map(bl =>
        shiftright(col("sig"), bl * 15).bitwiseAND(0x7FFFL)): _*)))
      .toDF("doc_id", "sig", "block", "block_val")
    val cand = blocks.toDF("id1", "sig1", "block", "block_val")
      .join(blocks.toDF("id2", "sig2", "block", "block_val"), Seq("block", "block_val"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2", "sig1", "sig2").distinct()
    cand
      .select(col("id1").as("doc1"), col("id2").as("doc2"),
        bit_count(col("sig1").bitwiseXOR(col("sig2"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** doc_id + 60-bit simhash over term-frequency-weighted token hashes. */
  private def simhashSignatures(s: SparkSession, d: String): DataFrame =
    simhashFromHashes(documentsSpread(s, d)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("token"))
      .withColumn("h",
        conv(substring(md5(col("token").cast("binary")), 1, 15), 16, 10).cast("long")))

  /** Connected components of an undirected near-dup pair list
    * (doc1, doc2) → (doc_id, cluster_id = component-min doc_id), for the
    * PAIR-GRAPH nodes only (isolated docs are the caller's coalesce).
    * Hybrid tiers shared by d62 (Jaccard graph), d83 (forced distributed
    * tier), and d152 (edit-distance graph): below
    * `spark.graft.dedup.clusters.unionFindLimit` pairs the ~16 B/pair
    * edge list collects for exact driver union-find; above it,
    * distributed min-label propagation with pointer jumping converges in
    * O(log diameter) rounds with localCheckpoint lineage truncation. */
  private[graft] def labelComponents(s: SparkSession, pairs0: DataFrame): DataFrame = {
    import s.implicits._
    val unionFindLimit = s.conf.get(
      "spark.graft.dedup.clusters.unionFindLimit", "1000000").toLong
    val pairs = pairs0.select("doc1", "doc2").persist()

    val nPairs = pairs.count()
    val labeled =
      if (nPairs <= unionFindLimit) {
        // near-dup pair sets are tiny relative to the corpus; collect
        // the edge list and run exact union-find on the driver (the
        // labels, not the documents, come to the driver — ~16 B/pair)
        val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
        pairs.unpersist()
        val parent = scala.collection.mutable.Map[Long, Long]()
        // iterative find with full path compression — union-by-min can
        // build long parent chains on adversarial edge orders near the
        // 1M-pair threshold, and recursion would overflow the stack
        def find(x0: Long): Long = {
          var r = x0
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var x = x0
          while (parent.getOrElse(x, x) != x) { val nx = parent(x); parent(x) = r; x = nx }
          r
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        s.createDataFrame(nodes.map(n => (n, find(n))).toSeq)
          .toDF("doc_id", "cluster_id")
      } else {
        // distributed min-label propagation: one broadcast-join round
        // per diameter step, fixpoint detection by changed-count
        val edges = pairs
          .unionByName(pairs.select(col("doc2").as("doc1"), col("doc1").as("doc2")))
          .toDF("src", "dst").persist()
        var labels = edges.select(col("src").as("doc_id")).distinct()
          .withColumn("cluster_id", col("doc_id")).persist()
        var cached = labels // the persisted frame backing `labels`
        var converged = false
        var iter = 0
        while (!converged && iter < 30) {
          val nbrMin = edges
            .join(labels.toDF("dst", "nbr_lbl"), "dst")
            .groupBy(col("src").as("doc_id"))
            .agg(min("nbr_lbl").as("nbr_min"))
          val hop = labels.join(nbrMin, Seq("doc_id"), "left")
            .select(col("doc_id"), col("cluster_id"),
              least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
                .as("lbl1"))
          // pointer jumping: a label is itself a node id of the same
          // component, so also adopt THAT node's freshly-hopped label.
          // Labels stay within the component and only decrease, so the
          // min-label fixpoint is unchanged — but chains collapse in
          // O(log diameter) rounds instead of O(diameter) (each round
          // now looks two hops back). The changed flag rides in-row, so
          // fixpoint detection reuses the materializing count instead
          // of a second join against the previous labels.
          // One EAGER localCheckpoint per round (r16 optimization —
          // guide §7.3 "planning time itself can become the bottleneck"):
          // the pointer-jump self-join references `hop` twice, so with
          // plain persist the logical tree QUADRUPLED per round (4^k; the
          // 16-diameter chain spec OOMed the explain string at
          // checkpoint-every-5) and re-analyzing/optimizing that tree on
          // the driver dominated the forced tier's wall time — profiled
          // 15 s of driver gap against 13 s of job time at sf0.1.
          // Checkpointing truncates lineage to the materialized blocks
          // EVERY round, so Catalyst sees a constant-size plan per round;
          // the convergence count then reuses those same blocks instead
          // of re-deriving the round. Values are unchanged — the
          // checkpoint is a materialization barrier, not a computation.
          val upd = hop
            .join(hop.select(col("doc_id").as("lbl1"), col("lbl1").as("jump")),
              Seq("lbl1"), "left")
            .withColumn("new_lbl", least(col("lbl1"), coalesce(col("jump"), col("lbl1"))))
            .select(col("doc_id"), col("new_lbl"),
              (col("new_lbl") =!= col("cluster_id")).as("chg"))
            .localCheckpoint()
          val changed = upd.filter(col("chg")).count()
          cached.unpersist()
          cached = upd
          labels = upd.select(col("doc_id"), col("new_lbl").as("cluster_id"))
          converged = changed == 0
          iter += 1
        }
        // labels is materialized (the convergence count ran it); edges
        // and pairs can recompute from lineage if evicted
        edges.unpersist()
        pairs.unpersist()
        labels
      }
    labeled
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the third tier of the components family, and the one
    * whose round count is O(log² n) REGARDLESS of component shape:
    *
    *   large-star: per node u over the symmetrized neighborhood Γ(u),
    *     m = min(Γ(u) ∪ {u}); re-point every strictly-larger neighbor
    *     at m — emit (v, m) for v ∈ Γ(u), v > u.
    *   small-star: orient every edge child-ward ((max, min)); per node
    *     u with smaller neighbors Γ⁻(u), m = min(Γ⁻(u) ∪ {u}); emit
    *     (v, m) for v ∈ Γ⁻(u) ∪ {u}, v ≠ m.
    *
    * The fixpoint is a forest of depth-1 stars rooted at each
    * component's minimum id. [[labelComponents]]' pointer-jumping tier
    * converges in O(log diameter) rounds but each round JOINS the full
    * label table against the edge list; star rounds are groupBy-only
    * (one shuffle on node id each), never carry a label table, and the
    * edge list physically CONTRACTS toward one edge per non-root node —
    * at 100 TB that shrinking working set (vs label-prop's constant
    * n-row labels frame) is what keeps late rounds cheap. Termination
    * detection rides the materializing count: a round that changes
    * nothing (same edge multiset, checked by count + order-free
    * hash-sum signature) is the fixpoint; a 60-round ceiling (2·log²
    * of any realistic n) backstops it. Output contract is d62's:
    * pair-graph nodes only, (doc_id, cluster_id = component min). */
  private[graft] def starComponents(s: SparkSession, pairs0: DataFrame): DataFrame = {
    val dedup = pairs0.select(col("doc1").cast("long"), col("doc2").cast("long"))
      .filter(col("doc1") =!= col("doc2"))
    var edges = dedup
      .select(greatest(col("doc1"), col("doc2")).as("u"),
        least(col("doc1"), col("doc2")).as("v"))
      .distinct().persist()
    def signature(e: DataFrame): (Long, java.math.BigDecimal) = {
      // decimal(38,0) accumulator: a plain long sum of xxhash64 values
      // overflows under ANSI mode
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(least(min("v"), first("u")).as("m"))
      sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // edges are already child-ward oriented (u > v) by construction
      // and both star ops preserve that orientation
      val mins = e.groupBy("u").agg(min("v").as("m"))
      val withM = e.join(mins, "u")
      withM.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(withM.select(col("u"), col("m").as("v")))
        .distinct()
    }
    var sig = signature(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < 60) {
      // each star op references its input 3-4× (sym union + grouped-min
      // join-back), so the UNtruncated plan grows ~12× per round and
      // Catalyst planning time — not data — dominates by round 2 (48 s
      // on a 13-row debug graph). localCheckpoint EVERY round: one
      // materialization of a contracting edge set per round, plans stay
      // O(1).
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nextSig = signature(next)
      edges.unpersist()
      edges = next
      converged = nextSig == sig
      sig = nextSig
      iter += 1
    }
    // A (count, hash-sum) signature match is necessary but not sufficient
    // for a fixpoint; hitting the round ceiling is never silent (ADVICE r9).
    require(converged,
      s"starComponents: no fixpoint after $iter rounds — graph too deep " +
        "or signature oscillation; raise the ceiling or checkpoint inputs")
    // fixpoint edges are (child, root); roots label themselves
    val labels = edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .unionByName(edges.select(col("v").as("doc_id"), col("v").as("cluster_id")))
      .distinct()
    edges.unpersist()
    labels
  }

  /* Fuzzy-key near-dup pairs at edit distance ≤ 2 — see the d145
   * scaladoc below for the PassJoin design; shared with d152's keep-first
   * composition. Returns (doc1 < doc2, edit_dist). */
  private[graft] def editDistancePairs(s: SparkSession, d: String): DataFrame = {
    val k = 2
    val nseg = k + 1
    val keyed = documentsSpread(s, d)
      .select(col("doc_id"),
        lower(array_join(slice(split(trim(col("text")), "\\s+"), 1, 6), " ")).as("key"))
      .withColumn("len", length(col("key")))
      .filter(col("len") >= nseg) // all k+1 even segments non-empty
    val idx = keyed.select(col("doc_id").as("id2"), col("key"),
        col("len").as("l2"),
        explode(expr(
          s"""transform(sequence(0, $k), i -> struct(
             |  i AS seg_i,
             |  cast((i * len) div $nseg as int) + 1 AS pos,
             |  cast(((i + 1) * len) div $nseg as int)
             |    - cast((i * len) div $nseg as int) AS seg_len))""".stripMargin))
          .as("g"))
      .select(col("id2"), col("l2"), col("g.seg_i").as("seg_i"),
        expr("substring(key, g.pos, g.seg_len)").as("sub"))
    val probe = keyed.select(col("doc_id").as("id1"), col("key"), col("len"),
        explode(expr(
          s"""filter(
             |  flatten(flatten(transform(sequence(len - $k, len + $k), L ->
             |    transform(sequence(0, $k), i ->
             |      transform(sequence(-$k, $k), sh -> struct(
             |        L AS l2, i AS seg_i,
             |        cast((i * L) div $nseg as int) + 1 + sh AS pos,
             |        cast(((i + 1) * L) div $nseg as int)
             |          - cast((i * L) div $nseg as int) AS seg_len)))))),
             |  p -> p.l2 >= $nseg AND p.seg_len >= 1
             |       AND p.pos >= 1 AND p.pos + p.seg_len - 1 <= len)""".stripMargin))
          .as("p"))
      .select(col("id1"), col("p.l2").as("l2"), col("p.seg_i").as("seg_i"),
        expr("substring(key, p.pos, p.seg_len)").as("sub"))
    val cand = probe.join(idx, Seq("l2", "seg_i", "sub"))
      .filter(col("id1") =!= col("id2"))
      .select(least(col("id1"), col("id2")).as("doc1"),
        greatest(col("id1"), col("id2")).as("doc2"))
      .distinct()
    cand
      .join(keyed.select(col("doc_id").as("doc1"), col("key").as("key1")), "doc1")
      .join(keyed.select(col("doc_id").as("doc2"), col("key").as("key2")), "doc2")
      .select(col("doc1"), col("doc2"),
        levenshtein(col("key1"), col("key2")).cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= k)
  }

  val queries: Map[String, Q] = Map(
    /** Exact dedup: group on content hash, keep lowest doc_id per group
      * (hash-groupBy — one shuffle keyed on md5, never on raw text). */
    "d37_dedup_exact" -> ((s, d) =>
      documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("content_md5"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")),

    /** Exact n-gram Jaccard similarity join (threshold 0.5) via inverted
      * shingle index; oracle recomputes quadratically in DuckDB. */
    "d38_dedup_jaccard" -> ((s, d) =>
      jaccardPairs(s, d, 0.5).orderBy("doc1", "doc2")),

    /** MinHash+LSH near-dup: 48 perms, 12 bands × 4 rows, bucket join on
      * (band, raw 4-value band key) — joining on the values themselves
      * instead of a hash of them removes cross-band collisions AND makes
      * the candidate set DuckDB-replicable, so the whole pipeline is
      * oracle-checked (signatures via the portable md5-60bit base hash +
      * splitmix64 mixes, which the oracle emulates with HUGEINT mod-2^64
      * arithmetic). Exact-Jaccard verification of candidates keeps
      * precision at 1.0; the spec additionally pins recall vs d38. */
    "d39_dedup_minhash_lsh" -> ((s, d) => {
      val sigs = minhashSignatures(s, d)
      val bands = sigs.select(col("doc_id"), posexplode(
        array((0 until NumBands).map(bd =>
          struct((0 until BandRows).map(r =>
            col("sig")(bd * BandRows + r).as(s"v$r")): _*)): _*)))
        .toDF("doc_id", "band", "band_key")
      val cand = bands.toDF("id1", "band", "band_key")
        .join(bands.toDF("id2", "band", "band_key"), Seq("band", "band_key"))
        .filter(col("id1") < col("id2"))
        .select("id1", "id2").distinct()
      // exact verification of candidates against shingle sets — the
      // per-doc distinct array IS the set, no collect_set shuffle needed
      val shSets = shingleArrays(s, d)
      cand
        .join(shSets.toDF("id1", "sh1"), "id1")
        .join(shSets.toDF("id2", "sh2"), "id2")
        .select(col("id1").as("doc1"), col("id2").as("doc2"),
          (size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
            size(array_union(col("sh1"), col("sh2")))).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy("doc1", "doc2")
    }),

    /** Array-typed output crossing the driver comparator as JSON
      * (VERDICT r10 #6): the driver's pandas hasher raises on ndarray
      * cells, so raw array columns were gated long-form only. Here the
      * 48-perm minhash signature ARRAY itself is hash-gated by
      * serializing with to_json — integer lists render byte-identically
      * (`[1,2,3]`, no whitespace) on both engines, so the full
      * signature arrays (not just their banded/paired consumers) get a
      * driver-level value gate. Cost shape: d39's scan-local signature
      * stage plus one projection — nothing new shuffles. */
    "d270_signature_json" -> ((s, d) =>
      minhashSignatures(s, d)
        .select(col("doc_id"), to_json(col("sig")).as("sig_json"))
        .orderBy("doc_id")),

    /** SimHash near-dup: 60-bit fingerprints, candidates via 4×15-bit
      * pigeonhole blocks (any pair within hamming ≤ 3 shares a block),
      * verified with bit_count(xor). Oracle recomputes signatures all-pairs
      * in DuckDB — same md5-derived token hash, identical output. */
    "d40_dedup_simhash" -> ((s, d) =>
      simhashNearDupPairs(simhashSignatures(s, d)).orderBy("doc1", "doc2")),

    /** Dup-cluster assignment: connected components over the near-dup
      * pair graph (d38's output), labels = min doc_id per component —
      * the step that turns pairwise dedup into keep/drop decisions.
      * Distributed min-label propagation with pointer jumping (each round
      * takes the min over neighbor labels AND the label's own label), so
      * convergence is O(log diameter) rounds — near-dup components are
      * tiny, so 2-3 rounds; the loop breaks at fixpoint. Oracle: DuckDB
      * recursive CTE closure. */
    "d62_dedup_clusters" -> ((s, d) => {
      val labeled = labelComponents(s, jaccardPairs(s, d, 0.5))
      labeled
        .join(labeled.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size")),
          "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size")
        .orderBy("doc_id")
    }),

    /** Embedding-cosine near-dup pairs (≥ 0.4 on this synthetic data; the
      * threshold is a parameter). Hybrid, mirroring d62's union-find gate:
      * corpora at or below `spark.graft.dedup.embedding.exactLimit`
      * (default 10k vectors; see [[ExactPairLimit]]) use the exact
      * all-pairs block-join ([[exactAllPairs]] — codegen'd equi-join,
      * not a nested loop) — oracle-identical output; larger corpora switch to
      * the banded random-hyperplane LSH prefilter + exact-cosine verify
      * (same machinery family as s43), whose plan has no O(n²) join:
      * candidates come from an equi-join on (band, band_val). Precision
      * stays 1.0 (every candidate is exactly verified); recall is the LSH
      * banding bound ≥ 1-(1-(1-θ/π)⁴)⁸ (e.g. ≈0.998 at cosine 0.9), valid
      * because the planes are gaussian ([[dedupPlanes]]). */
    "d41_dedup_embedding" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      val limit = s.conf.get("spark.graft.dedup.embedding.exactLimit",
        ExactPairLimit.toString).toLong
      val pairs =
        if (embeddingCount(s, d) <= limit) exactAllPairs(s, d)
        else embeddingPairsLsh(s, d)
      pairs.filter(col("cosine") >= 0.4).orderBy("id1", "id2")
    }),

    // ---- forced scale-tier variants (VERDICT r3 #1) ------------------
    // The sf0.01 verify corpus sits below every auto-gate, so the driver's
    // DuckDB hash gate otherwise only ever exercises the small tiers. Each
    // variant pins the session conf that selects the 100 TB code path and
    // shares the small-tier query's oracle SQL VERBATIM — the scale path
    // must produce the same bytes, not just satisfy a spec. Confs are
    // read at plan-construction time, so restoring them in `finally`
    // cannot race the query's execution.

    /** d38's PPJoin prefix-filter strategy (the zipfian-corpus path; auto
      * picks `count` on this dense-vocab testdata). */
    "d81_jaccard_prefix" -> ((s, d) => {
      val prev = s.conf.get(JaccardStrategyConf, "auto")
      s.conf.set(JaccardStrategyConf, "prefix")
      try jaccardPairs(s, d, 0.5).orderBy("doc1", "doc2")
      finally s.conf.set(JaccardStrategyConf, prev)
    }),

    /** d41's banded random-hyperplane LSH prefilter tier (auto uses the
      * exact block-pair join below 10k vectors). Oracle: an inlined-plane
      * DuckDB replica of the banded pipeline itself (the s43 pattern) —
      * NOT d41's exact all-pairs SQL, because at this corpus's cosine
      * threshold (0.4 ≈ 66°, barely off orthogonal) the 8×4 sign-LSH
      * banding bound gives recall ≈ 0.75 (measured at sf0.01: 46 of 59
      * exact pairs), and no banding configuration reaches recall 1.0
      * there without admitting ~all n² pairs as candidates. What the
      * hash gate pins instead: the banding signatures, candidate set,
      * and exact-cosine verification are computed identically — i.e.
      * precision 1.0 and the implementation, byte-for-byte. Recall vs
      * exact stays the spec-pinned contract (DedupSimilaritySpec: ≥ 0.5
      * at 0.4; the analytic bound is ≈ 0.998 at the 0.9-cosine near-dup
      * threshold the tier is designed for). */
    "d82_embedding_lsh" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      embeddingPairsLsh(s, d)
        .filter(col("cosine") >= 0.4).orderBy("id1", "id2")
    }),

    /** d62's distributed min-label-propagation tier (auto collects the
      * edge list for driver union-find below 1M pairs). */
    "d83_clusters_distributed" -> ((s, d) => {
      val key = "spark.graft.dedup.clusters.unionFindLimit"
      val prev = s.conf.get(key, "1000000")
      s.conf.set(key, "0")
      try queries("d62_dedup_clusters")(s, d)
      finally s.conf.set(key, prev)
    }),

    /** Third components tier: [[starComponents]] (alternating
      * large-star/small-star) over the SAME Jaccard pair graph, sharing
      * d62/d83's oracle verbatim — the d83 contract: a different 100 TB
      * algorithm must reproduce the same bytes, not just a same-ish
      * clustering. Exists because d83's pointer-jumped label propagation
      * pays per-round label-table joins and O(log diameter) rounds;
      * the star rounds are groupBy-only with a contracting edge set and
      * an O(log² n) bound independent of component shape — the variant
      * to reach for when near-dup chains get long (quote threads,
      * boilerplate gradients) rather than star-shaped. */
    "d194_clusters_bigstar" -> ((s, d) => {
      val labeled = starComponents(s, jaccardPairs(s, d, 0.5))
      labeled
        .join(labeled.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size")),
          "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size")
        .orderBy("doc_id")
    }),

    /** Soft dedup (count-weighted down-sampling — the gentler
      * alternative when hard dedup is too aggressive, e.g. templated
      * boilerplate that still carries signal): every doc gets sampling
      * weight 1/cluster_size from the d62 near-dup clustering (isolated
      * docs form their own singleton cluster), and survives when its
      * deterministic md5 uniform u < weight — one expected survivor per
      * cluster, but drawn independently, so no cluster is ever
      * guaranteed extinct. The keep test is INTEGER — u52 ≤
      * ⌊(2^52−1)/size⌋ on the 52-bit md5 prefix (the division form
      * avoids ANSI overflow of u52·size and no float boundary can flip
      * a flag).
      *
      * Scale shape: d62's clustering cost + one broadcast-free left
      * join on doc_id + scan-local hashing. */
    /** Fellegi–Sunter probabilistic record linkage (JASA 1969 — the
      * entity-resolution classic): link the customer table against a
      * deterministically corrupted copy of itself (truncated names on
      * custkey%3, swapped segments on %5, shifted nations on %7 — the
      * corruption stands in for a second noisy source). Candidate pairs
      * come from BLOCKING on the stable 8-digit name-prefix (blocks of
      * ≤10×10 rows at any scale — linkage's standard answer to the
      * quadratic-pairs problem); each pair is scored with per-field
      * agreement/disagreement log-likelihood weights ln(m/u) and
      * ln((1−m)/(1−u)), classified match / possible / non-match on the
      * textbook thresholds; non-matches are dropped.
      *
      * Determinism: the four weights are computed ONCE in Scala and the
      * identical shortest-roundtrip literals are inlined into both
      * engines; the score is a fixed left-assoc 3-term sum of those
      * exact doubles — no transcendental evaluated at query time.
      *
      * Scale shape: two scans → shuffle on the block key → bounded
      * within-block join → scan-local scoring. No broadcast of either
      * side; block width is data-independent. */
    "d219_record_linkage" -> ((s, d) => {
      val c = customer(s, d)
      val a = c.select(col("c_custkey").as("a_id"), col("c_name").as("name_a"),
        col("c_mktsegment").as("seg_a"), col("c_nationkey").cast("long").as("nat_a"),
        substring(col("c_name"), 10, 8).as("blk"))
      val b = c.select(
        (col("c_custkey") + 1000000L).as("b_id"),
        when(col("c_custkey") % 3 === 0,
          expr("substring(c_name, 1, length(c_name) - 1)"))
          .otherwise(col("c_name")).as("name_b"),
        when(col("c_custkey") % 5 === 0, lit("FURNITURE"))
          .otherwise(col("c_mktsegment")).as("seg_b"),
        when(col("c_custkey") % 7 === 0, (col("c_nationkey").cast("long") + 1L) % 25L)
          .otherwise(col("c_nationkey").cast("long")).as("nat_b"),
        substring(col("c_name"), 10, 8).as("blk"))
      val score =
        (when(col("agree_name"), lit(FsWeights.nameA)).otherwise(lit(FsWeights.nameD)) +
          when(col("agree_segment"), lit(FsWeights.segA)).otherwise(lit(FsWeights.segD))) +
          when(col("agree_nation"), lit(FsWeights.natA)).otherwise(lit(FsWeights.natD))
      a.join(b, "blk")
        .select(col("a_id"), col("b_id"),
          (col("name_a") === col("name_b")).as("agree_name"),
          (col("seg_a") === col("seg_b")).as("agree_segment"),
          (col("nat_a") === col("nat_b")).as("agree_nation"))
        .withColumn("fs_score", score)
        .withColumn("decision",
          when(col("fs_score") > 8.0, "match")
            .when(col("fs_score") > 0.0, "possible")
            .otherwise("non-match"))
        .filter(col("fs_score") > 0.0)
        .orderBy("a_id", "b_id")
    }),

    "d211_soft_dedup" -> ((s, d) => {
      val clusters = queries("d62_dedup_clusters")(s, d)
        .select(col("doc_id"), col("cluster_size"))
      val u52 = conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 1, 13), 16, 10).cast("long")
      documents(s, d).select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
          u52.as("u52"))
        .select(col("doc_id"), col("cluster_size"),
          round(lit(1.0) / col("cluster_size"), 9).as("weight"),
          expr("u52 <= (4503599627370495 div cluster_size)").as("kept"))
        .orderBy("doc_id")
    }),

    /** Corpus-level exact CHUNK dedup (the sub-document granularity the
      * doc-level d37 can't reach — boilerplate shared across otherwise
      * distinct documents): split each doc into non-overlapping 30-token
      * chunks, keep the corpus-wide FIRST occurrence of each distinct
      * chunk (ordered by doc_id, then chunk position), flag the rest.
      *
      * Scale shape: the shuffle key is md5(chunk) — 32 bytes instead of
      * the chunk text, so shuffle rows stay small and the equivalence
      * classes are identical (a 128-bit collision needs ~2^64 chunks).
      * One shuffle for the count+first window, linear in corpus bytes,
      * no driver-side path. A pathological boilerplate chunk shared by
      * millions of docs makes one hot partition; that partition's work
      * is a linear count + rank, so the straggler is IO-bound, not
      * quadratic (same bound SkewSpec pins for sessionization). */
    "d86_chunk_dedup" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val chunks = documents(s, d)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
        .select(col("doc_id"),
          explode(sequence(lit(0), size(col("t")) - 1, lit(30))).as("start"),
          col("t"))
        .select(col("doc_id"), (col("start") / 30).cast("long").as("chunk_idx"),
          md5(concat_ws(" ", slice(col("t"), col("start") + 1, lit(30)))
            .cast("binary")).as("chunk_key"))
      val byChunk = Window.partitionBy("chunk_key")
      chunks
        .withColumn("n_copies", count(lit(1)).over(byChunk).cast("long"))
        .withColumn("rn",
          row_number().over(byChunk.orderBy("doc_id", "chunk_idx")))
        .select(col("doc_id"), col("chunk_idx"), col("n_copies"),
          (col("rn") === 1).as("is_kept"))
        .orderBy("doc_id", "chunk_idx")
    }),

    /** Benchmark decontamination (the overlap check every pretraining
      * pipeline runs before training: GPT-3 §C / PaLM-style 13-gram
      * collision against the eval set): a deterministic ~1% slice of the
      * corpus (doc_id % 29 == 0) stands in for the benchmark set; every
      * TRAINING doc reports how many of its distinct 13-grams appear
      * anywhere in the eval set, plus the resulting contaminated verdict.
      *
      * Scale shape: eval sets are benchmark-sized (MBs — bounded, not
      * corpus-scaling), so their distinct-gram table broadcasts; the
      * training side is one linear explode scan joined hash-to-broadcast,
      * then one shuffle on doc_id for the per-doc count. Grams travel as
      * md5 keys (32 bytes, identical equivalence classes — see d86). At
      * 100 TB the broadcast could be replaced by a bloom filter with an
      * exact-verify join behind it; the plan shape is otherwise unchanged. */
    "d88_decontaminate" -> ((s, d) => decontaminate(s, d, bloomTier = false)),

    /** d88's 100 TB tier forced under the hash gate (the d82/s96
      * playbook): the eval gram set summarizes into ONE Bloom-filter
      * sketch (`bloom_filter_agg` — KBs of binary, broadcast as a 1-row
      * frame, vs a hash relation that grows with the eval set); every
      * training gram probes it with the codegen'd `might_contain` and
      * only the might-contain survivors take the exact verify join.
      * Bloom false positives cost only wasted verification — the exact
      * join restores precision 1.0 — so the output is byte-identical and
      * d88's oracle is shared VERBATIM. */
    "d99_decontaminate_bloom" -> ((s, d) => decontaminate(s, d, bloomTier = true)),

    /** Incremental (delta-vs-corpus) MinHash dedup — the INGEST-time
      * shape: a new batch (deterministic 10% slice, doc_id % 10 == 0)
      * is checked for near-duplicates AGAINST the existing corpus
      * without ever joining corpus bands to corpus bands. Cost scales
      * with |delta| × bands, not |corpus|²: in production the corpus
      * band table is precomputed and stored bucketed by band key, and
      * each ingest batch computes only its own signatures and probes.
      * Candidates verify exactly against shingle sets (precision 1.0,
      * same as d39). Output: (doc_new, doc_corpus, jaccard ≥ 0.5). */
    "d93_incremental_minhash" -> ((s, d) => {
      val sigs = minhashSignatures(s, d)
      val bands = sigs.select(col("doc_id"), posexplode(
        array((0 until NumBands).map(bd =>
          struct((0 until BandRows).map(r =>
            col("sig")(bd * BandRows + r).as(s"v$r")): _*)): _*)))
        .toDF("doc_id", "band", "band_key")
      val corpusBands = bands.filter(col("doc_id") % 10 =!= 0)
        .toDF("doc_corpus", "band", "band_key")
      val newBands = bands.filter(col("doc_id") % 10 === 0)
        .toDF("doc_new", "band", "band_key")
      val cand = newBands.join(corpusBands, Seq("band", "band_key"))
        .select("doc_new", "doc_corpus").distinct()
      val shSets = shingleArrays(s, d)
      cand
        .join(shSets.toDF("doc_new", "shN"), "doc_new")
        .join(shSets.toDF("doc_corpus", "shC"), "doc_corpus")
        .select(col("doc_new"), col("doc_corpus"),
          (size(array_intersect(col("shN"), col("shC"))).cast("double") /
            size(array_union(col("shN"), col("shC")))).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy("doc_new", "doc_corpus")
    }),

    /** Keep-best fuzzy dedup — the decision step production pipelines run
      * AFTER near-dup detection: within each near-dup cluster (d62's
      * connected components), keep the single highest-quality member
      * (t34's quality score; ties break to the smaller doc_id) and drop
      * the rest. Composes two already-gated operators, so the oracle is
      * their SQL composed verbatim.
      *
      * Scale shape: both inputs are the gated pipelines (banded/blocked
      * candidate generation, distributed label propagation); the
      * composition adds one join on doc_id + one window over cluster_id —
      * cluster-sized partitions, no new driver path, no broadcast of
      * anything corpus-scaling. */
    "d89_keep_best" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val clusters = queries("d62_dedup_clusters")(s, d)
      val quality = TextQueries.queries("t34_quality")(s, d)
        .select(col("doc_id"), col("quality_score"))
      val w = Window.partitionBy("cluster_id")
        .orderBy(desc("quality_score"), col("doc_id"))
      clusters.join(quality, "doc_id")
        .withColumn("rn", row_number().over(w))
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          col("quality_score"), (col("rn") === 1).as("is_kept"))
        .orderBy("doc_id")
    }),

    /** Duplicated-span coverage — per document, how many of its token
      * positions sit inside an 8-gram that also occurs in ANOTHER
      * document (the per-doc "how much of this text is duplicated
      * elsewhere" volume metric of Lee et al. 2022's exact-substring
      * dedup, at fixed n-gram granularity; complements t102, which counts
      * distinct grams, not covered positions). Overlapping duplicated
      * grams are merged as intervals: with starts sorted ascending and
      * every interval 8 long, a start s adds min(8, s − prev_s) covered
      * tokens — one lag window, no interval self-join.
      *
      * Scale shape: one shuffle on gram (the t102 co-partition: the
      * window min/max over gram and the join ride the same exchange),
      * one shuffle on doc_id for the lag + final aggregate. A hot gram
      * costs its occurrence count in window state, never candidate²
      * rows; nothing is broadcast. */
    "d112_dup_span_coverage" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val n = 8
      val tok = documentsSpread(s, d)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
        .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"), col("t"))
      val grams = tok.filter(size(col("t")) >= n)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(1, size(t) - ${n - 1}), " +
            s"i -> struct(cast(i as bigint) AS s, array_join(slice(t, i, $n), ' ') AS gram))"))
          .as("g"))
        .select(col("doc_id"), col("g.s").as("s"), col("g.gram").as("gram"))
      val byGram = Window.partitionBy("gram")
      val dupStarts = grams.repartition(col("gram"))
        .withColumn("mn", min("doc_id").over(byGram))
        .withColumn("mx", max("doc_id").over(byGram))
        .filter(col("mn") =!= col("doc_id") || col("mx") =!= col("doc_id"))
        .select(col("doc_id"), col("s"))
      val byDoc = Window.partitionBy("doc_id").orderBy("s")
      val perDoc = dupStarts
        .withColumn("c", coalesce(
          least(lit(n.toLong), col("s") - lag("s", 1).over(byDoc)), lit(n.toLong)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_dup_grams"), sum("c").as("covered_tokens"))
      tok.select(col("doc_id"), col("n_tokens"),
          greatest(col("n_tokens") - (n - 1), lit(0L)).as("n_grams"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("n_grams"),
          coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
          coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
          (coalesce(col("covered_tokens"), lit(0L)).cast("double") /
            col("n_tokens").cast("double")).as("dup_span_frac"))
        .orderBy("doc_id")
    }),

    /** Train→eval split leakage — for every val/test document (t69's
      * deterministic hash-bucket split), how many of its distinct 8-grams
      * also occur in ANY train-split document. This is the within-corpus
      * leakage direction d88/d99 do NOT cover: they decontaminate the
      * corpus against an external eval set, while held-out splits carved
      * from the corpus itself leak through near-duplicates that hash into
      * different buckets — the contamination the split designer must
      * measure before trusting a validation loss.
      *
      * Scale shape: ONE shuffle on gram (the t102 co-partition — the
      * has-train window rides the explicit repartition); the train side
      * is corpus-sized so nothing is broadcast, and a gram shared by many
      * docs costs its occurrence rows in window state, never a pairwise
      * join. Output is val/test-sized. */
    "d118_split_leakage" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val n = 8
      val bucket = conv(substring(
        md5(col("doc_id").cast("string").cast("binary")), 1, 4), 16, 10).cast("long")
      val splitCol = when(bucket < 52429L, "train")
        .when(bucket < 58982L, "val").otherwise("test")
      val pairs = documentsSpread(s, d)
        .select(col("doc_id"), splitCol.as("split"),
          split(trim(col("text")), "\\s+").as("t"))
        .filter(size(col("t")) >= n)
        .select(col("doc_id"), col("split"), explode(expr(
          s"transform(sequence(1, size(t) - ${n - 1}), " +
            s"i -> array_join(slice(t, i, $n), ' '))")).as("gram"))
        .distinct()
      val byGram = Window.partitionBy("gram")
      pairs.repartition(col("gram"))
        .withColumn("has_train",
          max(when(col("split") === "train", 1L).otherwise(0L)).over(byGram))
        .filter(col("split") =!= "train")
        .groupBy("doc_id", "split")
        .agg(count(lit(1)).as("n_distinct_grams"),
          sum("has_train").as("n_leaked"))
        .withColumn("leak_frac",
          col("n_leaked").cast("double") / col("n_distinct_grams").cast("double"))
        .withColumn("contaminated", col("n_leaked") > 0L)
        .orderBy("doc_id")
    }),

    /** Per-source dedup report — the ops-facing rollup a curation run
      * publishes: for every source, how many docs sit in a near-dup
      * cluster (d62's connected components), how many a keep-first
      * policy would drop (cluster_id is the cluster's min doc_id, so
      * non-canonical = doc_id ≠ cluster_id), how many distinct clusters
      * the source touches, and the drop rate. The "which source is
      * polluting the corpus" signal that decides crawl exclusions.
      *
      * Scale shape: the gated d62 pipeline plus one left join on doc_id
      * and one catalog-sized aggregate on source — no new quadratic or
      * driver path; the report is |sources| rows. */
    /** SEMANTIC decontamination — the embedding-space complement of
      * d88/d99's n-gram direction (paraphrased eval leakage shares no
      * 13-gram but sits next to the eval item in embedding space; cf.
      * the contamination analyses in recent LLM eval audits): every
      * corpus vector reports its nearest eval-slice vector by cosine
      * (eval = vec_id % 29, d88's convention), flagged at the 0.4
      * threshold d41 uses on this synthetic data.
      *
      * Scale shape: the eval set is bounded by construction (d88's
      * broadcast argument) — the scan is |corpus| × |eval| inside one
      * codegen'd broadcast join, no shuffle at all until the per-vector
      * argmax, which is a key-local aggregate. A growing eval suite
      * flips to the banded-LSH candidate path (d82) unchanged. */
    "d129_semantic_decontamination" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      val isEval = col("vec_id") % 29 === 0
      val eval = embeddings(s, d).filter(isEval)
        .select(col("vec_id").as("eval_id"), col("embedding").as("ev"))
      embeddings(s, d).filter(!isEval)
        .select(col("vec_id"), col("embedding"))
        .join(broadcast(eval), lit(true))
        .select(col("vec_id"), col("eval_id"),
          call_function("cosine_sim", col("embedding"), col("ev")).as("c"))
        .groupBy("vec_id")
        .agg(max(struct(col("c").as("c"), (-col("eval_id")).as("ne"))).as("b"))
        .select(col("vec_id"), (-col("b.ne")).as("nearest_eval_id"),
          col("b.c").as("max_cosine"),
          (col("b.c") >= 0.4).as("contaminated"))
        .orderBy("vec_id")
    }),

    /** LSH design-curve measurement — the b×r banding THEORY gated
      * against the pipeline's MEASURED behavior: over a deterministic
      * 1-in-7 document sample, every pair's exact shingle Jaccard lands
      * in a decile, the measured fraction of pairs sharing ≥1 MinHash
      * band sits next to the closed-form capture probability
      * 1−(1−s^r)^b at the decile midpoint. This is the table an engineer
      * reads to pick b and r before a 100 TB dedup run — and here the
      * measurement machinery itself faces the hash gate.
      *
      * Scale shape: the exact-Jaccard side is quadratic IN THE SAMPLE
      * only (the s123 protocol — curve estimation never needs the full
      * corpus; the sample side broadcasts), and the band test evaluates
      * pairwise on the sampled signatures, not via the full band join.
      * The sample is BOUNDED, not fractional: `doc_id % 7 = 0 AND
      * doc_id < 2100` caps it at ≤300 documents (≤45k pairs) no matter
      * how large the corpus grows — a fixed-fraction sample would make
      * the quadratic side scale with corpus², which is exactly the
      * failure mode this curve exists to prevent. */
    "d128_lsh_design_curve" -> ((s, d) => {
      val r = BandRows
      val bands = NumPerms / r
      val inSample = col("doc_id") % 7 === 0 && col("doc_id") < DesignSampleCap
      // jaccard over the 60-bit shingle hashes (identical md5-derived
      // values on both engines): long-array intersections run ~4x faster
      // than string-array ones at identical results
      val hashed = shingleArrays(s, d).filter(inSample)
        .select(col("doc_id"), array_distinct(expr(
          "transform(shingles, x -> " +
            "CAST(conv(substring(md5(CAST(x AS BINARY)), 1, 15), 16, 10) AS BIGINT))"))
          .as("hs"))
      val side = hashed
        .join(minhashSignatures(s, d).filter(inSample), "doc_id")
      val a = side.toDF("d1", "sh1", "sig1")
      val b = side.toDF("d2", "sh2", "sig2")
      a.join(broadcast(b), col("d1") < col("d2"))
        .select(
          size(array_intersect(col("sh1"), col("sh2"))).cast("long").as("inter"),
          size(col("sh1")).cast("long").as("s1"),
          size(col("sh2")).cast("long").as("s2"),
          expr(s"exists(sequence(0, ${bands - 1}), bi -> " +
            s"slice(sig1, bi * $r + 1, $r) = slice(sig2, bi * $r + 1, $r))").as("cand"))
        .withColumn("jacc",
          col("inter").cast("double") / (col("s1") + col("s2") - col("inter")).cast("double"))
        .withColumn("decile", least(floor(col("jacc") * 10).cast("long"), lit(9L)))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("cand"), 1L).otherwise(0L)).as("n_candidates"))
        .withColumn("candidate_frac",
          round(col("n_candidates").cast("double") / col("n_pairs").cast("double"), 6))
        .withColumn("theory_p", round(lit(1.0) -
          pow(lit(1.0) - pow((col("decile").cast("double") + 0.5) / 10.0, r.toDouble),
            bands.toDouble), 6))
        .orderBy("decile")
    }),

    "d122_dedup_report" -> ((s, d) => {
      val clusters = queries("d62_dedup_clusters")(s, d)
        .select(col("doc_id"), col("cluster_id"))
      documents(s, d).select(col("doc_id"), col("source"))
        .join(clusters, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("cluster_id").isNotNull, 1L).otherwise(0L)).as("n_near_dup_docs"),
          sum(when(col("cluster_id").isNotNull && col("cluster_id") =!= col("doc_id"), 1L)
            .otherwise(0L)).as("n_dropped_keep_first"),
          countDistinct("cluster_id").as("n_clusters"))
        .withColumn("drop_rate",
          col("n_dropped_keep_first").cast("double") / col("n_docs").cast("double"))
        .orderBy("source")
    }),

    /** Unaligned exact-substring dedup (the ExactSubstr shape of Lee et
      * al., "Deduplicating Training Data Makes Language Models Better",
      * 2022 — reference analogue: none; d86 only catches duplicates
      * aligned to its fixed 30-token chunk grid): emit every MAXIMAL
      * token span of ≥ 50 tokens shared verbatim between two documents,
      * at ANY alignment.
      *
      * Suffix arrays don't distribute, so this uses the winnowing
      * fingerprint scheme (Schleimer/Wilkerson/Aiken, SIGMOD'03) for
      * candidate discovery: hash every 8-token gram, slide a 43-gram
      * window over each doc's gram stream, and select each window's
      * min-hash gram (rightmost on ties, via a position-packed compare
      * key). Guarantee: a shared span of ≥ 50 tokens contains ≥ 43 fully
      * interior consecutive gram positions = at least one COMPLETE
      * window in both docs with identical hash content, whose argmin is
      * content-relative — so both docs select the same gram and the pair
      * surfaces in the fingerprint equi-join at the correct alignment
      * offset. Verification then joins the two docs' full gram streams
      * at that offset ON THE GRAM STRING (collision-free) and extracts
      * maximal runs of consecutive matching gram starts (islands trick);
      * a run of g ≥ 43 grams is a maximal shared span of g+7 ≥ 50
      * tokens. Output is exactly the ground truth — the oracle computes
      * it independently via the direct all-grams join, so the hash gate
      * also proves the winnowing guarantee end-to-end on this corpus.
      *
      * Scale shape: fingerprinting is one scan + one doc-local window
      * (the gram explode d112/d118 already pay; selection keeps ~1/w of
      * gram rows). Candidates shuffle on the fingerprint gram; hot
      * boilerplate fingerprints fan out as doc-frequency², which a
      * production run caps with a df ceiling (drop grams seen in > F
      * docs — they are stop-boilerplate, separately reported by d86) —
      * at this corpus no cap is needed and none is applied, keeping the
      * oracle exact. Extension joins candidate pairs to gram streams by
      * (doc, position) — per-pair cost linear in doc length, total
      * bounded by true near-duplicate mass, never corpus². */
    "d143_containment" -> ((s, d) => {
      /* Asymmetric shingle containment C(A⊂B) = |sh(A)∩sh(B)| / |sh(A)|,
       * threshold 0.8 — the doc-in-doc detector the SYMMETRIC Jaccard
       * gate (d38) structurally misses: a 50-token quote embedded in a
       * 5000-token page has jaccard ≈ 0.01 but containment 1.0. Emitted
       * directionally (contained → container).
       *
       * Scale shape: d38's inverted-index count join with the same
       * hot-shingle salt guard, but WITHOUT the size-ratio pruning —
       * size divergence is precisely the signal here. One shuffle on
       * the shingle, one pair aggregation; integer-ratio doubles are
       * bit-identical on both engines. */
      val hotDf = s.conf.get(HotShingleDfConf, "1000").toLong
      val nSalt = s.conf.get(JaccardSaltsConf, "16").toInt
      val sh = shingleArrays(s, d)
        .select(col("doc_id"), size(col("shingles")).cast("long").as("sz"),
          explode(col("shingles")).as("shingle"))
      val a = sh.toDF("id1", "sz1", "shingle")
      val b = sh.toDF("id2", "sz2", "shingle")
      val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") > hotDf).select("shingle")
      val cold = a.join(broadcast(hot), Seq("shingle"), "left_anti")
        .join(b.join(broadcast(hot), Seq("shingle"), "left_anti"), "shingle")
      val aHot = a.join(broadcast(hot), Seq("shingle"), "left_semi")
        .withColumn("__salt", pmod(xxhash64(col("id1")), lit(nSalt.toLong)))
      val bHot = b.join(broadcast(hot), Seq("shingle"), "left_semi")
        .withColumn("__salt", explode(array((0 until nSalt).map(i => lit(i.toLong)): _*)))
      cold.unionByName(aHot.join(bHot, Seq("shingle", "__salt")).drop("__salt"))
        .filter(col("id1") =!= col("id2"))
        .groupBy("id1", "id2", "sz1").agg(count(lit(1)).as("n_common"))
        .select(col("id1").as("contained_id"), col("id2").as("container_id"),
          (col("n_common").cast("double") / col("sz1")).as("containment"))
        .filter(col("containment") >= 0.8)
        .orderBy("contained_id", "container_id")
    }),

    "d138_substring_dedup" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val k = 8; val w = 43; val minGrams = w // span >= w + k - 1 = 50 tokens
      val grams = documentsSpread(s, d)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
        .filter(size(col("t")) >= k)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(1, size(t) - ${k - 1}), " +
            s"i -> struct(cast(i as bigint) AS s, array_join(slice(t, i, $k), ' ') AS gram))"))
          .as("g"))
        .select(col("doc_id"), col("g.s").as("s"), col("g.gram").as("gram"))
      // 36-bit gram hash packed with (2^24-1 - s): min == (min hash,
      // rightmost position) — the shift-invariant winnowing compare key
      val ck = conv(substring(md5(col("gram").cast("binary")), 1, 9), 16, 10)
        .cast("long") * lit(1L << 24) + (lit((1L << 24) - 1) - col("s"))
      val byDocFwd = Window.partitionBy("doc_id").orderBy("s")
        .rowsBetween(Window.currentRow, w - 1)
      val fps = grams
        .withColumn("wmin", min(ck).over(byDocFwd))
        .select(col("doc_id"),
          (lit((1L << 24) - 1) - pmod(col("wmin"), lit(1L << 24))).as("s"))
        .distinct()
        .join(grams, Seq("doc_id", "s"))
      val cand = fps.select(col("doc_id").as("doc1"), col("s").as("s1"), col("gram"))
        .join(fps.select(col("doc_id").as("doc2"), col("s").as("s2"), col("gram")), "gram")
        .filter(col("doc1") < col("doc2"))
        .select(col("doc1"), col("doc2"), (col("s1") - col("s2")).as("off"))
        .distinct()
      val g1 = grams.toDF("doc1", "s1", "gram1")
      val g2 = grams.toDF("doc2", "s2", "gram2")
      // the s2/gram equalities reference both sides, so Catalyst folds the
      // post-filter into the join condition (PushPredicateThroughJoin) —
      // the physical join keys are (doc2, s2, gram2), never doc2 alone
      val m = cand.join(g1, Seq("doc1"))
        .join(g2, Seq("doc2"))
        .filter(col("s2") === col("s1") - col("off") && col("gram1") === col("gram2"))
        .select(col("doc1"), col("doc2"), col("off"), col("s1"))
      val byRun = Window.partitionBy("doc1", "doc2", "off").orderBy("s1")
      m.withColumn("island", col("s1") - row_number().over(byRun))
        .groupBy("doc1", "doc2", "off", "island")
        .agg(min("s1").as("start1"), count(lit(1)).as("n_grams"))
        .filter(col("n_grams") >= minGrams)
        .select(col("doc1"), col("doc2"), col("start1"),
          (col("start1") - col("off")).as("start2"),
          (col("n_grams") + (k - 1)).as("span_tokens"))
        .orderBy("doc1", "doc2", "start1", "start2")
    }),

    "d145_edit_distance" -> ((s, d) => {
      /* Fuzzy-key near-dup pairs at edit distance ≤ 2 over a 6-token
       * document prefix key — the record-linkage regime (titles, names,
       * URLs with in-token typos) that every gram-overlap gate above
       * misses: two keys differing by two single CHARACTER edits share
       * almost no word shingles, yet are the same record.
       *
       * Scale shape: PassJoin blocking (Li, Deng & Feng, VLDB 2011 —
       * public algorithm). Each doc INDEXES the k+1 = 3 even segments of
       * its key, keyed by (key length L, segment ordinal i, segment
       * string); each doc PROBES every substring of its own key that
       * could equal segment i of a partner of length L, for |L − len| ≤ k
       * and start-position shift ≤ k — a CONSTANT ≤ (2k+1)·(k+1)·(2k+1)
       * probe rows per record, independent of corpus size. Pigeonhole:
       * ed ≤ k means some segment of the partner survives edit-free, and
       * the ≤ k edits shift its image by at most k positions — so the
       * (L, i, substring) equi-join is a LOSSLESS candidate generator.
       * No O(n²) term anywhere: one shuffle on small fixed-width segment
       * keys, then exact levenshtein verification on candidates only.
       * The DuckDB oracle computes ground truth QUADRATICALLY (all-pairs
       * levenshtein), so the hash gate also proves losslessness holds
       * end-to-end on this corpus. */
      editDistancePairs(s, d).orderBy("doc1", "doc2")
    }),

    "d152_fuzzy_keep_first" -> ((s, d) => {
      /* The PRODUCTION DECISION step on top of d145 (the d89-over-d62
       * pattern at the edit-distance grain): connected components of the
       * ed ≤ 2 pair graph via the shared [[labelComponents]] hybrid
       * (driver union-find / distributed label propagation), keep the
       * component-min doc_id, and every isolated document keeps itself —
       * so the output covers the WHOLE corpus, which is what a
       * deduplicated-write actually filters on. Transitivity matters:
       * A~B~C chains collapse to one keeper even when ed(A,C) > 2.
       * Oracle: DuckDB recursive-CTE closure over the same quadratic
       * ground-truth pairs. */
      val labels = labelComponents(s, editDistancePairs(s, d))
      documents(s, d).select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("keep_id"))
        .withColumn("is_kept", col("keep_id") === col("doc_id"))
        .orderBy("doc_id")
    }),

    /** LSH banding auto-tuner — the DECISION step d128's design curve
      * measures: for every (b, r) factorization of the 48-permutation
      * signature, the S-curve threshold (1/b)^(1/r) and the capture
      * probabilities 1−(1−s^r)^b at the design threshold τ=0.4 and at
      * the margins τ±0.1; the recommended banding is the factorization
      * whose threshold lands closest to τ (ties to more bands = higher
      * recall). Pure closed-form arithmetic over the divisor lattice —
      * a 10-row computation whose value is being VERSIONED NEXT TO THE
      * DATA it governs (rerunnable as τ or the permutation budget
      * changes), not its cost.
      *
      * pow() agrees across engines far inside the comparator's 1e-9
      * relative tolerance, and threshold gaps between factorizations
      * are orders of magnitude wider than any ulp drift, so the
      * chosen-row flag cannot flip. */
    "d181_lsh_tuner" -> ((s, d) => {
      val tau = 0.4
      val pairs = (1 to 48).filter(48 % _ == 0).map(b => (b.toLong, (48 / b).toLong))
      import s.implicits._
      val grid = pairs.toDF("b", "r")
      def capture(sim: Double) =
        lit(1.0) - pow(lit(1.0) - pow(lit(sim), col("r").cast("double")), col("b").cast("double"))
      val curve = grid
        .withColumn("threshold", pow(lit(1.0) / col("b"), lit(1.0) / col("r")))
        .withColumn("dist", abs(col("threshold") - tau))
      val best = curve
        .orderBy(col("dist"), col("b").desc).limit(1)
        .select(col("b").as("best_b"))
      curve.crossJoin(broadcast(best))
        .select(col("b"), col("r"),
          round(col("threshold"), 6).as("threshold"),
          round(capture(tau - 0.1), 6).as("p_below"),
          round(capture(tau), 6).as("p_at_tau"),
          round(capture(tau + 0.1), 6).as("p_above"),
          (col("b") === col("best_b")).as("recommended"))
        .orderBy("b")
    }),

    /** Normalization-robust exact dedup (the preprocessing step byte
      * hashing misses: case folds, whitespace reflows, and punctuation
      * churn make byte-distinct copies of IDENTICAL content — the most
      * common "near"-dup in web text is not near at all after
      * normalization): lowercase → strip [^a-z0-9 ] → collapse runs of
      * whitespace → trim, THEN md5 keep-first. Emits per normalized
      * cluster the keeper, copy count, and the count of members d37's
      * raw-byte hash would NOT have grouped (the incremental catch —
      * byte-distinct members beyond the raw group containing the
      * keeper). Same single-shuffle shape as d37; normalization is
      * scan-local codegen'd string work. */
    "d188_normalized_dedup" -> ((s, d) => {
      val norm = trim(regexp_replace(regexp_replace(
        lower(col("text")), "[^a-z0-9 \\t\\n]", ""), "\\s+", " "))
      documentsSpread(s, d)
        .select(col("doc_id"),
          md5(norm.cast("binary")).as("norm_md5"),
          md5(col("text").cast("binary")).as("raw_md5"))
        .groupBy("norm_md5")
        .agg(min("doc_id").as("keep_id"),
          count(lit(1)).as("n_copies"),
          (count(lit(1)) - countDistinct("raw_md5")).as("n_raw_dups"),
          (countDistinct("raw_md5") - 1L).as("n_extra_caught"))
        .orderBy("keep_id")
    })
  )

  /** DuckDB replica of the 60-bit simhash pipeline: same md5-prefix token
    * hash, same ±1 bit sums, all-pairs hamming filter (equivalent output —
    * the Spark side's pigeonhole blocking is exact for hamming ≤ 3). */
  /** DuckDB SQL fragments for the 60-bit simhash fold over a CTE exposing
    * (doc_id, hv) — shared by the d40 and m136 oracles. */
  private[graft] val simhashBitColsSql: String = (0 until SimhashBits)
    .map(i => s"sum(CASE WHEN ((hv >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS b$i")
    .mkString(",\n    ")
  private[graft] val simhashSigExprSql: String = (0 until SimhashBits)
    .map(i => s"(CASE WHEN b$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END)")
    .mkString(" + ")

  /** DuckDB replica of the md5-derived 60-bit feature hash (first 15 hex
    * digits of md5, big-endian) applied to column `$col`. */
  private[graft] def md5Hash60Sql(column: String): String =
    s"""CAST(list_sum(list_transform(range(0, 15), i ->
       |      CAST(strpos('0123456789abcdef', substr(md5($column), CAST(i + 1 AS INTEGER), 1)) - 1 AS BIGINT)
       |        << CAST(4 * (14 - i) AS INTEGER))) AS BIGINT)""".stripMargin

  private def simhashOracle: String = {
    val bitCols = simhashBitColsSql
    val sigExpr = simhashSigExprSql
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
       |  FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    ${md5Hash60Sql("token")} AS hv
       |  FROM tok),
       |bits AS (
       |  SELECT doc_id,
       |    $bitCols
       |  FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sigExpr AS sig FROM bits)
       |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3
       |ORDER BY doc1, doc2""".stripMargin
  }

  /** Shared body of d88/d99: 13-gram benchmark decontamination. The two
    * tiers differ ONLY in how training grams meet the eval gram set —
    * d88 joins the (bounded, benchmark-sized) eval gram table directly;
    * d99 prefilters through a Bloom sketch of it first, the shape that
    * stays cheap when the eval suite grows — and both end in the same
    * exact join, so their outputs are identical. */
  private def decontaminate(s: SparkSession, d: String, bloomTier: Boolean): DataFrame = {
    val G = 13
    val tok = documentsSpread(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
    def grams(df: DataFrame) = df
      .filter(size(col("t")) >= G)
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(0, size(t)-$G), i -> " +
          "array_join(slice(t, i+1, " + G + "), ' '))")).as("g"))
      .select(col("doc_id"), md5(col("g").cast("binary")).as("gk"))
    val isEval = col("doc_id") % 29 === 0
    val evalGrams = grams(tok.filter(isEval)).select("gk").distinct()
    val trainGrams = grams(tok.filter(!isEval)).distinct()
    val candidates =
      if (!bloomTier) trainGrams
      else {
        // one binary sketch (~1 MiB at 10^6 grams, fpp ~1%), built by a
        // distributed aggregation and collected to the driver — the same
        // build-then-embed shape Catalyst's own runtime-filter injection
        // uses (might_contain requires a constant/scalar-subquery filter
        // side). The false-positive survivors are re-checked by the
        // exact join below, so fpp only costs wasted verification.
        graft.functions.BloomFunctions.register(s)
        val sketch = evalGrams.agg(
          expr("bloom_filter_agg(xxhash64(gk), 1000000L, 8388608L)").as("bf"))
          .head().getAs[Array[Byte]](0)
        trainGrams
          .filter(call_function("might_contain",
            lit(sketch), xxhash64(col("gk"))))
          .select("doc_id", "gk")
      }
    val hits = candidates
      .join(broadcast(evalGrams), "gk")
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    tok.filter(!isEval)
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).cast("long").as("n_shared_13grams"),
        (coalesce(col("n"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Exact-vs-LSH gate for d41: at 10k vectors the block-pair equi-join
    * ([[exactAllPairs]]) evaluates 5·10⁷ codegen'd cosines — one executor
    * wave of work; past it the quadratic term dominates any constant and
    * the banded prefilter takes over (precision 1.0 always; recall is the
    * banding bound — ≈0.998 at the 0.9-cosine near-dup design point,
    * ≈0.75 at this corpus's low 0.4 threshold, measured 46/59 at sf0.01 —
    * spec-pinned in DedupSimilaritySpec and hash-gated via d82's
    * banded-pipeline replica oracle). */
  private val ExactPairLimit = 10000L
  private val DedupPlanes = 32
  private val DedupBandBits = 4
  private val DedupBands = DedupPlanes / DedupBandBits // 8 bands of 4 sign bits

  /** Per-(application, directory) embedding row count, computed once —
    * d41's tier gate. Re-running the gating count() on every invocation
    * adds a full scan job exactly at the scale where the LSH tier matters
    * (ADVICE r2); the count is metadata-cheap (parquet footers, no column
    * IO) but the cache makes repeat invocations (bench best-of-3, verify)
    * free. Keyed like [[shCache]] so a new application never inherits a
    * stale count (ADVICE r3); in-application rewrites of a directory must
    * call [[invalidateCaches]]. */
  private val embCountCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[graft] def embeddingCount(s: SparkSession, d: String): Long =
    embCountCache.computeIfAbsent(s.sparkContext.applicationId + "|" + d,
      _ => embeddings(s, d).count())

  /** Cache-lifecycle contract (ADVICE r3): the shared shingle frame and
    * the embedding tier-gate count are cached per (application,
    * directory) for the life of the application — correct for the
    * bench/verify lifecycle where a data directory is immutable once
    * read. A long-lived session that REWRITES a directory in place
    * (append, compaction, regenerated testdata) must call this hook for
    * that directory before re-querying it: it unpersists the pinned
    * shingle frame and drops both cache entries, so the next query
    * re-reads and re-gates from the current files. Covered by
    * DedupCacheSpec (rewrite → invalidate → fresh results). */
  def invalidateCaches(s: SparkSession, d: String): Unit = {
    val key = s.sparkContext.applicationId + "|" + d
    Option(shCache.remove(key)).foreach(_.sh.unpersist())
    embCountCache.remove(key)
  }

  /** Exact all-pairs cosine via a BLOCK-PAIR EQUI-JOIN, not a nested-loop
    * cross join. Each vector lands in block vec_id mod B; the B·(B+1)/2
    * unordered block pairs enumerate as a broadcast 136-row table, and the
    * two equi-joins on block id compile to hash/sort-merge joins whose
    * pair condition (including the cosine threshold Catalyst pushes down)
    * runs INSIDE whole-stage codegen. The r2 formulation was a
    * BroadcastNestedLoopJoin, whose condition evaluates interpreted —
    * measured ~3.4 s of boxed eval at 2·10⁶ pairs; this shape does the
    * same pair evaluations at codegen speed, and is also the shape that
    * scales out: every task holds two bounded blocks, never a whole side.
    *
    * Pair uniqueness: a same-block pair {x,y} survives id1 < id2 once; a
    * cross-block pair appears exactly once under the (min-block,
    * max-block) row of the pair table, so it is emitted unconditionally
    * and canonicalized with least/greatest (cosine is symmetric). */
  private def exactAllPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // adaptive block count (~1000 vectors per block, clamped) — the s94
    // rule: task size stays bounded wherever the exact-tier gate is set,
    // and the block-pair table stays ≤ ~33k broadcast rows
    val B = math.min(256, math.max(16, ((embeddingCount(s, d) + 999L) / 1000L).toInt))
    val bp = broadcast(
      (0 until B).flatMap(i => (i until B).map(j => (i, j))).toDF("b1", "b2"))
    val e1 = embeddings(s, d).select(pmod(col("vec_id"), lit(B.toLong)).cast("int").as("b1"),
      col("vec_id").as("id1"), col("embedding").as("v1"))
    val e2 = embeddings(s, d).select(pmod(col("vec_id"), lit(B.toLong)).cast("int").as("b2"),
      col("vec_id").as("id2"), col("embedding").as("v2"))
    bp.join(e1, "b1").join(e2, "b2")
      .filter(col("b1") =!= col("b2") || col("id1") < col("id2"))
      .select(least(col("id1"), col("id2")).as("id1"),
        greatest(col("id1"), col("id2")).as("id2"),
        call_function("cosine_sim", col("v1"), col("v2")).as("cosine"))
  }

  /** Deterministic GAUSSIAN hyperplanes for the dedup LSH tier (seed-offset
    * from the s43 family so the two indexes are independent). Components
    * are Box-Muller transforms over two disjoint splitmix64 uniform draws:
    * sign-LSH's collision probability 1-θ/π — and the banding recall bound
    * d41's scale tier documents — holds only for spherically symmetric
    * plane directions, which gaussian components give and uniform [-1,1)
    * components do not (ADVICE r2). */
  private lazy val dedupPlanes: Array[Array[Double]] =
    Array.tabulate(DedupPlanes, 64) { (p, i) =>
      // u1 in (0,1] so ln(u1) is finite; u2 in [0,1)
      val u1 = ((splitmix64(4096L + p * 64L + i) >>> 11) + 1).toDouble / (1L << 53).toDouble
      val u2 = (splitmix64(1048576L + p * 64L + i) >>> 11).toDouble / (1L << 53).toDouble
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
    }

  /** LSH-prefiltered near-dup candidate pairs with exact cosine attached:
    * sign-bit signatures over 32 hyperplanes, candidates share any of 8
    * 4-bit bands (equi-join — no nested loop), then the codegen'd
    * cosine_sim verifies each candidate exactly. The plane dots use the
    * codegen'd dot_product expression over a once-cast array<double> view
    * of the embedding — the aggregate(zip_with(...)) higher-order
    * formulation evaluates interpreted with boxed lambdas per element
    * (32 planes × 64 dims per row), the measured cost of the r2 tier. */
  private def embeddingPairsLsh(s: SparkSession, d: String): DataFrame = {
    // band join + pair dedup on bare id pairs; vectors re-attached only
    // after dedup (the s96 shuffle-volume lesson — identical output,
    // ~30× less shuffled bytes than carrying both arrays through)
    val banded = bandedEmbeddings(s, d).select("vec_id", "band", "band_val")
    val pairs = banded.toDF("id1", "band", "band_val")
      .join(banded.toDF("id2", "band", "band_val"), Seq("band", "band_val"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .dropDuplicates("id1", "id2")
    val ev = Tables.embeddings(s, d)
    pairs
      .join(ev.select(col("vec_id").as("id1"), col("embedding").as("v1")), "id1")
      .join(ev.select(col("vec_id").as("id2"), col("embedding").as("v2")), "id2")
      .select(col("id1"), col("id2"),
        call_function("cosine_sim", col("v1"), col("v2")).as("cosine"))
  }

  /** Banded sign-LSH view of the embeddings table — one row per
    * (vec_id, band) with that band's 4-bit signature. The shared
    * candidate-generation frame for the d41/d82 near-dup tier AND the
    * s94/s96 kNN-graph scale tier (two vectors are candidate neighbors iff
    * they collide in any band). Signatures are computed in the scan stage
    * (codegen'd dot_product against constant-folded plane literals), so
    * candidate generation costs one equi-join on (band, band_val) — no
    * O(n²) term anywhere. */
  private[graft] def bandedEmbeddings(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val bandCols = (0 until DedupBands).map { b =>
      (0 until DedupBandBits).map { r =>
        val p = b * DedupBandBits + r
        // CreateArray over literals is foldable → constant-folded to one
        // Literal(ArrayData), not rebuilt per row
        val dot = call_function("dot_product", col("ve"),
          array(dedupPlanes(p).toIndexedSeq.map(lit): _*))
        when(dot >= 0.0, lit(1 << r)).otherwise(lit(0))
      }.reduce(_.bitwiseOR(_))
    }
    // conditional vec_id spread (r17, VERDICT r16 #7 — the embedding
    // dedups missed the §2.5 spread their doc-based siblings got): the
    // 32 per-row plane dots otherwise run in the one-row-group scan's
    // single task; per-row deterministic, partitioning-independent
    graft.Tables.conditionalSpread(s, embeddings(s, d), "vec_id")
      .select(col("vec_id"), col("embedding"),
        col("embedding").cast("array<double>").as("ve"))
      .select(col("vec_id"), col("embedding"), posexplode(array(bandCols: _*)))
      .toDF("vec_id", "embedding", "band", "band_val")
  }

  /** DuckDB replica of the full MinHash+LSH pipeline. The JVM's wrapping
    * 64-bit arithmetic is emulated with HUGEINT: unsigned conversion,
    * mod-2^64 addition, limb-decomposed multiplication
    * ((a·b) mod 2^64 = (alo·b mod 2^64 + (ahi·(b mod 2^32) mod 2^32)·2^32)
    * mod 2^64), logical shifts as integer division in the unsigned
    * domain, xors on the re-signed BIGINT (bit-identical to JVM). The
    * per-permutation seeds are inlined constants — identical to
    * [[graft.functions.MinHashSignature.seeds]]. */
  private def minhashLshOracle: String =
    minhashLshOracleFor("a.doc_id < b.doc_id", "doc1", "doc2", "c.d1, c.d2")

  /** d93: same replica, but candidates come only from batch-side bands
    * (doc_id % 10 = 0) probing corpus-side bands, pairs are
    * (corpus, new), ordered like the Spark output (new first). */
  private def incrementalMinhashOracle: String =
    minhashLshOracleFor("a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0",
      "doc_corpus", "doc_new", "c.d2, c.d1")

  /** Shared DuckDB CTE chain replicating the MinHash pipeline through
    * the per-band key lists (toks → distinct shingles → 60-bit md5 hash
    * → 48 splitmix64 permutations with HUGEINT mod-2⁶⁴ wraparound →
    * per-perm min → bandkeys). No leading WITH so callers append their
    * own tails (the LSH pair join, or d128's design-curve measurement). */
  private def minhashPrefixCtes: String = {
    val two64 = "CAST('18446744073709551616' AS HUGEINT)"
    val two63 = "CAST('9223372036854775808' AS HUGEINT)"
    def u(c: Long) = s"CAST('${java.lang.Long.toUnsignedString(c)}' AS HUGEINT)"
    val c0 = u(0x9e3779b97f4a7c15L)
    val c1 = u(0xbf58476d1ce4e5b9L)
    val c2 = u(0x94d4a2965f57d6e3L)
    val seedList = graft.functions.MinHashSignature.seeds.take(NumPerms)
      .map(v => s"CAST($v AS BIGINT)").mkString("[", ", ", "]")
    def toU(x: String) =
      s"(CASE WHEN $x < 0 THEN CAST($x AS HUGEINT) + $two64 ELSE CAST($x AS HUGEINT) END)"
    def toS(ux: String) =
      s"CAST(CASE WHEN $ux >= $two63 THEN $ux - $two64 ELSE $ux END AS BIGINT)"
    def mulWrapU(ux: String, c: String) =
      s"((($ux % 4294967296) * $c % $two64 + " +
        s"(($ux // 4294967296) * ($c % 4294967296) % 4294967296) * 4294967296) % $two64)"
    s"""toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    CASE WHEN len(t) >= 3 THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |         ELSE array_to_string(t, ' ') END AS shingle
       |  FROM toks CROSS JOIN unnest(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)),
       |hv AS (
       |  SELECT doc_id,
       |    CAST(list_sum(list_transform(range(0, 15), i ->
       |      CAST(strpos('0123456789abcdef', substr(md5(shingle), CAST(i + 1 AS INTEGER), 1)) - 1 AS BIGINT)
       |        << CAST(4 * (14 - i) AS INTEGER))) AS BIGINT) AS h
       |  FROM sh),
       |perms AS (
       |  SELECT doc_id, xor(h, ($seedList)[CAST(g.i + 1 AS INTEGER)]) AS x,
       |    CAST(g.i AS INTEGER) AS perm
       |  FROM hv CROSS JOIN unnest(generate_series(0, ${NumPerms - 1})) AS g(i)),
       |m1 AS (SELECT doc_id, perm, (${toU("x")} + $c0) % $two64 AS z1u FROM perms),
       |m2 AS (SELECT doc_id, perm,
       |  ${toU(s"xor(${toS("z1u")}, CAST(z1u // 1073741824 AS BIGINT))")} AS x1u FROM m1),
       |m3 AS (SELECT doc_id, perm, ${mulWrapU("x1u", c1)} AS z2u FROM m2),
       |m4 AS (SELECT doc_id, perm,
       |  ${toU(s"xor(${toS("z2u")}, CAST(z2u // 134217728 AS BIGINT))")} AS x2u FROM m3),
       |m5 AS (SELECT doc_id, perm, ${mulWrapU("x2u", c2)} AS z3u FROM m4),
       |vals AS (SELECT doc_id, perm,
       |  xor(${toS("z3u")}, CAST(z3u // 2147483648 AS BIGINT)) AS v FROM m5),
       |sig AS (SELECT doc_id, perm, min(v) AS m FROM vals GROUP BY 1, 2),
       |bandkeys AS (
       |  SELECT doc_id, CAST(perm // $BandRows AS INTEGER) AS band,
       |    list(m ORDER BY perm) AS bk
       |  FROM sig GROUP BY 1, 2)""".stripMargin
  }

  /** Shared DuckDB replica of the MinHash+LSH pipeline, parameterized by
    * the pair predicate over join sides `a`/`b` (`a` = first output
    * column's side), the output column names, and the row order. */
  private def minhashLshOracleFor(pairCond: String,
      aAs: String, bAs: String, orderBy: String): String =
    s"""WITH $minhashPrefixCtes,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bandkeys a JOIN bandkeys b
       |    ON a.band = b.band AND a.bk = b.bk
       |  WHERE $pairCond),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle
       |  WHERE $pairCond
       |  GROUP BY 1, 2)
       |SELECT c.d1 AS $aAs, c.d2 AS $bAs,
       |  CAST(n_common AS DOUBLE) / (s1.sz + s2.sz - n_common) AS jaccard
       |FROM cand c
       |JOIN inter i ON c.d1 = i.d1 AND c.d2 = i.d2
       |JOIN sz s1 ON c.d1 = s1.doc_id
       |JOIN sz s2 ON c.d2 = s2.doc_id
       |WHERE CAST(n_common AS DOUBLE) / (s1.sz + s2.sz - n_common) >= 0.5
       |ORDER BY $orderBy""".stripMargin

  /** d219's per-field agreement/disagreement log-weights ln(m/u) and
    * ln((1−m)/(1−u)), evaluated once here; both engines consume the same
    * shortest-roundtrip literal so no ln() runs at query time. m/u values
    * are the textbook ballpark (name is discriminating, segment is weak,
    * nation is in between). */
  private object FsWeights {
    val nameA: Double = math.log(0.95 / 0.001)
    val nameD: Double = math.log(0.05 / 0.999)
    val segA: Double = math.log(0.90 / 0.20)
    val segD: Double = math.log(0.10 / 0.80)
    val natA: Double = math.log(0.90 / 0.04)
    val natD: Double = math.log(0.10 / 0.96)
  }

  val oracleSql: Map[String, String] = Map(
    "d219_record_linkage" ->
      s"""WITH a AS (
         |  SELECT c_custkey AS a_id, c_name AS name_a, c_mktsegment AS seg_a,
         |    CAST(c_nationkey AS BIGINT) AS nat_a, substr(c_name, 10, 8) AS blk
         |  FROM customer),
         |b AS (
         |  SELECT c_custkey + 1000000 AS b_id,
         |    CASE WHEN c_custkey % 3 = 0 THEN substr(c_name, 1, length(c_name) - 1)
         |         ELSE c_name END AS name_b,
         |    CASE WHEN c_custkey % 5 = 0 THEN 'FURNITURE' ELSE c_mktsegment END AS seg_b,
         |    CASE WHEN c_custkey % 7 = 0 THEN (CAST(c_nationkey AS BIGINT) + 1) % 25
         |         ELSE CAST(c_nationkey AS BIGINT) END AS nat_b,
         |    substr(c_name, 10, 8) AS blk
         |  FROM customer),
         |p AS (
         |  SELECT a_id, b_id,
         |    name_a = name_b AS agree_name,
         |    seg_a = seg_b AS agree_segment,
         |    nat_a = nat_b AS agree_nation
         |  FROM a JOIN b USING (blk)),
         |sc AS (
         |  SELECT a_id, b_id, agree_name, agree_segment, agree_nation,
         |    ((CASE WHEN agree_name THEN CAST(${FsWeights.nameA} AS DOUBLE) ELSE CAST(${FsWeights.nameD} AS DOUBLE) END
         |      + CASE WHEN agree_segment THEN CAST(${FsWeights.segA} AS DOUBLE) ELSE CAST(${FsWeights.segD} AS DOUBLE) END)
         |      + CASE WHEN agree_nation THEN CAST(${FsWeights.natA} AS DOUBLE) ELSE CAST(${FsWeights.natD} AS DOUBLE) END)
         |      AS fs_score
         |  FROM p)
         |SELECT a_id, b_id, agree_name, agree_segment, agree_nation, fs_score,
         |  CASE WHEN fs_score > 8.0 THEN 'match'
         |       WHEN fs_score > 0.0 THEN 'possible'
         |       ELSE 'non-match' END AS decision
         |FROM sc WHERE fs_score > 0.0
         |ORDER BY a_id, b_id""".stripMargin,
    // the shared MinHash CTE chain + the sampled pairwise measurement:
    // same jaccard deciles, same any-band-equal test from the bandkeys
    // lists, same closed-form 1-(1-s^r)^b at the midpoint
    "d128_lsh_design_curve" -> {
      val r = BandRows
      val bands = NumPerms / r
      s"""WITH $minhashPrefixCtes,
         |hd AS (SELECT DISTINCT doc_id, h FROM hv),
         |szs AS (SELECT doc_id, count(*) AS sz FROM hd GROUP BY 1),
         |bm AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bandkeys a JOIN bandkeys b
         |    ON a.band = b.band AND a.bk = b.bk
         |  WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 = 0
         |    AND a.doc_id < 2100 AND b.doc_id < 2100
         |    AND a.doc_id < b.doc_id),
         |inters AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM hd a JOIN hd b ON a.h = b.h
         |  WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 = 0
         |    AND a.doc_id < 2100 AND b.doc_id < 2100
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |allp AS (
         |  SELECT sa.doc_id AS d1, sb.doc_id AS d2, sa.sz AS s1, sb.sz AS s2
         |  FROM szs sa JOIN szs sb ON sa.doc_id < sb.doc_id
         |  WHERE sa.doc_id % 7 = 0 AND sb.doc_id % 7 = 0
         |    AND sa.doc_id < 2100 AND sb.doc_id < 2100),
         |p AS (
         |  SELECT allp.d1, allp.d2,
         |    CAST(coalesce(i.inter, 0) AS DOUBLE)
         |      / (s1 + s2 - coalesce(i.inter, 0)) AS jacc,
         |    bm.d1 IS NOT NULL AS cand
         |  FROM allp LEFT JOIN inters i ON allp.d1 = i.d1 AND allp.d2 = i.d2
         |  LEFT JOIN bm ON allp.d1 = bm.d1 AND allp.d2 = bm.d2),
         |agg AS (
         |  SELECT least(CAST(floor(jacc * 10) AS BIGINT), 9) AS decile,
         |    count(*) AS n_pairs,
         |    sum(CASE WHEN cand THEN 1 ELSE 0 END) AS n_candidates
         |  FROM p GROUP BY 1)
         |SELECT decile, CAST(n_pairs AS BIGINT) AS n_pairs,
         |  CAST(n_candidates AS BIGINT) AS n_candidates,
         |  round(CAST(n_candidates AS DOUBLE) / n_pairs, 6) AS candidate_frac,
         |  round(1.0 - pow(1.0 - pow((CAST(decile AS DOUBLE) + 0.5) / 10.0, $r),
         |    $bands), 6) AS theory_p
         |FROM agg ORDER BY decile""".stripMargin
    },
    "d39_dedup_minhash_lsh" -> minhashLshOracle,
    // the signature CTE chain is d39's; the array gate serializes the
    // perm-ordered signature list as canonical JSON on both engines
    "d270_signature_json" ->
      s"""WITH $minhashPrefixCtes
         |SELECT doc_id,
         |  CAST(to_json(list(m ORDER BY perm)) AS VARCHAR) AS sig_json
         |FROM sig GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d93_incremental_minhash" -> incrementalMinhashOracle,
    "d129_semantic_decontamination" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |ev AS (SELECT vec_id AS eval_id, e AS ee FROM emb WHERE vec_id % 29 = 0),
        |corpus AS (SELECT vec_id, e FROM emb WHERE vec_id % 29 <> 0),
        |scored AS (
        |  SELECT c.vec_id, ev.eval_id,
        |    list_cosine_similarity(c.e, ev.ee) AS cos
        |  FROM corpus c CROSS JOIN ev),
        |r AS (
        |  SELECT vec_id, eval_id, cos,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, eval_id) AS rk
        |  FROM scored)
        |SELECT vec_id, eval_id AS nearest_eval_id, cos AS max_cosine,
        |  cos >= 0.4 AS contaminated
        |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin,
    "d40_dedup_simhash" -> simhashOracle,
    "d37_dedup_exact" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    // forced scale-tier variants: d81/d83 share their small-tier query's
    // oracle verbatim (same bytes from the 100 TB code path); d82's LSH
    // tier is recall-bounded by construction at this corpus's threshold,
    // so its oracle replicates the banded pipeline itself (see the query
    // scaladoc)
    "d81_jaccard_prefix" -> jaccardOracle,
    "d82_embedding_lsh" -> lshReplicaOracle,
    "d83_clusters_distributed" -> clustersOracle,
    "d194_clusters_bigstar" -> clustersOracle,
    // clusters CTEs + the same 52-bit md5 uniform and integer keep test
    "d211_soft_dedup" ->
      s"""WITH RECURSIVE $clustersCtes,
         |cl AS (
         |  SELECT c.s AS doc_id,
         |    CAST(count(*) OVER (PARTITION BY m.cluster_id) AS BIGINT) AS cluster_size
         |  FROM nodes c
         |  JOIN (SELECT s, min(t) AS cluster_id FROM closure GROUP BY s) m
         |    ON c.s = m.s),
         |w AS (
         |  SELECT d.doc_id, coalesce(cl.cluster_size, 1) AS cluster_size,
         |    CAST(list_sum(list_transform(range(0, 13), i ->
         |      CAST(strpos('0123456789abcdef',
         |        substr(md5(CAST(d.doc_id AS VARCHAR)),
         |          CAST(i + 1 AS INTEGER), 1)) - 1 AS BIGINT)
         |        << CAST(4 * (12 - i) AS INTEGER))) AS BIGINT) AS u52
         |  FROM documents d LEFT JOIN cl USING (doc_id))
         |SELECT doc_id, CAST(cluster_size AS BIGINT) AS cluster_size,
         |  round(1.0 / cluster_size, 9) AS weight,
         |  u52 <= (4503599627370495 // cluster_size) AS kept
         |FROM w ORDER BY doc_id""".stripMargin,
    "d38_dedup_jaccard" -> jaccardOracle,
    // same shingle CTE as d38's oracle; containment divides by the
    // CONTAINED side's size and keeps both directions
    "d143_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN len(t) >= 3 THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |         ELSE array_to_string(t, ' ') END AS shingle
        |  FROM toks CROSS JOIN unnest(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS contained_id, b.doc_id AS container_id, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT contained_id, container_id,
        |  CAST(n_common AS DOUBLE) / s1.sz AS containment
        |FROM inter JOIN sz s1 ON contained_id = s1.doc_id
        |WHERE CAST(n_common AS DOUBLE) / s1.sz >= 0.8
        |ORDER BY contained_id, container_id""".stripMargin,
    "d62_dedup_clusters" -> clustersOracle,
    "d41_dedup_embedding" -> embeddingOracle,
    // chunk text (not md5) keys the DuckDB window — identical equivalence
    // classes, so the kept/dropped flags hash-match the Spark side
    "d86_chunk_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |ch AS (
        |  SELECT doc_id, CAST((gs.s - 1) / 30 AS BIGINT) AS chunk_idx,
        |    array_to_string(t[gs.s:gs.s + 29], ' ') AS chunk
        |  FROM tok CROSS JOIN unnest(generate_series(1, len(t), 30)) AS gs(s)),
        |st AS (
        |  SELECT doc_id, chunk_idx,
        |    count(*) OVER (PARTITION BY chunk) AS n_copies,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
        |  FROM ch)
        |SELECT doc_id, chunk_idx, CAST(n_copies AS BIGINT) AS n_copies,
        |  rn = 1 AS is_kept
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,
    // gram text (not md5) keys the DuckDB join — identical equivalence
    // classes, so per-doc distinct-shared-gram counts match exactly.
    // d99 = d88's bloom-prefiltered tier; exact-verify makes the output
    // identical, so the oracle is shared verbatim
    "d99_decontaminate_bloom" -> decontaminateOracle,
    "d88_decontaminate" -> decontaminateOracle,
    // composes the two gated oracles verbatim: d62's recursive-CTE closure
    // and t34's quality formula (bit-identical doubles, so the window
    // order — and therefore is_kept — matches exactly)
    "d89_keep_best" ->
      s"""WITH clusters AS (SELECT * FROM (${clustersOracle})),
         |q AS (SELECT doc_id, quality_score FROM (${TextQueries.oracleSql("t34_quality")})),
         |j AS (
         |  SELECT c.doc_id, c.cluster_id, c.cluster_size, q.quality_score,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY q.quality_score DESC, c.doc_id) AS rn
         |  FROM clusters c JOIN q ON c.doc_id = q.doc_id)
         |SELECT doc_id, cluster_id, cluster_size, quality_score, rn = 1 AS is_kept
         |FROM j ORDER BY doc_id""".stripMargin,
    // same 8-gram stream, same min/max-over-gram dup test, same
    // lag-window interval merge
    "d112_dup_span_coverage" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS s,
        |    array_to_string(t[CAST(i AS INTEGER):CAST(i AS INTEGER) + 7], ' ') AS gram
        |  FROM tok CROSS JOIN unnest(generate_series(1, len(t) - 7)) AS gi(i)
        |  WHERE len(t) >= 8),
        |marked AS (
        |  SELECT doc_id, s,
        |    min(doc_id) OVER (PARTITION BY gram) AS mn,
        |    max(doc_id) OVER (PARTITION BY gram) AS mx
        |  FROM g),
        |ds AS (SELECT doc_id, s FROM marked WHERE mn <> doc_id OR mx <> doc_id),
        |cov AS (
        |  SELECT doc_id,
        |    coalesce(least(8, s - lag(s) OVER (PARTITION BY doc_id ORDER BY s)), 8) AS c
        |  FROM ds),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_grams,
        |    CAST(sum(c) AS BIGINT) AS covered_tokens
        |  FROM cov GROUP BY doc_id)
        |SELECT tok.doc_id,
        |  CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(greatest(len(t) - 7, 0) AS BIGINT) AS n_grams,
        |  coalesce(n_dup_grams, 0) AS n_dup_grams,
        |  coalesce(covered_tokens, 0) AS covered_tokens,
        |  CAST(coalesce(covered_tokens, 0) AS DOUBLE) / len(t) AS dup_span_frac
        |FROM tok LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // t69's split oracle composed with the same distinct-gram stream and
    // has-train window
    "d118_split_leakage" ->
      s"""WITH sp AS (
         |  SELECT doc_id, split FROM (${TextQueries.oracleSql("t69_split_assign")})),
         |tok AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
         |g AS (
         |  SELECT DISTINCT tok.doc_id, sp.split,
         |    array_to_string(t[CAST(i AS INTEGER):CAST(i AS INTEGER) + 7], ' ') AS gram
         |  FROM tok JOIN sp USING (doc_id)
         |  CROSS JOIN unnest(generate_series(1, len(t) - 7)) AS gi(i)
         |  WHERE len(t) >= 8),
         |m AS (
         |  SELECT doc_id, split,
         |    max(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY gram) AS has_train
         |  FROM g)
         |SELECT doc_id, split,
         |  CAST(count(*) AS BIGINT) AS n_distinct_grams,
         |  CAST(sum(has_train) AS BIGINT) AS n_leaked,
         |  CAST(sum(has_train) AS DOUBLE) / count(*) AS leak_frac,
         |  sum(has_train) > 0 AS contaminated
         |FROM m WHERE split <> 'train'
         |GROUP BY doc_id, split ORDER BY doc_id""".stripMargin,
    // d62's recursive-CTE closure composed with the documents catalog
    "d122_dedup_report" ->
      s"""WITH clusters AS (SELECT * FROM (${clustersOracle})),
         |j AS (
         |  SELECT d.doc_id, d.source, c.cluster_id
         |  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_near_dup_docs,
         |  CAST(sum(CASE WHEN cluster_id IS NOT NULL AND cluster_id <> doc_id
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_keep_first,
         |  CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         |  CAST(sum(CASE WHEN cluster_id IS NOT NULL AND cluster_id <> doc_id
         |           THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS drop_rate
         |FROM j GROUP BY source ORDER BY source""".stripMargin,

    // Ground truth computed DIRECTLY (all cross-doc gram matches → maximal
    // runs), NOT by replicating the winnowing pipeline — so the hash gate
    // also proves the fingerprint guarantee (every ≥50-token shared span
    // surfaces) holds end-to-end on this corpus.
    "d138_substring_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS s,
        |    array_to_string(t[CAST(i AS INTEGER):CAST(i AS INTEGER) + 7], ' ') AS gram
        |  FROM tok CROSS JOIN unnest(generate_series(1, len(t) - 7)) AS gi(i)
        |  WHERE len(t) >= 8),
        |m AS (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, a.s - b.s AS off, a.s AS s1
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |runs AS (
        |  SELECT doc1, doc2, off, s1,
        |    s1 - row_number() OVER (PARTITION BY doc1, doc2, off ORDER BY s1) AS island
        |  FROM m),
        |sp AS (
        |  SELECT doc1, doc2, off, island, min(s1) AS start1, count(*) AS n_grams
        |  FROM runs GROUP BY doc1, doc2, off, island)
        |SELECT doc1, doc2, start1, start1 - off AS start2,
        |  CAST(n_grams + 7 AS BIGINT) AS span_tokens
        |FROM sp WHERE n_grams >= 43
        |ORDER BY doc1, doc2, start1, start2""".stripMargin,

    // Ground truth computed QUADRATICALLY (all-pairs levenshtein over the
    // same 6-token prefix key), NOT by replicating the PassJoin blocking —
    // so the hash gate also proves the segment candidate generator is
    // lossless at ed ≤ 2 on this corpus.
    "d145_edit_distance" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    lower(array_to_string(
        |      list_slice(string_split_regex(trim(text), '\s+'), 1, 6), ' ')) AS key
        |  FROM documents),
        |kk AS (SELECT doc_id, key FROM k WHERE length(key) >= 3)
        |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
        |  CAST(levenshtein(a.key, b.key) AS BIGINT) AS edit_dist
        |FROM kk a JOIN kk b ON a.doc_id < b.doc_id
        |WHERE abs(length(a.key) - length(b.key)) <= 2
        |  AND levenshtein(a.key, b.key) <= 2
        |ORDER BY doc1, doc2""".stripMargin,

    // recursive-CTE closure (d62's oracle shape) over the same quadratic
    // ground-truth pair set; isolated docs keep themselves via LEFT JOIN
    "d152_fuzzy_keep_first" ->
      """WITH RECURSIVE k AS (
        |  SELECT doc_id,
        |    lower(array_to_string(
        |      list_slice(string_split_regex(trim(text), '\s+'), 1, 6), ' ')) AS key
        |  FROM documents),
        |kk AS (SELECT doc_id, key FROM k WHERE length(key) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2
        |  FROM kk a JOIN kk b ON a.doc_id < b.doc_id
        |  WHERE abs(length(a.key) - length(b.key)) <= 2
        |    AND levenshtein(a.key, b.key) <= 2),
        |edges AS (
        |  SELECT doc1 AS s, doc2 AS t FROM pairs
        |  UNION SELECT doc2, doc1 FROM pairs),
        |reach(s, t) AS (
        |  SELECT s, t FROM edges
        |  UNION
        |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
        |nodes AS (SELECT DISTINCT s FROM edges),
        |closure AS (
        |  SELECT s, t FROM reach UNION ALL SELECT s, s FROM nodes),
        |m AS (SELECT s AS doc_id, min(t) AS keep_id FROM closure GROUP BY s)
        |SELECT d.doc_id, coalesce(m.keep_id, d.doc_id) AS keep_id,
        |  coalesce(m.keep_id, d.doc_id) = d.doc_id AS is_kept
        |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "d181_lsh_tuner" ->
      """WITH grid AS (
        |  SELECT CAST(b AS BIGINT) AS b, CAST(48 // b AS BIGINT) AS r
        |  FROM unnest([1, 2, 3, 4, 6, 8, 12, 16, 24, 48]) AS t(b)),
        |curve AS (
        |  SELECT b, r,
        |    pow(1.0 / b, 1.0 / r) AS threshold,
        |    abs(pow(1.0 / b, 1.0 / r) - 0.4) AS dist
        |  FROM grid),
        |best AS (
        |  SELECT b AS best_b FROM curve ORDER BY dist, b DESC LIMIT 1)
        |SELECT c.b, c.r,
        |  round(c.threshold, 6) AS threshold,
        |  round(1.0 - pow(1.0 - pow(0.30000000000000004, CAST(c.r AS DOUBLE)), CAST(c.b AS DOUBLE)), 6) AS p_below,
        |  round(1.0 - pow(1.0 - pow(0.4, CAST(c.r AS DOUBLE)), CAST(c.b AS DOUBLE)), 6) AS p_at_tau,
        |  round(1.0 - pow(1.0 - pow(0.5, CAST(c.r AS DOUBLE)), CAST(c.b AS DOUBLE)), 6) AS p_above,
        |  c.b = best.best_b AS recommended
        |FROM curve c CROSS JOIN best
        |ORDER BY c.b""".stripMargin,
    "d188_normalized_dedup" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9 \t\n]', '', 'g'), '\s+', ' ', 'g')))
        |      AS norm_md5,
        |    md5(text) AS raw_md5
        |  FROM documents)
        |SELECT norm_md5, min(doc_id) AS keep_id, count(*) AS n_copies,
        |  count(*) - count(DISTINCT raw_md5) AS n_raw_dups,
        |  count(DISTINCT raw_md5) - 1 AS n_extra_caught
        |FROM n GROUP BY norm_md5 ORDER BY keep_id""".stripMargin
  )

  private lazy val decontaminateOracle =
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |eg AS (
        |  SELECT DISTINCT array_to_string(t[gs.i:gs.i + 12], ' ') AS g
        |  FROM tok CROSS JOIN unnest(generate_series(1, len(t) - 12)) AS gs(i)
        |  WHERE doc_id % 29 = 0 AND len(t) >= 13),
        |tg AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[gs.i:gs.i + 12], ' ') AS g
        |  FROM tok CROSS JOIN unnest(generate_series(1, len(t) - 12)) AS gs(i)
        |  WHERE doc_id % 29 <> 0 AND len(t) >= 13),
        |hits AS (
        |  SELECT doc_id, count(*) AS n FROM tg JOIN eg USING (g) GROUP BY 1)
        |SELECT tok.doc_id, CAST(coalesce(n, 0) AS BIGINT) AS n_shared_13grams,
        |  coalesce(n, 0) > 0 AS contaminated
        |FROM tok LEFT JOIN hits ON tok.doc_id = hits.doc_id
        |WHERE tok.doc_id % 29 <> 0
        |ORDER BY tok.doc_id""".stripMargin

  private lazy val jaccardOracle =
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN len(t) >= 3 THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |         ELSE array_to_string(t, ' ') END AS shingle
        |  FROM toks CROSS JOIN unnest(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc1, doc2,
        |  CAST(n_common AS DOUBLE) / (s1.sz + s2.sz - n_common) AS jaccard
        |FROM inter
        |JOIN sz s1 ON doc1 = s1.doc_id
        |JOIN sz s2 ON doc2 = s2.doc_id
        |WHERE CAST(n_common AS DOUBLE) / (s1.sz + s2.sz - n_common) >= 0.5
        |ORDER BY doc1, doc2""".stripMargin

  /** The Jaccard pair graph → transitive-closure CTE block, shared by
    * the clusters oracle (d62/d83/d194) and d211's soft-dedup oracle.
    * Must follow a `WITH RECURSIVE` header. */
  private lazy val clustersCtes =
      """pairs AS (
        |  SELECT doc1, doc2 FROM (
        |    WITH toks AS (
        |      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |    sh AS (
        |      SELECT DISTINCT doc_id,
        |        CASE WHEN len(t) >= 3 THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |             ELSE array_to_string(t, ' ') END AS shingle
        |      FROM toks CROSS JOIN unnest(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)),
        |    sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |    inter AS (
        |      SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
        |      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |    SELECT doc1, doc2
        |    FROM inter JOIN sz s1 ON doc1 = s1.doc_id JOIN sz s2 ON doc2 = s2.doc_id
        |    WHERE CAST(n_common AS DOUBLE) / (s1.sz + s2.sz - n_common) >= 0.5)),
        |edges AS (
        |  SELECT doc1 AS s, doc2 AS t FROM pairs
        |  UNION SELECT doc2, doc1 FROM pairs),
        |reach(s, t) AS (
        |  SELECT s, t FROM edges
        |  UNION
        |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
        |nodes AS (SELECT DISTINCT s FROM edges),
        |closure AS (
        |  SELECT s, t FROM reach UNION ALL SELECT s, s FROM nodes)""".stripMargin

  private lazy val clustersOracle =
    s"""WITH RECURSIVE $clustersCtes
       |SELECT c.s AS doc_id, m.cluster_id,
       |  CAST(count(*) OVER (PARTITION BY m.cluster_id) AS BIGINT) AS cluster_size
       |FROM nodes c
       |JOIN (SELECT s, min(t) AS cluster_id FROM closure GROUP BY s) m ON c.s = m.s
       |ORDER BY doc_id""".stripMargin

  /** DuckDB replica of the d82 LSH tier (the s43 inlined-plane pattern):
    * the 32×64 gaussian plane constants serialize as shortest-round-trip
    * double literals (bit-identical on parse), dots sum in the same
    * ascending index order as the codegen'd dot_product, bands are the
    * same 8×4 sign-bit groups, and candidates verify with the same exact
    * cosine — so the two engines compute the identical pair set. */
  /** Shared DuckDB CTE block replicating the banded-signature pipeline —
    * defines `emb`, `planes`, `dots`, `sig`; composed (after `WITH `) by
    * d82's pair oracle here and s96's kNN-graph oracle in
    * [[SimilarityQueries]]. */
  private[graft] lazy val lshSigCtes: String = {
    // planes as a VALUES relation, not a literal indexed inside a lambda:
    // the in-lambda form rebuilds the 32×64 nested list per evaluation
    // (measured: minutes for the whole oracle); the join form computes
    // 64k in-order dot products in seconds
    val planeRows = dedupPlanes.zipWithIndex
      .map { case (row, p) =>
        row.map(v => s"CAST($v AS DOUBLE)").mkString(s"($p, [", ", ", "])")
      }
      .mkString(",\n      ")
    s"""emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |planes(p, pv) AS (SELECT * FROM (VALUES
       |      $planeRows) AS t(p, pv)),
       |dots AS (
       |  SELECT e.vec_id, pl.p,
       |    list_sum(list_transform(range(0, 64), j ->
       |      e.e[CAST(j + 1 AS INTEGER)] * pl.pv[CAST(j + 1 AS INTEGER)])) AS d
       |  FROM emb e CROSS JOIN planes pl),
       |sig AS (
       |  SELECT vec_id, CAST(p // $DedupBandBits AS INTEGER) AS band,
       |    CAST(sum(CASE WHEN d >= 0.0
       |      THEN (CAST(1 AS BIGINT) << CAST(p % $DedupBandBits AS INTEGER))
       |      ELSE 0 END) AS BIGINT) AS band_val
       |  FROM dots GROUP BY 1, 2)""".stripMargin
  }

  private lazy val lshReplicaOracle: String = {
    s"""WITH $lshSigCtes,
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
       |  FROM sig a JOIN sig b
       |    ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id < b.vec_id)
       |SELECT c.id1, c.id2, list_cosine_similarity(e1.e, e2.e) AS cosine
       |FROM cand c
       |JOIN emb e1 ON c.id1 = e1.vec_id
       |JOIN emb e2 ON c.id2 = e2.vec_id
       |WHERE list_cosine_similarity(e1.e, e2.e) >= 0.4
       |ORDER BY id1, id2""".stripMargin
  }

  private lazy val embeddingOracle =
      """SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                         CAST(b.embedding AS DOUBLE[])) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.4
        |ORDER BY id1, id2""".stripMargin
}
