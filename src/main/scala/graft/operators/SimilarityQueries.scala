package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.CountMin.splitmix64

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (builder-prompt north-star surface).
  *
  * Three tiers:
  *  - s42 brute-force cosine top-k: the exactness baseline. A broadcast
  *    join of the (small) query set against the full corpus — at 100 TB
  *    the corpus side stays partitioned, queries broadcast, and the top-k
  *    is a per-query TakeOrdered, so the shape scales linearly.
  *  - s43 random-hyperplane LSH: 16-bit signatures, candidates share a
  *    bucket → search cost drops ~2^16 at equal recall for clustered data.
  *  - s44 IVF (inverted-file) partitioning: fixed coarse centroids, probe
  *    the nprobe nearest lists — the classic billion-scale ANN layout.
  */
object SimilarityQueries {
  import Tables._
  import graft.functions.VectorFunctions

  type Q = (SparkSession, String) => DataFrame

  private val K = 10
  private val NumQueries = 5 // vec_id 0..4 serve as the query set
  private val KmeansWidthConf = "spark.graft.kmeans.targetWidth"
  // s283's forced cluster width: small enough that K grows well past 8
  // at gate scale (n=500 → K=20), exercising the same derivation the
  // default width (10k) triggers at corpus scale
  private[graft] val ScaledWidth = 25

  val queries: Map[String, Q] = Map(
    /** Brute-force cosine top-k for each query vector (exact baseline).
      * Deterministic rank ties broken on neighbor id.
      *
      * Scoring is one broadcast nested-loop pass; the top-k itself uses the
      * custom [[graft.functions.TopKByScore]] TypedImperativeAggregate — a
      * bounded k-element heap merged across partitions — instead of a
      * window row_number, which would sort the full candidate set per
      * query (O(n log n) + full shuffle vs O(n log k) + k-row merge). */
    "s42_ann_brute" -> ((s, d) => {
      VectorFunctions.register(s)
      graft.functions.TopKAggregate.register(s)
      val q = embeddings(s, d).filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val corpus = embeddings(s, d)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
      val scored = corpus.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          call_function("cosine_sim", col("qv"), col("nv")).as("cosine"))
      scored.groupBy("query_id")
        .agg(call_function("topk_by_score", col("cosine"), col("neighbor_id"), lit(K))
          .as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), col("col.id").as("neighbor_id"),
          (col("pos") + 1).cast("long").as("rank"), col("col.score").as("cosine"))
        .orderBy("query_id", "rank")
    }),

    /** LSH-bucketed ANN: 16 deterministic pseudo-random hyperplanes (unit
      * components derived from splitmix-seeded xxhash of the dimension
      * index), bucket = sign bits; candidates share the query's bucket in
      * any of 4 bands of 4 bits. Rows-only — recall vs s42 is spec-tested. */
    "s43_ann_lsh" -> ((s, d) => {
      VectorFunctions.register(s)
      val planes = Hyperplanes.planes // 16 x 64, deterministic
      val emb = embeddings(s, d)
      def sigCol = {
        val bits = planes.indices.map { p =>
          val dot = aggregate(
            zip_with(col("embedding"),
              array(planes(p).toIndexedSeq.map(v => lit(v)): _*),
              (x, y) => x.cast("double") * y),
            lit(0.0), (acc, v) => acc + v)
          when(dot >= 0.0, lit(1 << p)).otherwise(lit(0))
        }
        bits.reduce(_.bitwiseOR(_))
      }
      val signed = emb.select(col("vec_id"), col("embedding"), sigCol.as("sig"))
      val banded = signed.select(col("vec_id"), col("embedding"), posexplode(
        array((0 until 4).map(b =>
          shiftright(col("sig"), b * 4).bitwiseAND(0xF)): _*)))
        .toDF("vec_id", "embedding", "band", "band_val")
      val q = banded.filter(col("vec_id") < NumQueries)
        .toDF("query_id", "qv", "band", "band_val")
      val cand = banded.join(broadcast(q), Seq("band", "band_val"))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("qv"), col("embedding"))
        .distinct()
      val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
      cand
        .select(col("query_id"), col("neighbor_id"),
          call_function("cosine_sim", col("qv"), col("embedding")).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
          col("cosine"))
        .orderBy("query_id", "rank")
    }),

    /** IVF-style ANN: coarse centroids = embeddings of vec_id 0..7, every
      * vector assigned to its nearest centroid (one broadcast join + argmax),
      * queries probe the 2 nearest lists. Rows-only + spec-tested. */
    "s44_ann_ivf" -> ((s, d) => {
      VectorFunctions.register(s)
      val emb = embeddings(s, d)
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
      def assign(df: DataFrame, idCol: String, vCol: String, keep: Int): DataFrame = {
        val w = Window.partitionBy(idCol).orderBy(desc("c_sim"), col("centroid_id"))
        df.join(broadcast(cents), lit(true))
          .select(col(idCol), col(vCol), col("centroid_id"),
            call_function("cosine_sim", col(vCol), col("cv")).as("c_sim"))
          .withColumn("c_rank", row_number().over(w))
          .filter(col("c_rank") <= keep)
          .drop("c_sim", "c_rank")
      }
      val lists = assign(
        emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")),
        "neighbor_id", "nv", 1)
      val probes = assign(
        emb.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        "query_id", "qv", 2)
      val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
      lists.join(broadcast(probes), Seq("centroid_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          call_function("cosine_sim", col("qv"), col("nv")).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
          col("cosine"))
        .orderBy("query_id", "rank")
    }),

    /** Centroid ARRAYS cross the driver comparator as canonical JSON
      * (VERDICT r12 #5): raw array cells crash the pandas hasher
      * (`unhashable type: numpy.ndarray`, probed round 2), so the
      * dim-ordered integer-lattice centroid list serializes with
      * to_json — the d270 signature-array contract, retiring this
      * family's last long-form-only projection. */
    "s53_label_centroids" -> labelCentroids,

    /** Int8 scalar quantization — the 4× storage compression an ANN index
      * applies before sharding billions of vectors: per-vector min/max
      * affine map onto 0..255. Long form (vec_id, dim, qval) for the
      * comparator; scale/offset ride along so dequantization is
      * self-contained. Per-row IEEE arithmetic is identical across
      * engines, so the oracle hash-matches exactly. */
    "s75_quantize_int8" -> ((s, d) =>
      embeddings(s, d)
        .select(col("vec_id"),
          array_min(transform(col("embedding"), x => x.cast("double"))).as("vmin"),
          array_max(transform(col("embedding"), x => x.cast("double"))).as("vmax"),
          posexplode(col("embedding")))
        .toDF("vec_id", "vmin", "vmax", "dim", "v")
        .select(
          col("vec_id"), col("dim").cast("long").as("dim"),
          when(col("vmax") === col("vmin"), 0L)
            .otherwise(floor((col("v").cast("double") - col("vmin")) /
              (col("vmax") - col("vmin")) * 255.0).cast("long")).as("qval"),
          round(col("vmin"), 6).as("offset"),
          round((col("vmax") - col("vmin")) / 255.0, 9).as("scale"))
        .orderBy("vec_id", "dim")),

    /** kNN graph construction — every vector's top-k cosine neighbors,
      * the primitive under SemDeDup-style semantic dedup, graph
      * clustering, and hubness analysis. Hybrid, mirroring d41's gate
      * (VERDICT r4 #1 — this was the last always-quadratic plan):
      * corpora at or below `spark.graft.knn.exactLimit` (default 10k
      * vectors) run the exact BLOCK-GRID equi-join — vectors tiled by
      * vec_id % B with ADAPTIVE B ≈ ⌈n/1000⌉ so a block stays ~1000
      * vectors and the block-pair grid (the only broadcast) stays ≤64k
      * rows regardless of where the gate is set; larger corpora generate
      * candidates from the banded sign-LSH frame shared with d82
      * ([[DedupQueries.bandedEmbeddings]]) — an equi-join on
      * (band, band_val), no O(n²) term. Both tiers feed the same
      * bounded-heap [[graft.functions.TopKByScore]] aggregation, so no
      * task ever sorts the full candidate set; only candidate generation
      * narrows with scale. Recall of the LSH tier vs exact is
      * spec-pinned (DedupSimilaritySpec) and the tier itself is
      * hash-gated as s96. */
    "s94_knn_graph" -> ((s, d) => knnGraph(s, d)),

    /** Forced LSH tier of the kNN graph (the d82 playbook): pins the
      * 100 TB candidate-generation path under the driver's hash gate
      * against a banded-pipeline replica oracle. Not recall-1.0 vs s94 by
      * construction — the oracle replicates the banding, so precision of
      * the implementation is what's gated; recall vs exact is the
      * spec-pinned contract. */
    "s96_knn_graph_lsh" -> ((s, d) => knnTopK(s, knnLshScored(s, d))),

    /** kNN label classification — majority vote over each vector's top-5
      * cosine neighbors (the standard embedding-space label-propagation /
      * weak-supervision primitive: score unlabeled data from its labeled
      * neighborhood). Ties break to the smaller label id via a
      * lexicographic struct max, so the vote is deterministic given the
      * graph, and the graph's top-5 cut is already hash-gated (s94/s96).
      *
      * Scale shape: the gated kNN graph (never O(n²) above the tier
      * gate) plus one shuffle join of the n·k edge list against the
      * label table on neighbor_id (corpus-sized → NO broadcast hint) and
      * two key-local aggregations; the vote state per vector is ≤ k
      * labels. */
    "s116_knn_classify" -> ((s, d) => {
      val nbLabels = embeddings(s, d)
        .select(col("vec_id").as("neighbor_id"), col("label").cast("long").as("nlabel"))
      val votes = knnGraph(s, d)
        .join(nbLabels, Seq("neighbor_id"))
        .groupBy("vec_id", "nlabel")
        .agg(count(lit(1)).as("cnt"))
      val best = votes.groupBy("vec_id")
        .agg(max(struct(col("cnt"), (-col("nlabel")).as("neg"))).as("b"))
        .select(col("vec_id"), (-col("b.neg")).as("predicted_label"),
          col("b.cnt").as("votes"))
      best.join(embeddings(s, d).select(col("vec_id"),
          col("label").cast("long").as("label")), Seq("vec_id"))
        .select(col("vec_id"), col("label"), col("predicted_label"), col("votes"))
        .orderBy("vec_id")
    }),

    /** Mutual-kNN edge list — pairs where EACH vector ranks the other in
      * its top-5 (the reciprocal-neighbor graph SemDeDup-style pipelines
      * and density-based curation use: mutual edges are far stronger
      * similarity evidence than one-directional ones). Output is the
      * undirected edge (a < b) with its cosine.
      *
      * Scale shape: the gated kNN edge list self-joined on the REVERSED
      * key pair — an equi-join of two n·k frames on (vec_id,
      * neighbor_id), never touching the n² space; cosine is reused from
      * the graph, not recomputed. */
    "s117_mutual_knn" -> ((s, d) => {
      val g = knnGraph(s, d).select(
        col("vec_id").as("a"), col("neighbor_id").as("b"), col("cosine"))
      val rev = g.select(col("b").as("a"), col("a").as("b"))
      g.join(rev, Seq("a", "b"))
        .filter(col("a") < col("b"))
        .select(col("a").as("vec_a"), col("b").as("vec_b"), col("cosine"))
        .orderBy("vec_a", "vec_b")
    }),

    /** Per-vertex triangle counting + degree over the MUTUAL kNN graph —
      * the local-density signal (a vertex whose neighbors also neighbor
      * each other sits inside a tight semantic clump; triangle-free
      * vertices are hubs or noise). Classic edge-iterator algorithm on
      * the oriented edge list: every undirected edge kept once as
      * (a < b), wedges built by joining edges on the shared middle
      * vertex, closed by a second equi-join against the edge list.
      *
      * Scale shape: the edge list is ≤ n·k rows (bounded by the gated
      * graph, never n²); the wedge join fans out by per-vertex mutual
      * degree (≤ k), so intermediate size is ≤ n·k² — linear in n with
      * the k² constant, the standard distributed triangle bound. Low-id
      * orientation means each triangle is formed exactly once, and both
      * joins are plain hash shuffles on vertex keys.
      *
      * Oracle validity domain (the s96/s117 caveat, ADVICE r7): the
      * DuckDB oracle always recomputes the EXACT all-pairs kNN, so
      * hash parity is established on the exact tier (corpora below
      * `spark.graft.knn.exactLimit`, where knnGraph selects the exact
      * block-grid). Above the gate knnGraph switches to banded-LSH
      * candidates and the Spark result may legitimately diverge from
      * the exact-graph oracle — same contract as s117. */
    "s156_semantic_clusters" -> ((s, d) => {
      /* Semantic clusters: connected components of the MUTUAL kNN graph
       * (reciprocal top-5 edges — the strong-evidence graph) — the
       * embedding-space twin of d62's dedup clusters, closing the
       * similarity family's pairwise → graph → clusters arc. Reuses the
       * shared [[DedupQueries.labelComponents]] hybrid (driver
       * union-find / distributed pointer-jump propagation); every
       * isolated vector keeps itself, so the output covers the whole
       * embedding table. Oracle parity holds on the exact knnGraph tier
       * (above `spark.graft.knn.exactLimit` the graph switches to
       * banded-LSH candidates and the exact-graph oracle no longer
       * binds — the s96/s117/s135 contract). */
      val g = knnGraph(s, d).select(
        col("vec_id").as("a"), col("neighbor_id").as("b"))
      val mutual = g.join(g.select(col("b").as("a"), col("a").as("b")), Seq("a", "b"))
        .filter(col("a") < col("b"))
        .select(col("a").as("doc1"), col("b").as("doc2"))
      val labels = DedupQueries.labelComponents(s, mutual)
        .toDF("vec_id", "cluster_id")
      val lab = embeddings(s, d).select(col("vec_id"))
        .join(labels, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
      lab.join(lab.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size")),
          "cluster_id")
        .select("vec_id", "cluster_id", "cluster_size")
        .orderBy("vec_id")
    }),

    "s135_knn_triangles" -> ((s, d) => {
      val g = knnGraph(s, d).select(col("vec_id").as("a"), col("neighbor_id").as("b"))
      val rev = g.select(col("b").as("a"), col("a").as("b"))
      val mut = g.join(rev, Seq("a", "b")).filter(col("a") < col("b"))
        .select("a", "b")
      val wedges = mut.join(mut.toDF("b", "c"), "b").select("a", "b", "c")
      val tri = wedges.join(mut.toDF("a", "c"), Seq("a", "c")).select("a", "b", "c")
      val corners = tri.select(col("a").as("v"))
        .unionAll(tri.select(col("b").as("v")))
        .unionAll(tri.select(col("c").as("v")))
      val triCount = corners.groupBy("v").agg(count(lit(1)).as("n_triangles"))
      val deg = mut.select(col("a").as("v")).unionAll(mut.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("mutual_degree"))
      embeddings(s, d).select(col("vec_id"))
        .join(deg.withColumnRenamed("v", "vec_id"), Seq("vec_id"), "left")
        .join(triCount.withColumnRenamed("v", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("mutual_degree"), lit(0L)).as("mutual_degree"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
        .orderBy("vec_id")
    }),

    /** IVF-tier kNN graph — the THIRD candidate-generation strategy for
      * the graph (exact block grid / banded sign-LSH / inverted coarse
      * lists), hash-gated like s96 so the alternative 100 TB path faces
      * the oracle too. Every vector probes its 3 nearest coarse
      * centroids (s44's assignment: 8 lowest-id vectors as centroids,
      * argmax cosine with id tie-break) and candidates are the vectors
      * whose 1 home list matches a probed list; the same exact-cosine
      * ranking and TopKByScore heap finish the job.
      *
      * Scale shape: the centroid table is the ONLY broadcast (K rows —
      * driver metadata, the classic IVF layout); candidates come from an
      * equi-join on centroid_id, so cost is Σ listᵢ·probesᵢ, bounded by
      * the coarse partition sizes — at the north star K grows with the
      * corpus (s108's note) to hold list width constant. */
    "s119_knn_graph_ivf" -> ((s, d) => {
      VectorFunctions.register(s)
      val emb = embeddings(s, d)
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
      def assign(df: DataFrame, idCol: String, vCol: String, keep: Int): DataFrame = {
        val w = Window.partitionBy(idCol).orderBy(desc("c_sim"), col("centroid_id"))
        df.join(broadcast(cents), lit(true))
          .select(col(idCol), col(vCol), col("centroid_id"),
            call_function("cosine_sim", col(vCol), col("cv")).as("c_sim"))
          .withColumn("c_rank", row_number().over(w))
          .filter(col("c_rank") <= keep)
          .drop("c_sim", "c_rank")
      }
      val lists = assign(
        emb.select(col("vec_id").as("dst"), col("embedding").as("nv")), "dst", "nv", 1)
      val probes = assign(
        emb.select(col("vec_id").as("src"), col("embedding").as("sv")), "src", "sv", 3)
      val scored = probes.join(lists, Seq("centroid_id"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          call_function("cosine_sim", col("sv"), col("nv")).as("cosine"))
      knnTopK(s, scored)
    }),

    /** ANN index recall evaluation AS a query — per vector, how many of
      * the exact top-5 the banded-LSH tier recovers (the index-quality
      * report every ANN deployment runs before trusting the
      * approximation; here it gates the evaluation harness itself, not
      * just the tiers). Composes the two already-gated pipelines: the
      * exact graph is truth, the LSH edge set is the candidate, hits
      * join on (vec_id, neighbor_id).
      *
      * Scale shape: the exact truth side runs on a deterministic,
      * BOUNDED query sample (vec_id % 5 under a fixed id cap — the
      * standard recall protocol uses a fixed query count, so truth cost
      * is queries × corpus and the query count does NOT grow with the
      * corpus; a fractional sample alone would creep back to corpus²/5),
      * the approximate side prunes to the same sample before its top-k
      * heaps; the final join is sample·k vs sample·k edge lists on
      * their composite key. The cap (2500) sits above every test SF's
      * id range, so it is invisible to the gates and only binds at
      * production scale. */
    "s123_ann_recall_eval" -> ((s, d) => {
      val n = DedupQueries.embeddingCount(s, d)
      val inQuerySample = col("src") % 5 === 0 && col("src") < 2500
      val exact = knnTopK(s, knnExactScored(s, d, n).filter(inQuerySample))
        .select(col("vec_id"), col("neighbor_id"))
      val lsh = knnTopK(s, knnLshScored(s, d).filter(inQuerySample))
        .select(col("vec_id"), col("neighbor_id"), lit(1L).as("hit"))
      exact.join(lsh, Seq("vec_id", "neighbor_id"), "left")
        .groupBy("vec_id")
        .agg(count(lit(1)).as("k"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("vec_id"), col("k"), col("n_hits"),
          (col("n_hits").cast("double") / col("k").cast("double")).as("recall_at_k"))
        .orderBy("vec_id")
    }),

    /** PageRank (3 damped power iterations, d=0.85) over the s94 kNN
      * graph — the canonical iterative-graph workload (Page et al. 1999),
      * here ranking "centrality" of vectors in the similarity graph (a
      * data-curation signal: high-rank = densely connected regions).
      *
      * Everything after the float cosine edge ranking is INTEGER-exact
      * fixed-point (the s90 playbook): ranks live in 10⁻¹² micro-units,
      * each iteration is r' = floor(0.15·S/n) + Σ floor(r·17 / (20·deg))
      * (17/20 = 0.85; floor div on positive longs is identical on every
      * engine), so three iterations hash-match a DuckDB replica with the
      * iterations unrolled as CTEs.
      *
      * Scale shape: the edge list (n·k rows of 3 longs) is built ONCE and
      * eagerly localCheckpoint'ed — iterating over a lazy frame would
      * re-run the kNN scoring every round; each iteration is one join
      * (edges ⋈ ranks on src) + one shuffle aggregate on dst + one left
      * join back to the node set. On a cluster, pre-partition edges by
      * src and ranks by vec_id once and every iteration's join side
      * reuses that partitioning — the classic Pregel layout. */
    "s109_pagerank" -> ((s, d) => {
      val n = DedupQueries.embeddingCount(s, d)
      val graph = knnGraph(s, d)
      val outdeg = graph.groupBy(col("vec_id").as("src"))
        .agg(count(lit(1)).as("odeg"))
      val ew = graph.select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
        .join(outdeg, "src")
        .localCheckpoint(true)
      val Scale = 1000000000000L
      val base = (Scale * 15L) / (100L * n)
      val nodes = embeddings(s, d).select(col("vec_id"))
      var rank = nodes.withColumn("r", lit(Scale / n))
      for (_ <- 1 to 3) {
        val contrib = ew.join(rank, ew("src") === rank("vec_id"))
          .select(col("dst"), expr("r * 17 div (20 * odeg)").as("c"))
          .groupBy("dst").agg(sum("c").as("sc"))
        rank = nodes.join(contrib, nodes("vec_id") === contrib("dst"), "left")
          .select(nodes("vec_id"), (lit(base) + coalesce(col("sc"), lit(0L))).as("r"))
      }
      rank.select(col("vec_id"), col("r").as("rank_micro"),
          (col("r").cast("double") / 1e12).as("rank"))
        .orderBy("vec_id")
    }),

    /** Integer-exact quantized k-means (Lloyd) — the centroid trainer an
      * IVF index needs (s44 uses fixed coarse lists; this learns them).
      * Vectors quantize to int8 (per-vector max-abs, the s87 scheme), and
      * EVERY subsequent operation is integer-exact: L2² distances are
      * integer sums, centroid updates are floor(sum/count) per dimension,
      * ties in the argmin break to the smallest centroid id — so three
      * Lloyd rounds produce bit-identical centroids and assignments on
      * any engine, and the whole iterative pipeline hash-matches a DuckDB
      * replica with the rounds unrolled as CTE stages. Seeds = the K
      * lowest vec_ids' vectors; a cluster that loses all members keeps
      * its previous centroid.
      *
      * Scale shape: the classic distributed k-means — centroids are
      * driver-side metadata (K×dims longs, broadcast each round);
      * assignment is a broadcast-join scan; the update is one partial+
      * final aggregation on (cluster, dim). Rounds are Spark jobs, the
      * corpus never concentrates. */
    "s90_kmeans" -> ((s, d) =>
      kmeansAssignQ(s, d)
        .select(col("vec_id"), col("cid").as("cluster"), col("dist_sq"))
        .orderBy("vec_id")),

    /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup =
      * k-means clustering + WITHIN-CLUSTER pairwise cosine pruning.
      * Pairs are only ever formed inside a cluster, so the quadratic
      * term is bounded by the largest cluster, not the corpus — at the
      * north star K grows with the corpus (the paper runs 50k clusters
      * on LAION) to hold cluster width constant while total work stays
      * Σ cᵢ² ≪ n². Reuses [[kmeansAssignQ]] (s90's integer-exact
      * trainer), and the τ=0.4 cosine test (d41's design threshold
      * for this synthetic corpus) is evaluated entirely in
      * integer arithmetic on the int8-quantized vectors
      * (dot>0 ∧ 25·dot² ≥ 4·|a|²·|b|² ⟺ cos ≥ 0.4), so the surviving
      * set is bit-identical on any engine. Keeps the lowest vec_id of
      * each near-dup pair; emits survivors with their cluster. */
    "s108_semdedup" -> ((s, d) => {
      val a = kmeansAssignQ(s, d)
        .withColumn("n2", expr(
          "aggregate(transform(q, x -> x * x), CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      val left = a.select(col("vec_id").as("a_id"), col("cid"),
        col("q").as("qa"), col("n2").as("n2a"))
      val right = a.select(col("vec_id").as("b_id"), col("cid").as("cid_b"),
        col("q").as("qb"), col("n2").as("n2b"))
      val dups = left.join(right,
          col("cid") === col("cid_b") && col("a_id") < col("b_id"))
        .withColumn("dot", call_function("dot_long", col("qa"), col("qb")))
        .where(col("dot") > 0 &&
          lit(25L) * col("dot") * col("dot") >= lit(4L) * col("n2a") * col("n2b"))
        .select(col("b_id").as("dup_id")).distinct()
      a.join(dups, a("vec_id") === dups("dup_id"), "left_anti")
        .select(col("vec_id"), col("cid").as("cluster"))
        .orderBy("vec_id")
    }),

    /** FORCED scaled-K tier of SemDeDup (VERDICT r12 #1, the d81/d82
      * discipline: every 100 TB code path gets its own driver hash gate).
      * The small corpus sits below every auto-grown K (the default
      * targetWidth keeps K=8 at gate scale), so this gate forces the
      * width down to [[ScaledWidth]] — at gate scale K grows to
      * ceil(n/25), exactly the derivation a 100 TB corpus triggers with
      * the default width — and re-runs the ENTIRE SemDeDup pipeline:
      * grown-K Lloyd training, assignment, within-cluster pruning. The
      * oracle replays the same derivation in SQL (`scaledKSql`), so the
      * hash pins training + assignment + pruning AND the K derivation
      * itself (`k_used` rides in the frame). This is the q276 pattern:
      * the scaled tier is deterministic-exact, so it gets a full value
      * gate, not claim booleans. */
    "s283_semdedup_scaled" -> ((s, d) => {
      val prevW = s.conf.getOption(KmeansWidthConf)
      val prevK = s.conf.getOption("spark.graft.kmeans.k")
      if (prevK.isDefined) s.conf.unset("spark.graft.kmeans.k")
      s.conf.set(KmeansWidthConf, ScaledWidth.toString)
      try {
        val k = kmeansK(s, d)
        queries("s108_semdedup")(s, d)
          .withColumn("k_used", lit(k.toLong))
      } finally {
        prevW match {
          case Some(v) => s.conf.set(KmeansWidthConf, v)
          case None => s.conf.unset(KmeansWidthConf)
        }
        prevK.foreach(v => s.conf.set("spark.graft.kmeans.k", v))
      }
    }),

    /** Two-stage quantized search + exact rerank — the memory-bounded
      * serving pattern for billion-vector indexes: stage 1 scores the
      * whole corpus with int8-quantized vectors (4× smaller than float32;
      * integer dot products), keeps the top 3k candidates per query via
      * the bounded-heap [[graft.functions.TopKByScore]]; stage 2 rescores
      * ONLY those candidates with exact float cosine and emits the top k.
      * Quantization is per-vector symmetric max-abs (q = floor(v/max·127),
      * exact integer arithmetic thereafter), so approximate scores — and
      * therefore the candidate set and the final ranking — are
      * bit-identical across engines and the whole two-stage pipeline
      * hash-matches its DuckDB replica.
      *
      * Scale shape: stage 1 is the same broadcast-queries scan as s42 but
      * on int8 payloads; stage 2 touches 3k·|queries| rows (a broadcast
      * semi-filter of the corpus). The rerank never rescans more than the
      * candidate set. */
    "s87_ann_rerank" -> ((s, d) => {
      VectorFunctions.register(s)
      graft.functions.TopKAggregate.register(s)
      val Cand = 3 * K
      val emb = embeddings(s, d)
      def quantized(idAs: String, scaleAs: String, qvAs: String) = {
        val maxabs = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
        emb.select(col("vec_id").as(idAs), col("embedding"), maxabs.as(scaleAs))
          .select(col(idAs), col("embedding"), col(scaleAs),
            transform(col("embedding"), x =>
              when(col(scaleAs) === 0.0, 0L)
                .otherwise(floor(x.cast("double") / col(scaleAs) * 127.0).cast("long")))
              .as(qvAs))
      }
      val corpus = quantized("neighbor_id", "c_scale", "cq")
      val q = quantized("query_id", "q_scale", "qq")
        .filter(col("query_id") < NumQueries)
        .select(col("query_id"), col("embedding").as("qv"), col("q_scale"), col("qq"))
      val intDot = call_function("dot_long", col("qq"), col("cq"))
      val approx = (intDot.cast("double") * col("q_scale") * col("c_scale")) / 16129.0
      val cands = corpus.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), approx.as("approx"))
        .groupBy("query_id")
        .agg(call_function("topk_by_score", col("approx"), col("neighbor_id"), lit(Cand))
          .as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), col("col.id").as("neighbor_id"))
      val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
      cands
        .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")),
          "neighbor_id")
        .join(broadcast(q.select(col("query_id"), col("qv"))), "query_id")
        .select(col("query_id"), col("neighbor_id"),
          call_function("cosine_sim", col("qv"), col("nv")).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
          col("cosine"))
        .orderBy("query_id", "rank")
    }),

    /** Vector norms & component stats — the normalization primitives an
      * embedding pipeline applies before indexing, via the codegen'd
      * dot_product expression + array higher-order functions. */
    "s67_vector_norms" -> ((s, d) => {
      VectorFunctions.register(s)
      embeddings(s, d)
        .select(
          col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          sqrt(call_function("dot_product", col("embedding"), col("embedding")))
            .as("l2_norm"),
          array_max(transform(col("embedding"), x => abs(x.cast("double"))))
            .as("max_abs_component"))
        .orderBy("vec_id")
    }),

    /** Hybrid retrieval — the RAG-serving shape: a BM25 lexical list and a
      * cosine vector list per query (doc_id ≡ vec_id row index; queries =
      * ids 0..4), fused by reciprocal-rank fusion (Cormack et al. 2009:
      * score = Σ 1/(60 + rank), ranks absent from a list contribute 0).
      *
      * Engine-stable ranking: each per-term BM25 contribution is rounded
      * to the 1e-9 lattice and summed as DECIMAL(28,9) — decimal addition
      * is exact and order-independent, so the lexical ORDER (and thus
      * every rank this query outputs) cannot drift with partitioning or
      * engine summation order; the decimal score itself stays internal.
      * RRF is a fixed two-term double sum — bit-stable by construction.
      *
      * Scale shape: the query-term table, its document frequencies, and
      * the 2-value corpus stats are bounded by the query set — broadcast
      * by construction (the d88 precedent). The corpus-side vocabulary is
      * pruned to query terms BEFORE any aggregation (df still counts the
      * FULL corpus: tf covers every document), so unbounded per-term rows
      * never shuffle. Per-list top-k is a query-partitioned window over
      * candidate rows only; the vector side is s42's broadcast shape. */
    "s103_hybrid_retrieval" -> ((s, d) => {
      VectorFunctions.register(s)
      val tokens = documents(s, d)
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
      val docLen = tokens.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = docLen.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
      val qterms = tokens.filter(col("doc_id") < NumQueries)
        .select(col("doc_id").as("query_id"), col("term")).distinct()
      val tf = tokens.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val tfQ = tf.join(broadcast(qterms.select("term").distinct()), "term")
      val dfq = tfQ.groupBy("term").agg(count(lit(1)).as("df"))
      val contrib = tfQ.join(broadcast(dfq), "term")
        .join(broadcast(qterms), "term")
        .filter(col("doc_id") =!= col("query_id"))
        .join(docLen, "doc_id")
        .crossJoin(broadcast(stats))
        .select(col("query_id"), col("doc_id"),
          round(
            log((col("n_docs").cast("double") - col("df") + 0.5) /
                (col("df").cast("double") + 0.5) + 1.0) *
              (col("tf").cast("double") * 2.2) /
              (col("tf").cast("double") +
                lit(1.2) * (lit(0.25) +
                  lit(0.75) * col("dl").cast("double") / col("avgdl"))), 9)
            .cast("decimal(28,9)").as("c"))
      val wl = Window.partitionBy("query_id").orderBy(desc("lex_score"), col("doc_id"))
      val lexTop = contrib.groupBy("query_id", "doc_id").agg(sum("c").as("lex_score"))
        .withColumn("lex_rank", row_number().over(wl))
        .filter(col("lex_rank") <= K)
        .select("query_id", "doc_id", "lex_rank")
      val q = embeddings(s, d).filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val wv = Window.partitionBy("query_id").orderBy(desc("cosine"), col("doc_id"))
      val vecTop = embeddings(s, d)
        .select(col("vec_id").as("doc_id"), col("embedding").as("nv"))
        .join(broadcast(q), col("query_id") =!= col("doc_id"))
        .select(col("query_id"), col("doc_id"),
          call_function("cosine_sim", col("qv"), col("nv")).as("cosine"))
        .withColumn("vec_rank", row_number().over(wv))
        .filter(col("vec_rank") <= K)
        .select("query_id", "doc_id", "vec_rank")
      val wf = Window.partitionBy("query_id").orderBy(desc("rrf"), col("doc_id"))
      lexTop.join(vecTop, Seq("query_id", "doc_id"), "full_outer")
        .select(col("query_id"), col("doc_id"),
          col("lex_rank").cast("long").as("lex_rank"),
          col("vec_rank").cast("long").as("vec_rank"),
          (coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0))).as("rrf"))
        .withColumn("fused_rank", row_number().over(wf).cast("long"))
        .filter(col("fused_rank") <= K)
        .orderBy("query_id", "fused_rank")
    }),

    /** Cross-modal retrieval: text-embedding queries search a MEDIA corpus
      * through one shared 64-dim space. The media side is featurized into
      * that space by 64-segment mean pooling over the payload bytes (the
      * classic "downsample to a fixed-width feature vector" step a vision
      * tower performs; the byte arithmetic is deterministic so DuckDB
      * replicates it exactly and the row keeps the hard hash gate — a real
      * joint encoder swaps only the featurizer, exactly like FakeDecoder →
      * ImageIoDecoder in m46).
      *
      * Scale shape (100 TB): featurization is a partition-local typed
      * mapPartitions over the payload bytes (the m46 batch-decode
      * plumbing — a first Column-DSL draft built the byte list with
      * nested higher-order functions, which run INTERPRETED and cost
      * 217 s at sf0.1; the Scala byte loop is 1.5 s, see PERFORMANCE.md
      * round 8); the query set broadcasts; the per-query top-k rides the
      * bounded [[graft.functions.TopKByScore]] heap, so the only shuffle
      * is k rows per query at the final merge. With a large query set
      * you'd bucket BOTH spaces with the existing s43/s44 tiers — after
      * featurization cross-modal is just vectors, so every ANN tier in
      * this file applies unchanged. */
    "s139_cross_modal" -> ((s, d) => {
      VectorFunctions.register(s)
      graft.functions.TopKAggregate.register(s)
      import s.implicits._
      val Dim = 64
      // 64-segment mean pooling: segment j covers byte positions
      // [j*n/64, (j+1)*n/64); empty segments (n < 64) pool to 0.0;
      // integer byte sums are exact in double, so the DuckDB oracle
      // reproduces every value bit-for-bit
      val media = documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("media"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, bytes) =>
          val n = bytes.length
          if (n == 0) None
          else Some((id, Array.tabulate(Dim) { j =>
            val s0 = (j.toLong * n / Dim).toInt
            val e0 = ((j + 1).toLong * n / Dim).toInt
            if (e0 <= s0) 0.0
            else {
              var sum = 0.0; var i = s0
              while (i < e0) { sum += (bytes(i) & 0xff); i += 1 }
              sum / (e0 - s0)
            }
          }))
        }).toDF("doc_id", "mv")
      val q = embeddings(s, d).filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))
      media.crossJoin(broadcast(q))
        .select(col("query_id"), col("doc_id"),
          call_function("cosine_sim", col("qv"), col("mv")).as("cosine"))
        .groupBy("query_id")
        .agg(call_function("topk_by_score", col("cosine"), col("doc_id"), lit(K))
          .as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), col("col.id").as("doc_id"),
          (col("pos") + 1).cast("long").as("rank"), col("col.score").as("cosine"))
        .orderBy("query_id", "rank")
    }),

    /** Product-quantization ANN (the IVF-PQ building block at billion
      * scale): each 64-dim vector splits into 8 subvectors of 8 dims;
      * every subvector is encoded as the id of its nearest codebook
      * centroid (here the deterministic codebook = subvectors of vec_id
      * 0..255, the standard 8-bit codes — a trained codebook changes
      * only the `cents` input). Queries score candidates by Asymmetric Distance
      * Computation: per-subspace L2² against each centroid is a
      * 256-entry distance table per subspace; a candidate's approximate
      * distance is the sum of its 8 codes' table entries. The ADC pass
      * over-fetches a 5× shortlist which an exact-L2 rerank over the
      * original vectors cuts to top-k — the production serving shape
      * (pure ADC rank quality collapses under distance concentration on
      * near-random vectors: mean recall@10 measured 0.36 unreranked vs
      * 0.88 reranked at sf0.01, DedupSimilaritySpec pins the floor).
      *
      * Per-subspace distances are quantized to the 1e-9 BIGINT lattice
      * (floor(x·1e9 + 0.5)) and summed as integers, so the 8-row sum is
      * order-independent and byte-stable across engines/partitionings —
      * and immune to round(DOUBLE, n) half-mode drift across DuckDB
      * releases (the round-8 driver-gate lesson).
      *
      * Scale shape (100 TB): encoding is one broadcast join (codebook is
      * KB-sized) + a per-(vector,subspace) argmin — linear, shuffled on
      * vec_id only; the ADC scan touches 8 small rows per candidate
      * (codes, not floats — an 8-byte sketch of a 256-byte vector, the
      * 32× memory shrink that lets a billion vectors fit a cluster's
      * RAM); the distance table is 2048 broadcast rows per query set. */
    "s140_pq_ann" -> ((s, d) => {
      VectorFunctions.register(s)
      val Shortlist = 5 * K
      val wA = Window.partitionBy("query_id")
        .orderBy(col("approx_dist_e9"), col("neighbor_id"))
      val short = pqEncode(s, d).join(broadcast(pqDistTables(s, d)),
          Seq("sub", "code"))
        .filter(col("query_id") =!= col("vec_id"))
        .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
        .agg(sum(col("dt")).as("approx_dist_e9"))
        .withColumn("arank", row_number().over(wA))
        .filter(col("arank") <= Shortlist)
        .drop("arank")
      pqRerank(s, d, short)
    }),

    /** IVF-PQ: the two sketches composed — the layout billion-scale ANN
      * services actually run (FAISS IVFx,PQy). The coarse IVF stage
      * (s44's 8-centroid assignment, probe 2) prunes the corpus to the
      * query's nearest inverted lists; the ADC stage (s140's 8-bit PQ
      * codes + distance tables) scores ONLY those candidates; a 5×
      * shortlist reranks exactly. At 100 TB: the corpus is partitioned
      * BY LIST (each executor owns whole inverted lists as 8-byte codes),
      * a query touches nprobe/nlist of the data, and the ADC join is the
      * same broadcast of KB-sized tables — nothing here changes shape,
      * only nlist grows. */
    "s144_ivf_pq" -> ((s, d) => {
      VectorFunctions.register(s)
      val emb = embeddings(s, d)
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
      def assign(df: DataFrame, idCol: String, vCol: String, keep: Int): DataFrame = {
        val w = Window.partitionBy(idCol).orderBy(desc("c_sim"), col("centroid_id"))
        df.join(broadcast(cents), lit(true))
          .select(col(idCol), col("centroid_id"),
            e9(call_function("cosine_sim", col(vCol), col("cv"))).as("c_sim"))
          .withColumn("c_rank", row_number().over(w))
          .filter(col("c_rank") <= keep)
          .select(col(idCol), col("centroid_id"))
      }
      val lists = assign(
        emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")),
        "neighbor_id", "nv", 1)
      val probes = assign(
        emb.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        "query_id", "qv", 2)
      val cand = probes.join(lists, "centroid_id")
        .filter(col("query_id") =!= col("neighbor_id"))
        .select("query_id", "neighbor_id")
      // ADC over the probed lists only — candidates first, codes second
      val Shortlist = 5 * K
      val wA = Window.partitionBy("query_id")
        .orderBy(col("approx_dist_e9"), col("neighbor_id"))
      val short = cand
        .join(pqEncode(s, d).withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(broadcast(pqDistTables(s, d)), Seq("query_id", "sub", "code"))
        .groupBy("query_id", "neighbor_id")
        .agg(sum(col("dt")).as("approx_dist_e9"))
        .withColumn("arank", row_number().over(wA))
        .filter(col("arank") <= Shortlist)
        .drop("arank")
      pqRerank(s, d, short)
    }),

    /** MMR-diversified retrieval (maximal marginal relevance, Carbonell &
      * Goldstein): rerank each query's brute-force top-10 so the final 3
      * picks trade relevance against redundancy — pick_i = argmax over
      * remaining candidates of λ·rel(c) − (1−λ)·max_{p∈picked} sim(c, p),
      * λ = 0.7. The greedy recursion is unrolled into three explicit
      * argmax stages (window rank + join-back), so the whole operator is
      * declarative — no driver loop, no UDF. MMR scores are ROUNDED to 9
      * places before each argmax on both engines, so ulp-level cosine
      * divergence cannot flip a pick.
      *
      * Scale shape: the candidate pool is the K-bounded TopKByScore heap
      * output (10 rows per query) — every downstream join, window, and
      * pairwise-similarity computation runs on queries×10 rows, no
      * matter the corpus size; the only corpus-sized work is the
      * candidate generation itself (s42's broadcast-scored pass, or any
      * ANN tier in its place). */
    "s159_mmr_diversify" -> ((s, d) => {
      VectorFunctions.register(s)
      graft.functions.TopKAggregate.register(s)
      val lam = 0.7
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val corpus = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv"))
      val top = corpus.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          call_function("cosine_sim", col("qv"), col("nv")).as("rel"))
        .groupBy("query_id")
        .agg(call_function("topk_by_score", col("rel"), col("neighbor_id"),
          lit(K)).as("top"))
        .select(col("query_id"), explode(col("top")).as("e"))
        .select(col("query_id"), col("e.id").as("cand_id"), col("e.score").as("rel"))
      val cand = top.join(
        emb.select(col("vec_id").as("cand_id"), col("embedding").as("cv")),
        "cand_id")
      val w1 = Window.partitionBy("query_id").orderBy(desc("rel"), col("cand_id"))
      val p1 = cand.withColumn("rn", row_number().over(w1))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("cand_id").as("pk1"),
          col("cv").as("pk1v"), col("rel").as("pk1rel"))
      val r1 = cand.join(p1, "query_id").filter(col("cand_id") =!= col("pk1"))
        .withColumn("sim1", call_function("cosine_sim", col("cv"), col("pk1v")))
        .withColumn("score2",
          round(lit(lam) * col("rel") - lit(1 - lam) * col("sim1"), 9))
      val w2 = Window.partitionBy("query_id").orderBy(desc("score2"), col("cand_id"))
      val p2 = r1.withColumn("rn", row_number().over(w2))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("cand_id").as("pk2"),
          col("cv").as("pk2v"), col("rel").as("pk2rel"), col("score2").as("pk2mmr"))
      val r2 = r1.drop("pk1", "pk1v", "pk1rel")
        .join(p2, "query_id").filter(col("cand_id") =!= col("pk2"))
        .withColumn("sim2", call_function("cosine_sim", col("cv"), col("pk2v")))
        .withColumn("score3", round(lit(lam) * col("rel") -
          lit(1 - lam) * greatest(col("sim1"), col("sim2")), 9))
      val w3 = Window.partitionBy("query_id").orderBy(desc("score3"), col("cand_id"))
      val p3 = r2.withColumn("rn", row_number().over(w3))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("cand_id").as("pk3"),
          col("rel").as("pk3rel"), col("score3").as("pk3mmr"))
      p1.select(col("query_id"), lit(1L).as("pick_rank"),
          col("pk1").as("vec_id"), round(col("pk1rel"), 6).as("rel"),
          round(lit(lam) * col("pk1rel"), 6).as("mmr"))
        .unionByName(p2.select(col("query_id"), lit(2L).as("pick_rank"),
          col("pk2").as("vec_id"), round(col("pk2rel"), 6).as("rel"),
          round(col("pk2mmr"), 6).as("mmr")))
        .unionByName(p3.select(col("query_id"), lit(3L).as("pick_rank"),
          col("pk3").as("vec_id"), round(col("pk3rel"), 6).as("rel"),
          round(col("pk3mmr"), 6).as("mmr")))
        .orderBy("query_id", "pick_rank")
    }),

    /** Two-hop reachability over the mutual kNN graph: per vertex its
      * mutual degree, the number of distinct vertices within ≤ 2 hops,
      * and the expansion ratio — the neighborhood-growth signal that
      * separates vertices inside dense semantic clumps (low expansion:
      * their neighbors' neighbors fold back) from bridge/hub vertices
      * (high expansion). Complements s135's triangles (closure at depth
      * 2) with the dual reach view, and covers every vector via the
      * left join (isolated vectors report 0/0).
      *
      * Scale shape: mutual edges are ≤ n·k rows per direction (bounded
      * by the gated graph); the 2-hop equi-join on the middle vertex
      * fans out ≤ k per edge (≤ n·k² intermediate — the same bound as
      * s135's wedges); the distinct and the count shuffle on vertex
      * keys. Nothing is n².
      *
      * Oracle validity domain (the s96/s117/s135 contract): exact on the
      * knnGraph exact tier; above `spark.graft.knn.exactLimit` the graph
      * switches to banded-LSH candidates and the exact-graph oracle no
      * longer binds. */
    "s161_khop_reach" -> ((s, d) => {
      val g = knnGraph(s, d).select(
        col("vec_id").as("a"), col("neighbor_id").as("b"))
      val rev = g.select(col("b").as("a"), col("a").as("b"))
      // both directions of every reciprocal pair survive — symmetric edges
      val mutual = g.join(rev, Seq("a", "b"))
        .select(col("a").as("src"), col("b").as("dst"))
      val twoHop = mutual.select(col("src"), col("dst").as("mid"))
        .join(mutual.select(col("src").as("mid"), col("dst")), "mid")
        .filter(col("src") =!= col("dst"))
        .select("src", "dst")
      val reach = mutual.select("src", "dst").union(twoHop).distinct()
        .groupBy("src").agg(count(lit(1)).as("reach2"))
      val deg = mutual.groupBy("src").agg(count(lit(1)).as("degree"))
      embeddings(s, d).select(col("vec_id"))
        .join(deg.withColumnRenamed("src", "vec_id"), Seq("vec_id"), "left")
        .join(reach.withColumnRenamed("src", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("degree"), lit(0L)).as("degree"),
          coalesce(col("reach2"), lit(0L)).as("reach2"),
          when(coalesce(col("degree"), lit(0L)) === 0L, lit(0.0))
            .otherwise(round(col("reach2") / col("degree"), 6)).as("expansion"))
        .orderBy("vec_id")
    }),

    /** Late-interaction (MaxSim) retrieval — the ColBERT scoring model:
      * documents and queries are MULTI-vector (here: 4 token-vectors per
      * unit, grouped from consecutive vec_ids), and
      * score(q, d) = Σ_{qv ∈ q} max_{dv ∈ d} cosine(qv, dv) — each query
      * token finds its best-matching document token independently, which
      * single-vector cosine (s42) structurally cannot express. Top-5
      * docs per query by the summed score, rounded to 6 before ranking
      * so ulp-level cosine divergence cannot flip the cut.
      *
      * Scale shape: the query side is a bounded 8-vector broadcast; the
      * corpus side streams once through the scored join (constant ×8
      * fan-out), then ONE shuffle on (query_doc, doc) stacks both the
      * per-query-token max and the summed score; the final top-k is the
      * K-bounded heap per query. At 100 TB with real token grids the
      * same plan holds — fan-out is |query tokens|, never corpus-sized. */
    /** Radius (range) similarity search — the fixed-threshold sibling
      * of s42's top-k: EVERY corpus vector within cosine ≥ 0.2 of each
      * query, not a fixed count. The membership cut runs on the e9
      * lattice so ulp-level cosine divergence between engines cannot
      * flip a boundary row.
      *
      * Scale shape: bounded query broadcast × one corpus scan (s42's
      * shape); when the query set itself is corpus-sized the banded
      * LSH tier (s43/d82) is the documented scale path. */
    "s225_radius_search" -> ((s, d) => {
      VectorFunctions.register(s)
      val q = embeddings(s, d).filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val corpus = embeddings(s, d)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
      corpus.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          e9(call_function("cosine_sim", col("qv"), col("nv"))).as("cos_e9"))
        .filter(col("cos_e9") >= 200000000L)
        .orderBy("query_id", "neighbor_id")
    }),

    /** Embedding drift monitor (q227's PSI idea lifted to vector
      * space — the check that yesterday's and today's embedding
      * distributions still agree, per label): split the corpus into
      * even/odd snapshots, quantize every component onto the e3
      * integer lattice, sum per (label, dimension) EXACTLY (integer
      * sums are order-free, so no float accumulates across the
      * shuffle), then the cosine between the two 64-dim integer sum
      * vectors per label — computed relationally as Σsr·sc / (√Σsr²·
      * √Σsc²), no array ever materializes. Drift flags when the
      * snapshot centroids diverge (cos < 0.999 on the e9 lattice).
      *
      * Scale shape: explode to (label, dim) grain — 64× row fan-out
      * but constant width — one partial+final integer aggregate, then
      * a 64-rows-per-label reduce. At 100 TB the e3 sums outgrow
      * int64 around 10¹² rows per label; the documented escape is the
      * same sums on DECIMAL(38,0) (the sum-of-xxhash64 rule). */
    "s235_embedding_drift" -> ((s, d) => {
      val base = embeddings(s, d).select(
        col("label").cast("long").as("label"),
        (col("vec_id") % 2 === 0).as("is_ref"),
        posexplode(col("embedding")).as(Seq("pos", "c")))
        .select(col("label"), col("is_ref"), col("pos"),
          floor(col("c").cast("double") * 1000.0 + 0.5).cast("long").as("q"))
      val perDim = base.groupBy("label", "pos").agg(
        sum(when(col("is_ref"), col("q")).otherwise(0L)).as("sr"),
        sum(when(!col("is_ref"), col("q")).otherwise(0L)).as("sc"))
      val dots = perDim.groupBy("label").agg(
        sum(col("sr") * col("sc")).cast("long").as("dot"),
        sum(col("sr") * col("sr")).cast("long").as("nref"),
        sum(col("sc") * col("sc")).cast("long").as("ncur"))
      val counts = embeddings(s, d).groupBy(col("label").cast("long").as("label"))
        .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("vec_id") % 2 =!= 0, 1L).otherwise(0L)).as("n_cur"))
      dots.join(counts, "label")
        .withColumn("cos_e9",
          e9(col("dot").cast("double") /
            (sqrt(col("nref").cast("double")) * sqrt(col("ncur").cast("double")))))
        .select(col("label"), col("n_ref").cast("long").as("n_ref"),
          col("n_cur").cast("long").as("n_cur"), col("dot"), col("cos_e9"),
          (col("cos_e9") < 999000000L).as("drift_flag"))
        .orderBy("label")
    }),

    /** Filtered vector search (the pgvector/Qdrant "metadata filter +
      * ANN" shape): top-5 cosine neighbors RESTRICTED to the query's
      * own label. The predicate applies BEFORE scoring — at 100 TB a
      * label-partitioned layout turns this into partition pruning, so
      * the filter must live inside the candidate join, not after the
      * top-k (post-filtering a k-limited result loses recall, the
      * classic filtered-ANN bug). Scores rank on the e9 lattice.
      *
      * Scale shape: bounded query broadcast; the corpus scan prunes on
      * label; rank window bounded at 5 per query. */
    "s230_ann_filtered" -> ((s, d) => {
      VectorFunctions.register(s)
      val q = embeddings(s, d).filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("label").as("qlabel"))
      val corpus = embeddings(s, d)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
          col("label").cast("long").as("nlabel"))
      corpus.join(broadcast(q),
        col("query_id") =!= col("neighbor_id") &&
          col("qlabel") === col("nlabel"))
        .select(col("query_id"), col("nlabel").as("label"), col("neighbor_id"),
          e9(call_function("cosine_sim", col("qv"), col("nv"))).as("cos_e9"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("query_id").orderBy(desc("cos_e9"), col("neighbor_id")))
          .cast("long"))
        .filter(col("rk") <= 5)
        .orderBy("query_id", "rk")
    }),

    /** Forced scale tier for s225: LSH-bucketed radius search. The
      * brute tier scans the whole corpus per query; when the QUERY SET
      * itself is corpus-sized that is quadratic, and this is the path
      * that survives — candidates must share one of the 8 sign-LSH
      * bands with the query (the d82 gaussian planes), then the exact
      * e9 cosine verifies. Its own banded oracle (the d82 contract:
      * precision 1.0 by exact verify; recall vs brute is the banding
      * bound, spec-measured) — NOT s42's, because banding legitimately
      * misses cross-bucket neighbors.
      *
      * Scale shape: signature scan → one equi-join on (band, band_val)
      * → bounded verify; no corpus×corpus term anywhere. */
    "s237_radius_lsh" -> ((s, d) => {
      VectorFunctions.register(s)
      val banded = DedupQueries.bandedEmbeddings(s, d)
        .select("vec_id", "band", "band_val")
      val qb = banded.filter(col("vec_id") < NumQueries)
        .toDF("query_id", "band", "band_val")
      val cand = qb
        .join(banded.toDF("neighbor_id", "band", "band_val"),
          Seq("band", "band_val"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates("query_id", "neighbor_id")
      val ev = embeddings(s, d)
      cand
        .join(ev.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
          "query_id")
        .join(ev.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")),
          "neighbor_id")
        .select(col("query_id"), col("neighbor_id"),
          e9(call_function("cosine_sim", col("qv"), col("nv"))).as("cos_e9"))
        .filter(col("cos_e9") >= 200000000L)
        .orderBy("query_id", "neighbor_id")
    }),

    /** Item-item collaborative filtering (Sarwar et al. 2001; the
      * "customers also bought" shape): part co-occurrence within a
      * customer's purchase history, cosine co/√(n₁·n₂) on the e9
      * lattice, top-3 neighbors per part. Baskets are capped at 40
      * items per customer (deterministic lowest-partkey keep) — the
      * skew guard that bounds within-basket pair fan-out to O(40²)
      * per customer regardless of how hot the customer is. Pairs below
      * MIN SUPPORT 2 are pruned immediately after counting (the
      * standard CF noise cut): at sf0.1 that is 12.7M → 413k pairs, a
      * 30× reduction in everything the scoring joins and the rank
      * window touch.
      *
      * Scale shape: fact ⋈ orders shuffles on orderkey; baskets
      * shuffle once on custkey (cap window + pair fan-out stay
      * partition-local); pair counts shuffle on the item pair; the
      * top-3 is a rank window on the item key. No broadcast of
      * anything corpus-sized, no driver state. */
    "s226_item_cf" -> ((s, d) => {
      val baskets0 = lineitem(s, d).select("l_orderkey", "l_partkey")
        .join(orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("item"))
        .distinct()
      // capped feeds BOTH self-join sides and the item-count table; one
      // materialization (2 longs/row) beats three recomputes of the
      // fact ⋈ orders + distinct + cap pipeline (the d194 rule)
      val capped = baskets0
        .withColumn("rn", row_number().over(
          Window.partitionBy("cust").orderBy("item")))
        .filter(col("rn") <= 40).drop("rn")
        .localCheckpoint()
      val nItem = capped.groupBy("item").agg(count(lit(1)).as("n"))
      val pairs = capped.as("a").join(capped.as("b"), Seq("cust"))
        .filter(col("a.item") < col("b.item"))
        .groupBy(col("a.item").as("i"), col("b.item").as("j"))
        .agg(count(lit(1)).as("co"))
        .filter(col("co") >= 2L)
      // score each UNDIRECTED pair once (cosine is symmetric), mirror
      // afterwards — halves the volume through the two count joins
      val scored = pairs
        .join(nItem.select(col("item").as("i"), col("n").as("ni")), "i")
        .join(nItem.select(col("item").as("j"), col("n").as("nj")), "j")
        .select(col("i"), col("j"), col("co"),
          e9(col("co").cast("double") /
            sqrt((col("ni") * col("nj")).cast("double"))).as("cos_e9"))
      scored.select(col("i").as("item_id"), col("j").as("neighbor_id"),
        col("co"), col("cos_e9"))
        .unionByName(scored.select(col("j").as("item_id"),
          col("i").as("neighbor_id"), col("co"), col("cos_e9")))
        .withColumn("rk", row_number().over(
          Window.partitionBy("item_id").orderBy(desc("cos_e9"), col("neighbor_id")))
          .cast("long"))
        .filter(col("rk") <= 3)
        .orderBy("item_id", "rk")
    }),

    "s163_maxsim" -> ((s, d) => {
      VectorFunctions.register(s)
      graft.functions.TopKAggregate.register(s)
      val emb = embeddings(s, d)
      val docs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
        col("vec_id").as("dv_id"), col("embedding").as("dv"))
      val qs = docs.filter(col("doc") < 2)
        .select(col("doc").as("q_doc"), col("dv_id").as("qv_id"),
          col("dv").as("qv"))
      val scored = docs.join(broadcast(qs), col("q_doc") =!= col("doc"))
        .select(col("q_doc"), col("qv_id"), col("doc"),
          call_function("cosine_sim", col("qv"), col("dv")).as("cos"))
      val summed = scored
        .groupBy("q_doc", "doc", "qv_id").agg(max("cos").as("best"))
        .groupBy("q_doc", "doc").agg(round(sum("best"), 6).as("maxsim"))
      summed.groupBy("q_doc")
        .agg(call_function("topk_by_score", col("maxsim"), col("doc"), lit(5))
          .as("top"))
        .select(col("q_doc"), posexplode(col("top")))
        .select(col("q_doc"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("doc"), col("col.score").as("maxsim"))
        .orderBy("q_doc", "rank")
    }),

    /** Hard-negative mining (the contrastive-training data miner —
      * Karpukhin et al. DPR / SimCSE shape): for each anchor vector,
      * the top-3 MOST similar vectors carrying a DIFFERENT label — the
      * negatives that actually move a contrastive loss, which random
      * negatives (t146's sampling) and same-label neighbors (s116's
      * vote) both miss. Label filtering happens BEFORE the heap, so a
      * hard negative outside the global top-5 still surfaces — this is
      * not a filter over the s94 graph.
      *
      * Scale shape: reuses the gated candidate tiers verbatim (exact
      * block-grid ≤ `spark.graft.knn.exactLimit`, banded sign-LSH
      * above) — candidates, never n²; the two label attaches are plain
      * vec_id equi-joins; the top-3 is the bounded TopKByScore heap.
      * Oracle validity domain (the s96/s117/s135 contract): exact on
      * the exact tier; above the gate the LSH candidates bound recall
      * and the all-pairs oracle no longer binds. */
    "s176_hard_negatives" -> ((s, d) => {
      val limit = s.conf.get("spark.graft.knn.exactLimit", "10000").toLong
      val n = DedupQueries.embeddingCount(s, d)
      val scored = if (n <= limit) knnExactScored(s, d, n)
        else knnLshScored(s, d)
      hardNegativesFrom(s, d, scored)
    }),

    /** Forced scale tier of s176: hard negatives over the banded
      * sign-LSH candidates — the >exactLimit code path hash-gated
      * directly (the s96/d81/d82/d83 discipline: every 100 TB tier gets
      * its own oracle, not just the auto-selected default). The oracle
      * replicates the FULL banded pipeline + label filter in SQL, so
      * precision is 1.0 vs the implementation; recall vs the exact tier
      * is the banding bound, s96's story. */
    "s178_hard_negatives_lsh" -> ((s, d) =>
      hardNegativesFrom(s, d, knnLshScored(s, d))),

    /** Clustering-quality report (Davies–Bouldin components over s90's
      * integer k-means — the "did my clustering work" readout an ML
      * pipeline checks before trusting SemDeDup/IVF downstream): per
      * cluster, the RMS intra-cluster spread Sᵢ = √(Σ‖q−cᵢ‖²/nᵢ) about
      * the floor-integer metric centroid of its FINAL members, and the
      * DB component maxⱼ (Sᵢ+Sⱼ)/Mᵢⱼ against every other centroid
      * (lower = tighter/better-separated). Every accumulation is exact
      * integer; doubles appear only in the final sqrt/divides, so both
      * engines agree to the comparator's tolerance.
      *
      * Scale shape: one posexplode aggregate for the K metric
      * centroids (K×dims rows), one zip_with fold per member against
      * its broadcast centroid, and a K² centroid cross — all
      * K-bounded; the corpus is touched exactly twice (assign +
      * spread). */
    "s180_cluster_quality" -> ((s, d) => {
      val a = kmeansAssignQ(s, d)
      val mc = a.select(col("cid"), posexplode(col("q")))
        .groupBy("cid", "pos")
        .agg(floor(sum("col").cast("double") / count(lit(1)))
          .cast("long").as("c"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("mc"))
      val stats = a.join(broadcast(mc), "cid")
        .withColumn("ss", call_function("l2sq_long", col("q"), col("mc")))
        .groupBy("cid")
        .agg(count(lit(1)).as("n_members"), sum("ss").as("ssum"))
        .withColumn("s_rms", sqrt(col("ssum").cast("double") / col("n_members")))
      val pairs = mc.select(col("cid"), col("mc"))
        .crossJoin(broadcast(mc.select(col("cid").as("cid_b"), col("mc").as("mc_b"))))
        .filter(col("cid") =!= col("cid_b"))
        .withColumn("m_ij", sqrt(
          call_function("l2sq_long", col("mc"), col("mc_b")).cast("double")))
        .filter(col("m_ij") > 0.0)
      val db = pairs
        .join(broadcast(stats.select(col("cid"), col("s_rms"))), "cid")
        .join(broadcast(stats.select(col("cid").as("cid_b"),
          col("s_rms").as("s_b"))), "cid_b")
        .groupBy("cid")
        .agg(max((col("s_rms") + col("s_b")) / col("m_ij")).as("db_comp"),
          min("m_ij").as("m_nearest"))
      stats.join(db, "cid")
        .select(col("cid").as("cluster"), col("n_members"),
          round(col("s_rms"), 9).as("s_rms"),
          round(col("m_nearest"), 9).as("m_nearest"),
          round(col("db_comp"), 9).as("db_component"))
        .orderBy("cluster")
    }),

    /** Feature covariance via the mergeable Gram-matrix aggregate
      * ([[graft.functions.GramMatrixAgg]] — the distributed
      * PCA/whitening primitive): ONE pass folds every int8-quantized
      * vector (s90's quantization, so sums are EXACT integers and
      * order-independent) into a single (d²+d+1)-long buffer; the
      * upper-triangle covariance matrix derives from that one result
      * row. The naive posexplode-twice plan fans the corpus ×d² through
      * the shuffle (4096× at d=64, fatal at d=1536); here only the
      * ~33 KB buffer crosses the exchange regardless of corpus size —
      * exactly the shape the oracle CANNOT use (it pays the ×d²
      * unnest), which is the point of gating it.
      *
      * Scale shape: partial+final ObjectHashAggregate; the long-form
      * expansion runs on the single result row's 4096 array slots. */
    /** Matryoshka truncation-quality eval (Kusupati et al. 2022 — MRL
      * embeddings are trained so PREFIXES of the vector are usable
      * embeddings; serving systems exploit that by retrieving with the
      * first 16/32 dims and paying full-dim cost only on a shortlist).
      * This query measures what prefix retrieval costs on THIS corpus:
      * recall@10 of the 16-dim and 32-dim prefix rankings against the
      * full 64-dim exact top-10, per query. All three distances are
      * e9-quantized before their rank cuts (the s140 lattice) so the
      * three top-10 sets are cross-engine identical.
      *
      * Scale shape: candidate scoring is the s42 brute tier (queries
      * broadcast, one corpus scan, three distances per pair in one
      * pass); at 100 TB the candidate generation swaps to any ANN tier
      * unchanged — the eval only needs the three per-pair distances.
      * The three windows run on queries×corpus rows of 3 longs each,
      * and the roll-up is one query_id-keyed aggregate. */
    "s197_mrl_recall" -> ((s, d) => {
      VectorFunctions.register(s)
      val emb = embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      val q = emb.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("e").as("qe"))
      val c = emb.select(col("vec_id").as("neighbor_id"), col("e").as("ne"))
      val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          e9(l2sqC(col("qe"), col("ne"))).as("d64"),
          e9(l2sqC(slice(col("qe"), 1, 16), slice(col("ne"), 1, 16))).as("d16"),
          e9(l2sqC(slice(col("qe"), 1, 32), slice(col("ne"), 1, 32))).as("d32"))
      def rk(dc: String) = row_number().over(
        Window.partitionBy("query_id").orderBy(col(dc), col("neighbor_id")))
      scored
        .withColumn("r64", rk("d64")).withColumn("r16", rk("d16"))
        .withColumn("r32", rk("d32"))
        .groupBy("query_id")
        .agg(
          sum(when(col("r64") <= K && col("r16") <= K, 1L).otherwise(0L)).as("hits_16"),
          sum(when(col("r64") <= K && col("r32") <= K, 1L).otherwise(0L)).as("hits_32"))
        .select(col("query_id"), col("hits_16"), col("hits_32"),
          (col("hits_16").cast("double") / K).as("recall_16"),
          (col("hits_32").cast("double") / K).as("recall_32"))
        .orderBy("query_id")
    }),

    /** IVF-Flat with the TRAINED coarse quantizer — s44's layout
      * upgraded from "first 8 vectors as centroids" to the s90 k-means
      * codebook (FAISS IVFx: `train()` then `add()`): inverted lists
      * are the trained assignments, queries probe their 2 nearest
      * trained centroids by the same integer distance, and probed
      * candidates score with exact e9-lattice L2. Training, probe
      * ranking, and final ranking all replay in the oracle (the
      * unrolled s90 CTE chain exposes both `af` assignments and the
      * per-(vector, centroid) distance table it probes from).
      *
      * Scale shape: the s44 story with a real codebook — lists
      * partition the corpus, a query touches nprobe/nlist of the data,
      * the codebook is K rows broadcast; training is the s90 bounded-
      * centroid driver barrier. */
    "s214_ivf_trained" -> ((s, d) => {
      VectorFunctions.register(s)
      import s.implicits._
      // same conditional spread as kmeansAssignQ (r16): the Lloyd
      // rounds and assignment otherwise inherit the scan's one partition
      val q0 = graft.Tables.conditionalSpread(s, quantizedVecs(s, d), "vec_id")
        .persist()
      try {
        val cents = kmeansCentsQ(s, d, q0)
        val lists = kmeansAssignOver(s, q0, cents)
          .select(col("vec_id").as("neighbor_id"), col("cid"))
        val wP = Window.partitionBy("query_id").orderBy(col("dist_sq"), col("cid"))
        val probes = q0.filter(col("vec_id") < NumQueries)
          .crossJoin(broadcast(cents.toDF("cid", "cv")))
          .withColumn("dist_sq", call_function("l2sq_long", col("q"), col("cv")))
          .select(col("vec_id").as("query_id"), col("cid"), col("dist_sq"))
          .withColumn("rn", row_number().over(wP))
          .filter(col("rn") <= 2)
          .select("query_id", "cid")
        val emb = embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        val wR = Window.partitionBy("query_id")
          .orderBy(col("dist_e9"), col("neighbor_id"))
        probes.join(lists, "cid")
          .filter(col("query_id") =!= col("neighbor_id"))
          .select("query_id", "neighbor_id").distinct()
          .join(emb.select(col("vec_id").as("neighbor_id"), col("e").as("ne")),
            "neighbor_id")
          .join(broadcast(emb.filter(col("vec_id") < NumQueries)
            .select(col("vec_id").as("query_id"), col("e").as("qe"))), "query_id")
          .withColumn("dist_e9", e9(l2sqC(col("qe"), col("ne"))))
          .withColumn("rank", row_number().over(wR).cast("long"))
          .filter(col("rank") <= K)
          .select("query_id", "neighbor_id", "rank", "dist_e9")
          .orderBy("query_id", "rank")
      } finally q0.unpersist()
    }),

    /** Trained product quantization — s140 with a LEARNED codebook: the
      * 16-centroid-per-subspace codebook comes from [[pqTrainedCents]]'
      * per-subspace Lloyd rounds instead of s140's first-256-vectors
      * convention (FAISS's `train()` vs a data-sample codebook). The
      * entire pipeline — int8 quantization, integer Lloyd, argmin
      * encode, integer ADC tables, shortlist, float rerank — is
      * deterministic-exact, so the oracle replays the TRAINING (both
      * Lloyd rounds unrolled as CTEs) and must reproduce the same
      * codes, the same integer approximate distances, and the same
      * final ranking byte-for-byte.
      *
      * Scale shape: training touches K×subs×dims driver longs per
      * round (the s90 bounded-centroid barrier); everything after is
      * s140's shape — broadcast codebook/tables, per-(vector,subspace)
      * argmin, 8-small-rows-per-candidate ADC. 4-bit codes (K=16)
      * halve s140's 8-bit sketch: a 64-dim float vector serves from 4
      * bytes. */
    "s210_pq_trained" -> ((s, d) => {
      VectorFunctions.register(s)
      val cents = pqTrainedCents(s, d)
      val qsv = pqQuantSubs(s, d)
      val enc = qsv.join(broadcast(cents), "sub")
        .withColumn("dist", l2sqInt(col("qv"), col("cv")))
        .groupBy("vec_id", "sub")
        .agg(min(struct(col("dist"), col("cent_id"))).getField("cent_id").as("code"))
      val qdt = qsv.filter(col("vec_id") < NumQueries)
        .join(broadcast(cents), "sub")
        .select(col("vec_id").as("query_id"), col("sub"),
          col("cent_id").as("code"), l2sqInt(col("qv"), col("cv")).as("dt"))
      val Shortlist = 5 * K
      val wA = Window.partitionBy("query_id")
        .orderBy(col("approx_dist_q"), col("neighbor_id"))
      val short = enc.join(broadcast(qdt), Seq("sub", "code"))
        .filter(col("query_id") =!= col("vec_id"))
        .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
        .agg(sum(col("dt")).as("approx_dist_q"))
        .withColumn("arank", row_number().over(wA))
        .filter(col("arank") <= Shortlist)
        .drop("arank")
      pqRerank(s, d, short, approxCol = "approx_dist_q")
    }),

    /** NDCG@10 of the 16-dim Matryoshka prefix ranking (s197's serving
      * path) against graded relevance from the exact 64-dim ranking —
      * the third member of the eval family (s123 recall of the LSH tier,
      * s197 prefix recall, s201 graded position-discounted quality):
      * the exact top-10 item at rank r carries gain 11−r, anything
      * outside gain 0; DCG discounts by 1/log2(pos+1); NDCG divides by
      * the ideal DCG (the exact ranking's own). Rank sets are e9-lattice
      * deterministic; the only doubles are the ten-term discounted sums,
      * rounded to 6 at the end.
      *
      * Scale shape: identical to s197 — one brute-scored candidate pass
      * (swap in any ANN tier at scale), two windows, a 10-row-per-query
      * roll-up. */
    "s201_ndcg" -> ((s, d) => {
      VectorFunctions.register(s)
      val emb = embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      val q = emb.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("e").as("qe"))
      val c = emb.select(col("vec_id").as("neighbor_id"), col("e").as("ne"))
      val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          e9(l2sqC(col("qe"), col("ne"))).as("d64"),
          e9(l2sqC(slice(col("qe"), 1, 16), slice(col("ne"), 1, 16))).as("d16"))
      def rk(dc: String) = row_number().over(
        Window.partitionBy("query_id").orderBy(col(dc), col("neighbor_id")))
      val ranked = scored
        .withColumn("r64", rk("d64")).withColumn("r16", rk("d16"))
        .withColumn("gain",
          when(col("r64") <= K, (lit(K + 1) - col("r64")).cast("double"))
            .otherwise(lit(0.0)))
      ranked.groupBy("query_id")
        .agg(
          sum(when(col("r16") <= K,
            col("gain") / log2(col("r16").cast("double") + 1.0))
            .otherwise(lit(0.0))).as("dcg_raw"),
          sum(when(col("r64") <= K,
            col("gain") / log2(col("r64").cast("double") + 1.0))
            .otherwise(lit(0.0))).as("idcg_raw"))
        .select(col("query_id"), round(col("dcg_raw"), 6).as("dcg"),
          round(col("idcg_raw"), 6).as("idcg"),
          round(col("dcg_raw") / col("idcg_raw"), 6).as("ndcg"))
        .orderBy("query_id")
    }),

    "s191_embedding_gram" -> ((s, d) => {
      graft.functions.GramMatrixAgg.register(s)
      val D = 64
      val maxabs = array_max(transform(col("embedding"),
        x => abs(x.cast("double"))))
      val q = embeddings(s, d).select(
        transform(col("embedding"), x =>
          when(maxabs === 0.0, 0L)
            .otherwise(floor(x.cast("double") / maxabs * 127.0).cast("long")))
          .as("q"))
      q.agg(expr(s"gram_matrix_agg(q, $D)").as("g"))
        .select(col("g"), posexplode(slice(col("g"), 1, D * D)))
        .selectExpr(
          s"CAST(pos DIV $D AS BIGINT) AS i",
          s"CAST(pos % $D AS BIGINT) AS j",
          "col AS sum_xy",
          s"g[CAST(pos DIV $D AS INT) + ${D * D}] AS sum_x",
          s"g[CAST(pos % $D AS INT) + ${D * D}] AS sum_y",
          s"g[${D * D + D}] AS n")
        .filter(col("i") <= col("j"))
        .withColumn("cov", round(
          (col("sum_xy") - col("sum_x") * col("sum_y") / col("n")) /
            (col("n") - 1L), 9))
        .orderBy("i", "j")
    })
  )

  /** Shared s176/s178 tail: label attach, different-label filter, top-3
    * bounded heap per anchor. */
  private def hardNegativesFrom(
      s: SparkSession, d: String, scored: DataFrame): DataFrame = {
    graft.functions.TopKAggregate.register(s)
    val labels = embeddings(s, d).select(col("vec_id"), col("label"))
    scored
      .join(labels.select(col("vec_id").as("src"),
        col("label").as("label")), "src")
      .join(labels.select(col("vec_id").as("dst"),
        col("label").as("neg_label")), "dst")
      .filter(col("label") =!= col("neg_label"))
      .groupBy("src", "label")
      .agg(call_function("topk_by_score", col("cosine"), col("dst"), lit(3))
        .as("top"))
      .select(col("src").as("vec_id"), col("label"), posexplode(col("top")))
      .select(col("vec_id"), col("label"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("negative_id"), col("col.score").as("cosine"))
      .orderBy("vec_id", "rank")
  }

  // ---- Product quantization (shared by s140 full-corpus / s144 IVF) ----

  private val PqSub = 8; private val PqSubDim = 8; private val PqCent = 256

  /** One row per (id, subspace): the 8-dim double subvector. */
  private def pqSubvectors(df: DataFrame, idAs: String): DataFrame =
    df.select(col("vec_id").as(idAs), posexplode(
      transform(sequence(lit(0), lit(PqSub - 1)), i =>
        slice(col("embedding").cast("array<double>"),
          (i * PqSubDim + 1).cast("int"), lit(PqSubDim)))))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "sv")

  /** Codegen'd Σ(aᵢ−bᵢ)² (functions.SquaredL2Distance) — the HOF
    * equivalent (aggregate ∘ zip_with) runs interpreted and was 2.4×
    * slower on the 2048-way encode join (PERFORMANCE.md round 8). */
  private def l2sqC(a: Column, b: Column): Column = call_function("l2sq", a, b)

  private def pqCentSubs(s: SparkSession, d: String): DataFrame =
    pqSubvectors(embeddings(s, d).filter(col("vec_id") < PqCent), "cent_id")
      .withColumnRenamed("sv", "cv")

  // ---- trained PQ (s210): per-subspace Lloyd on int8-quantized
  // subvectors — every distance/centroid is integer-exact, so the whole
  // train→encode→ADC pipeline hash-matches an unrolled SQL replica ----

  private val PqTrainK = 16
  private val PqTrainIters = 2

  /** (vec_id, sub, qv: array<long>) — s90/s191's symmetric max-abs int8
    * quantization, then the PQ subvector split. Integer subvectors make
    * Lloyd exactly replicable: distances are BIGINT sums, centroid
    * updates are floor(Σq/n) (floor of a double division whose operands
    * are small ints — exact on every engine). */
  private def pqQuantSubs(s: SparkSession, d: String): DataFrame = {
    val maxabs = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    embeddings(s, d)
      .select(col("vec_id"), col("embedding"), maxabs.as("ma"))
      .select(col("vec_id"),
        transform(col("embedding"), x =>
          when(col("ma") === 0.0, 0L)
            .otherwise(floor(x.cast("double") / col("ma") * 127.0).cast("long")))
          .as("q"))
      .select(col("vec_id"), posexplode(
        transform(sequence(lit(0), lit(PqSub - 1)), i =>
          slice(col("q"), (i * PqSubDim + 1).cast("int"), lit(PqSubDim)))))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "qv")
  }

  /** Integer L2² between two long arrays via the codegen'd double fold —
    * squares of int8 deltas sum far below 2^53, so the double is exact
    * and the long cast loses nothing. */
  private def l2sqInt(a: Column, b: Column): Column =
    l2sqC(a.cast("array<double>"), b.cast("array<double>")).cast("long")

  /** Train the per-subspace codebook: init = subvectors of vec_id <
    * PqTrainK, then PqTrainIters rounds of integer argmin-assign +
    * floor-mean update. Driver state is K×subs×dims longs (1 KB-class)
    * per round — the same bounded-centroid barrier as s90; empty
    * clusters keep their previous centroid. Returns (sub, cent_id, cv). */
  private def pqTrainedCents(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qsv = pqQuantSubs(s, d).persist()
    try {
      var cents: Map[(Int, Long), Seq[Long]] = qsv
        .filter(col("vec_id") < PqTrainK)
        .collect()
        .map(r => (r.getInt(1), r.getLong(0)) -> r.getSeq[Long](2).toList).toMap
      def centsDf = cents.toSeq
        .map { case ((sub, cid), cv) => (sub, cid, cv) }
        .toDF("sub", "cent_id", "cv")
      def assign(c: DataFrame) = qsv.join(broadcast(c), "sub")
        .withColumn("dist", l2sqInt(col("qv"), col("cv")))
        .groupBy("vec_id", "sub")
        .agg(min(struct(col("dist"), col("cent_id"))).as("m"))
        .select(col("vec_id"), col("sub"), col("m.cent_id").as("cid"))
      for (_ <- 1 to PqTrainIters) {
        val sums = assign(centsDf)
          .join(qsv, Seq("vec_id", "sub"))
          .select(col("sub"), col("cid"), posexplode(col("qv")))
          .groupBy("sub", "cid", "pos")
          .agg(sum("col").as("s"), count(lit(1)).as("n"))
          .collect()
          .groupBy(r => (r.getInt(0), r.getLong(1)))
          .map { case (k, rows) =>
            k -> rows.sortBy(_.getInt(2)).map(r =>
              math.floor(r.getLong(3).toDouble / r.getLong(4)).toLong).toList
          }
        cents = cents.map { case (k, old) => k -> sums.getOrElse(k, old) }
      }
      centsDf.localCheckpoint(true)
    } finally qsv.unpersist()
  }

  /** (vec_id, sub, code): nearest codebook centroid per subspace;
    * min(struct) is a deterministic argmin with ties to the lowest id. */
  /** Quantize a nonneg-ish double onto the 1e-9 integer lattice:
    * floor(x·1e9 + 0.5) as BIGINT. Used for every PQ distance/score so
    * sums and rank cuts are integer-exact across engines — floor() and
    * IEEE multiply are bit-stable in a way round(DOUBLE, n) (whose
    * half-rounding mode has shifted across DuckDB releases) is not. */
  private def e9(c: Column): Column = floor(c * lit(1e9) + lit(0.5)).cast("long")

  private def pqEncode(s: SparkSession, d: String): DataFrame =
    pqSubvectors(embeddings(s, d), "vec_id")
      .join(broadcast(pqCentSubs(s, d)), "sub")
      .groupBy("vec_id", "sub")
      .agg(min(struct(e9(l2sqC(col("sv"), col("cv"))).as("l2"),
        col("cent_id"))).getField("cent_id").as("code"))

  /** (query_id, sub, code, dt): ADC distance tables on the 1e-9 BIGINT
    * lattice, so the 8-row sums are integer — order-independent. */
  private def pqDistTables(s: SparkSession, d: String): DataFrame =
    pqSubvectors(embeddings(s, d).filter(col("vec_id") < NumQueries), "query_id")
      .join(broadcast(pqCentSubs(s, d)), "sub")
      .select(col("query_id"), col("sub"), col("cent_id").as("code"),
        e9(l2sqC(col("sv"), col("cv"))).as("dt"))

  /** Exact-L2 rerank of a (query_id, neighbor_id, <approxCol>) shortlist
    * down to top-K — only the shortlist's original vectors are touched. */
  private def pqRerank(s: SparkSession, d: String, short: DataFrame,
      approxCol: String = "approx_dist_e9"): DataFrame = {
    val emb = embeddings(s, d)
    val nv = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("nv"))
    val qv = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    val wE = Window.partitionBy("query_id")
      .orderBy(col("exact_dist_e9"), col("neighbor_id"))
    short.join(nv, "neighbor_id").join(broadcast(qv), "query_id")
      .withColumn("exact_dist_e9", e9(l2sqC(col("qv"), col("nv"))))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .filter(col("rank") <= K)
      .select("query_id", "neighbor_id", "rank", approxCol, "exact_dist_e9")
      .orderBy("query_id", "rank")
  }

  private val KnnK = 5

  /** The gated kNN graph (s94's tier choice — exact block grid at or
    * below the conf'd corpus gate, banded sign-LSH candidates above) as
    * a reusable frame for downstream graph consumers (s109/s116/s117). */
  private def knnGraph(s: SparkSession, d: String): DataFrame = {
    val limit = s.conf.get("spark.graft.knn.exactLimit", "10000").toLong
    val n = DedupQueries.embeddingCount(s, d)
    if (n <= limit) knnTopK(s, knnExactScored(s, d, n))
    else knnTopK(s, knnLshScored(s, d))
  }

  /** Exact kNN candidate scoring: block-grid equi-join (d41's exact-tier
    * shape — the B² block-pair grid is the only broadcast; no nested
    * loop, no corpus broadcast). B adapts to the corpus (~1000 vectors
    * per block, clamped to [8, 256]) so task size is bounded by the gate,
    * not growing with it. */
  private def knnExactScored(s: SparkSession, d: String, n: Long): DataFrame = {
    VectorFunctions.register(s)
    val B = math.min(256L, math.max(8L, (n + 999L) / 1000L))
    val a = embeddings(s, d).select(
      (col("vec_id") % B).as("bl1"), col("vec_id").as("src"),
      col("embedding").as("ev1"))
    val b = embeddings(s, d).select(
      (col("vec_id") % B).as("bl2"), col("vec_id").as("dst"),
      col("embedding").as("ev2"))
    val grid = s.range(B).selectExpr("id AS bl1")
      .crossJoin(s.range(B).selectExpr("id AS bl2"))
    a.join(broadcast(grid), "bl1").join(b, "bl2")
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        call_function("cosine_sim", col("ev1"), col("ev2")).as("cosine"))
  }

  /** LSH-tier kNN candidate scoring: directed pairs (src, dst) that share
    * any sign-LSH band in the d82 banded frame, scored with the exact
    * codegen'd cosine. Cost ∝ candidates (equi-join on (band, band_val)),
    * never n².
    *
    * The band join and the pair dedup run on BARE ID PAIRS (16 bytes per
    * row); the embedding arrays are joined back only after dedup. The
    * earlier shape carried both 256-byte vectors through the candidate
    * join and the dropDuplicates shuffle — ~30× the shuffle volume for
    * identical output (s96 at sf0.1: 11.4 → 2.0 s, PERFORMANCE.md
    * round 8). The vector re-attach joins are plain equi-joins on
    * vec_id — broadcast at test scale, shuffled co-partitions at 100 TB. */
  private def knnLshScored(s: SparkSession, d: String): DataFrame = {
    VectorFunctions.register(s)
    val banded = DedupQueries.bandedEmbeddings(s, d).select("vec_id", "band", "band_val")
    val pairs = banded.toDF("src", "band", "band_val")
      .join(banded.toDF("dst", "band", "band_val"), Seq("band", "band_val"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst")
      .dropDuplicates("src", "dst")
    val ev = embeddings(s, d)
    pairs
      .join(ev.select(col("vec_id").as("src"), col("embedding").as("sv")), "src")
      .join(ev.select(col("vec_id").as("dst"), col("embedding").as("dv")), "dst")
      .select(col("src"), col("dst"),
        call_function("cosine_sim", col("sv"), col("dv")).as("cosine"))
  }

  /** Shared kNN top-k aggregation: bounded k-element heap per src
    * (ties break to the smaller neighbor id, matching the oracles'
    * row_number order), identical for both candidate tiers. */
  private def knnTopK(s: SparkSession, scored: DataFrame): DataFrame = {
    graft.functions.TopKAggregate.register(s)
    scored.groupBy("src")
      .agg(call_function("topk_by_score", col("cosine"), col("dst"), lit(KnnK))
        .as("top"))
      .select(col("src").as("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("neighbor_id"), col("col.score").as("cosine"))
      .orderBy("vec_id", "rank")
  }

  /** Per-label centroid as an ARRAY, hash-gated through the driver
    * comparator as canonical JSON (VERDICT r12 #5 — the d270 pattern
    * extended to this last long-form array surface): element-wise mean
    * via posexplode + one aggregation, re-assembled dim-ordered and
    * serialized with to_json. The mean is computed on the e6 integer
    * lattice (floor(v·10⁶) per element, integer sum, floor-mean — the
    * kmeans-oracle floor-division pattern) so every array element is a
    * LONG: integer JSON lists render byte-identically on both engines,
    * where a double list would hit formatter divergence and summation-
    * order last-ulp drift under an exact string compare. */
  private def labelCentroids: Q = (s, d) =>
    embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")))
      .toDF("label", "dim", "v")
      .select(col("label"), col("dim"),
        floor(col("v").cast("double") * 1000000.0).cast("long").as("v6"))
      .groupBy("label", "dim")
      .agg(floor(sum("v6").cast("double") / count(lit(1))).cast("long").as("cmicro"),
        count(lit(1)).as("cnt"))
      .groupBy("label")
      .agg(
        to_json(transform(
          array_sort(collect_list(struct(col("dim"), col("cmicro")))),
          e => e.getField("cmicro"))).as("centroid_micro"),
        max("cnt").as("n"))
      .orderBy("label")

  /** DuckDB replica of the full random-hyperplane LSH pipeline: the 16×64
    * plane constants are inlined as shortest-round-trip double literals
    * (both engines then hold bit-identical doubles), sign bits come from
    * the same in-order dot products, candidates from the same 4-bit band
    * join, ranking from the same (cosine DESC, neighbor_id) order. */
  /** Shared integer-exact k-means (s90/s108): 3 Lloyd rounds over
    * max-abs int8-quantized vectors, K = [[kmeansK]] (corpus-grown,
    * VERDICT r12 #1), seeds = lowest vec_ids,
    * argmin ties to the smallest centroid id. Returns the final
    * assignment WITH the quantized vector: (vec_id, cid, dist_sq, q),
    * eagerly localCheckpoint'ed so callers consume it after the cache
    * is released.
    *
    * Scale shape: centroids are driver-side metadata (K×dims longs,
    * broadcast each round); assignment is a broadcast-join scan; the
    * update is one partial+final aggregation on (cluster, dim). The
    * checkpoint holds the quantized corpus distributed on executors —
    * same footprint as the working cache, never the driver. try/finally:
    * an executor/round failure must not leak the cached frame
    * (VERDICT r4 #7); the checkpoint materializes WHILE q0 is cached —
    * unpersisting before the lazy result executed forced a full
    * re-quantization scan at output time (ADVICE r4). */
  /** (vec_id, q): symmetric max-abs int8 quantization of every vector —
    * the integer domain the k-means family trains and assigns in. */
  private def quantizedVecs(s: SparkSession, d: String): DataFrame = {
    val maxabs = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    embeddings(s, d)
      .select(col("vec_id"), col("embedding"), maxabs.as("ma"))
      .select(col("vec_id"),
        transform(col("embedding"), x =>
          when(col("ma") === 0.0, 0L)
            .otherwise(floor(x.cast("double") / col("ma") * 127.0).cast("long")))
          .as("q"))
  }

  private def kmeansAssignOver(s: SparkSession, q0: DataFrame,
      cents: Seq[(Long, Seq[Long])]): DataFrame = {
    import s.implicits._
    VectorFunctions.register(s)
    q0.crossJoin(broadcast(cents.toDF("cid", "cv")))
      .withColumn("dist_sq", call_function("l2sq_long", col("q"), col("cv")))
      .groupBy("vec_id")
      .agg(min(struct(col("dist_sq"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.dist_sq").as("dist_sq"))
  }

  /** Cluster count for the k-means family (VERDICT r12 #1): an explicit
    * `spark.graft.kmeans.k` wins; otherwise K GROWS with the corpus as
    * max(8, ceil(n / spark.graft.kmeans.targetWidth)) from the memoized
    * probe count — the same `exactTierAt`-pattern probe every other tier
    * pays. This is what makes SemDeDup's quadratic bound a bound: pairs
    * form only within a cluster, so total pair work is Σ cᵢ² ≈ n·width —
    * LINEAR in n once width is held constant by growing K (the paper runs
    * 50k clusters on LAION for exactly this reason). A fixed K=8 made the
    * within-cluster join O(n²/K) — a scale-killer at the north star.
    * Driver/broadcast state stays metadata-sized: K×64 longs ≈ n/width ×
    * 512 B (10 B vectors at the default width → ~50 MB broadcast, and
    * `targetWidth` is the knob if a deployment needs it smaller). */
  private[graft] def kmeansK(s: SparkSession, d: String): Int =
    s.conf.getOption("spark.graft.kmeans.k").map(_.toInt).getOrElse {
      val width = s.conf.get("spark.graft.kmeans.targetWidth", "10000").toLong
      require(width > 0, s"spark.graft.kmeans.targetWidth must be > 0, got $width")
      val n = graft.functions.Percentiles.probeCount(
        s, s"$d#embeddings", embeddings(s, d).count())
      math.max(8L, (n + width - 1) / width).toInt
    }

  /** The trained k-means centroids (K = [[kmeansK]], 3 integer Lloyd
    * rounds, init = first K quantized vectors by vec_id — a global top-K,
    * i.e. TakeOrderedAndProject, never a full sort) — extracted from the
    * s90 trainer so IVF (s214) can probe the same codebook the
    * assignments came from. */
  private def kmeansCentsQ(s: SparkSession, d: String,
      q0: DataFrame): Seq[(Long, Seq[Long])] = {
    val Kc = kmeansK(s, d); val Iters = 3
    var cents: Seq[(Long, Seq[Long])] = q0.orderBy("vec_id").limit(Kc)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toSeq
    for (_ <- 1 to Iters) {
      val updated = kmeansAssignOver(s, q0, cents).join(q0, "vec_id")
        .select(col("cid"), posexplode(col("q")))
        .groupBy("cid", "pos")
        .agg(floor(sum("col").cast("double") / count(lit(1))).cast("long").as("c"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1).map(_._2).toList
        }
      cents = cents.map { case (cid, old) => cid -> updated.getOrElse(cid, old) }
    }
    cents
  }

  private def kmeansAssignQ(s: SparkSession, d: String): DataFrame = {
    // Spread the single-row-group embeddings scan to core parallelism
    // before the Lloyd rounds (r16, guide §2.5 unsplittable-input case):
    // every round's K-way distance evaluation (crossJoin × zip_with
    // aggregate) and the within-cluster pair joins otherwise inherit the
    // scan's ONE partition — profiled as 1.1–1.5 s single-task jobs per
    // round in s283. Conditional on actual scan parallelism (a many-file
    // production corpus skips the shuffle); deterministic hash of vec_id;
    // all downstream arithmetic is integer-exact, so values are
    // partitioning-independent.
    val q0 = graft.Tables.conditionalSpread(s, quantizedVecs(s, d), "vec_id")
      .persist()
    try {
      val cents = kmeansCentsQ(s, d, q0)
      kmeansAssignOver(s, q0, cents).join(q0, "vec_id")
        .select(col("vec_id"), col("cid"), col("dist_sq"), col("q"))
        .localCheckpoint(true)
    } finally q0.unpersist()
  }

  private def annLshOracle: String = {
    val planes2d = Hyperplanes.planes
      .map(row => row.map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]"))
      .mkString("[", ",\n      ", "]")
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |sig AS (
       |  SELECT vec_id, e,
       |    CAST(list_sum(list_transform(range(0, 16), p ->
       |      CASE WHEN list_sum(list_transform(range(0, 64), j ->
       |          e[CAST(j + 1 AS INTEGER)] *
       |            ($planes2d)[CAST(p + 1 AS INTEGER)][CAST(j + 1 AS INTEGER)])) >= 0.0
       |        THEN CAST(1 AS BIGINT) << CAST(p AS INTEGER) ELSE 0 END)) AS BIGINT) AS sig
       |  FROM emb),
       |banded AS (
       |  SELECT vec_id, e, CAST(g.b AS INTEGER) AS band,
       |    (sig >> CAST(g.b * 4 AS INTEGER)) & 15 AS band_val
       |  FROM sig CROSS JOIN unnest(generate_series(0, 3)) AS g(b)),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM banded q JOIN banded c
       |    ON q.band = c.band AND q.band_val = c.band_val AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < $NumQueries),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    list_cosine_similarity(qe.e, ne.e) AS cosine
       |  FROM cand
       |  JOIN emb qe ON cand.query_id = qe.vec_id
       |  JOIN emb ne ON cand.neighbor_id = ne.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
       |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replica of the IVF pipeline: same fixed coarse centroids
    * (vec_id < 8), same cosine-argmax assignment with centroid_id
    * tie-break, nprobe=2 probes, same final ranking. A neighbor lives in
    * exactly one list and a query probes two, so no pair dedup is needed
    * on either engine. */
  private def annIvfOracle: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cents AS (SELECT vec_id AS centroid_id, e AS ce FROM emb WHERE vec_id < 8),
       |assign AS (
       |  SELECT emb.vec_id, emb.e, cents.centroid_id,
       |    row_number() OVER (PARTITION BY emb.vec_id
       |      ORDER BY list_cosine_similarity(emb.e, cents.ce) DESC, cents.centroid_id)
       |      AS c_rank
       |  FROM emb CROSS JOIN cents),
       |lists AS (
       |  SELECT vec_id AS neighbor_id, e AS ne, centroid_id
       |  FROM assign WHERE c_rank <= 1),
       |probes AS (
       |  SELECT vec_id AS query_id, e AS qe, centroid_id
       |  FROM assign WHERE c_rank <= 2 AND vec_id < $NumQueries),
       |scored AS (
       |  SELECT p.query_id, l.neighbor_id, list_cosine_similarity(p.qe, l.ne) AS cosine
       |  FROM probes p JOIN lists l ON p.centroid_id = l.centroid_id
       |  WHERE p.query_id <> l.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
       |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** DuckDB replica of the two-stage quantized-rerank pipeline: same
    * per-vector max-abs int8 quantization, same integer dot products and
    * double rescale (identical operation order, so scores are
    * bit-identical), same top-3k candidate cut (row_number on approx
    * DESC, neighbor_id — the TopKByScore heap's exact order), same exact
    * cosine rerank. */
  private def annRerankOracle: String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |qz AS (
       |  SELECT vec_id, e,
       |    list_max(list_transform(e, x -> abs(x))) AS scale,
       |    list_transform(e, x ->
       |      CASE WHEN list_max(list_transform(e, y -> abs(y))) = 0.0 THEN CAST(0 AS BIGINT)
       |           ELSE CAST(floor(x / list_max(list_transform(e, y -> abs(y))) * 127.0)
       |                AS BIGINT) END) AS q
       |  FROM emb),
       |scored AS (
       |  SELECT qs.vec_id AS query_id, cs.vec_id AS neighbor_id,
       |    (CAST(CAST(list_sum(list_transform(range(1, len(qs.q) + 1), j ->
       |        qs.q[CAST(j AS INTEGER)] * cs.q[CAST(j AS INTEGER)])) AS BIGINT) AS DOUBLE)
       |      * qs.scale * cs.scale) / 16129.0 AS approx
       |  FROM qz qs JOIN qz cs ON qs.vec_id <> cs.vec_id
       |  WHERE qs.vec_id < $NumQueries),
       |cand AS (
       |  SELECT query_id, neighbor_id
       |  FROM (SELECT query_id, neighbor_id,
       |          row_number() OVER (PARTITION BY query_id
       |            ORDER BY approx DESC, neighbor_id) AS crn
       |        FROM scored)
       |  WHERE crn <= ${3 * K}),
       |rer AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    list_cosine_similarity(qe.e, ne.e) AS cosine
       |  FROM cand
       |  JOIN emb qe ON cand.query_id = qe.vec_id
       |  JOIN emb ne ON cand.neighbor_id = ne.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM rer)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
       |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** DuckDB replica of the integer-exact quantized k-means: the three
    * Lloyd rounds unroll as CTE stages (d/a = distances+argmin, m/c =
    * floor-divided centroid update with empty-cluster carry-over), all
    * arithmetic integer after the same int8 quantization as s87, so
    * centroids and assignments are bit-identical across engines. */
  /** Shared CTE chain for the k-means oracles (s90/s108): quantization
    * (qz), seeds (c0 = first `kSql` vectors by vec_id), three unrolled
    * Lloyd rounds, final distances (df) and assignment (af). `kSql` is a
    * scalar SQL expression so the scaled-K gate (s283) can derive K from
    * the corpus count exactly as [[kmeansK]] does; the default "8"
    * replays the small-corpus tier byte-for-byte. */
  private def kmeansCtes(kSql: String = "8"): String = {
    def round(r: Int): String = {
      val prev = if (r == 1) "c0" else s"c${r - 1}"
      s"""d$r AS (
         |  SELECT qz.vec_id, c.cid,
         |    list_sum(list_transform(range(1, len(qz.q) + 1), j ->
         |      (qz.q[CAST(j AS INTEGER)] - c.cv[CAST(j AS INTEGER)])
         |      * (qz.q[CAST(j AS INTEGER)] - c.cv[CAST(j AS INTEGER)]))) AS dist
         |  FROM qz CROSS JOIN $prev c),
         |a$r AS (
         |  SELECT vec_id, cid, dist FROM (
         |    SELECT vec_id, cid, dist,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM d$r) WHERE rn = 1),
         |m$r AS (
         |  SELECT a.cid, gs.j,
         |    CAST(floor(CAST(sum(qz.q[CAST(gs.j AS INTEGER)]) AS DOUBLE) / count(*)) AS BIGINT) AS c
         |  FROM a$r a JOIN qz USING (vec_id)
         |  CROSS JOIN unnest(range(1, len(qz.q) + 1)) AS gs(j)
         |  GROUP BY 1, 2),
         |c$r AS (
         |  SELECT p.cid, coalesce(n.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN (
         |    SELECT cid, list(c ORDER BY j) AS cv FROM m$r GROUP BY cid) n USING (cid))"""
    }
    s"""WITH kk AS (SELECT CAST(($kSql) AS BIGINT) AS k),
       |qz AS (
       |  SELECT vec_id,
       |    CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) = 0.0
       |      THEN list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(0 AS BIGINT))
       |      ELSE list_transform(CAST(embedding AS DOUBLE[]), x ->
       |        CAST(floor(x / list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y)))
       |          * 127.0) AS BIGINT)) END AS q
       |  FROM embeddings),
       |c0 AS (
       |  SELECT vec_id AS cid, q AS cv FROM (
       |    SELECT vec_id, q, row_number() OVER (ORDER BY vec_id) AS rn FROM qz)
       |  WHERE rn <= (SELECT k FROM kk)),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |df AS (
       |  SELECT qz.vec_id, c.cid,
       |    list_sum(list_transform(range(1, len(qz.q) + 1), j ->
       |      (qz.q[CAST(j AS INTEGER)] - c.cv[CAST(j AS INTEGER)])
       |      * (qz.q[CAST(j AS INTEGER)] - c.cv[CAST(j AS INTEGER)]))) AS dist
       |  FROM qz CROSS JOIN c3 c),
       |af AS (
       |  SELECT vec_id, cid, dist FROM (
       |    SELECT vec_id, cid, dist,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM df) WHERE rn = 1)""".stripMargin
  }

  /** DuckDB replica of s109: the s94 edge CTEs, then the three fixed-
    * point iterations unrolled (floor division `//`; positive operands,
    * so `//` and Spark's `div` agree). */
  private def pagerankOracle: String = {
    def iter(k: Int): String = {
      val prev = s"r${k - 1}"
      s"""c$k AS (
         |  SELECT e.dst, sum((r.r * 17) // (20 * od.odeg)) AS sc
         |  FROM e JOIN od USING (src) JOIN $prev r ON r.vec_id = e.src
         |  GROUP BY e.dst),
         |r$k AS (
         |  SELECT emb.vec_id,
         |    (15 * 1000000000000) // (100 * nn.n) + coalesce(c$k.sc, 0) AS r
         |  FROM embeddings emb CROSS JOIN nn
         |  LEFT JOIN c$k ON emb.vec_id = c$k.dst)"""
    }
    s"""WITH emb2 AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |scored AS (
       |  SELECT a.vec_id, b.vec_id AS neighbor_id,
       |    list_cosine_similarity(a.e, b.e) AS cosine
       |  FROM emb2 a JOIN emb2 b ON a.vec_id <> b.vec_id),
       |e AS (
       |  SELECT vec_id AS src, neighbor_id AS dst FROM (
       |    SELECT vec_id, neighbor_id,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM scored) WHERE rank <= 5),
       |od AS (SELECT src, count(*) AS odeg FROM e GROUP BY src),
       |nn AS (SELECT count(*) AS n FROM embeddings),
       |r0 AS (
       |  SELECT vec_id, 1000000000000 // nn.n AS r
       |  FROM embeddings CROSS JOIN nn),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT vec_id, CAST(r AS BIGINT) AS rank_micro,
       |  CAST(r AS DOUBLE) / 1e12 AS rank
       |FROM r3 ORDER BY vec_id""".stripMargin
  }

  private def kmeansOracle: String =
    s"""${kmeansCtes()}
       |SELECT vec_id, CAST(cid AS BIGINT) AS cluster, CAST(dist AS BIGINT) AS dist_sq
       |FROM af ORDER BY vec_id""".stripMargin

  /** DuckDB replica of s108: the shared k-means chain, then within-
    * cluster integer-exact cosine pruning (25·dot² ≥ 4·|a|²·|b|²,
    * dot > 0) keeping the lowest vec_id of each near-dup pair.
    * `kSql`/`extraCols` parameterize the s283 scaled-K replay, which
    * re-runs the ENTIRE pipeline with the derived K and carries the
    * derivation itself (`k_used`) into the hashed frame. */
  private def semdedupOracle(kSql: String = "8",
      extraCols: String = ""): String =
    s"""${kmeansCtes(kSql)},
       |qn AS (
       |  SELECT vec_id, q, list_sum(list_transform(q, x -> x * x)) AS n2 FROM qz),
       |pr AS (
       |  SELECT b.vec_id AS dup_id,
       |    list_sum(list_transform(range(1, len(qa.q) + 1), j ->
       |      qa.q[CAST(j AS INTEGER)] * qb.q[CAST(j AS INTEGER)])) AS dot,
       |    qa.n2 * qb.n2 AS nn
       |  FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  JOIN qn qa ON qa.vec_id = a.vec_id
       |  JOIN qn qb ON qb.vec_id = b.vec_id),
       |dups AS (
       |  SELECT DISTINCT dup_id FROM pr
       |  WHERE dot > 0 AND 25 * dot * dot >= 4 * nn)
       |SELECT af.vec_id, CAST(af.cid AS BIGINT) AS cluster$extraCols
       |FROM af LEFT JOIN dups ON af.vec_id = dups.dup_id
       |WHERE dups.dup_id IS NULL
       |ORDER BY af.vec_id""".stripMargin

  /** K expression for the s283 scaled-K replay: the [[kmeansK]]
    * derivation in SQL against the same corpus the Spark side probes. */
  private def scaledKSql(width: Int): String =
    s"GREATEST(8, CAST(ceil((SELECT count(*) FROM embeddings) / $width.0) AS BIGINT))"

  val oracleSql: Map[String, String] = Map(
    "s103_hybrid_retrieval" ->
      s"""WITH tokens AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |  FROM documents),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY 1),
         |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         |qt AS (SELECT DISTINCT doc_id AS query_id, term FROM tokens
         |       WHERE doc_id < $NumQueries),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY 1, 2),
         |tfq AS (SELECT tf.* FROM tf JOIN (SELECT DISTINCT term FROM qt) q USING (term)),
         |dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY 1),
         |contrib AS (
         |  SELECT qt.query_id, tfq.doc_id,
         |    CAST(round(
         |      ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
         |        * (CAST(tf AS DOUBLE) * 2.2)
         |        / (CAST(tf AS DOUBLE)
         |           + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl)), 9)
         |      AS DECIMAL(28,9)) AS c
         |  FROM tfq JOIN dfq USING (term) JOIN qt USING (term)
         |    JOIN dl ON dl.doc_id = tfq.doc_id CROSS JOIN stats
         |  WHERE tfq.doc_id <> qt.query_id),
         |lex AS (
         |  SELECT query_id, doc_id, sum(c) AS s FROM contrib GROUP BY 1, 2),
         |lext AS (
         |  SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS lex_rank
         |  FROM lex QUALIFY lex_rank <= $K),
         |vec AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
         |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |                           CAST(c.embedding AS DOUBLE[])) AS cosine
         |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < $NumQueries),
         |vect AS (
         |  SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS vec_rank
         |  FROM vec QUALIFY vec_rank <= $K),
         |fused AS (
         |  SELECT coalesce(l.query_id, v.query_id) AS query_id,
         |    coalesce(l.doc_id, v.doc_id) AS doc_id,
         |    CAST(l.lex_rank AS BIGINT) AS lex_rank,
         |    CAST(v.vec_rank AS BIGINT) AS vec_rank,
         |    coalesce(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), CAST(0.0 AS DOUBLE))
         |      + coalesce(CAST(1.0 AS DOUBLE) / (60 + v.vec_rank), CAST(0.0 AS DOUBLE)) AS rrf
         |  FROM lext l FULL OUTER JOIN vect v
         |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
         |SELECT query_id, doc_id, lex_rank, vec_rank, rrf,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id)
         |    AS BIGINT) AS fused_rank
         |FROM fused QUALIFY fused_rank <= $K
         |ORDER BY query_id, fused_rank""".stripMargin,
    "s43_ann_lsh" -> annLshOracle,
    "s44_ann_ivf" -> annIvfOracle,
    "s87_ann_rerank" -> annRerankOracle,
    "s90_kmeans" -> kmeansOracle,
    "s108_semdedup" -> semdedupOracle(),
    // the s108 replay with the GROWN K derived in SQL exactly as
    // kmeansK derives it from the probe count (VERDICT r12 #1)
    "s283_semdedup_scaled" -> semdedupOracle(scaledKSql(ScaledWidth),
      extraCols = ", (SELECT k FROM kk) AS k_used"),
    "s109_pagerank" -> pagerankOracle,
    "s94_knn_graph" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |scored AS (
        |  SELECT a.vec_id, b.vec_id AS neighbor_id,
        |    list_cosine_similarity(a.e, b.e) AS cosine
        |  FROM emb a JOIN emb b ON a.vec_id <> b.vec_id),
        |ranked AS (
        |  SELECT vec_id, neighbor_id, cosine,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
        |FROM ranked WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin,
    // banded-pipeline replica (the d82 playbook): same sign-LSH
    // signatures (DedupQueries.lshSigCtes — inlined gaussian planes,
    // in-order dots), same any-band directed candidate join, same exact
    // cosine + (DESC, neighbor_id) top-5 as the TopKByScore heap
    "s96_knn_graph_lsh" ->
      s"""WITH ${DedupQueries.lshSigCtes},
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
         |  FROM sig a JOIN sig b
         |    ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id <> b.vec_id),
         |scored AS (
         |  SELECT c.src AS vec_id, c.dst AS neighbor_id,
         |    list_cosine_similarity(e1.e, e2.e) AS cosine
         |  FROM cand c
         |  JOIN emb e1 ON c.src = e1.vec_id
         |  JOIN emb e2 ON c.dst = e2.vec_id),
         |ranked AS (
         |  SELECT vec_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
         |FROM ranked WHERE rank <= $KnnK ORDER BY vec_id, rank""".stripMargin,
    // s94's exact-graph replica (the driver gates below the tier cut)
    // extended with the same majority vote: count per neighbor label in
    // the top-5, argmax ordered (count DESC, label ASC) like the struct max
    "s116_knn_classify" ->
      s"""WITH emb AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings),
         |scored AS (
         |  SELECT a.vec_id, b.vec_id AS nb, CAST(b.label AS BIGINT) AS nlabel,
         |    list_cosine_similarity(a.e, b.e) AS cosine
         |  FROM emb a JOIN emb b ON a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT vec_id, nb, nlabel,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cosine DESC, nb) AS rank
         |  FROM scored),
         |votes AS (
         |  SELECT vec_id, nlabel, count(*) AS cnt
         |  FROM ranked WHERE rank <= $KnnK GROUP BY 1, 2),
         |best AS (
         |  SELECT vec_id, nlabel, cnt,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cnt DESC, nlabel) AS rk
         |  FROM votes)
         |SELECT b.vec_id, CAST(e.label AS BIGINT) AS label,
         |  b.nlabel AS predicted_label, CAST(b.cnt AS BIGINT) AS votes
         |FROM best b JOIN embeddings e USING (vec_id)
         |WHERE rk = 1 ORDER BY vec_id""".stripMargin,
    // s94's exact-graph replica joined with its own reversal: the pair
    // survives iff both directed top-5 edges exist
    "s117_mutual_knn" ->
      s"""WITH emb AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |scored AS (
         |  SELECT a.vec_id, b.vec_id AS nb,
         |    list_cosine_similarity(a.e, b.e) AS cosine
         |  FROM emb a JOIN emb b ON a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT vec_id, nb, cosine,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cosine DESC, nb) AS rank
         |  FROM scored),
         |top AS (SELECT vec_id, nb, cosine FROM ranked WHERE rank <= $KnnK)
         |SELECT f.vec_id AS vec_a, f.nb AS vec_b, f.cosine
         |FROM top f JOIN top r ON f.vec_id = r.nb AND f.nb = r.vec_id
         |WHERE f.vec_id < f.nb
         |ORDER BY vec_a, vec_b""".stripMargin,
    // s117's mutual-edge replica closed transitively (d62's recursive-CTE
    // shape); isolated vectors keep themselves via the LEFT JOIN
    "s156_semantic_clusters" ->
      s"""WITH RECURSIVE emb AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |scored AS (
         |  SELECT a.vec_id, b.vec_id AS nb,
         |    list_cosine_similarity(a.e, b.e) AS cosine
         |  FROM emb a JOIN emb b ON a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT vec_id, nb,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cosine DESC, nb) AS rank
         |  FROM scored),
         |top AS (SELECT vec_id, nb FROM ranked WHERE rank <= $KnnK),
         |mut AS (
         |  SELECT f.vec_id AS a, f.nb AS b
         |  FROM top f JOIN top r ON f.vec_id = r.nb AND f.nb = r.vec_id
         |  WHERE f.vec_id < f.nb),
         |edges AS (SELECT a AS s, b AS t FROM mut UNION SELECT b, a FROM mut),
         |reach(s, t) AS (
         |  SELECT s, t FROM edges
         |  UNION
         |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
         |nodes AS (SELECT DISTINCT s FROM edges),
         |closure AS (SELECT s, t FROM reach UNION ALL SELECT s, s FROM nodes),
         |m AS (SELECT s AS vec_id, min(t) AS cluster_id FROM closure GROUP BY s),
         |lab AS (
         |  SELECT v.vec_id, coalesce(m.cluster_id, v.vec_id) AS cluster_id
         |  FROM (SELECT vec_id FROM embeddings) v
         |  LEFT JOIN m ON v.vec_id = m.vec_id)
         |SELECT vec_id, cluster_id,
         |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
         |FROM lab ORDER BY vec_id""".stripMargin,

    // s117's mutual-edge replica extended by the two wedge/closure joins;
    // low-id orientation forms each triangle exactly once
    "s135_knn_triangles" ->
      s"""WITH emb AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |scored AS (
         |  SELECT a.vec_id, b.vec_id AS nb,
         |    list_cosine_similarity(a.e, b.e) AS cosine
         |  FROM emb a JOIN emb b ON a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT vec_id, nb, cosine,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cosine DESC, nb) AS rank
         |  FROM scored),
         |top AS (SELECT vec_id, nb FROM ranked WHERE rank <= $KnnK),
         |mut AS (
         |  SELECT f.vec_id AS a, f.nb AS b
         |  FROM top f JOIN top r ON f.vec_id = r.nb AND f.nb = r.vec_id
         |  WHERE f.vec_id < f.nb),
         |tri AS (
         |  SELECT e1.a, e1.b, e2.b AS c
         |  FROM mut e1 JOIN mut e2 ON e1.b = e2.a
         |  JOIN mut e3 ON e3.a = e1.a AND e3.b = e2.b),
         |corners AS (
         |  SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
         |  UNION ALL SELECT c FROM tri),
         |tc AS (SELECT v, count(*) AS n_triangles FROM corners GROUP BY 1),
         |dg AS (
         |  SELECT v, count(*) AS mutual_degree FROM (
         |    SELECT a AS v FROM mut UNION ALL SELECT b FROM mut) GROUP BY 1)
         |SELECT e.vec_id,
         |  CAST(coalesce(dg.mutual_degree, 0) AS BIGINT) AS mutual_degree,
         |  CAST(coalesce(tc.n_triangles, 0) AS BIGINT) AS n_triangles
         |FROM embeddings e
         |LEFT JOIN dg ON e.vec_id = dg.v
         |LEFT JOIN tc ON e.vec_id = tc.v
         |ORDER BY vec_id""".stripMargin,
    // both gated replicas composed: the exact all-pairs top-5 as truth,
    // the banded sign-LSH pipeline as candidate, hits counted per vector
    "s123_ann_recall_eval" ->
      s"""WITH ${DedupQueries.lshSigCtes},
         |ex_scored AS (
         |  SELECT a.vec_id, b.vec_id AS nb,
         |    list_cosine_similarity(a.e, b.e) AS cosine
         |  FROM emb a JOIN emb b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id % 5 = 0 AND a.vec_id < 2500),
         |ex_ranked AS (
         |  SELECT vec_id, nb,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cosine DESC, nb) AS rank
         |  FROM ex_scored),
         |ex_top AS (SELECT vec_id, nb FROM ex_ranked WHERE rank <= $KnnK),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
         |  FROM sig a JOIN sig b
         |    ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id <> b.vec_id),
         |l_scored AS (
         |  SELECT c.src AS vec_id, c.dst AS nb,
         |    list_cosine_similarity(e1.e, e2.e) AS cosine
         |  FROM cand c
         |  JOIN emb e1 ON c.src = e1.vec_id
         |  JOIN emb e2 ON c.dst = e2.vec_id
         |  WHERE c.src % 5 = 0 AND c.src < 2500),
         |l_ranked AS (
         |  SELECT vec_id, nb,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cosine DESC, nb) AS rank
         |  FROM l_scored),
         |l_top AS (SELECT vec_id, nb, 1 AS hit FROM l_ranked WHERE rank <= $KnnK)
         |SELECT e.vec_id,
         |  CAST(count(*) AS BIGINT) AS k,
         |  CAST(sum(coalesce(l.hit, 0)) AS BIGINT) AS n_hits,
         |  CAST(sum(coalesce(l.hit, 0)) AS DOUBLE) / count(*) AS recall_at_k
         |FROM ex_top e LEFT JOIN l_top l ON e.vec_id = l.vec_id AND e.nb = l.nb
         |GROUP BY e.vec_id ORDER BY e.vec_id""".stripMargin,
    // the s44 IVF replica widened to all-vectors-as-probes: same coarse
    // assignment (argmax cosine, centroid-id tie-break), nprobe=2 vs 1
    // home list, same exact-cosine (DESC, neighbor_id) top-5
    "s119_knn_graph_ivf" ->
      s"""WITH emb AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |cents AS (SELECT vec_id AS centroid_id, e AS ce FROM emb WHERE vec_id < 8),
         |assign AS (
         |  SELECT emb.vec_id, emb.e, cents.centroid_id,
         |    row_number() OVER (PARTITION BY emb.vec_id
         |      ORDER BY list_cosine_similarity(emb.e, cents.ce) DESC, cents.centroid_id)
         |      AS c_rank
         |  FROM emb CROSS JOIN cents),
         |lists AS (
         |  SELECT vec_id AS neighbor_id, e AS ne, centroid_id
         |  FROM assign WHERE c_rank <= 1),
         |probes AS (
         |  SELECT vec_id, e AS qe, centroid_id
         |  FROM assign WHERE c_rank <= 3),
         |scored AS (
         |  SELECT p.vec_id, l.neighbor_id, list_cosine_similarity(p.qe, l.ne) AS cosine
         |  FROM probes p JOIN lists l ON p.centroid_id = l.centroid_id
         |  WHERE p.vec_id <> l.neighbor_id),
         |ranked AS (
         |  SELECT vec_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
         |FROM ranked WHERE rank <= $KnnK ORDER BY vec_id, rank""".stripMargin,
    "s42_ann_brute" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |                           CAST(c.embedding AS DOUBLE[])) AS cosine
         |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < $NumQueries),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
         |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    "s67_vector_norms" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS l2_norm,
        |  list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS max_abs_component
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "s75_quantize_int8" ->
      """WITH base AS (
        |  SELECT vec_id,
        |    list_min(list_transform(CAST(embedding AS DOUBLE[]), x -> x)) AS vmin,
        |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> x)) AS vmax,
        |    embedding
        |  FROM embeddings),
        |flat AS (
        |  SELECT vec_id, vmin, vmax,
        |    CAST(g.i - 1 AS BIGINT) AS dim,
        |    CAST(embedding[g.i] AS DOUBLE) AS v
        |  FROM base CROSS JOIN unnest(generate_series(1, len(embedding))) AS g(i))
        |SELECT vec_id, dim,
        |  CASE WHEN vmax = vmin THEN 0
        |       ELSE CAST(floor((v - vmin) / (vmax - vmin) * 255.0) AS BIGINT) END AS qval,
        |  round(vmin, 6) AS "offset",
        |  round((vmax - vmin) / 255.0, 9) AS scale
        |FROM flat ORDER BY vec_id, dim""".stripMargin,
    // e6-lattice floor-mean per (label, dim), re-listed dim-ordered and
    // serialized as canonical JSON — integer lists render identically on
    // both engines (the d270 contract)
    "s53_label_centroids" ->
      """WITH flat AS (
        |  SELECT label, CAST(g.i - 1 AS INTEGER) AS dim,
        |    CAST(embedding[g.i] AS DOUBLE) AS v
        |  FROM embeddings
        |  CROSS JOIN unnest(generate_series(1, len(embedding))) AS g(i)),
        |pl AS (
        |  SELECT label, dim,
        |    CAST(floor(CAST(sum(CAST(floor(v * 1000000) AS BIGINT)) AS DOUBLE)
        |      / count(*)) AS BIGINT) AS cmicro,
        |    count(*) AS cnt
        |  FROM flat GROUP BY 1, 2)
        |SELECT label,
        |  CAST(to_json(list(cmicro ORDER BY dim)) AS VARCHAR) AS centroid_micro,
        |  max(cnt) AS n
        |FROM pl GROUP BY label ORDER BY label""".stripMargin,
    // same hex-pair byte decomposition as the m46/t66 oracles, same
    // 64-segment mean pooling, same double-cast cosine as s42's oracle
    "s139_cross_modal" ->
      s"""WITH raw AS (
         |  SELECT doc_id, upper(hex(encode(text))) AS hx,
         |    octet_length(encode(text)) AS n
         |  FROM documents WHERE octet_length(encode(text)) > 0),
         |b AS (
         |  SELECT doc_id, n,
         |    list_transform(range(0, n), p ->
         |      CAST((strpos('0123456789ABCDEF', substr(hx, CAST(2 * p + 1 AS INTEGER), 1)) - 1) * 16 +
         |           (strpos('0123456789ABCDEF', substr(hx, CAST(2 * p + 2 AS INTEGER), 1)) - 1)
         |        AS DOUBLE)) AS bl
         |  FROM raw),
         |media AS (
         |  SELECT doc_id,
         |    list_transform(range(0, 64), j ->
         |      CASE WHEN (j + 1) * n // 64 - j * n // 64 <= 0 THEN 0.0
         |      ELSE list_sum(bl[CAST(j * n // 64 + 1 AS INTEGER):CAST((j + 1) * n // 64 AS INTEGER)])
         |           / CAST((j + 1) * n // 64 - j * n // 64 AS DOUBLE) END) AS mv
         |  FROM b),
         |scored AS (
         |  SELECT q.vec_id AS query_id, m.doc_id,
         |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), m.mv) AS cosine
         |  FROM embeddings q CROSS JOIN media m
         |  WHERE q.vec_id < $NumQueries),
         |ranked AS (
         |  SELECT query_id, doc_id, cosine,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, doc_id) AS rank
         |  FROM scored)
         |SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, cosine
         |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    // same 8x8 subvector split, same argmin-with-id-tiebreak encode, same
    // 1e-9-lattice DECIMAL(28,9) ADC sum as the Spark side
    "s140_pq_ann" ->
      s"""WITH $pqCtesSql,
         |scored AS (
         |  SELECT d.query_id, x.vec_id AS neighbor_id,
         |    CAST(sum(d.dt) AS BIGINT) AS approx_dist_e9
         |  FROM encd x JOIN qdt d ON x.sub = d.sub AND x.code = d.cent_id
         |  WHERE d.query_id <> x.vec_id
         |  GROUP BY 1, 2),
         |short AS (
         |  SELECT query_id, neighbor_id, approx_dist_e9,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx_dist_e9, neighbor_id) AS arank
         |  FROM scored QUALIFY arank <= ${5 * K}),
         |reranked AS (
         |  SELECT s.query_id, s.neighbor_id, s.approx_dist_e9,
         |    ${e9Sql(l2ChainSql("q.emb", "c.emb", 64))} AS exact_dist_e9
         |  FROM short s
         |  JOIN e q ON q.vec_id = s.query_id
         |  JOIN e c ON c.vec_id = s.neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, approx_dist_e9, exact_dist_e9,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY exact_dist_e9, neighbor_id) AS rank
         |  FROM reranked)
         |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
         |  approx_dist_e9, exact_dist_e9
         |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    // s44's coarse assignment (8 cents, probe 2) pruning s140's ADC+rerank
    "s144_ivf_pq" ->
      s"""WITH $pqCtesSql,
         |cents AS (SELECT vec_id AS centroid_id, emb AS ce FROM e WHERE vec_id < 8),
         |assign AS (
         |  SELECT v.vec_id, c.centroid_id,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY ${e9Sql(cosChainSql("v.emb", "c.ce", 64))} DESC,
         |        c.centroid_id)
         |      AS c_rank
         |  FROM e v CROSS JOIN cents c),
         |lists AS (SELECT vec_id AS neighbor_id, centroid_id FROM assign WHERE c_rank <= 1),
         |probes AS (
         |  SELECT vec_id AS query_id, centroid_id FROM assign
         |  WHERE c_rank <= 2 AND vec_id < $NumQueries),
         |cand AS (
         |  SELECT p.query_id, l.neighbor_id
         |  FROM probes p JOIN lists l USING (centroid_id)
         |  WHERE p.query_id <> l.neighbor_id),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    CAST(sum(d.dt) AS BIGINT) AS approx_dist_e9
         |  FROM cand c
         |  JOIN encd x ON x.vec_id = c.neighbor_id
         |  JOIN qdt d ON d.query_id = c.query_id AND d.sub = x.sub
         |    AND d.cent_id = x.code
         |  GROUP BY 1, 2),
         |short AS (
         |  SELECT query_id, neighbor_id, approx_dist_e9,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx_dist_e9, neighbor_id) AS arank
         |  FROM scored QUALIFY arank <= ${5 * K}),
         |reranked AS (
         |  SELECT s.query_id, s.neighbor_id, s.approx_dist_e9,
         |    ${e9Sql(l2ChainSql("q.emb", "c.emb", 64))} AS exact_dist_e9
         |  FROM short s
         |  JOIN e q ON q.vec_id = s.query_id
         |  JOIN e c ON c.vec_id = s.neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, approx_dist_e9, exact_dist_e9,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY exact_dist_e9, neighbor_id) AS rank
         |  FROM reranked)
         |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
         |  approx_dist_e9, exact_dist_e9
         |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    // s42's top-K replica, then the greedy MMR recursion unrolled into
    // three argmax CTEs; scores rounded to 9 before each argmax on both
    // engines so cosine ulps cannot flip a pick
    "s159_mmr_diversify" ->
      s"""WITH emb AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    list_cosine_similarity(q.e, c.e) AS rel, c.e AS ce
         |  FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < $NumQueries),
         |cand AS (
         |  SELECT query_id, cand_id, rel, ce FROM (
         |    SELECT query_id, cand_id, rel, ce,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY rel DESC, cand_id) AS rank
         |    FROM scored) WHERE rank <= $K),
         |p1 AS (
         |  SELECT query_id, cand_id AS pk1, ce AS pk1v, rel AS pk1rel FROM (
         |    SELECT query_id, cand_id, ce, rel,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY rel DESC, cand_id) AS rn
         |    FROM cand) WHERE rn = 1),
         |r1 AS (
         |  SELECT c.query_id, c.cand_id, c.rel, c.ce,
         |    list_cosine_similarity(c.ce, p.pk1v) AS sim1,
         |    round(0.7 * c.rel - 0.3 * list_cosine_similarity(c.ce, p.pk1v), 9)
         |      AS score2
         |  FROM cand c JOIN p1 p USING (query_id)
         |  WHERE c.cand_id <> p.pk1),
         |p2 AS (
         |  SELECT query_id, cand_id AS pk2, ce AS pk2v, rel AS pk2rel,
         |    score2 AS pk2mmr FROM (
         |    SELECT query_id, cand_id, ce, rel, score2,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score2 DESC, cand_id) AS rn
         |    FROM r1) WHERE rn = 1),
         |r2 AS (
         |  SELECT r.query_id, r.cand_id, r.rel,
         |    round(0.7 * r.rel - 0.3 * greatest(r.sim1,
         |      list_cosine_similarity(r.ce, p.pk2v)), 9) AS score3
         |  FROM r1 r JOIN p2 p USING (query_id)
         |  WHERE r.cand_id <> p.pk2),
         |p3 AS (
         |  SELECT query_id, cand_id AS pk3, rel AS pk3rel, score3 AS pk3mmr
         |  FROM (
         |    SELECT query_id, cand_id, rel, score3,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score3 DESC, cand_id) AS rn
         |    FROM r2) WHERE rn = 1)
         |SELECT query_id, CAST(1 AS BIGINT) AS pick_rank, pk1 AS vec_id,
         |  round(pk1rel, 6) AS rel, round(0.7 * pk1rel, 6) AS mmr FROM p1
         |UNION ALL
         |SELECT query_id, CAST(2 AS BIGINT), pk2, round(pk2rel, 6),
         |  round(pk2mmr, 6) FROM p2
         |UNION ALL
         |SELECT query_id, CAST(3 AS BIGINT), pk3, round(pk3rel, 6),
         |  round(pk3mmr, 6) FROM p3
         |ORDER BY query_id, pick_rank""".stripMargin,
    // s117's mutual-edge replica kept in BOTH directions, extended one
    // join deeper for the 2-hop reach; LEFT JOIN covers isolated vectors
    "s161_khop_reach" ->
      s"""WITH emb AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |scored AS (
         |  SELECT a.vec_id, b.vec_id AS nb,
         |    list_cosine_similarity(a.e, b.e) AS cosine
         |  FROM emb a JOIN emb b ON a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT vec_id, nb, cosine,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cosine DESC, nb) AS rank
         |  FROM scored),
         |top AS (SELECT vec_id, nb FROM ranked WHERE rank <= $KnnK),
         |mut AS (
         |  SELECT f.vec_id AS src, f.nb AS dst
         |  FROM top f JOIN top r ON f.vec_id = r.nb AND f.nb = r.vec_id),
         |two AS (
         |  SELECT a.src, b.dst FROM mut a JOIN mut b ON a.dst = b.src
         |  WHERE a.src <> b.dst),
         |reach AS (
         |  SELECT src, count(*) AS reach2 FROM (
         |    SELECT DISTINCT src, dst FROM (
         |      SELECT src, dst FROM mut UNION ALL SELECT src, dst FROM two))
         |  GROUP BY 1),
         |deg AS (SELECT src, count(*) AS degree FROM mut GROUP BY 1)
         |SELECT v.vec_id,
         |  coalesce(d.degree, 0) AS degree,
         |  coalesce(r.reach2, 0) AS reach2,
         |  CASE WHEN coalesce(d.degree, 0) = 0 THEN 0.0
         |       ELSE round(r.reach2 / d.degree, 6) END AS expansion
         |FROM embeddings v
         |LEFT JOIN deg d ON d.src = v.vec_id
         |LEFT JOIN reach r ON r.src = v.vec_id
         |ORDER BY v.vec_id""".stripMargin,
    "s235_embedding_drift" ->
      """WITH q AS (
        |  SELECT CAST(label AS BIGINT) AS label, vec_id % 2 = 0 AS is_ref,
        |    CAST(g.i AS BIGINT) AS pos,
        |    CAST(floor(CAST(embedding[CAST(g.i AS INTEGER)] AS DOUBLE) * 1000
        |      + 0.5) AS BIGINT) AS qv
        |  FROM embeddings CROSS JOIN unnest(generate_series(1, 64)) AS g(i)),
        |pd AS (
        |  SELECT label, pos,
        |    CAST(sum(CASE WHEN is_ref THEN qv ELSE 0 END) AS BIGINT) AS sr,
        |    CAST(sum(CASE WHEN is_ref THEN 0 ELSE qv END) AS BIGINT) AS sc
        |  FROM q GROUP BY 1, 2),
        |d AS (
        |  SELECT label, CAST(sum(sr * sc) AS BIGINT) AS dot,
        |    CAST(sum(sr * sr) AS BIGINT) AS nref,
        |    CAST(sum(sc * sc) AS BIGINT) AS ncur
        |  FROM pd GROUP BY 1),
        |c AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_ref,
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_cur
        |  FROM embeddings GROUP BY 1),
        |r AS (
        |  SELECT d.label, c.n_ref, c.n_cur, d.dot,
        |    CAST(floor(CAST(d.dot AS DOUBLE)
        |      / (sqrt(CAST(d.nref AS DOUBLE)) * sqrt(CAST(d.ncur AS DOUBLE)))
        |      * 1e9 + 0.5) AS BIGINT) AS cos_e9
        |  FROM d JOIN c USING (label))
        |SELECT label, n_ref, n_cur, dot, cos_e9,
        |  cos_e9 < 999000000 AS drift_flag
        |FROM r ORDER BY label""".stripMargin,
    "s230_ann_filtered" ->
      s"""WITH emb AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         |    CAST(label AS BIGINT) AS label
         |  FROM embeddings),
         |sc AS (
         |  SELECT q.vec_id AS query_id, c.label, c.vec_id AS neighbor_id,
         |    ${e9Sql(cosChainSql("q.emb", "c.emb", 64))} AS cos_e9
         |  FROM emb q JOIN emb c
         |    ON q.vec_id <> c.vec_id AND q.label = c.label
         |  WHERE q.vec_id < $NumQueries),
         |r AS (
         |  SELECT query_id, label, neighbor_id, cos_e9,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_e9 DESC, neighbor_id) AS BIGINT) AS rk
         |  FROM sc)
         |SELECT query_id, label, neighbor_id, cos_e9, rk FROM r
         |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // the banded pipeline replicated (d82's sig CTEs) + exact e9 verify
    "s237_radius_lsh" ->
      s"""WITH ${DedupQueries.lshSigCtes},
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM sig q JOIN sig c
         |    ON q.band = c.band AND q.band_val = c.band_val
         |    AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < $NumQueries),
         |sc AS (
         |  SELECT cand.query_id, cand.neighbor_id,
         |    ${e9Sql(cosChainSql("e1.e", "e2.e", 64))} AS cos_e9
         |  FROM cand
         |  JOIN emb e1 ON cand.query_id = e1.vec_id
         |  JOIN emb e2 ON cand.neighbor_id = e2.vec_id)
         |SELECT query_id, neighbor_id, cos_e9 FROM sc
         |WHERE cos_e9 >= 200000000
         |ORDER BY query_id, neighbor_id""".stripMargin,
    "s225_radius_search" ->
      s"""WITH emb AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |sc AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${e9Sql(cosChainSql("q.emb", "c.emb", 64))} AS cos_e9
         |  FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < $NumQueries)
         |SELECT query_id, neighbor_id, cos_e9 FROM sc
         |WHERE cos_e9 >= 200000000
         |ORDER BY query_id, neighbor_id""".stripMargin,
    "s226_item_cf" -> {
      val cos = "CAST(d.co AS DOUBLE) / sqrt(CAST(x.n * y.n AS DOUBLE))"
      s"""WITH b0 AS (
         |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         |capped AS (
         |  SELECT cust, item FROM (
         |    SELECT cust, item,
         |      row_number() OVER (PARTITION BY cust ORDER BY item) AS rn
         |    FROM b0) WHERE rn <= 40),
         |ni AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM capped GROUP BY 1),
         |pairs AS (
         |  SELECT a.item AS i, b.item AS j, CAST(count(*) AS BIGINT) AS co
         |  FROM capped a JOIN capped b ON a.cust = b.cust AND a.item < b.item
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |directed AS (
         |  SELECT i, j, co FROM pairs
         |  UNION ALL SELECT j AS i, i AS j, co FROM pairs),
         |scored AS (
         |  SELECT d.i AS item_id, d.j AS neighbor_id, d.co,
         |    ${e9Sql(cos)} AS cos_e9
         |  FROM directed d JOIN ni x ON d.i = x.item JOIN ni y ON d.j = y.item),
         |r AS (
         |  SELECT item_id, neighbor_id, co, cos_e9,
         |    CAST(row_number() OVER (PARTITION BY item_id
         |      ORDER BY cos_e9 DESC, neighbor_id) AS BIGINT) AS rk
         |  FROM scored)
         |SELECT item_id, neighbor_id, co, cos_e9, rk FROM r WHERE rk <= 3
         |ORDER BY item_id, rk""".stripMargin
    },
    // 4-vector units from consecutive vec_ids; per-query-token max, then
    // the summed MaxSim rounded to 6 BEFORE the rank cut (ulp guard)
    "s163_maxsim" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |docs AS (
        |  SELECT CAST(vec_id // 4 AS BIGINT) AS doc, vec_id AS dv_id, e
        |  FROM emb),
        |qs AS (
        |  SELECT doc AS q_doc, dv_id AS qv_id, e AS qe
        |  FROM docs WHERE doc < 2),
        |scored AS (
        |  SELECT q.q_doc, q.qv_id, d.doc,
        |    list_cosine_similarity(q.qe, d.e) AS cos
        |  FROM docs d JOIN qs q ON q.q_doc <> d.doc),
        |best AS (
        |  SELECT q_doc, doc, qv_id, max(cos) AS best
        |  FROM scored GROUP BY 1, 2, 3),
        |summed AS (
        |  SELECT q_doc, doc, round(sum(best), 6) AS maxsim
        |  FROM best GROUP BY 1, 2),
        |ranked AS (
        |  SELECT q_doc, doc, maxsim,
        |    row_number() OVER (PARTITION BY q_doc
        |      ORDER BY maxsim DESC, doc) AS rank
        |  FROM summed)
        |SELECT q_doc, CAST(rank AS BIGINT) AS rank, doc, maxsim
        |FROM ranked WHERE rank <= 5 ORDER BY q_doc, rank""".stripMargin,
    // valid on the exact knnGraph tier (the s94/s96/s117 contract)
    "s176_hard_negatives" ->
      """WITH emb AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |scored AS (
        |  SELECT a.vec_id, a.label, b.vec_id AS negative_id,
        |    list_cosine_similarity(a.e, b.e) AS cosine
        |  FROM emb a JOIN emb b
        |    ON a.vec_id <> b.vec_id AND a.label <> b.label),
        |ranked AS (
        |  SELECT vec_id, label, negative_id, cosine,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cosine DESC, negative_id) AS rank
        |  FROM scored)
        |SELECT vec_id, label, CAST(rank AS BIGINT) AS rank,
        |  negative_id, cosine
        |FROM ranked WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin,
    // full banded-pipeline replica + label filter — the 100 TB path's
    // own hash gate (precision 1.0 vs the implementation; recall vs the
    // exact tier is the banding bound, s96's contract)
    "s178_hard_negatives_lsh" ->
      s"""WITH ${DedupQueries.lshSigCtes},
         |lab AS (SELECT vec_id, label FROM embeddings),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
         |  FROM sig a JOIN sig b
         |    ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id <> b.vec_id),
         |scored AS (
         |  SELECT c.src AS vec_id, la.label, c.dst AS negative_id,
         |    list_cosine_similarity(e1.e, e2.e) AS cosine
         |  FROM cand c
         |  JOIN lab la ON c.src = la.vec_id
         |  JOIN lab lb ON c.dst = lb.vec_id AND la.label <> lb.label
         |  JOIN emb e1 ON c.src = e1.vec_id
         |  JOIN emb e2 ON c.dst = e2.vec_id),
         |ranked AS (
         |  SELECT vec_id, label, negative_id, cosine,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cosine DESC, negative_id) AS rank
         |  FROM scored)
         |SELECT vec_id, label, CAST(rank AS BIGINT) AS rank,
         |  negative_id, cosine
         |FROM ranked WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin,
    // shared Lloyd CTEs + one more m-step on the final assignment (the
    // metric centroid), all-integer until the final sqrt/divides
    "s180_cluster_quality" ->
      s"""${kmeansCtes()},
         |mcf AS (
         |  SELECT a.cid, gs.j,
         |    CAST(floor(CAST(sum(qz.q[CAST(gs.j AS INTEGER)]) AS DOUBLE) / count(*)) AS BIGINT) AS c
         |  FROM af a JOIN qz USING (vec_id)
         |  CROSS JOIN unnest(range(1, len(qz.q) + 1)) AS gs(j)
         |  GROUP BY 1, 2),
         |mc AS (SELECT cid, list(c ORDER BY j) AS mc FROM mcf GROUP BY cid),
         |stats AS (
         |  SELECT a.cid, count(*) AS n_members,
         |    sum(list_sum(list_transform(range(1, len(qz.q) + 1), j ->
         |      (qz.q[CAST(j AS INTEGER)] - m.mc[CAST(j AS INTEGER)])
         |      * (qz.q[CAST(j AS INTEGER)] - m.mc[CAST(j AS INTEGER)])))) AS ssum
         |  FROM af a JOIN qz USING (vec_id) JOIN mc m ON a.cid = m.cid
         |  GROUP BY 1),
         |s AS (
         |  SELECT cid, n_members,
         |    sqrt(CAST(ssum AS DOUBLE) / n_members) AS s_rms
         |  FROM stats),
         |cdist AS (
         |  SELECT a.cid, b.cid AS cid_b,
         |    sqrt(CAST(list_sum(list_transform(range(1, len(a.mc) + 1), j ->
         |      (a.mc[CAST(j AS INTEGER)] - b.mc[CAST(j AS INTEGER)])
         |      * (a.mc[CAST(j AS INTEGER)] - b.mc[CAST(j AS INTEGER)]))) AS DOUBLE)) AS m_ij
         |  FROM mc a JOIN mc b ON a.cid <> b.cid),
         |db AS (
         |  SELECT cdist.cid,
         |    max((sa.s_rms + sb.s_rms) / cdist.m_ij) AS db_comp,
         |    min(cdist.m_ij) AS m_nearest
         |  FROM cdist
         |  JOIN s sa ON cdist.cid = sa.cid
         |  JOIN s sb ON cdist.cid_b = sb.cid
         |  WHERE cdist.m_ij > 0.0
         |  GROUP BY 1)
         |SELECT CAST(s.cid AS BIGINT) AS cluster, s.n_members,
         |  round(s.s_rms, 9) AS s_rms,
         |  round(db.m_nearest, 9) AS m_nearest,
         |  round(db.db_comp, 9) AS db_component
         |FROM s JOIN db ON s.cid = db.cid
         |ORDER BY cluster""".stripMargin,
    // the oracle PAYS the ×d² unnest the Spark aggregate avoids — same
    // integer-exact sums, structurally different (and unscalable) plan
    // the s90 training chain (qz/c0..c3/df/af) replayed, probes from the
    // same integer distance table, exact e9 L2 over probed lists
    "s214_ivf_trained" ->
      s"""${kmeansCtes()},
         |e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |probes AS (
         |  SELECT query_id, cid FROM (
         |    SELECT vec_id AS query_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM df WHERE vec_id < $NumQueries) WHERE rn <= 2),
         |cand AS (
         |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
         |  FROM probes p JOIN af a USING (cid)
         |  WHERE a.vec_id <> p.query_id),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |    ${e9Sql(l2ChainSql("q.emb", "n.emb", 64))} AS dist_e9
         |  FROM cand c
         |  JOIN e q ON q.vec_id = c.query_id
         |  JOIN e n ON n.vec_id = c.neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, dist_e9,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY dist_e9, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, dist_e9
         |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    // the TRAINING replays in SQL: int8 quantization, both Lloyd rounds
    // unrolled (argmin → integer sums → floor-mean with empty-cluster
    // fallback), then the s140 ADC/rerank pipeline on the learned
    // codebook — codes, integer distances, and ranking all bit-exact
    "s210_pq_trained" ->
      s"""WITH qz AS (
         |  SELECT vec_id,
         |    CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) = 0.0
         |      THEN list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(0 AS BIGINT))
         |      ELSE list_transform(CAST(embedding AS DOUBLE[]), x ->
         |        CAST(floor(x / list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y)))
         |          * 127.0) AS BIGINT)) END AS q
         |  FROM embeddings),
         |e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |qsv AS (
         |  SELECT vec_id, CAST(s.i AS INTEGER) AS sub,
         |    q[CAST(s.i * 8 + 1 AS INTEGER):CAST(s.i * 8 + 8 AS INTEGER)] AS qv
         |  FROM qz CROSS JOIN unnest(generate_series(0, 7)) AS s(i)),
         |c0 AS (SELECT sub, vec_id AS cent_id, qv AS cv FROM qsv
         |  WHERE vec_id < $PqTrainK),
         |${lloydIterSql("c0", "a0", "s1", "c1")},
         |${lloydIterSql("c1", "a1", "s2", "c2")},
         |encd AS (
         |  SELECT vec_id, sub, cent_id AS code FROM (
         |    SELECT v.vec_id, v.sub, c.cent_id,
         |      row_number() OVER (PARTITION BY v.vec_id, v.sub
         |        ORDER BY ${l2ChainSql("v.qv", "c.cv", 8)}, c.cent_id) AS rn
         |    FROM qsv v JOIN c2 c USING (sub)) WHERE rn = 1),
         |qdt AS (
         |  SELECT q.vec_id AS query_id, q.sub, c.cent_id,
         |    CAST(${l2ChainSql("q.qv", "c.cv", 8)} AS BIGINT) AS dt
         |  FROM qsv q JOIN c2 c USING (sub) WHERE q.vec_id < $NumQueries),
         |scored AS (
         |  SELECT d.query_id, x.vec_id AS neighbor_id,
         |    CAST(sum(d.dt) AS BIGINT) AS approx_dist_q
         |  FROM encd x JOIN qdt d ON x.sub = d.sub AND x.code = d.cent_id
         |  WHERE d.query_id <> x.vec_id
         |  GROUP BY 1, 2),
         |short AS (
         |  SELECT query_id, neighbor_id, approx_dist_q,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx_dist_q, neighbor_id) AS arank
         |  FROM scored QUALIFY arank <= ${5 * K}),
         |reranked AS (
         |  SELECT s.query_id, s.neighbor_id, s.approx_dist_q,
         |    ${e9Sql(l2ChainSql("q.emb", "c.emb", 64))} AS exact_dist_e9
         |  FROM short s
         |  JOIN e q ON q.vec_id = s.query_id
         |  JOIN e c ON c.vec_id = s.neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, approx_dist_q, exact_dist_e9,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY exact_dist_e9, neighbor_id) AS rank
         |  FROM reranked)
         |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
         |  approx_dist_q, exact_dist_e9
         |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    // same e9 rank lattice; graded gains and log2 discounts replicated,
    // rounded to 6 after the ten-term sums
    "s201_ndcg" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |sc AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${e9Sql(l2ChainSql("q.emb", "c.emb", 64))} AS d64,
         |    ${e9Sql(l2ChainSql("q.emb", "c.emb", 16))} AS d16
         |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < $NumQueries),
         |r AS (
         |  SELECT query_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY d64, neighbor_id) AS r64,
         |    row_number() OVER (PARTITION BY query_id ORDER BY d16, neighbor_id) AS r16
         |  FROM sc),
         |g AS (
         |  SELECT query_id, r64, r16,
         |    CASE WHEN r64 <= $K THEN CAST(${K + 1} - r64 AS DOUBLE) ELSE 0.0 END AS gain
         |  FROM r),
         |agg AS (
         |  SELECT query_id,
         |    sum(CASE WHEN r16 <= $K THEN gain / log2(CAST(r16 AS DOUBLE) + 1.0)
         |        ELSE 0.0 END) AS dcg_raw,
         |    sum(CASE WHEN r64 <= $K THEN gain / log2(CAST(r64 AS DOUBLE) + 1.0)
         |        ELSE 0.0 END) AS idcg_raw
         |  FROM g GROUP BY 1)
         |SELECT query_id, round(dcg_raw, 6) AS dcg, round(idcg_raw, 6) AS idcg,
         |  round(dcg_raw / idcg_raw, 6) AS ndcg
         |FROM agg ORDER BY query_id""".stripMargin,
    // same e9 lattice, same explicit prefix chains, same tie-break
    "s197_mrl_recall" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |sc AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${e9Sql(l2ChainSql("q.emb", "c.emb", 64))} AS d64,
         |    ${e9Sql(l2ChainSql("q.emb", "c.emb", 16))} AS d16,
         |    ${e9Sql(l2ChainSql("q.emb", "c.emb", 32))} AS d32
         |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < $NumQueries),
         |r AS (
         |  SELECT query_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY d64, neighbor_id) AS r64,
         |    row_number() OVER (PARTITION BY query_id ORDER BY d16, neighbor_id) AS r16,
         |    row_number() OVER (PARTITION BY query_id ORDER BY d32, neighbor_id) AS r32
         |  FROM sc),
         |agg AS (
         |  SELECT query_id,
         |    CAST(sum(CASE WHEN r64 <= $K AND r16 <= $K THEN 1 ELSE 0 END) AS BIGINT) AS hits_16,
         |    CAST(sum(CASE WHEN r64 <= $K AND r32 <= $K THEN 1 ELSE 0 END) AS BIGINT) AS hits_32
         |  FROM r GROUP BY 1)
         |SELECT query_id, hits_16, hits_32,
         |  CAST(hits_16 AS DOUBLE) / $K AS recall_16,
         |  CAST(hits_32 AS DOUBLE) / $K AS recall_32
         |FROM agg ORDER BY query_id""".stripMargin,
    "s191_embedding_gram" ->
      """WITH qz AS (
        |  SELECT vec_id,
        |    CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) = 0.0
        |      THEN list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(0 AS BIGINT))
        |      ELSE list_transform(CAST(embedding AS DOUBLE[]), x ->
        |        CAST(floor(x / list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y)))
        |          * 127.0) AS BIGINT)) END AS q
        |  FROM embeddings),
        |pairs AS (
        |  SELECT gi.i AS i, gj.j AS j,
        |    sum(q[CAST(gi.i + 1 AS INTEGER)] * q[CAST(gj.j + 1 AS INTEGER)]) AS sum_xy
        |  FROM qz
        |  CROSS JOIN unnest(range(0, 64)) AS gi(i)
        |  CROSS JOIN unnest(range(0, 64)) AS gj(j)
        |  WHERE gi.i <= gj.j
        |  GROUP BY 1, 2),
        |el AS (
        |  SELECT ge.i AS i, sum(q[CAST(ge.i + 1 AS INTEGER)]) AS sx
        |  FROM qz CROSS JOIN unnest(range(0, 64)) AS ge(i)
        |  GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM qz)
        |SELECT p.i, p.j, CAST(p.sum_xy AS BIGINT) AS sum_xy,
        |  CAST(ex.sx AS BIGINT) AS sum_x, CAST(ey.sx AS BIGINT) AS sum_y, nn.n,
        |  round((p.sum_xy - ex.sx * ey.sx / nn.n) / (nn.n - 1), 9) AS cov
        |FROM pairs p
        |JOIN el ex ON p.i = ex.i
        |JOIN el ey ON p.j = ey.i
        |CROSS JOIN nn
        |ORDER BY p.i, p.j""".stripMargin
  )

  /** Explicit left-associated Σ(aᵢ−bᵢ)² chain — the same IEEE op sequence
    * as [[graft.functions.SquaredL2Distance]]'s fold, spelled out so the
    * oracle does not depend on any DuckDB list_sum ordering. */
  private def l2ChainSql(a: String, b: String, n: Int): String =
    (1 to n).map(i => s"($a[$i] - $b[$i]) * ($a[$i] - $b[$i])").mkString(" + ")

  /** Explicit cosine similarity mirroring CosineSimilarity's single pass:
    * dot and both norms each fold left-to-right, final dot/sqrt(nx·ny). */
  private def cosChainSql(a: String, b: String, n: Int): String = {
    val dot = (1 to n).map(i => s"$a[$i] * $b[$i]").mkString(" + ")
    val nx = (1 to n).map(i => s"$a[$i] * $a[$i]").mkString(" + ")
    val ny = (1 to n).map(i => s"$b[$i] * $b[$i]").mkString(" + ")
    s"($dot) / sqrt(($nx) * ($ny))"
  }

  /** floor(x·1e9 + 0.5) as BIGINT — the engine-stable e9 lattice quantizer
    * (round(DOUBLE, n) half-mode differs across DuckDB releases; floor and
    * IEEE multiply do not). */
  private def e9Sql(x: String): String =
    s"CAST(floor(($x) * 1e9 + 0.5) AS BIGINT)"

  /** One unrolled Lloyd round for the s210 oracle: argmin assignment
    * against `cPrev`, per-(sub, cent, dim) integer sums, floor-mean
    * update with empty-cluster fallback to the previous centroid —
    * the exact arithmetic [[pqTrainedCents]] runs. */
  private def lloydIterSql(cPrev: String, aName: String, sName: String,
      cName: String): String =
    s"""$aName AS (
       |  SELECT vec_id, sub, cent_id FROM (
       |    SELECT v.vec_id, v.sub, c.cent_id,
       |      row_number() OVER (PARTITION BY v.vec_id, v.sub
       |        ORDER BY ${l2ChainSql("v.qv", "c.cv", 8)}, c.cent_id) AS rn
       |    FROM qsv v JOIN $cPrev c USING (sub)) WHERE rn = 1),
       |$sName AS (
       |  SELECT a.sub, a.cent_id, CAST(g.i AS INTEGER) AS pos,
       |    sum(v.qv[CAST(g.i AS INTEGER)]) AS s, count(*) AS n
       |  FROM $aName a JOIN qsv v USING (vec_id, sub)
       |  CROSS JOIN unnest(generate_series(1, 8)) AS g(i)
       |  GROUP BY 1, 2, 3),
       |$cName AS (
       |  SELECT c.sub, c.cent_id,
       |    list(CASE WHEN s.n IS NULL THEN c.cv[CAST(g.i AS INTEGER)]
       |      ELSE CAST(floor(CAST(s.s AS DOUBLE) / s.n) AS BIGINT) END
       |      ORDER BY g.i) AS cv
       |  FROM $cPrev c CROSS JOIN unnest(generate_series(1, 8)) AS g(i)
       |  LEFT JOIN $sName s ON s.sub = c.sub AND s.cent_id = c.cent_id
       |    AND s.pos = CAST(g.i AS INTEGER)
       |  GROUP BY 1, 2)""".stripMargin

  /** Shared PQ oracle CTEs (s140/s144): subvector split, codebook,
    * argmin encode with id tiebreak, e9-integer distance tables. */
  private lazy val pqCtesSql: String =
    s"""e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |sv AS (
       |  SELECT vec_id, CAST(s.i AS INTEGER) AS sub,
       |    emb[CAST(s.i * 8 + 1 AS INTEGER):CAST(s.i * 8 + 8 AS INTEGER)] AS sv
       |  FROM e CROSS JOIN unnest(generate_series(0, 7)) AS s(i)),
       |cent AS (SELECT vec_id AS cent_id, sub, sv AS cv FROM sv WHERE vec_id < 256),
       |encd AS (
       |  SELECT vec_id, sub, cent_id AS code FROM (
       |    SELECT v.vec_id, v.sub, c.cent_id,
       |      row_number() OVER (PARTITION BY v.vec_id, v.sub
       |        ORDER BY ${e9Sql(l2ChainSql("v.sv", "c.cv", 8))}, c.cent_id) AS rn
       |    FROM sv v JOIN cent c USING (sub))
       |  WHERE rn = 1),
       |qdt AS (
       |  SELECT q.vec_id AS query_id, q.sub, c.cent_id,
       |    ${e9Sql(l2ChainSql("q.sv", "c.cv", 8))} AS dt
       |  FROM sv q JOIN cent c USING (sub) WHERE q.vec_id < $NumQueries)""".stripMargin
}

/** Deterministic pseudo-random hyperplanes for s43: 16 planes × 64 dims,
  * components in [-1, 1) derived from splitmix64(p * 64 + dim). */
private object Hyperplanes {
  val planes: Array[Array[Double]] =
    Array.tabulate(16, 64)((p, i) => splitmix64(p * 64L + i).toDouble / Long.MaxValue.toDouble)
}
