package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY §2 rows 26-27).
  *
  * q_ann_cosine is the exact baseline: broadcast the (small) query set
  * against the corpus scan and rank by cosine — corpus is never
  * shuffled for the join, only the scored (query × corpus) rows move,
  * and at scale that product is exactly what makes brute force
  * infeasible. q_ann_lsh_cosine is the scale path: sign-random-
  * projection LSH (Charikar, STOC'02) buckets both sides, so the join
  * is bucket-local and the scored row count drops from |Q|·|C| to
  * Σ_bucket |Q_b|·|C_b|.
  *
  * Determinism: dot products fold left-to-right over index order with
  * every element cast to double first, so Spark and DuckDB produce
  * bit-identical IEEE sums for the oracle compare.
  */
object Similarity {

  private[graft] val K = 5
  /** IVF defaults, pinned because the DuckDB oracle interpolates them. */
  private val IvfCells = 16
  /** Probing 4/16 cells measured recall@5 = 0.54 vs 0.36 at nprobe=2
    * on this corpus, at flat runtime — cell ASSIGNMENT (one pass over
    * the corpus) dominates the cost, probing only scales the small
    * query-side scoring. The classic IVF dial, set where the recall
    * gain is free. */
  private[graft] val IvfNprobe = 4
  /** Query subset: every 50th vector. */
  private def isQuery(id: Column): Column = id % 50 === 0

  /** Left-fold dot product of two double arrays (order-pinned), via
    * the codegen'd native expression (functions/Vectors.scala). */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotProduct(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** q_ann_cosine: exact top-k cosine neighbors for the query subset.
    * The query side (with pre-computed norms) is broadcast; the rank
    * window partitions on query_id (cardinality = |Q|). */
  def annCosine(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = emb.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = emb.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos_raw"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_raw").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        (floor(col("cos_raw") * 1e6 + 0.5) / 1e6).as("cosine"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Neighbors per node for q_knn_graph (mutual top-[[KnnK]]). */
  private[graft] val KnnK = 10

  /** q_knn_graph: the MUTUAL k-nearest-neighbor graph over the
    * embedding table — one row per undirected edge (id_a < id_b) kept
    * iff each endpoint ranks inside the other's top-[[KnnK]] by cosine,
    * with both direction ranks carried. The mutual-kNN graph is the
    * standard substrate for graph-based curation: connected components
    * over it give semantic clusters (the clustering stage SemDeDup-
    * style pruning and diversity sampling read), and the mutuality
    * condition is the classic noise cut — a hub that merely *appears*
    * in everyone's list contributes no edge unless the neighborhood is
    * reciprocal.
    *
    * Scale shape: the embedding side table is bounded (a fixed
    * catalog, broadcast like q_ann_cosine's query set), so scoring is
    * map-side over the widened scan and the only shuffles are the two
    * rank windows on id_a (cardinality = |nodes|) and the edge-key
    * equi-join of the two directed halves. At corpus scale the
    * all-pairs score is exactly what brute force can't afford — there
    * the SAME mutual-filter + rank tail runs unchanged over LSH /
    * IVF candidate pairs (q_ann_lsh_cosine's bucket join or
    * q_semdedup's cells feed it); the exact graph here defines the
    * semantics and the oracle. Directed top-K halves meet in an
    * equi-join on (id_a, id_b) — never an all-pairs recheck — and the
    * scored pair count a node contributes to the join is capped at
    * [[KnnK]] however dense its neighborhood. */
  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    knnMutual(spark, dir)
      .select(col("id_a"), col("id_b"),
        (floor(col("cos_raw") * 1e6 + 0.5) / 1e6).as("cosine"),
        col("rank").as("rank_ab"), col("rank_ba"))
      .orderBy("id_a", "id_b")

  /** The mutual-edge set behind [[knnGraph]], [[knnComponents]] and
    * [[clusterSample]]: one row per undirected edge (id_a < id_b, raw
    * cosine, both direction ranks), directed top-k halves met on
    * (id_a, id_b). */
  /** The exact all-pairs cosine scoring behind [[knnMutual]] and
    * [[lof]] (broadcast side table, map-side scores). */
  private def allPairsScored(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.widened(Tables.embeddings(spark, dir))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val rhs = emb.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    // dot folds in pinned index order and multiplication commutes
    // elementwise, so cos(a,b) and cos(b,a) are bit-identical — the
    // two directed halves agree exactly, on both engines.
    // NO broadcast hint: the planner broadcasts the side table while
    // it fits (the sandbox plan, verified BroadcastNestedLoopJoin)
    // and degrades to a PARTITIONED nested-loop when it doesn't — an
    // explicit hint would turn "slow at 10^8 vectors" into a driver
    // OOM. The REGISTERED corpus-scale path is the forest-fed sibling
    // family; this exact scan is the audit.
    emb.join(rhs, col("vec_id") =!= col("id_b"))
      .select(col("vec_id").as("id_a"), col("id_b"),
        (dot(col("v"), col("vb")) / (col("nrm") * col("nb"))).as("cos_raw"))
  }

  private def knnMutual(spark: SparkSession, dir: String, k: Int = KnnK): DataFrame =
    mutualEdges(allPairsScored(spark, dir), k)

  /** q_lof: Local Outlier Factor (Breunig/Kriegel/Ng/Sander,
    * SIGMOD'00) over the embedding table — the canonical
    * DENSITY-relative outlier score, completing the outlier set:
    * q_anomaly_mad is univariate, q_embed_outliers is
    * distance-to-own-centroid (misses outliers between clusters and
    * flags sparse-cluster members), LOF compares each point's local
    * density to its NEIGHBORS' local densities, so a point is
    * anomalous only relative to its own neighborhood — the detector
    * that works when clusters have different densities.
    *
    * Exact integer pipeline over the kNN substrate: cosine distance
    * d = 10⁶ − cos_e6 per directed top-[[KnnK]] edge; k-distance(a) =
    * max d over a's list (the rank-K neighbor — d is monotone in
    * rank); reach(a→b) = max(k-dist(b), d(a,b)); srd(a) = Σ reach
    * (floored at 1: an all-duplicate neighborhood has zero distance);
    * LOF(a) = mean over neighbors of lrd(b)/lrd(a) = mean of
    * srd(a)/srd(b) — one truncating division per edge, one per node,
    * nonnegative throughout. LOF ≈ 10⁶ = as dense as its neighbors;
    * ≫ 10⁶ = outlier.
    *
    * Scale shape: the all-pairs scoring is the exact baseline; the
    * corpus-scale path is REGISTERED as [[lofApprox]]
    * (q_lof_approx), which feeds the same [[lofFrom]] tail from
    * forest candidates. Everything past [[directedTopK]] runs on
    * |nodes|·K rows: one max-agg, one kdist equi-join, one sum-agg,
    * two srd equi-joins, one mean-agg. */
  def lof(spark: SparkSession, dir: String): DataFrame =
    lofFrom(directedTopK(allPairsScored(spark, dir), KnnK))

  /** The LOF tail over any directed top-k neighbor list — shared by
    * the exact ([[lof]]) and forest-fed ([[lofApprox]]) registrations
    * so the two can only differ in their candidate cut. */
  private def lofFrom(top: DataFrame): DataFrame = {
    val dists = top.select(col("id_a"), col("id_b"),
        (lit(1000000L) - floor(col("cos_raw") * 1e6 + 0.5).cast("long")).as("d"))
      .localCheckpoint() // three readers: kdist, reach, the ratio edges
    val kd = dists.groupBy("id_a").agg(max("d").as("kdist"))
    val srd = dists
      .join(kd.select(col("id_a").as("id_b"), col("kdist")), "id_b")
      .groupBy("id_a")
      .agg(greatest(sum(greatest(col("kdist"), col("d"))), lit(1L)).as("srd"))
      .localCheckpoint() // both sides of the ratio join
    dists.select("id_a", "id_b")
      .join(srd.select(col("id_a"), col("srd").as("srd_a")), "id_a")
      .join(srd.select(col("id_a").as("id_b"), col("srd").as("srd_b")), "id_b")
      .groupBy("id_a")
      // mean over the edges actually present (count(1)), not the
      // nominal K: a node can hold < K edges when the corpus (or a
      // candidate cut) gives it fewer neighbors, and dividing by the
      // pinned constant would silently deflate its score.
      .agg(expr("sum((srd_a * 1000000) div srd_b) div count(1)").as("lof_e6"))
      .join(kd, "id_a")
      .join(srd, "id_a")
      .select(col("id_a").as("vec_id"), col("kdist").as("kdist_e6"),
        col("srd").as("srd_e6"), col("lof_e6"))
      .orderBy("vec_id")
  }

  /** The rank-and-mutual tail shared by the exact ([[knnMutual]]) and
    * candidate-fed ([[knnGraphApprox]]) graph builds: per-node top-k
    * by cosine, directed halves met in an equi-join on the edge key. */
  /** Per-node directed top-k by cosine (|nodes|·k rows, checkpointed
    * — the neighbor-list substrate mutualEdges and [[lof]] read).
    * Shape: the bounded [[graft.functions.TopEdges]] aggregate keeps
    * O(k) state per node with MAP-SIDE partial aggregation, so the
    * full scored-candidate volume (all-pairs for the exact family,
    * forest candidates for the approx one) is cut to |nodes|·k before
    * it ever shuffles — where the previous row_number window sorted
    * and shuffled every scored row. Identical rank semantics:
    * (cos_raw DESC, id_b ASC), array position + 1 = rank. */
  private def directedTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("id_a")
      .agg(graft.functions.TopEdges
        .topEdges(col("id_b"), col("cos_raw"), k).as("tops"))
      .select(col("id_a"), posexplode(col("tops")))
      .select(col("id_a"), col("col.id").as("id_b"),
        col("col.s").as("cos_raw"),
        (col("pos") + 1).cast("int").as("rank"))
      .localCheckpoint()

  private def mutualEdges(scored: DataFrame, k: Int): DataFrame = {
    // consumed by both directions of the mutual join
    val top = directedTopK(scored, k)
    val rev = top.select(col("id_b").as("id_a"), col("id_a").as("id_b"),
      col("rank").as("rank_ba"))
    top.filter(col("id_a") < col("id_b"))
      .join(rev, Seq("id_a", "id_b"))
  }

  /** q_knn_graph_approx: the mutual-kNN graph with candidates from
    * the LSH FOREST instead of all pairs — the 10⁹-vector path
    * q_knn_graph's scaladoc promises: each node's neighbor list is
    * ranked only over vectors sharing a bucket with it in ANY of the
    * [[LshTables]] tables, then the SAME [[mutualEdges]] tail (top-K
    * + mutuality) runs unchanged. Downstream consumers
    * (q_knn_components' CC loop, cluster sampling/profiling) take
    * this edge set as a drop-in substitute; AnnRecallSpec pins the
    * edge recall vs the exact graph.
    *
    * A true mutual edge can only be LOST by the candidate cut, never
    * demoted: restricting a node's ranking to a candidate subset can
    * only improve (shrink) a surviving neighbor's rank — so edge
    * recall equals the pair-collision probability, and the one-flip
    * multiprobe (single-bit XOR is symmetric, so the candidate set
    * stays symmetric) is what lifts that collision rate, exactly as
    * in the search path.
    *
    * Scale shape: the candidate build is the probes⋈index equi-join
    * on (table, bucket) — Σ_t Σ_bucket |probes_b|·|b| pairs, the
    * q_dedup_embedding bound, NEVER |nodes|²; pair dedup happens on
    * 16-byte id pairs before vectors are fetched (one key join each
    * side). Everything downstream is ∝ candidates. */
  def knnGraphApprox(spark: SparkSession, dir: String): DataFrame =
    mutualEdges(forestScored(spark, dir), KnnK)
      .select(col("id_a"), col("id_b"),
        (floor(col("cos_raw") * 1e6 + 0.5) / 1e6).as("cosine"),
        col("rank").as("rank_ab"), col("rank_ba"))
      .orderBy("id_a", "id_b")

  /** The no-all-pairs candidate substrate shared by every FOREST-FED
    * sibling ([[knnGraphApprox]], [[lofApprox]],
    * [[clusterSampleApprox]], [[clusterProfileApprox]];
    * [[intrinsicDimApprox]] reads the un-scored [[forestPairs]]):
    * deduped multiprobe candidate pairs with their exact cosine — the
    * same pinned-fold IEEE tree as [[allPairsScored]], restricted to
    * pairs colliding in the forest. */
  private def forestScored(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.widened(Tables.embeddings(spark, dir))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val a = emb.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    val cos = dot(col("va"), col("vb")) / (col("na") * col("nb"))
    // ONE parquet-metadata count feeds both the planes dial and the
    // size gate
    val n = Tables.embeddings(spark, dir).count()
    val p = occupancyPlanes(n)
    val large =
      n.toDouble * (p + 1) * LshTables * ForestTargetOccupancy > ForestSliceThreshold
    if (!large)
      // small corpus: one direct symmetric join — the slice/mirror
      // machinery below costs more in per-branch job overhead than
      // the whole frame costs to score
      forestPairs(spark, dir, p)
        .join(a, Seq("id_a")).join(b, Seq("id_b"))
        .select(col("id_a"), col("id_b"), cos.as("cos_raw"))
    else {
      // Cosine is IEEE-COMMUTATIVE under orientation swap (per-index
      // products commute, the fold walks the same index order, the
      // norm product commutes), so each undirected pair is scored
      // ONCE in canonical orientation — half the vector-attached
      // volume — and the 24-byte scored rows mirror afterwards.
      // Attaching both 64-dim vectors to every DIRECTED pair is the
      // RAM cliff (~80 GB at 70.5M pairs at sf3, spilling local[32]
      // regardless of partition count).
      val half = slicedScore(
        forestPairsCanonical(spark, dir, p).localCheckpoint(),
        a, b, cos, "cos_raw")
        .localCheckpoint() // consumed by both the rows and their mirror
      half.union(half.select(col("id_b").as("id_a"), col("id_a").as("id_b"),
        col("cos_raw")))
    }
  }

  /** The expected-directed-pairs cut between the direct and the
    * sliced/canonical scoring plans: expected DIRECTED candidates ≈
    * n·(planes+1)·L·occ (the scaladoc volume formula at the
    * (occ/2, occ] ceiling), derived from the same parquet-metadata
    * count the planes dial reads — gate and dial now share ONE count
    * per substrate call. Crossing the cut the wrong way costs seconds
    * of slice overhead, never correctness — both paths produce the
    * identical row set. Mutable and
    * `private[graft]` ONLY so the suite can force the large path at
    * sandbox scale and assert its row set equals the direct plan's
    * (ForestSlicePathSpec) — production code never writes it. The 8M
    * default sits a decade under the measured sf3 RAM cliff (70.5M
    * directed pairs) and a decade over the sandbox bench scale
    * (1.2M at sf0.1). */
  @volatile private[graft] var ForestSliceThreshold: Double = 8e6

  /** Measured (directed candidates, build wall s, score wall s) for
    * THIS corpus — the graft.ForestCost harness probe: the candidate
    * BUILD (probe join + canonical dedup) times separately from the
    * vector-attach SCORING stage, so scale-rung comparisons can state
    * the scoring exponent against measured CANDIDATES, not rows — the
    * ceil-log₂ occupancy sawtooth moves candidate volume ×5 between
    * rungs by construction, and only cost-per-candidate flatness is
    * the engine's claim. Uses the same plan pieces as the registered
    * queries (forestPairsCanonical → slicedScore with the canonical
    * mirror), so the number measured IS the production stage. */
  private[graft] def forestScoreCost(spark: SparkSession,
      dir: String): (Long, Double, Double) = {
    val emb = Tables.widened(Tables.embeddings(spark, dir))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val a = emb.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    val cos = dot(col("va"), col("vb")) / (col("na") * col("nb"))
    val p = occupancyPlanes(Tables.embeddings(spark, dir).count())
    val t0 = System.nanoTime()
    val pairs = forestPairsCanonical(spark, dir, p).localCheckpoint()
    val nCanon = pairs.count()
    val t1 = System.nanoTime()
    val half = slicedScore(pairs, a, b, cos, "cos_raw")
    val scored = half.union(half.select(col("id_b").as("id_a"),
      col("id_a").as("id_b"), col("cos_raw")))
    val nDirected = scored.count()
    val t2 = System.nanoTime()
    pairs.unpersist(blocking = false)
    (nDirected, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** Scoring slices for the vector-attachment joins: each slice
    * shuffles ~1/slices of the pairs-with-vectors frame, so peak
    * memory per join stage is bounded by slice width, not candidate
    * volume — the knnTopSql topc0..7 capacity treatment applied to
    * the ENGINE side. Slicing partitions rows, never changes them:
    * every downstream consumer sees the identical pair set. The
    * count is ADAPTIVE (one row per [[ForestScoreSliceRows]], capped
    * at [[ForestScoreSlicesMax]]): at sandbox scale a sliced plan
    * pays 3-6 s of per-branch job overhead for frames a single join
    * absorbs trivially, while at sf3's 70M pairs the unsliced frame
    * was the measured RAM cliff — so small corpora
    * score in one branch and the slicing engages exactly when the
    * frame could hurt. */
  private val ForestScoreSlicesMax = 8
  private val ForestScoreSliceRows = 4000000L

  /** Attach vectors and score candidate id pairs in adaptive
    * id_a-hash slices. `pairs` must already be materialized
    * (localCheckpoint) — the slice count comes from a count() over it,
    * the slices re-read it, and an unmaterialized candidate join
    * would re-run per slice. */
  private def slicedScore(pairs: DataFrame, a: DataFrame, b: DataFrame,
      score: Column, name: String): DataFrame = {
    val n = pairs.count()
    val slices = math.min(ForestScoreSlicesMax.toLong,
      math.max(1L, (n + ForestScoreSliceRows - 1) / ForestScoreSliceRows)).toInt
    (0 until slices).map { s =>
      (if (slices == 1) pairs
       else pairs.filter(
         pmod(xxhash64(col("id_a")), lit(slices.toLong)) === s))
        .join(a, Seq("id_a")).join(b, Seq("id_b"))
        .select(col("id_a"), col("id_b"), score.as(name))
    }.reduce(_ union _)
  }

  /** Deduped forest candidate PAIRS, ids only — every node probes its
    * own bucket plus the `planes` one-flip buckets per table (the
    * search path's multiprobe, corpus-wide), candidates meet in the
    * (table, bucket) equi-join, and 16-byte id pairs dedup BEFORE any
    * vector moves. Σ_t Σ_bucket |probes_b|·|b| pairs, never |nodes|².
    * The candidate set is SYMMETRIC (probing is corpus-wide and a
    * single-bit XOR is its own inverse), so per-node neighbor lists
    * and both directions of a mutual edge rank over the same pairs.
    * `planes` is the caller's [[occupancyPlanes]] count for THIS
    * corpus, taken from the count the caller already holds. */
  private def forestPairs(spark: SparkSession, dir: String,
      planes: Int): DataFrame =
    forestProbeJoin(spark, dir, planes)
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")

  /** The candidate build deduped in CANONICAL orientation
    * (id_a < id_b): the probe collision is symmetric, so folding both
    * directions onto the sorted key before dropDuplicates halves the
    * dedup shuffle and its state — the symmetric view is recovered by
    * a 16-byte mirror projection wherever a consumer needs it (the
    * LARGE-corpus scoring path; small corpora keep the direct
    * [[forestPairs]] dedup). */
  private def forestPairsCanonical(spark: SparkSession, dir: String,
      planes: Int): DataFrame =
    forestProbeJoin(spark, dir, planes)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .dropDuplicates("id_a", "id_b")

  /** The raw (undeduped, directed) probe-collision join both dedup
    * flavors read. */
  private def forestProbeJoin(spark: SparkSession, dir: String,
      planes: Int): DataFrame = {
    val emb = Tables.widened(Tables.embeddings(spark, dir))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val index = forestBuckets(emb, planes, LshTables)
    val probes = index
      .withColumn("probe", explode(array(col("bucket") +:
        (0 until planes).map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*)))
      .select(col("vec_id").as("id_a"), col("t").as("ta"), col("probe"))
    probes.join(
        index.select(col("vec_id").as("id_b"), col("t").as("t2"),
          col("bucket").as("b2")),
        col("ta") === col("t2") && col("probe") === col("b2") &&
          col("id_a") =!= col("id_b"))
  }

  /** Per-node deduped forest candidate volume ×1000 — the occupancy
    * dial's spec hook: ApproxSubstrateSpec asserts this stays roughly
    * FLAT across scale factors (the property that makes total forest
    * work ~linear), which is exactly what pinned planes break. */
  private[graft] def forestCandidatesPerNodeE3(spark: SparkSession,
      dir: String): Long = {
    val nodes = Tables.embeddings(spark, dir).count()
    val pairs = forestPairs(spark, dir, occupancyPlanes(nodes)).count()
    pairs * 1000L / math.max(1L, nodes)
  }

  /** q_lof_approx: [[lof]] with its neighbor lists ranked over FOREST
    * candidates instead of all pairs — the 10⁹-vector LOF: the
    * [[forestScored]] substrate feeds the SAME [[lofFrom]] tail
    * (k-distance, reachability, srd, ratio mean over the edges
    * actually present), so the score semantics never change; only the
    * candidate cut does. A node the forest gives fewer than
    * [[KnnK]] candidates gets a shorter (denser-looking) list — the
    * count(1) mean keeps its score honest — and a node with no
    * candidate at all drops (no neighborhood, no density to compare).
    * ApproxSubstrateSpec pins top-outlier agreement vs the exact
    * scores. */
  def lofApprox(spark: SparkSession, dir: String): DataFrame =
    lofFrom(directedTopK(forestScored(spark, dir), KnnK))

  /** q_knn_components: SEMANTIC CLUSTERS — connected components over
    * the mutual-kNN graph ([[knnGraph]]'s edge set), one row per
    * embedding with its cluster id (= minimum member), cluster size,
    * and the canonical-keeper flag. This is the clustering stage
    * graph-based curation reads: SemDeDup-style pruning keeps one (or
    * a few) representatives per semantic cluster, diversity sampling
    * allocates budget across clusters, and mutual-kNN + CC is the
    * standard way to get those clusters without a centroid fit.
    *
    * Scale shape: the CC loop is Dedup.componentLabels — hook-and-
    * shortcut over the MUTUAL-edge node set only (≤ |nodes|·K edges by
    * the top-K cap, O(log n) rounds),
    * with embeddings that formed no mutual edge rejoining at the end
    * as singleton clusters, exactly like q_dedup_clusters' singleton
    * docs. At corpus scale the edges come from the LSH/IVF candidate
    * tail instead of the exact graph; the loop is unchanged. */
  def knnComponents(spark: SparkSession, dir: String): DataFrame =
    componentsOutput(spark, dir, knnMutual(spark, dir).select("id_a", "id_b"))

  /** The CC-label-and-size tail shared by the exact and forest-fed
    * component queries: label every embedding (singletons label
    * themselves), count members, flag the minimum as canonical. */
  private def componentsOutput(spark: SparkSession, dir: String,
      edges: DataFrame): DataFrame = {
    val lab = Dedup.labelEveryNode(
      Tables.embeddings(spark, dir).select(col("vec_id")), "vec_id", edges)
    val sizes = lab.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    lab
      .join(sizes, Seq("cluster_id"))
      .select(col("vec_id"), col("cluster_id"), col("cluster_size"),
        (col("vec_id") === col("cluster_id")).as("is_canonical"))
      .orderBy("vec_id")
  }

  /** q_knn_components_approx: semantic clusters over the FOREST-fed
    * mutual graph ([[knnGraphApprox]]'s edge set) — the complete
    * 10⁹-vector SemDeDup substrate: forest candidates → mutual top-K
    * → the shared CC loop, no all-pairs stage anywhere. The same
    * [[componentsOutput]] tail labels singletons and flags canonicals,
    * so downstream pruning/diversity-sampling consumes it as a
    * drop-in for q_knn_components. */
  def knnComponentsApprox(spark: SparkSession, dir: String): DataFrame =
    componentsOutput(spark, dir,
      knnGraphApprox(spark, dir).select("id_a", "id_b"))

  /** q_graph_modularity: Newman MODULARITY per semantic cluster — the
    * clustering-quality audit for the graph family (q_ann_recall's
    * role for retrieval): Q = Σ_c [ e_c/m − (d_c/2m)² ] scores how
    * much denser clusters are than a degree-preserving random rewire;
    * near-zero or negative contributions flag clusters that are
    * artifacts of the candidate cut, before SemDeDup prunes by them.
    * Emitted per cluster (nodes, intra-edges, degree mass, e6
    * contribution) so the audit names WHICH cluster is weak.
    *
    * INTEGER-EXACT: each contribution is the rational
    * (4·m·e_c − d_c²) / (4·m²), carried as an exact decimal(38,0)
    * numerator e6-scaled before ONE truncating division — no float
    * anywhere, so at 10¹² edges the arithmetic still cannot drift.
    *
    * The substrate is the FINE clustering ([[SampleKnnK]] = mutual
    * top-2, the partition q_cluster_sample allocates budget over) —
    * the K=10 graph is one giant component on this corpus, whose
    * single-cluster partition scores exactly 0 by construction; the
    * fine partition is the one whose quality an auditor actually
    * questions.
    *
    * Scale shape: the mutual edge set (localCheckpointed — reused by
    * m, degrees and intra counts), the shared CC loop for labels, two
    * label equi-joins, per-cluster two-phase aggs; m broadcast from a
    * 1-row agg. */
  def graphModularity(spark: SparkSession, dir: String): DataFrame = {
    val edges = knnMutual(spark, dir, SampleKnnK)
      .select("id_a", "id_b").localCheckpoint()
    val lab = Dedup.labelEveryNode(
      Tables.embeddings(spark, dir).select(col("vec_id")), "vec_id", edges)
    val mTot = edges.agg(count(lit(1)).as("m"))
    val deg = edges.select(col("id_a").as("vec_id"))
      .union(edges.select(col("id_b").as("vec_id")))
      .groupBy("vec_id").agg(count(lit(1)).as("deg"))
    val degByCluster = lab.join(deg, Seq("vec_id"), "left")
      .na.fill(0L, Seq("deg"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("degree_sum"))
    val intra = edges
      .join(lab.select(col("vec_id").as("id_a"), col("cluster_id").as("ca")), Seq("id_a"))
      .join(lab.select(col("vec_id").as("id_b"), col("cluster_id").as("cb")), Seq("id_b"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("cluster_id"))
      .agg(count(lit(1)).as("intra_edges"))
    degByCluster.join(intra, Seq("cluster_id"), "left")
      .na.fill(0L, Seq("intra_edges"))
      .crossJoin(broadcast(mTot))
      .withColumn("contrib_e6", expr(
        """cast((cast(4 as decimal(38,0)) * m * intra_edges
          | - cast(degree_sum as decimal(38,0)) * degree_sum) * 1000000
          | div (cast(4 as decimal(38,0)) * m * m) as bigint)"""
          .stripMargin.replace('\n', ' ')))
      .select("cluster_id", "n_nodes", "intra_edges", "degree_sum", "contrib_e6")
      .orderBy("cluster_id")
  }

  /** q_cluster_purity: label PURITY per semantic cluster — the
    * EXTERNAL-validation twin of [[graphModularity]]'s internal
    * audit: against the embeddings' ground-truth `label` column, each
    * fine cluster reports its majority label, the majority count, and
    * purity = majority/size (e6) — the homogeneity check run before
    * trusting clusters for pruning or budget allocation (a cluster
    * mixing labels is a candidate-cut artifact even if its modularity
    * looks dense). Majority pinned by (count DESC, label ASC).
    *
    * Scale shape: the same mutual-top-2 edge build + shared CC loop;
    * one (cluster, label) two-phase agg, one per-cluster argmax
    * window over cluster-count-sized rows. */
  def clusterPurity(spark: SparkSession, dir: String): DataFrame = {
    val edges = knnMutual(spark, dir, SampleKnnK).select("id_a", "id_b")
    val lab = Dedup.labelEveryNode(Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label").cast("long").as("y")), "vec_id", edges)
    val counts = lab.groupBy("cluster_id", "y").agg(count(lit(1)).as("n_y"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_y").desc, col("y").asc)
    counts
      .withColumn("rk", row_number().over(w))
      .withColumn("n_nodes", sum("n_y").over(Window.partitionBy("cluster_id")))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("n_nodes"),
        col("y").as("majority_label"), col("n_y").as("majority_n"))
      .withColumn("purity_e6", expr("majority_n * 1000000 div n_nodes"))
      .orderBy("cluster_id")
  }

  /** Cluster-substrate neighbor count for [[clusterSample]]: mutual
    * top-2 is a much stricter reciprocity cut than [[KnnK]] = 10, so
    * the component structure stays FINE-grained (hundreds of small
    * clusters on this corpus) instead of collapsing into one giant
    * component — the granularity a diversity sampler actually wants.
    * Pinned because the DuckDB oracle interpolates it. */
  private[graft] val SampleKnnK = 2

  /** q_cluster_sample: DIVERSITY SAMPLING over the semantic clusters —
    * the budget-allocation stage that reads [[knnComponents]]-style
    * clusters and keeps ⌈√size⌉ representatives per cluster (the
    * standard sub-linear allocation: a 10 000-doc near-duplicate blob
    * contributes 100 docs, a singleton keeps itself — coverage without
    * letting dense regions dominate the mix). Picks are a
    * deterministic salted-md5 draw ranked inside each cluster, so the
    * sample is reproducible, layout-independent, and hash-oracled.
    *
    * Scale shape: clusters come from [[SampleKnnK]]-mutual edges via
    * the shared CC loop (work ∝ mutual-edge node set); budget math is
    * exact — IEEE sqrt of a perfect square is exact, so ⌈√n⌉ agrees
    * bit-for-bit across engines — and the per-cluster rank window
    * sorts each cluster once (bounded by the largest component; at
    * corpus scale with huge clusters the same top-⌈√n⌉ cut runs as the
    * capped-buffer aggregate, q_reservoir's O(k) shape). */
  def clusterSample(spark: SparkSession, dir: String): DataFrame =
    clusterSampleFrom(spark, dir,
      knnMutual(spark, dir, SampleKnnK).select("id_a", "id_b"))

  /** q_cluster_sample_approx: the ⌈√size⌉ diversity sample over
    * FOREST-fed fine clusters — [[clusterSample]]'s tail unchanged,
    * with the [[SampleKnnK]]-mutual edges ranked over
    * [[forestScored]] candidates instead of all pairs: the
    * budget-allocation stage of the 10⁹-vector curation path
    * (forest candidates → mutual top-2 → shared CC loop → salted
    * draws), no all-pairs stage anywhere. */
  def clusterSampleApprox(spark: SparkSession, dir: String): DataFrame =
    clusterSampleFrom(spark, dir,
      mutualEdges(forestScored(spark, dir), SampleKnnK)
        .select("id_a", "id_b"))

  /** The label → size → budget → salted-draw tail shared by the exact
    * and forest-fed diversity samplers. */
  private def clusterSampleFrom(spark: SparkSession, dir: String,
      edges: DataFrame): DataFrame = {
    val lab = Dedup.labelEveryNode(
      Tables.embeddings(spark, dir).select(col("vec_id")), "vec_id", edges)
    val sizes = lab.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    val draws = lab
      .join(sizes, Seq("cluster_id"))
      .withColumn("budget",
        ceil(sqrt(col("cluster_size").cast("double"))).cast("long"))
      .withColumn("draw", expr(
        "cast(conv(substr(md5(concat('cs|', cast(vec_id as string))), 1, 15), 16, 10) as bigint)"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("draw").asc, col("vec_id").asc)
    draws
      .withColumn("pick_rank", row_number().over(w))
      .filter(col("pick_rank") <= col("budget"))
      .select(col("vec_id"), col("cluster_id"), col("cluster_size"),
        col("budget"), col("pick_rank"))
      .orderBy("vec_id")
  }

  /** q_triangle_count: per-node triangle counts and local clustering
    * coefficients over the mutual-kNN graph ([[knnGraph]]'s edge set) —
    * the standard graph-quality diagnostic for a semantic-similarity
    * substrate: high local clustering marks coherent near-duplicate
    * neighborhoods, triangle-free hubs mark noise edges that survived
    * the reciprocity cut.
    *
    * Scale shape: the classic degree-ordered orientation (each
    * undirected edge points from its lower-(degree, id) endpoint to the
    * higher), which bounds wedge generation by the graph's arboricity —
    * a node of degree d generates wedges only from its *oriented-out*
    * edges, so a celebrity hub with a million neighbors contributes
    * O(arboricity²) wedges, not O(d²). The total order is the
    * (degree, id) PAIR compared lexicographically — no dense rank, so
    * no global window / single-partition exchange anywhere in the
    * plan. Wedges close via one equi-join back onto the oriented edge
    * list; per-node counts are an explode + two-phase aggregate. Every
    * shuffle key is a node id; the mutual edge list is ≤ |nodes|·K by
    * the top-K cap and is localCheckpointed once for its three
    * consumers. cc_e6 = ⌊2·10⁶·tri / (deg·(deg−1))⌋ in exact integer
    * arithmetic. */
  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    val edges = knnMutual(spark, dir).select("id_a", "id_b").localCheckpoint()
    val deg = edges.select(col("id_a").as("node"))
      .unionAll(edges.select(col("id_b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
      .localCheckpoint()
    val da = deg.select(col("node").as("id_a"), col("degree").as("dega"))
    val db = deg.select(col("node").as("id_b"), col("degree").as("degb"))
    val lowerA = col("dega") < col("degb") ||
      (col("dega") === col("degb") && col("id_a") < col("id_b"))
    // oriented edge u→v with v's degree carried for the wedge order
    val oe = edges.join(da, "id_a").join(db, "id_b")
      .select(
        when(lowerA, col("id_a")).otherwise(col("id_b")).as("u"),
        when(lowerA, col("id_b")).otherwise(col("id_a")).as("v"),
        when(lowerA, col("degb")).otherwise(col("dega")).as("vd"))
      .localCheckpoint()
    val e1 = oe.select(col("u"), col("v").as("v1"), col("vd").as("vd1"))
    val e2 = oe.select(col("u"), col("v").as("v2"), col("vd").as("vd2"))
    val wedges = e1.join(e2, Seq("u"))
      .filter(col("vd1") < col("vd2") ||
        (col("vd1") === col("vd2") && col("v1") < col("v2")))
    val tri = wedges
      .join(oe.select(col("u").as("v1"), col("v").as("v2")), Seq("v1", "v2"))
      .select(col("u"), col("v1"), col("v2"))
    val pert = tri
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(pert, Seq("node"), "left")
      .select(
        col("node").as("vec_id"),
        col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          expr("2000000 * coalesce(triangles, 0) div (degree * (degree - 1))"))
          .otherwise(lit(0L)).as("cc_e6"))
      .orderBy("vec_id")
  }

  /** q_cluster_profile: QUALITY DIAGNOSTICS per semantic cluster — the
    * report a curation pipeline reads before trusting cluster labels
    * for SemDeDup-style pruning or [[clusterSample]] budgets: per
    * cluster, its size, centroid norm, and member→centroid cosine
    * cohesion (mean + min). A tight cluster (mean_cos → 1) is a true
    * near-duplicate neighborhood; a loose one (low min_cos) is a
    * chained component whose ends should not prune each other. Runs on
    * the [[SampleKnnK]]-mutual substrate — the same fine-grained
    * clusters [[clusterSample]] allocates budget over (the K=10 graph
    * collapses to one giant component on this corpus, which is itself
    * the kind of fact this profile exists to surface).
    *
    * Determinism: member vectors quantize to e6 integers FIRST, so the
    * per-dim centroid sums are exact integer arithmetic in any
    * accumulation order (float summation order across partitions is
    * exactly what must NOT leak into results); centroid dims are
    * truncating integer division; each member cosine is then ONE
    * double division of exact integers (dot and both norms stay
    * integer — 64 dims × e6² < 2⁵³), floored to e6 before the integer
    * mean. Both engines execute the identical tree.
    *
    * Scale shape: labels come from the shared CC loop (work ∝ mutual-
    * edge node set); the per-dim sums are one two-phase aggregate on
    * (cluster, dim) keys (explode fan-out = catalog × 64); centroids
    * are cluster-count-sized and re-join members on cluster_id. */
  def clusterProfile(spark: SparkSession, dir: String): DataFrame =
    clusterProfileFrom(spark, dir,
      knnMutual(spark, dir, SampleKnnK).select("id_a", "id_b"))

  /** q_cluster_profile_approx: the per-cluster cohesion report over
    * FOREST-fed fine clusters — [[clusterProfile]]'s exact-integer
    * centroid/cosine tail unchanged, with the [[SampleKnnK]]-mutual
    * edges ranked over [[forestScored]] candidates instead of all
    * pairs: the quality gate of the 10⁹-vector curation path, so the
    * clusters SemDeDup-style pruning trusts at corpus scale are the
    * ones this report audits. */
  def clusterProfileApprox(spark: SparkSession, dir: String): DataFrame =
    clusterProfileFrom(spark, dir,
      mutualEdges(forestScored(spark, dir), SampleKnnK)
        .select("id_a", "id_b"))

  /** The label → e6-quantize → centroid → member-cosine tail shared
    * by the exact and forest-fed cluster profilers. */
  private def clusterProfileFrom(spark: SparkSession, dir: String,
      edges: DataFrame): DataFrame = {
    val emb = Tables.widened(Tables.embeddings(spark, dir))
      .select(col("vec_id"), expr(
        "transform(cast(embedding as array<double>), x -> cast(floor(x * 1e6 + 0.5) as bigint))")
        .as("ve"))
    val mem = Dedup.labelEveryNode(emb, "vec_id", edges)
      .localCheckpoint() // catalog-bounded; centroid agg + cos join read it
    val cent = mem
      .select(col("cluster_id"), posexplode(col("ve")).as(Seq("dim", "v")))
      .groupBy("cluster_id", "dim")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .withColumn("mean_e6", expr("s div n"))
      .groupBy("cluster_id")
      .agg(expr("transform(sort_array(collect_list(struct(dim, mean_e6))), p -> p.mean_e6)")
        .as("ce"))
    val scored = mem.join(cent, Seq("cluster_id"))
      .withColumn("dot",
        expr("aggregate(zip_with(ve, ce, (x, y) -> x * y), 0L, (a, x) -> a + x)"))
      .withColumn("na", expr("aggregate(ve, 0L, (a, x) -> a + x * x)"))
      .withColumn("nc", expr("aggregate(ce, 0L, (a, x) -> a + x * x)"))
      .withColumn("cos_e6",
        when(col("na") === 0 || col("nc") === 0, lit(0L))
          .otherwise(expr(
            "cast(floor(cast(dot as double) / (sqrt(cast(na as double)) * sqrt(cast(nc as double))) * 1e6 + 0.5) as bigint)")))
    scored.groupBy("cluster_id")
      .agg(
        count(lit(1)).as("cluster_size"),
        floor(sqrt(max("nc").cast("double")) + 0.5).cast("long")
          .as("centroid_norm_e6"),
        expr("sum(cos_e6) div count(1)").as("mean_cos_e6"),
        min("cos_e6").as("min_cos_e6"))
      .orderBy("cluster_id")
  }

  /** q_ann_recall: the APPROXIMATION-QUALITY SWEEP as data — recall@K
    * of the LSH and IVF paths against the exact top-K, per query (the
    * ValidateModels-style model-quality report for the ANN family):
    * the table an operator reads to tune planes/nprobe before trading
    * exactness for scale. AnnRecallSpec pins corpus-level floors; this
    * materializes the per-query report those floors summarize.
    *
    * Scale shape: three already-bounded top-K frames (≤ K rows per
    * query each) meet on (query_id, neighbor_id) equi-joins; the
    * rollup is a count aggregate on query_id. Cost is dominated by
    * the component retrievals, not the comparison. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = annCosine(spark, dir).select(col("query_id"), col("neighbor_id"))
    val lsh = annLshCosine(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
      .withColumn("in_lsh", lit(1L))
    val ivf = annIvfCosine(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
      .withColumn("in_ivf", lit(1L))
    exact
      .join(lsh, Seq("query_id", "neighbor_id"), "left")
      .join(ivf, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("in_lsh"), lit(0L))).as("lsh_hits"),
        sum(coalesce(col("in_ivf"), lit(0L))).as("ivf_hits"))
      .withColumn("lsh_recall_e6", expr("lsh_hits * 1000000 div n_exact"))
      .withColumn("ivf_recall_e6", expr("ivf_hits * 1000000 div n_exact"))
      .orderBy("query_id")
  }

  /** Hyperplane count for the SEARCH-path registrations
    * (q_ann_lsh_cosine / q_forest_sweep / q_dedup_embedding: 2⁸ = 256
    * buckets, pinned because those DuckDB oracles embed exactly these
    * planes and AnnRecallSpec's recall floors are calibrated to them;
    * their probe side is a BOUNDED query set, so candidate volume is
    * |Q|·occupancy·probes·L — linear in n with this constant). The
    * corpus-wide FOREST-FED family does NOT use this constant: its
    * plane count is the occupancy-derived [[occupancyPlanes]], the
    * dial that keeps its candidate volume ~linear (see
    * [[ForestTargetOccupancy]]). At production scale this constant
    * would be ≈ log₂(corpus / targetBucketSize): e.g. 10⁹ vectors
    * with ~4k-vector buckets → 18 planes. Cost is linear in planes
    * (one 64-dim dot each); bucket count grows 2^planes. */
  private val Planes = 8

  /** OR-amplification width for [[annLshCosine]]: L independent
    * 8-plane tables (an LSH forest; Indyk-Motwani's L-repetition
    * dial). A true neighbor is found if ANY table collides, so recall
    * compounds as 1-(1-r₁)^L while candidate volume grows only
    * linearly in L — the classic recall-vs-work trade, set where the
    * measured recall@5 on the weakly-clustered test corpus clears 0.5
    * (single-table multiprobe measured 0.10; see AnnRecallSpec).
    * Table 0's planes are exactly the [[Planes]] single-table set, so
    * the one-table paths (q_dedup_embedding) are unchanged. */
  private[operators] val LshTables = 8

  /** Target mean bucket occupancy for the FOREST-FED corpus paths
    * ([[forestPairs]]/[[forestScored]] and the six approx siblings):
    * with PINNED planes, occupancy grows ∝ n and forest candidate
    * volume ∝ n²/2^planes — q_lof_approx measured scaling exponent
    * 1.74 sf0.1→sf1 under the pinned 8. Deriving planes from the
    * corpus size as ⌈log₂(⌈n / occupancy⌉)⌉ holds occupancy in
    * (occupancy/2, occupancy], so per-node candidate volume stays
    * ≈ occupancy·(planes+1)·L — the probe fan grows only with log n
    * and total forest work is ~linear in n (ApproxSubstrateSpec pins
    * the flatness sf0.01→sf0.1). The DuckDB oracles re-derive the
    * SAME planes from COUNT(*) (one generator note in
    * [[forestCandSql]]), so the hash compare exercises the dial at
    * every scale instead of interpolating a constant. */
  private[operators] val ForestTargetOccupancy = 8L

  /** planes(n) = max(4, ⌈log₂(⌈n / [[ForestTargetOccupancy]]⌉)⌉) —
    * integer-exact (bit-length of buckets−1), mirrored in SQL as
    * greatest(4, length(bin((n + 7) // 8 - 1))). The floor of 4 keeps
    * tiny corpora from degenerating to one bucket. */
  private[operators] def occupancyPlanes(n: Long): Int = {
    val buckets =
      (math.max(1L, n) + ForestTargetOccupancy - 1) / ForestTargetOccupancy
    val ceilLog2 =
      if (buckets >= 2) 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)
      else 0
    math.max(4, ceilLog2)
  }

  /** Constant ±1 Rademacher hyperplanes (n × 64), derived from
    * md5("plane<p>/<i>") first-byte parity — fixed operator parameters
    * shared verbatim with the oracle SQL (same role as the extraction
    * HTML template). */
  private[operators] def planeSigns(n: Int): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(n, 64) { (p, i) =>
      val h = md.digest(s"plane$p/$i".getBytes("UTF-8"))
      if ((h(0) & 1) == 1) 1 else -1
    }
  }

  /** Sign-projection bucket id: bit p = [v · r_p > 0]; the projection
    * folds in pinned index order so buckets match DuckDB exactly. */
  private def lshBucket(v: Column, planes: Int): Column = {
    val signs = planeSigns(planes)
    (0 until planes).map { p =>
      val arr = array(signs(p).map(s => lit(s.toDouble)): _*)
      when(dot(v, arr) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** The OR-amplified forest index over an `emb(vec_id, v)` frame:
    * L narrow (vec_id, t, bucket) rows per vector — table t's bucket
    * uses global planes [t·planes, (t+1)·planes), so table 0 is
    * exactly the single-table [[lshBucket]]. Shared by the ANN forest
    * search and the candidate-fed kNN graph. */
  private def forestBuckets(emb: DataFrame, planes: Int, tables: Int): DataFrame = {
    val signs = planeSigns(tables * planes)
    def bucketT(v: Column, t: Int): Column =
      (0 until planes).map { p =>
        val arr = array(signs(t * planes + p).map(s => lit(s.toDouble)): _*)
        when(dot(v, arr) > 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    emb
      .withColumn("tb", explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), bucketT(col("v"), t).as("bucket"))): _*)))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
  }

  /** Embeddings with norm + LSH bucket (shared by the ANN + dedup
    * scale paths). */
  private def bucketed(spark: SparkSession, dir: String, planes: Int): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("bucket", lshBucket(col("v"), planes))

  /** q_ann_lsh_cosine: bucketed approximate top-k over an
    * OR-AMPLIFIED LSH forest — [[LshTables]] independent sign-
    * projection tables of [[Planes]] bits each; a candidate is scored
    * if it shares a bucket with the query in ANY table, in that
    * table's exact bucket or (multiprobe, Lv et al., VLDB'07) one bit
    * flip away. Union-of-tables is the standard LSH recall
    * amplification: per-table collision r compounds to 1-(1-r)^L for
    * true neighbors while candidate volume grows only linearly in L.
    *
    * Scale shape: the forest INDEX is ids only — L (vec_id, table,
    * bucket) rows, never vector payloads (what a Faiss/Annoy
    * deployment's L hash tables actually store); the probe join is a
    * pure equi-join on (table, bucket) against broadcast query probes
    * (L·(1+planes) narrow rows per query); the candidate union dedups
    * 16-byte (query, neighbor) pairs BEFORE any vector moves, then
    * fetches each candidate's vector exactly once by key join and
    * scores against the broadcast query vectors. Work ∝ index size +
    * deduped candidates — a pair colliding in several tables is
    * shuffled as a pair L times but scored once, and no 64-dim array
    * ever rides the dedup shuffle. Recall < 1 by design;
    * value-checked against a DuckDB oracle that rebuilds the same
    * forest and probe set. */
  def annLshCosine(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    // the forest index: L narrow rows per vector, keyed (t, bucket)
    val index = forestBuckets(emb.select("vec_id", "v"), Planes, LshTables)
    // query probes: per table, the exact bucket plus [[Planes]] one-flip
    // multiprobe buckets — ids and bucket keys only (derived from the
    // query slice of the same index)
    val probes = index.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("t").as("qt"),
        col("bucket").as("qbucket"))
      .withColumn("probe", explode(array(col("qbucket") +:
        (0 until Planes).map(p => col("qbucket").bitwiseXOR(lit(1L << p))): _*)))
      .select(col("query_id"), col("qt"), col("probe"))
    // union of tables: candidate PAIRS dedup first (16-byte rows), so a
    // pair colliding in several tables is scored once
    val pairs = index.join(broadcast(probes),
        col("t") === col("qt") && col("bucket") === col("probe") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    // fetch each candidate's vector once; query vectors broadcast
    val qvec = emb.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = pairs
      .join(emb.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .join(broadcast(qvec), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos_raw"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_raw").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        (floor(col("cos_raw") * 1e6 + 0.5) / 1e6).as("cosine"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Table-count grid for [[forestSweep]] (pinned: oracle embeds). */
  private val SweepTables = Seq(1, 2, 4, 8)

  /** q_forest_sweep: the LSH-forest TUNING TABLE as data — for every
    * (tables L, multiprobe radius r) config on the grid, the deduped
    * candidate volume and the recall@[[K]] of the candidate set
    * against the exact top-K (q_dedup_sweep / q_ann_recall's
    * accuracy-audit family: the table an operator reads before
    * trading exactness for scale). Candidate-level recall IS
    * result-level recall at this K: an exact top-K neighbor present
    * among a query's candidates is outranked only by better exact
    * neighbors, so it always survives the top-K cut.
    *
    * One forest build serves every config: config L probes tables
    * 0..L-1 of the SAME [[LshTables]]-table index (prefix nesting —
    * so recall and volume are provably monotone in L, spec-pinned),
    * and each (query, neighbor) pair aggregates to the MINIMUM table
    * index reaching it without (t0) and with (t1) bit-flip probes;
    * every grid cell is then one conditional count over that single
    * bounded pair table. Scale shape: the heavy work is the one
    * index build + one pair dedup (exactly q_ann_lsh_cosine's), the
    * exact side is the bounded query-slice broadcast, and the grid
    * fan-out multiplies only id-pair rows. */
  def forestSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exact = annCosine(spark, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val index = forestBuckets(emb, Planes, LshTables)
    val probes = index.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("t").as("qt"),
        col("bucket").as("qbucket"))
      .withColumn("pr", explode(array(
        struct(col("qbucket").as("probe"), lit(false).as("flipped")) +:
        (0 until Planes).map(p => struct(
          col("qbucket").bitwiseXOR(lit(1L << p)).as("probe"),
          lit(true).as("flipped"))): _*)))
      .select(col("query_id"), col("qt"), col("pr.probe").as("probe"),
        col("pr.flipped").as("flipped"))
    val pairAgg = index.join(broadcast(probes),
        col("t") === col("qt") && col("bucket") === col("probe") &&
          col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(min(when(!col("flipped"), col("t"))).as("t0"), min(col("t")).as("t1"))
      .join(exact, Seq("query_id", "neighbor_id"), "left")
      .na.fill(0L, Seq("hit")).na.fill(99L, Seq("t0"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val grid = SweepTables.flatMap(l => Seq((l.toLong, 0L), (l.toLong, 1L)))
      .toDF("tables", "radius")
    pairAgg.crossJoin(broadcast(grid))
      .filter(when(col("radius") === 0L, col("t0") < col("tables"))
        .otherwise(col("t1") < col("tables")))
      .groupBy("tables", "radius")
      .agg(count(lit(1)).as("n_cand"), sum("hit").as("hits"))
      .crossJoin(broadcast(nExact))
      .withColumn("recall_e6", expr("hits * 1000000 div n_exact"))
      .select("tables", "radius", "n_cand", "hits", "n_exact", "recall_e6")
      .orderBy("tables", "radius")
  }

  private val DedupTau = 0.2

  /** q_dedup_embedding: embedding-cosine near-duplicate pairs — the
    * dedup-flavored use of the ANN machinery: bucket-local pairs with
    * cosine ≥ τ. All-pairs work is confined to sign-projection buckets
    * (the 100 TB shape: shuffle ∝ corpus, compare ∝ Σ bucket²). */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val emb = bucketed(spark, dir, Planes)
    val a = emb.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"), col("bucket"))
    val b = emb.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"), col("bucket").as("bucket_b"))
    a.join(b, col("bucket") === col("bucket_b") && col("id_a") < col("id_b"))
      .withColumn("cos_raw", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos_raw") >= DedupTau)
      .select(col("id_a"), col("id_b"), (floor(col("cos_raw") * 1e6 + 0.5) / 1e6).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  /** Fixed codebook: the [[IvfCells]] corpus vectors ranked first by
    * md5(vec_id) — a deterministic pseudo-random sample (bounded
    * collect: cells × dims doubles). Shared by the IVF and SemDeDup
    * paths; the oracle SQL re-derives the identical anchors. Returns
    * (1-based cell id, vector, |vector|²). */
  private def seededAnchors(emb: DataFrame): Array[(Long, Array[Double], Double)] =
    emb.select(col("vec_id"), col("v"))
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy("h").limit(IvfCells)
      .collect().zipWithIndex.map { case (r, i) =>
        val a = r.getSeq[Double](1).toArray
        (i + 1L, a, a.foldLeft(0.0)((s, x) => s + x * x))
      }

  /** q_ann_ivf_cosine: IVF approximate top-k — a coarse codebook
    * assigns every vector to a cell; each query probes its [[IvfNprobe]]
    * nearest cells only, so scoring work is ∝ Σ probed-cell sizes (the
    * classic inverted-file trade: recall vs nprobe).
    *
    * The codebook is the production IVF shape: centroids are
    * trained OFFLINE and shipped fixed to the search job. Here the
    * fixed codebook is a deterministic md5-ranked sample of corpus
    * vectors (same derivation both engines run), which makes the whole
    * query — codebook, cell assignment, probing, scoring — recomputable
    * in SQL, so this path carries a full value oracle. Cell assignment
    * is a pure map-side argmin over literal-anchor distances (no ML
    * transform, no extra shuffle); every distance folds in pinned index
    * order so assignments are bit-identical in DuckDB. The trained
    * (Lloyd) codebook is its own registration, [[annIvfKmeans]]. */
  def annIvfCosine(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm2", dot(col("v"), col("v")))
    val anchors = seededAnchors(emb)
    val dists = array(anchors.map { case (_, a, a2) =>
      col("nrm2") - lit(2.0) * dot(col("v"), lit(a)) + lit(a2)
    }: _*)
    val withCell = emb
      .withColumn("dists", dists)
      .withColumn("cell", array_position(col("dists"), array_min(col("dists"))))
      .withColumn("nrm", sqrt(col("nrm2")))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("cell_p").asc)
    val probes = withCell.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), posexplode(col("dists")).as(Seq("pos", "dist")))
      .withColumn("cell_p", (col("pos") + 1).cast("long"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= IvfNprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("cell_p"))
    val scored = withCell.join(broadcast(probes),
        col("cell") === col("cell_p") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos_raw"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_raw").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        (floor(col("cos_raw") * 1e6 + 0.5) / 1e6).as("cosine"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** q_ann_ivf_kmeans: IVF top-k with the TRAINED coarse codebook —
    * the complete "train the codebook, then search it" pipeline
    * (q_kmeans is the train half, q_ann_ivf_cosine the search shape;
    * this row runs both ends on ONE shared [[lloyd]] kernel).
    * ROUTING IS ENTIRELY INTEGER: corpus cells come from Lloyd's
    * final-round argmin over e6 vectors and query probes rank the
    * trained centroids by the same integer d² (ties cell asc) — no
    * float comparison anywhere in routing; only in-cell scoring
    * computes the exact double cosine (the q_ann_ivf_cosine IEEE
    * tree). That integer discipline is what makes the TRAINED path
    * hash-oracleable — it replaces the earlier Spark-ML KMeans
    * variant whose distributed double centroid means were not
    * bit-reproducible in SQL (the tree's last rows-only exception
    * class outside model training).
    *
    * Scale shape: the codebook is a ≤[[KmCells]]-row broadcast at
    * every stage (train rounds and probes both crossJoin(broadcast));
    * assignment/probing are map-side + a per-vector rank window; the
    * candidate join is the same (cell) equi-join as annIvfCosine —
    * shuffle ∝ probed candidates, never |corpus|². */
  private[graft] def annIvfKmeans(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, cents) = ivfKmeansIndex(spark, dir)
    ivfTopKFinish(ivfKmeansCandidates(
      Tables.widened(Tables.embeddings(spark, dir))
        .filter(isQuery(col("vec_id"))).select("vec_id", "embedding"),
      corpus, ivfCentsAgg(cents), IvfNprobe))
  }

  /** The trained IVF index, built batch-side: (assigned corpus
    * (vec_id, v, nrm, cell), trained centroid table (cell, ce)) —
    * shared by the batch search and q_stream_ann's at-ingest lookups
    * (the load-model-then-map contract: train once, broadcast, score
    * arrivals forever). */
  private[graft] def ivfKmeansIndex(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val embd = Tables.widened(Tables.embeddings(spark, dir))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val (_, assign, cents) = lloyd(e6Vectors(spark, dir))
    (embd.join(assign.select("vec_id", "cell"), Seq("vec_id")), cents)
  }

  /** The ≤[[KmCells]]-row trained codebook folded into ONE broadcast
    * row (cell-sorted struct array) so probe selection is a pure
    * map-side array expression — no window, no shuffle: the property
    * that lets the SAME selection run inside a stateless stream. */
  private[graft] def ivfCentsAgg(cents: DataFrame): DataFrame =
    cents.select(struct(col("cell"), col("ce")).as("s"))
      .agg(sort_array(collect_list("s")).as("cents"))

  /** Map-side candidate scorer over any `(vec_id, embedding)` query
    * frame — ONE shared kernel for the batch q_ann_ivf_kmeans and the
    * q_stream_ann ingest scorer, so the two cannot disagree and share
    * one oracle. Per query: e6-quantize, integer d² to each broadcast
    * centroid, take the `nprobe` (d2, cell)-smallest cells (an
    * array_sort slice — identical selection to a rank window, zero
    * shuffle), then the (cell) equi-join against the assigned corpus
    * and the exact double cosine. Each (query, neighbor) candidate
    * row is complete the moment the query arrives. */
  private[graft] def ivfKmeansCandidates(queries: DataFrame,
      corpus: DataFrame, centsAgg: DataFrame, nprobe: Int): DataFrame = {
    val probes = queries
      .select(col("vec_id").as("query_id"),
        asDouble(col("embedding")).as("qv"),
        expr("transform(cast(embedding as array<double>), x -> cast(floor(x * 1e6 + 0.5) as bigint))")
          .as("qe"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
      .crossJoin(broadcast(centsAgg))
      .withColumn("cell_p", explode(expr(
        s"""transform(slice(array_sort(transform(cents,
           |  c -> named_struct(
           |    'd2', aggregate(zip_with(qe, c.ce, (a, b) -> (a - b) * (a - b)),
           |      0L, (acc, x) -> acc + x),
           |    'cell', c.cell))), 1, $nprobe), p -> p.cell)""".stripMargin)))
      .select(col("query_id"), col("qv"), col("qn"), col("cell_p"))
    corpus.join(probes,
        col("cell") === col("cell_p") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos_raw"))
  }

  /** The per-query top-[[K]] rank-and-present tail shared by the
    * batch search and the stream's batch-side finish. */
  private[graft] def ivfTopKFinish(cands: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_raw").desc, col("neighbor_id").asc)
    cands
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        (floor(col("cos_raw") * 1e6 + 0.5) / 1e6).as("cosine"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** q_embed_quantize: per-vector symmetric int8 quantization — the
    * 4× storage cut an ANN corpus takes before indexing at scale
    * (scale = max|x|/127, q_i = round(x_i/scale) ∈ [-127,127]).
    * Map-only pass; the registered output reduces each vector to
    * exact-integer check columns (quantized sum / L2) plus the
    * floor-scaled scale and reconstruction MSE, so the driver compare
    * is array-free and dtype-exact. Determinism: every float enters
    * the arithmetic through an exact float→double conversion, division
    * and the left-fold error sum are correctly-rounded double ops in
    * pinned index order — bit-identical in DuckDB. */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val v = col("v")
    val amax = array_max(transform(v, x => abs(x))) // float-exact
    val scale = amax.cast("double") / 127.0
    def qi(x: Column) =
      when(col("scale") === 0.0, lit(0.0))
        .otherwise(greatest(lit(-127.0), least(lit(127.0),
          floor(x.cast("double") / col("scale") + 0.5))))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("scale", scale)
      .withColumn("q", transform(v, x => qi(x).cast("long")))
      .select(
        col("vec_id"),
        size(v).cast("long").as("n_dims"),
        floor(col("scale") * 1e9 + 0.5).cast("long").as("scale_e9"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
        aggregate(col("q"), lit(0L), (a, x) => a + x * x).as("q_l2"),
        floor(aggregate(
          zip_with(v, col("q"), (x, q) =>
            (x.cast("double") - q.cast("double") * col("scale"))
              * (x.cast("double") - q.cast("double") * col("scale"))),
          lit(0.0), (a, e) => a + e) * 1e9 + 0.5).cast("long").as("mse_e9"))
      .orderBy("vec_id")
  }

  /** PQ shape, pinned because the oracle interpolates them: 4
    * subspaces × 16 codes = 16 bits/vector (vs 64×4 B raw — a 128×
    * cut; real deployments use M=8..64, Ks=256 — same shapes, bigger
    * literals). */
  private[graft] val PqM = 4
  private[graft] val PqKs = 16

  /** q_embed_pq: product quantization (Jégou/Douze/Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI'11) — the
    * memory path that makes billion-vector ANN fit in RAM: each
    * vector splits into [[PqM]] subvectors, each assigned to its
    * nearest of [[PqKs]] per-subspace centroids, so a vector becomes
    * M small codes plus a shared codebook. Output = the per-subspace
    * code columns (what an index stores) and the total reconstruction
    * error (what a recall budget is planned from).
    *
    * Like q_ann_ivf_cosine, the codebook has the production shape —
    * trained OFFLINE, shipped fixed — realized deterministically: the
    * [[PqKs]] corpus vectors ranked first by md5(vec_id), each
    * contributing one centroid per subspace (bounded collect:
    * Ks × dims doubles). That makes codebook, assignment, and error
    * all recomputable in SQL → full value oracle. Scale shape:
    * map-only single scan (subspace distances are literal-anchor
    * dots), no shuffle before the final order. Assignment folds in
    * pinned index order; ties break to the first (lowest) code in
    * both engines. */
  def embedPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val sample = emb
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy("h").limit(PqKs)
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    val dims = sample(0).length
    require(dims % PqM == 0, s"embedding dims $dims not divisible by $PqM")
    val sub = dims / PqM
    val withCodes = (0 until PqM).foldLeft(emb) { (df, m) =>
      val sv = col(s"sv$m")
      val ds = array(sample.map { vec =>
        val a = vec.slice(m * sub, (m + 1) * sub)
        val a2 = a.foldLeft(0.0)((s, x) => s + x * x)
        col(s"sv2$m") - lit(2.0) * dot(sv, lit(a)) + lit(a2)
      }: _*)
      df.withColumn(s"sv$m", slice(col("v"), m * sub + 1, sub))
        .withColumn(s"sv2$m", dot(sv, sv))
        .withColumn(s"ds$m", ds)
        .withColumn(s"code${m + 1}", array_position(col(s"ds$m"), array_min(col(s"ds$m"))))
        .withColumn(s"dmin$m", array_min(col(s"ds$m")))
    }
    val err = (0 until PqM).map(m => col(s"dmin$m")).reduce(_ + _)
    withCodes.select(
      (col("vec_id") +: (1 to PqM).map(m => col(s"code$m"))) :+
        floor(err * 1e9 + 0.5).cast("long").as("err_e9"): _*)
      .orderBy("vec_id")
  }

  /** q_ann_ivfpq: the IVF-PQ index probe (Jégou et al. TPAMI'11, the
    * FAISS IVFPQ shape) — the billion-vector configuration where BOTH
    * halves of the cost are cut: the IVF coarse codebook restricts
    * each query to nprobe cells (compare work ∝ probed fraction, as
    * q_ann_ivf_cosine), and within a cell candidates are scored from
    * their [[PqM]]-code PQ representation via the asymmetric-distance
    * LUT (memory ∝ M codes/vector, not dims floats; ADC: Jégou §IV.A)
    * instead of their raw vectors. Composes the EXACT artifacts of
    * q_ann_ivf_cosine (seeded cell anchors) and q_embed_pq (seeded
    * per-subspace codebook) so index build cost is shared in a real
    * deployment.
    *
    * Per query the LUT is M×Ks literal-anchor distances computed once
    * (map-only); each candidate then costs M array lookups + M-1 adds
    * — no per-pair O(dims) work anywhere. Approximate distance =
    * Σ_m LUT_m[code_m(candidate)], floored to e9 for display; ranking
    * uses the raw double with id tie-break (deterministic: both
    * engines build the identical expression tree in the same fold
    * order, the q_embed_pq precedent).
    *
    * Scale shape: codes + cells are offline index artifacts (here
    * rebuilt in-query from the seeded samples, each a bounded
    * collect); the probe join is the same broadcast cell-equi-join as
    * q_ann_ivf_cosine with the build side carrying M small ints per
    * row instead of the full vector — the memory cut that lets the
    * candidate scan stay in cache at 10⁹ vectors. */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.widened(Tables.embeddings(spark, dir))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm2", dot(col("v"), col("v")))
    val anchors = seededAnchors(emb)
    val sample = emb
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy("h").limit(PqKs)
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    val dims = sample(0).length
    require(dims % PqM == 0, s"embedding dims $dims not divisible by $PqM")
    val sub = dims / PqM
    def subAnchor(m: Int, k: Int): (Array[Double], Double) = {
      val a = sample(k).slice(m * sub, (m + 1) * sub)
      (a, a.foldLeft(0.0)((s, x) => s + x * x))
    }
    val cellDists = array(anchors.map { case (_, a, a2) =>
      col("nrm2") - lit(2.0) * dot(col("v"), lit(a)) + lit(a2)
    }: _*)
    // corpus index: cell + M PQ codes per vector
    val indexed = (0 until PqM).foldLeft(
      emb.withColumn("dists", cellDists)
        .withColumn("cell", array_position(col("dists"), array_min(col("dists"))))) {
      (df, m) =>
        val ds = array((0 until PqKs).map { k =>
          val (a, a2) = subAnchor(m, k)
          col(s"sv2$m") - lit(2.0) * dot(col(s"sv$m"), lit(a)) + lit(a2)
        }: _*)
        df.withColumn(s"sv$m", slice(col("v"), m * sub + 1, sub))
          .withColumn(s"sv2$m", dot(col(s"sv$m"), col(s"sv$m")))
          .withColumn(s"ds$m", ds)
          .withColumn(s"code${m + 1}",
            array_position(col(s"ds$m"), array_min(col(s"ds$m"))))
    }
    // query side: nprobe cells + the per-subspace ADC lookup tables
    // (ds$m IS the LUT: distance of the query's m-subvector to every
    // codebook centroid, in code order)
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("cell_p").asc)
    val probes = indexed.filter(isQuery(col("vec_id")))
      .select((col("vec_id").as("query_id") +:
        (0 until PqM).map(m => col(s"ds$m").as(s"lut$m"))) :+
        posexplode(col("dists")).as(Seq("pos", "dist")): _*)
      .withColumn("cell_p", (col("pos") + 1).cast("long"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= IvfNprobe)
      .drop("pos", "dist", "pr")
    val adc = (0 until PqM)
      .map(m => element_at(col(s"lut$m"), col(s"code${m + 1}").cast("int")))
      .reduce(_ + _)
    val scored = indexed
      .select((col("vec_id") +: col("cell") +:
        (1 to PqM).map(m => col(s"code$m"))): _*)
      .join(broadcast(probes),
        col("cell") === col("cell_p") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), adc.as("adc_raw"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_raw").asc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        floor(col("adc_raw") * 1e9 + 0.5).cast("long").as("adc_e9"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Cosine threshold above which two same-cell vectors are semantic
    * duplicates (pinned: the oracle embeds it). */
  private val SemTau = 0.2

  /** q_semdedup: SemDeDup (Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", 2023) —
    * embedding-space near-dup removal that never goes all-pairs: a
    * coarse codebook assigns every vector to a cell, pairwise cosine
    * runs only WITHIN cells (compare work ∝ Σ cell², not n²), and of
    * each duplicate neighborhood the vector with the LOWEST cosine to
    * its centroid is kept (the paper's keep-the-outlier rule — it
    * preserves the cluster's diversity rather than its center).
    *
    * Drop rule, neighbor-local and deterministic: x is dropped iff
    * some same-cell y with cos(x,y) ≥ [[SemTau]] has (cent_cos, id)
    * lexicographically below x's — in a duplicate clique exactly the
    * min-(cent_cos, id) member survives, with no iterative component.
    *
    * Scale shape: codebook is an offline fixed artifact (here the
    * seeded md5-ranked sample, as q_ann_ivf_cosine); assignment is a
    * map-only argmin over literal anchors; the only shuffle is the
    * cell-keyed self-join. Oracle: full value compare — assignment,
    * centroid cosines, and tie-breaks fold in pinned index order, so
    * DuckDB reproduces every keep bit. */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    // widen: the per-vector cell-assignment arithmetic dominates; a
    // one-task sandbox scan serializes it (no-op at scale)
    val emb = Tables.widened(Tables.embeddings(spark, dir))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm2", dot(col("v"), col("v")))
    val anchors = seededAnchors(emb)
    val dists = array(anchors.map { case (_, a, a2) =>
      col("nrm2") - lit(2.0) * dot(col("v"), lit(a)) + lit(a2)
    }: _*)
    val cdots = array(anchors.map { case (_, a, _) => dot(col("v"), lit(a)) }: _*)
    val anrms = array(anchors.map { case (_, _, a2) => lit(math.sqrt(a2)) }: _*)
    val assigned = emb
      .withColumn("dists", dists)
      .withColumn("cell", array_position(col("dists"), array_min(col("dists"))))
      .withColumn("cent_cos",
        element_at(cdots, col("cell").cast("int"))
          / (sqrt(col("nrm2")) * element_at(anrms, col("cell").cast("int"))))
      .select(col("vec_id"), col("v"), sqrt(col("nrm2")).as("nrm"),
        col("cell"), col("cent_cos"))
    val x = assigned.select(col("vec_id").as("id_x"), col("v").as("vx"),
      col("nrm").as("nx"), col("cell"), col("cent_cos").as("ccx"))
    val y = assigned.select(col("vec_id").as("id_y"), col("v").as("vy"),
      col("nrm").as("ny"), col("cell").as("cell_y"), col("cent_cos").as("ccy"))
    val stats = x.join(y, col("cell") === col("cell_y") && col("id_x") =!= col("id_y"))
      .filter(dot(col("vx"), col("vy")) / (col("nx") * col("ny")) >= SemTau)
      .groupBy(col("id_x"))
      .agg(count(lit(1)).as("n_dups"),
        max(when(col("ccy") < col("ccx")
          || (col("ccy") === col("ccx") && col("id_y") < col("id_x")), 1L)
          .otherwise(0L)).as("drp"))
    assigned.join(stats, col("vec_id") === col("id_x"), "left")
      .select(col("vec_id"), col("cell"),
        floor(col("cent_cos") * 1e6 + 0.5).cast("long").as("cent_cos_e6"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (coalesce(col("drp"), lit(0L)) === 0L).as("keep"))
      .orderBy("vec_id")
  }

  /** Contamination cosine threshold, e6-scaled (pinned: the oracle
    * embeds it; 0.8 is the common semantic-decontamination cut). */
  private val SemDecontamTauE6 = 800000L

  /** q_sem_decontam: SEMANTIC eval-set decontamination — for every
    * corpus vector, the max cosine against the held-out eval suite
    * (vec_id % 50 == 0, the same bounded query-set convention as
    * q_mmr_rerank) plus the nearest eval id and a contaminated flag at
    * [[SemDecontamTauE6]]. The embedding-space sibling of the n-gram
    * q_decontaminate: paraphrased or lightly-edited benchmark leakage
    * shares no 13-gram but sits at cosine ≈ 1, so production corpora
    * run BOTH filters before training.
    *
    * Spark-first shape: the eval suite is a FIXED benchmark set —
    * bounded by construction, like the PQ codebooks — so it collapses
    * to ONE broadcast row of [[SemDecontamChunks]] id-hashed array
    * cells (the knnTopSql topc0..7 convention applied to the
    * BROADCAST side: each collect_list buffer and each serialized
    * field carries 1/chunks of the suite, so neither the single-row
    * aggregate nor any one field is the suite-size ceiling), and the
    * per-vector argmax is a per-chunk codegen'd `transform` +
    * `array_max` — each eval cosine computed exactly ONCE — combined
    * across chunks by `greatest`: the corpus NEVER shuffles (no join
    * key, no groupBy — output rows are input rows), work is
    * |corpus|·|eval|·d map-side, embarrassingly parallel at any
    * executor count. The cosine is e6-floored BEFORE the argmax
    * compare in BOTH engines (left-fold dot, identical IEEE tree),
    * and the compare key is (cos_e6, −eval_id), so the
    * (cos_e6 DESC, eval_id ASC) winner is bit-deterministic and
    * chunk-assignment-independent. An EMPTY eval suite yields null
    * bests which are filtered — zero output rows, exactly the
    * oracle's inner join — instead of the sentinel rows the previous
    * fold emitted (a divergence only the generator's id layout used
    * to prevent). */
  def semDecontam(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.widened(Tables.embeddings(spark, dir))
    semDecontamScore(emb.filter(col("vec_id") % 50 =!= 0),
      semDecontamEvalAgg(emb))
      .orderBy("vec_id")
  }

  /** Broadcast-side chunk fan of the eval suite — 8 matches the
    * knnTopSql oracle-window convention; the chunk count bounds the
    * per-cell (and per-collect_list-buffer) share of the suite, never
    * the result (the combine key (cos_e6, −eid) is a total order, so
    * the global winner is chunk-assignment-independent). */
  private[graft] val SemDecontamChunks = 8

  /** Eval-suite size ceiling for [[semDecontamEvalAgg]] — the
    * broadcast CONTRACT, not a tuning dial: the chunk fan distributes
    * the suite across buffers/fields but total broadcast volume is
    * still ∝ |eval|. 2¹⁸ 64-dim doubles ≈ 140 MB serialized — inside
    * every executor's broadcast comfort zone and far above any real
    * benchmark suite (MMLU+GSM8K+HumanEval+BBH ≈ 2·10⁴ items). */
  private[graft] val SemDecontamEvalMax = 262144L

  /** The ONE-row eval-suite aggregate, CHUNKED into
    * [[SemDecontamChunks]] id-hashed struct-array cells ev0..ev7
    * (id, vector, norm; id-sorted within each cell for a stable
    * broadcast payload) — loaded batch-side and broadcast into both
    * the batch query and the q_stream_sem_decontam scorer. One row,
    * but no single aggregation buffer or serialized field carries
    * more than ~1/chunks of the suite. The suite must be benchmark-
    * sized: at most [[SemDecontamEvalMax]] vectors (a real eval suite
    * is a fixed constant; the synthetic generator's |emb|/50 scaling
    * is a sandbox artifact) — a larger suite fails LOUDLY here, at
    * plan-build time, instead of OOMing an executor mid-broadcast;
    * the remedy is sharding the suite across several passes or
    * routing through the forest candidate path. */
  private[graft] def semDecontamEvalAgg(emb: DataFrame): DataFrame = {
    val ev = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val nEval = ev.count() // eval-side scan only — cheap next to the
                           // |corpus|·|eval| scoring it guards
    require(nEval <= SemDecontamEvalMax,
      s"semantic-decontam eval suite has $nEval vectors, over the " +
        s"$SemDecontamEvalMax broadcast ceiling (SemDecontamEvalMax); " +
        "shard the suite across passes or use the forest candidate path")
    val cells = (0 until SemDecontamChunks).map(c =>
      sort_array(collect_list(when(
        pmod(xxhash64(col("vec_id")), lit(SemDecontamChunks.toLong)) === c,
        col("s")))).as(s"ev$c"))
    ev.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id"), struct(col("vec_id").as("eid"),
        col("v").as("ev"), col("nrm").as("enrm")).as("s"))
      .agg(cells.head, cells.tail: _*)
  }

  /** The stateless per-vector scorer over any `(vec_id, embedding)`
    * frame — ONE shared kernel for the batch query and the stream
    * (q_stream_sem_decontam), so the two cannot disagree and share one
    * oracle. Map-side only: no shuffle, no state. Each chunk cell
    * scores as transform → array_max (one cosine per eval vector, the
    * double-evaluation of the old fold retired), the chunks combine
    * with greatest over the (cos_e6, −eid) key, and a null best (all
    * cells empty = empty eval suite) drops the row — the oracle's
    * inner-join semantics, enforced instead of assumed. */
  private[graft] def semDecontamScore(corpus: DataFrame,
      evalAgg: DataFrame): DataFrame = {
    val bests = (0 until SemDecontamChunks).map(c => expr(
      s"""array_max(transform(ev$c, e -> named_struct(
         |  'cos_e6', cast(floor(aggregate(zip_with(v, e.ev, (x, y) -> x * y),
         |      cast(0 as double), (a, x) -> a + x)
         |    / (nrm * e.enrm) * 1e6 + 0.5) as bigint),
         |  'neg_eid', -e.eid)))""".stripMargin))
    corpus
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .crossJoin(broadcast(evalAgg))
      .withColumn("best", greatest(bests: _*))
      .filter(col("best").isNotNull)
      .select(col("vec_id"),
        (-col("best.neg_eid")).as("nearest_eval_id"),
        col("best.cos_e6").as("max_cos_e6"),
        (col("best.cos_e6") >= SemDecontamTauE6).as("contaminated"))
  }

  /** q_feature_scale: per-DIMENSION embedding statistics — the
    * feature-standardization fit every training pipeline runs before
    * modeling (the z-score/min-max scaler parameters, computed once
    * over the corpus then broadcast to the map-side transform).
    *
    * Scale shape: posexplode to (dim, value) then ONE two-phase agg
    * keyed by dim — shuffle is 64 keys × partial rows, never the
    * vectors themselves. Determinism: each float32 value floors to an
    * e6 INTEGER before any sum (the q_lm_quality rule), so every
    * downstream moment is exact integer arithmetic. Overflow safety:
    * |x_e6| ≤ ~10⁶ means x² ≤ 10¹² per ELEMENT (Long-safe), but the
    * second-moment SUMS grow ∝ n — Σx² alone passes 2⁶³ near 10⁷ rows
    * and n·Σx²−(Σx)² near √n sooner, so both accumulate in
    * decimal(38,0) (good to ~10³⁸ ≈ 10¹² rows × 10¹² per-row, the
    * whole 100 TB range; ANSI mode would THROW on a Long here, not
    * wrap). The published variance is var_e12 = (n·Σx²−(Σx)²) div n²
    * — the population variance of the e6 values, bounded by the
    * squared spread (≤ 4·10¹²) and hence Long-safe however large n
    * grows; mean and sums re-enter Long range the same way. */
  def featureScale(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")))
      .select(col("pos").cast("long").as("dim"),
        floor(col("col").cast("double") * 1e6 + 0.5).cast("long").as("v"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        min("v").as("min_e6"), max("v").as("max_e6"),
        sum(col("v").cast("decimal(38,0)")).as("sum_d"),
        sum((col("v") * col("v")).cast("decimal(38,0)")).as("sumsq_d"))
      .withColumn("sum_e6", col("sum_d").cast("long"))
      .withColumn("mean_e6", expr("sum_d div n"))
      .withColumn("var_e12",
        expr("(n * sumsq_d - sum_d * sum_d) div (CAST(n AS DECIMAL(38,0)) * n)"))
      .select("dim", "n", "min_e6", "max_e6", "sum_e6", "mean_e6", "var_e12")
      .orderBy("dim")

  /** q_mutual_info: per-DIMENSION feature-relevance screen — the
    * mutual information between each embedding dimension's sign bit
    * (above/below the dim mean) and the ground-truth label, the
    * classic filter-method feature selection (which dims carry label
    * signal at all; a near-zero board row is a dim that whitening or
    * PQ can quantize away without hurting any classifier). MI is
    * computed from exact integer contingency counts; each term
    * n_sl·ln(N·n_sl/(n_s·n_l)) floors its one ln() to an e6 integer
    * before the sum (the q_lm_quality rule), and the final MI_e6 is a
    * truncating div by N — deterministic and identical cross-engine.
    *
    * Scale shape: ONE posexplode (rows × dims) → sign flags against
    * the broadcast per-dim means → the joint contingency groupBy on
    * (dim, s, label) whose key space is dims × 2 × labels (a catalog
    * constant — the shuffle carries bounded keys with map-side
    * partials); marginals REUSE the joint (groupBy of a tiny frame,
    * broadcast back); the rank window runs over the 64-row board. */
  def mutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val x = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(expr(
          "transform(cast(embedding as array<double>), x -> cast(floor(x * 1e6 + 0.5) as bigint))"))
          .as(Seq("dim", "v")))
    val means = x.groupBy("dim")
      .agg(expr("sum(cast(v as decimal(38,0))) div count(1)").as("mean_e6"))
    val flags = x.join(broadcast(means), Seq("dim"))
      .select(col("dim"), col("label"),
        when(col("v") >= col("mean_e6"), 1L).otherwise(0L).as("s"))
    val joint = flags.groupBy("dim", "s", "label")
      .agg(count(lit(1)).as("n_sl"))
      .localCheckpoint() // dims × 2 × labels rows; four readers
    val margS = joint.groupBy("dim", "s").agg(sum("n_sl").as("n_s"))
    val margL = joint.groupBy("dim", "label").agg(sum("n_sl").as("n_l"))
    val tot = joint.groupBy("dim").agg(sum("n_sl").as("nn"))
    val board = joint
      .join(broadcast(margS), Seq("dim", "s"))
      .join(broadcast(margL), Seq("dim", "label"))
      .join(broadcast(tot), Seq("dim"))
      .withColumn("term_e6", expr(
        """n_sl * cast(floor(ln((cast(n_sl as double) * nn)
          | / (cast(n_s as double) * n_l)) * 1e6 + 0.5) as bigint)"""
          .stripMargin.replace('\n', ' ')))
      .groupBy("dim")
      .agg(max("nn").as("n_vecs"),
        sum(when(col("s") === 1, col("n_sl")).otherwise(0L)).as("n_pos"),
        expr("cast(sum(cast(term_e6 as decimal(38,0))) div max(nn) as bigint)")
          .as("mi_e6"))
    board
      .withColumn("rank", row_number().over( // 64-row board
        Window.orderBy(col("mi_e6").desc, col("dim").asc)).cast("long"))
      .select(col("dim").cast("long").as("dim"), col("n_vecs"),
        col("n_pos"), col("mi_e6"), col("rank"))
      .orderBy("dim")
  }

  /** Power-iteration rounds for q_pca_power — unrolled identically in
    * the oracle CTE chain. */
  private[graft] val PcaRounds = 2

  /** q_pca_power: the TOP PRINCIPAL COMPONENT of the embedding cloud
    * by power iteration — the anisotropy diagnostic run before any
    * cosine-based pipeline is trusted (embedding sets with one
    * dominant direction make every cosine look alike; whitening wants
    * exactly this vector). No linear-algebra library and no float
    * accumulation: components quantize to e6 integers, each round is
    * the exact integer matvec u = Cᵀ(Cv) in decimal(38,0), and
    * rescaling divides by the SIGNED value of the largest-|u| dim
    * (smallest dim on ties) — so the dominant dim pins to exactly
    * +10⁶, sign ambiguity (the eigenvector is only defined up to ±)
    * is resolved identically in both engines, and no sqrt-of-huge-int
    * (not exactly representable past 2⁵³) ever happens.
    *
    * Scale shape: the centered table E=(id, dim, c) is ONE posexplode
    * (rows × dims) materialized once; each round is two postings
    * equi-joins with two-phase aggs (by id, then by dim — shuffle ∝
    * E, never all-pairs) and a 64-row argmax window; v is always a
    * dim-sized broadcast. Overflow: |c| ≤ 2·10⁶, |s| ≤ dims·2·10¹²,
    * |u·10⁶| ≤ rows·dims·4·10²⁴ — inside decimal(38,0) to ~3·10¹¹
    * rows (past that, add a mid-round rescale). */
  def pcaPower(spark: SparkSession, dir: String): DataFrame = {
    val (means, _, v) = pcaParts(spark, dir)
    means.join(v, Seq("dim"))
      .select(col("dim").cast("long").as("dim"),
        col("mean_e6").cast("long").as("mean_e6"),
        col("vv").cast("long").as("loading_e6"))
      .orderBy("dim")
  }

  /** The power-iteration substrate — (per-dim means, the centered
    * integer table E, the converged direction v) — shared by
    * [[pcaPower]] (reports v) and [[anisotropy]] (projects onto v). */
  private[graft] def pcaParts(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val x = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(expr(
        "transform(cast(embedding as array<double>), x -> cast(floor(x * 1e6 + 0.5) as bigint))"))
        .as(Seq("dim", "v")))
    val means = x.groupBy("dim")
      .agg(expr("sum(cast(v as decimal(38,0))) div count(1)").as("mean_e6"))
    val e = x.join(broadcast(means), Seq("dim"))
      .select(col("vec_id"), col("dim"),
        (col("v") - col("mean_e6")).as("c"))
      .localCheckpoint() // rows × dims; read 2× per round
    var v = means.select(col("dim"),
      lit(1000000L).cast("decimal(38,0)").as("vv"))
    (1 to PcaRounds).foreach { _ =>
      val s = e.join(broadcast(v), Seq("dim"))
        .groupBy("vec_id")
        .agg(sum(col("c").cast("decimal(38,0)") * col("vv")).as("s"))
      val u = e.join(s, Seq("vec_id"))
        .groupBy("dim")
        .agg(sum(col("c").cast("decimal(38,0)") * col("s")).as("u"))
      val pick = u
        .withColumn("rn", row_number().over( // 64 rows — bounded axis
          Window.orderBy(abs(col("u")).desc, col("dim").asc)))
        .filter(col("rn") === 1)
        .select(col("u").as("pu"))
      // pu = 0 ⇔ the centered cloud is all-zero (every embedding
      // identical): pin v to the zero vector instead of NULLs so the
      // degenerate corpus reports loadings of 0, not a null board
      v = u.crossJoin(broadcast(pick))
        .select(col("dim"),
          expr("if(pu = 0, 0L, (u * 1000000) div pu)").as("vv"))
    }
    (means, e, v)
  }

  /** q_anisotropy: the one-row embedding-cloud health report — how
    * much of the total variance the [[pcaPower]] direction carries.
    * evr (explained-variance ratio) near 1/dims means an isotropic
    * cloud (cosine similarity is informative); anis = evr·dims ≫ 1
    * means one dominant direction (Ethayarajh 2019's contextual-
    * embedding anisotropy — every cosine looks alike and the pipeline
    * should whiten before trusting q_ann_*). Statistic pinned as
    * integer steps: proj_i = (c_i·v) div 10⁶, evr_e6 =
    * (Σproj²·10⁶) div ((Σv² div 10⁶)·(Σ‖c‖² div 10⁶)) — the
    * div-staging keeps every intermediate inside decimal(38,0) to
    * ~10¹² rows while both engines agree bit-for-bit.
    *
    * Scale shape: one more pass over the shared centered table E
    * (projection join on the 64-row broadcast v, per-vec two-phase
    * agg) reduced to a 1-row summary; nothing new shuffles. */
  def anisotropy(spark: SparkSession, dir: String): DataFrame = {
    val (_, e, v) = pcaParts(spark, dir)
    val proj = e.join(broadcast(v), Seq("dim"))
      .groupBy("vec_id")
      .agg(expr("sum(cast(c as decimal(38,0)) * vv) div 1000000").as("p"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("cn2_i"))
    val agg1 = proj.agg(count(lit(1)).as("n_vecs"),
      sum(expr("cast(p as decimal(38,0)) * p")).as("num"),
      expr("sum(cn2_i) div 1000000").as("cn2m"))
    val vagg = v.agg(count(lit(1)).as("n_dims"),
      expr("sum(cast(vv as decimal(38,0)) * vv) div 1000000").as("vn2"))
    agg1.crossJoin(broadcast(vagg))
      // a zero-variance cloud (or zero direction) has no defined
      // ratio: report -1, the house sentinel, instead of NULL
      .select(col("n_vecs"), col("n_dims"),
        expr("""cast(if(vn2 * cn2m = 0, -1,
          (num * n_dims * 1000000) div (vn2 * cn2m)) as bigint)""")
          .as("anis_e6"),
        expr("""cast(if(vn2 * cn2m = 0, -1,
          (num * 1000000) div (vn2 * cn2m)) as bigint)""")
          .as("evr_e6"))
  }

  /** Outlier rule for q_embed_outliers: dist² > [[OutlierK]] × the
    * label's mean dist² (pinned — the oracle embeds it). */
  private[graft] val OutlierK = 4L

  /** q_embed_outliers: per-vector distance-to-class-centroid outlier
    * flags — the mislabeled-example / off-distribution screen run
    * before a labeled embedding set trains anything (vectors far from
    * their own label's centroid are the first candidates for audit).
    *
    * Exactness (the q_cluster_profile rule): vectors quantize to e6
    * integers FIRST; centroid dims are truncating integer division of
    * exact integer sums; each dist² is then pure integer arithmetic
    * (64 dims × (2·10⁶)² ≈ 2.6·10¹⁴ < 2⁶³), and the outlier compare
    * is integers on both sides — no float anywhere, so every flag is
    * bit-identical in DuckDB. Per-label dist² sums run in
    * decimal(38,0) (Long would overflow — and ANSI-throw — past ~3·10⁴
    * vectors per label; the div-by-count brings the MEAN back to Long
    * range at any scale).
    *
    * Scale shape: centroids are one two-phase agg on (label, dim)
    * (explode fan-out = rows × dims); the label catalog is tiny so
    * both the centroid map and the per-label means broadcast — the
    * corpus is scanned twice, shuffled never (the (label,dim) agg
    * shuffles only the catalog-sized partials). */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.widened(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("label").cast("long").as("label"), expr(
        "transform(cast(embedding as array<double>), x -> cast(floor(x * 1e6 + 0.5) as bigint))")
        .as("ve"))
      .localCheckpoint() // centroid agg + dist pass share one scan
    val cent = emb
      .select(col("label"), posexplode(col("ve")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .withColumn("mean_e6", expr("s div n"))
      .groupBy("label")
      .agg(expr("transform(sort_array(collect_list(struct(dim, mean_e6))), p -> p.mean_e6)")
        .as("ce"))
    val d2 = emb.join(broadcast(cent), Seq("label"))
      .withColumn("dist2", expr(
        "aggregate(zip_with(ve, ce, (x, y) -> (x - y) * (x - y)), 0L, (a, x) -> a + x)"))
    val means = d2.groupBy("label")
      .agg(expr("sum(cast(dist2 as decimal(38,0))) div count(1)").as("mean_dist2"))
    d2.join(broadcast(means), Seq("label"))
      .select(col("vec_id"), col("label"), col("dist2"),
        (col("dist2") > col("mean_dist2") * OutlierK).as("outlier"))
      .orderBy("vec_id")
  }

  /** Neighbor count for the kNN label vote. */
  private[graft] val KnnClassK = 10

  /** q_hard_negatives: contrastive-training data prep — for each query
    * vector, the top-[[K]] most similar vectors with a DIFFERENT
    * label: the "hard negatives" a retrieval/embedding trainer mines
    * to sharpen decision boundaries (random negatives are too easy to
    * teach anything). Same deterministic query slice, rounding, and
    * tie-break as q_ann_cosine, plus the label-mismatch cut.
    *
    * Scale shape: identical to q_ann_cosine — bounded query set
    * broadcast over the corpus scan, per-query rank window — with the
    * label filter applied BEFORE ranking, so negatives never compete
    * with positives for the k slots. At corpus scale the same cut
    * rides the LSH/IVF candidate streams instead of brute force. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = emb.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_raw").desc, col("neg_id").asc)
    emb.join(broadcast(q), col("label") =!= col("query_label"))
      .select(col("query_id"), col("query_label"),
        col("vec_id").as("neg_id"), col("label").as("neg_label"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos_raw"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("query_label"), col("neg_id"),
        col("neg_label"),
        (floor(col("cos_raw") * 1e6 + 0.5) / 1e6).as("cosine"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** q_knn_classify: leave-one-out k-nearest-neighbor classification
    * over the query slice — each query's label predicted by the
    * majority vote of its [[KnnClassK]] nearest neighbors (self
    * excluded; ties broken votes-desc then label-asc, so the verdict
    * is engine-independent), reported as the label confusion matrix
    * with e6 row shares. The EXTRINSIC embedding-quality eval next to
    * q_ann_recall's intrinsic one: recall says the index finds true
    * neighbors, this says the geometry respects labels at all.
    *
    * Scale shape: the q_ann_cosine broadcast + rank window, then two
    * label-alphabet-bounded aggs (vote count, confusion rollup) and a
    * per-query argmax window on the query key. */
  def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = emb.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("label").as("actual"),
        col("v").as("qv"), col("nrm").as("qn"))
    val neighbors = emb.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("actual"), col("label"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos_raw"),
        col("vec_id"))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cos_raw").desc, col("vec_id").asc)))
      .filter(col("rank") <= KnnClassK)
    val votes = neighbors.groupBy("query_id", "actual", "label")
      .agg(count(lit(1)).as("votes"))
    val pred = votes
      .withColumn("rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("votes").desc, col("label").asc)))
      .filter(col("rn") === 1)
    pred.groupBy(col("actual"), col("label").as("predicted"))
      .agg(count(lit(1)).as("n_queries"))
      .withColumn("row_total", sum("n_queries").over(
        Window.partitionBy("actual")))
      .withColumn("p_e6", expr("(n_queries * 1000000) div row_total"))
      .orderBy("actual", "predicted")
  }

  /** q_silhouette: simplified silhouette of the IVF cell partition —
    * per cell, how cleanly its members separate from the next-best
    * cell, with a(i)/b(i) taken against the [[seededAnchors]]
    * codebook anchors instead of all pairwise members (Hruschka 2004's
    * centroid form — O(n·cells), the only silhouette computable at
    * corpus scale; the exact pairwise form is O(n²) by definition).
    * s(i) = 1 − d_own/d_next ∈ [0,1]; a cell mean near 0 means its
    * members sit on the boundary — the codebook is not separating
    * them and q_ann_ivf_cosine's nprobe recall will be poor there.
    * The cell-level tuning audit next to the corpus-level
    * [[annRecall]]: recall says HOW GOOD retrieval is, silhouette
    * says WHICH cells are responsible.
    *
    * Exactness: distances reuse the IVF pinned-order literal-anchor
    * tree (bit-identical in DuckDB); per-point s quantizes to e6 ON
    * the point (one floor), so the per-cell mean is an exact integer
    * sum + one truncating division — no distributed double sum.
    *
    * Scale shape: map-only scan against the broadcast cells×dims
    * codebook, then a ≤cells-row two-phase agg. */
  def silhouette(spark: SparkSession, dir: String): DataFrame =
    silhouetteFinish(silhouetteCensus(
      Tables.embeddings(spark, dir), silhouetteAnchors(spark, dir)))

  /** The seeded IVF codebook for [[silhouette]], as batch-derivable
    * model state: at production scale this is the persisted codebook
    * loaded from the model store and BROADCAST into whichever plan
    * (batch audit or at-ingest monitor) needs per-point cell scores —
    * the reference's load-model-then-map contract (streaming/
    * Htmls2PredsPipe.scala:84-88). */
  private[graft] def silhouetteAnchors(spark: SparkSession,
      dir: String): Array[(Long, Array[Double], Double)] =
    seededAnchors(Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v")))

  /** The per-cell (n, Σs_e6) census over any `(vec_id, embedding)`
    * frame — batch table or stream — against a broadcast `anchors`
    * codebook. Per-point s quantizes to e6 AT THE POINT (one floor),
    * so the census is exactly ADDITIVE across micro-batches: a
    * streaming Update-mode aggregation maintains it with ≤cells rows
    * of state forever. */
  private[graft] def silhouetteCensus(emb: DataFrame,
      anchors: Array[(Long, Array[Double], Double)]): DataFrame = {
    val scored = emb
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm2", dot(col("v"), col("v")))
    val dists = array(anchors.map { case (_, a, a2) =>
      col("nrm2") - lit(2.0) * dot(col("v"), lit(a)) + lit(a2)
    }: _*)
    scored.withColumn("dists", dists)
      .withColumn("cell", array_position(col("dists"), array_min(col("dists"))))
      .withColumn("srt", array_sort(col("dists")))
      .withColumn("da2", element_at(col("srt"), 1))
      .withColumn("db2", element_at(col("srt"), 2))
      .withColumn("s_e6", expr(
        """case when sqrt(greatest(db2, 0.0d)) <= 0.0d then cast(0 as bigint)
          |else cast(floor(1000000.0d
          |  * (1.0d - sqrt(greatest(da2, 0.0d)) / sqrt(greatest(db2, 0.0d)))
          |  + 0.5d) as bigint) end""".stripMargin.replace('\n', ' ')))
      .groupBy("cell").agg(count(lit(1)).as("n"),
        sum(expr("cast(s_e6 as decimal(38,0))")).as("ssum"))
  }

  /** Per-cell mean over the converged census — one truncating
    * division per cell, shared by batch and stream. */
  private[graft] def silhouetteFinish(census: DataFrame): DataFrame =
    census.select(col("cell"), col("n"),
      expr("cast(ssum div n as bigint)").as("mean_s_e6"))
      .orderBy("cell")

  /** q_embed_drift: per-dimension drift report between two corpus
    * snapshots (halves by vec_id parity — the same stand-in split
    * q_psi_drift uses): exact mean shift plus a per-dim Welch t — the
    * "which DIMENSIONS moved?" diagnostic behind an embedding-model
    * retrain (q_psi_drift answers the same question for scalar
    * features; embeddings need it per-dim or a 1-dim drift hides in
    * 63 stable ones).
    *
    * Exactness: components quantize to e6 integers AT THE SCAN (the
    * q_pca_power convention), so per-half n/Σq/Σq² are exact
    * decimal(38,0)/HUGEINT sums; the mean shift is one exact
    * truncating division (sa·n_b − sb·n_a over n_a·n_b) and the Welch
    * statistic is a per-dim shared IEEE tree over those exact sums —
    * deterministic because nothing sums doubles across rows.
    *
    * Scale shape: one explode scan (map-side), one 64-key two-phase
    * agg, constant finish. */
  def embedDrift(spark: SparkSession, dir: String): DataFrame =
    embedDriftFinish(embedDriftCensus(Tables.embeddings(spark, dir)))

  /** The per-dim (n, Σq, Σq²) × half census over any `(vec_id,
    * embedding)` frame — batch table or stream. Components quantize
    * to e6 integers AT THE SCAN, so all six sums are exactly ADDITIVE
    * across micro-batches: a streaming Update-mode aggregation
    * maintains the census with dims rows of state forever. */
  private[graft] def embedDriftCensus(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select((col("vec_id") % 2).as("h"), col("dim").cast("long").as("dim"),
        floor(col("xf").cast("double") * lit(1e6) + lit(0.5)).cast("long").as("q"))
      .groupBy("dim").agg(
        sum(when(col("h") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("h") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(expr("case when h = 0 then cast(q as decimal(38,0)) else cast(0 as decimal(38,0)) end")).as("sa"),
        sum(expr("case when h = 1 then cast(q as decimal(38,0)) else cast(0 as decimal(38,0)) end")).as("sb"),
        sum(expr("case when h = 0 then cast(q as decimal(38,0)) * q else cast(0 as decimal(38,0)) end")).as("ssa"),
        sum(expr("case when h = 1 then cast(q as decimal(38,0)) * q else cast(0 as decimal(38,0)) end")).as("ssb"))

  /** The exact mean-shift division and per-dim Welch tree over the
    * converged census — shared by batch and stream. */
  private[graft] def embedDriftFinish(census: DataFrame): DataFrame =
    census
      .withColumn("va", expr(
        "(cast(ssa as double) - cast(sa as double) * cast(sa as double) / n_a) / (n_a - 1)"))
      .withColumn("vb", expr(
        "(cast(ssb as double) - cast(sb as double) * cast(sb as double) / n_b) / (n_b - 1)"))
      .withColumn("se2", expr("va / n_a + vb / n_b"))
      .select(col("dim"), col("n_a"), col("n_b"),
        expr("""case when n_a = 0 or n_b = 0 then cast(0 as bigint)
          |else cast((sa * n_b - sb * n_a)
          |  div (cast(n_a as decimal(38,0)) * n_b) as bigint) end"""
          .stripMargin.replace('\n', ' ')).as("delta_e6"),
        expr("""case when n_a < 2 or n_b < 2 or se2 <= 0.0d then cast(0 as bigint)
          |else cast(floor(1000000.0d
          |  * (cast(sa as double) / n_a - cast(sb as double) / n_b)
          |  / sqrt(se2)) as bigint) end"""
          .stripMargin.replace('\n', ' ')).as("t_e6"))
      .orderBy("dim")

  /** q_intrinsic_dim: the two-NN intrinsic-dimension estimate of the
    * embedding cloud (Facco et al. 2017): per point, the ratio μ =
    * r₂/r₁ of its two nearest-neighbor distances is Pareto(d) on a
    * d-dimensional manifold, so d̂ = n/Σ ln μ — the "how many
    * EFFECTIVE dimensions does this corpus use?" report that tells an
    * indexer whether PQ at 4 subspaces ([[embedPq]]) can work and
    * q_anisotropy's single-direction summary can't see (a cloud can
    * be isotropic yet live on a low-dim manifold).
    *
    * Exactness: per-point ln μ = ½·ln(d₂²/d₁²) is one deterministic
    * IEEE tree (squared distances straight from the pinned dot
    * fold), quantized e6 at the point; the MLE is an exact integer
    * division of n·10¹² by the exact Σ. Zero-distance pairs
    * (exact duplicates, μ undefined) are dropped and counted.
    *
    * Scale shape: this registration is the exact substrate (the same
    * broadcast-scored top-k as [[knnGraph]], the documented
    * quadratic baseline); the corpus-scale path is REGISTERED as
    * [[intrinsicDimApprox]] (q_intrinsic_dim_approx), which feeds the
    * same [[intrinsicDimFinish]] from [[forestPairs]] candidates —
    * the estimator itself never changes. */
  def intrinsicDim(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.widened(Tables.embeddings(spark, dir))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm2", dot(col("v"), col("v")))
    val rhs = emb.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm2").as("nb2"))
    // no broadcast hint — the allPairsScored rationale
    val scored = emb.join(rhs, col("vec_id") =!= col("id_b"))
      .select(col("vec_id").as("id_a"), col("id_b"),
        (col("nrm2") - lit(2.0) * dot(col("v"), col("vb")) + col("nb2")).as("d2"))
    intrinsicDimFinish(spark, dir, scored)
  }

  /** q_intrinsic_dim_approx: the two-NN estimator with r₁/r₂ taken
    * from FOREST candidates instead of all pairs — the corpus-scale
    * path [[intrinsicDim]]'s scaladoc promises, now registered: the
    * un-scored [[forestPairs]] (ids only, deduped before any vector
    * moves) fetch each side's vector once by key join, squared
    * distances use the identical IEEE tree, and the SAME
    * [[intrinsicDimFinish]] ranks, drops and divides. A node the
    * forest gives fewer than two candidates contributes no ratio and
    * counts as dropped — the estimate is over the n_used that have a
    * genuine local pair, and the n_dropped column is the audit that a
    * too-aggressive candidate cut shows up in. */
  def intrinsicDimApprox(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.widened(Tables.embeddings(spark, dir))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm2", dot(col("v"), col("v")))
    val a = emb.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nrm2").as("na2"))
    val b = emb.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm2").as("nb2"))
    // DIRECTED scoring in both branches (no canonical mirror here:
    // the a−2·dot+b expression tree is orientation-SENSITIVE in IEEE
    // — the oracle computes each direction's tree, so must we); the
    // large branch still slices and mirrors the 16-byte ID pairs off
    // the canonical checkpoint so the dedup state is halved
    val d2c = col("na2") - lit(2.0) * dot(col("va"), col("vb")) + col("nb2")
    // one metadata count feeds both the planes dial and the size gate
    // (the forestScored discipline)
    val n = Tables.embeddings(spark, dir).count()
    val p = occupancyPlanes(n)
    val large = n.toDouble * (p + 1) * LshTables * ForestTargetOccupancy >
      ForestSliceThreshold
    val scored =
      if (!large)
        forestPairs(spark, dir, p)
          .join(a, Seq("id_a")).join(b, Seq("id_b"))
          .select(col("id_a"), col("id_b"), d2c.as("d2"))
      else {
        val canon = forestPairsCanonical(spark, dir, p).localCheckpoint()
        slicedScore(
          canon.union(canon.select(col("id_b").as("id_a"),
            col("id_a").as("id_b"))),
          a, b, d2c, "d2")
      }
    intrinsicDimFinish(spark, dir, scored)
  }

  /** The rank-2 / ln-ratio / MLE tail shared by the exact and
    * forest-fed two-NN estimators. n_dropped counts every embedding
    * without a valid ratio — zero-distance duplicates AND (in the
    * candidate-fed path) nodes the cut left under two neighbors — so
    * n_used + n_dropped = |embeddings| in both registrations. */
  private def intrinsicDimFinish(spark: SparkSession, dir: String,
      scored: DataFrame): DataFrame = {
    val w = Window.partitionBy("id_a").orderBy(col("d2").asc, col("id_b").asc)
    val total = Tables.embeddings(spark, dir).agg(count(lit(1)).as("n_total"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 2)
      .groupBy("id_a").agg(
        min(when(col("rank") === 1, col("d2"))).as("d1"),
        min(when(col("rank") === 2, col("d2"))).as("dn2"))
      .withColumn("lnmu", expr(
        """case when d1 is null or dn2 is null or d1 <= 0.0d or dn2 <= 0.0d
          |then cast(null as bigint)
          |else cast(floor(500000.0d * ln(dn2 / d1) + 0.5d) as bigint) end"""
          .stripMargin.replace('\n', ' ')))
      .agg(count(col("lnmu")).as("n_used"),
        sum(expr("cast(lnmu as decimal(38,0))")).as("sln"))
      .crossJoin(broadcast(total))
      .select(col("n_used"),
        (col("n_total") - col("n_used")).as("n_dropped"),
        expr("""case when sln is null or sln <= 0 then cast(-1 as bigint)
          |else cast((cast(n_used as decimal(38,0)) * 1000000000000)
          |  div sln as bigint) end"""
          .stripMargin.replace('\n', ' ')).as("d_hat_e6"))
  }

  /** Number of k-center picks for [[coreset]] — pinned because the
    * DuckDB oracle unrolls exactly this many stages. */
  private[graft] val CoresetK = 8

  /** q_coreset: CORESET SELECTION by greedy k-center (Gonzalez 1985;
    * the seeding step of k-means++ and the standard "pick K maximally
    * spread exemplars" primitive active-learning and data-pruning
    * pipelines run over an embedding corpus). Each round picks the
    * point FARTHEST from the chosen set (max over points of min over
    * centers, ties → min vec_id), so after K rounds every point is
    * within the reported radius of some pick — the classic 2-approx
    * cover guarantee. [[clusterSample]] allocates budget ∝ cluster
    * mass; THIS is its dual, maximizing coverage of the cloud's
    * extremes — together they bracket diversity sampling. Output: the
    * K picks in order with the max-min squared distance (e6) at the
    * moment of picking — the monotone radius curve a budget chooser
    * reads ("stop when the radius stops dropping").
    *
    * Determinism: squared distances use the pinned-fold IEEE tree
    * (the [[intrinsicDim]] convention), `least` on identical doubles
    * is engine-exact, ties break on vec_id.
    *
    * Scale shape: K−1 rounds, each ONE map-side update of the
    * |corpus| min-distance column against the new (broadcast, 1-row)
    * center plus ONE TakeOrdered(1) — per-partition max then a 1-row
    * merge, never a global sort; the running frame is
    * localCheckpointed per round (the q_pagerank/q_kcore loop
    * discipline) so lineage stays flat. Total work K scans — the
    * textbook distributed Gonzalez. */
  def coreset(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.widened(Tables.embeddings(spark, dir))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm2", dot(col("v"), col("v")))
    val first = emb.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("c_id"), col("v").as("cv"),
        col("nrm2").as("cn2"))
      .localCheckpoint()
    var picks = first.select(col("c_id").as("vec_id"),
      lit(1L).as("pick_order"), lit(0L).as("radius_e6"))
    var md = emb.crossJoin(broadcast(first))
      .select(col("vec_id"), col("v"), col("nrm2"),
        (col("nrm2") - lit(2.0) * dot(col("v"), col("cv")) + col("cn2"))
          .as("mind2"))
      .localCheckpoint()
    for (i <- 2 to CoresetK) {
      val pick = md.orderBy(col("mind2").desc, col("vec_id").asc).limit(1)
        .localCheckpoint()
      picks = picks.unionAll(pick.select(col("vec_id"),
        lit(i.toLong).as("pick_order"),
        floor(col("mind2") * 1e6 + 0.5).cast("long").as("radius_e6")))
      if (i < CoresetK) {
        val c = pick.select(col("v").as("cv"), col("nrm2").as("cn2"))
        md = md.crossJoin(broadcast(c))
          .select(col("vec_id"), col("v"), col("nrm2"),
            least(col("mind2"),
              col("nrm2") - lit(2.0) * dot(col("v"), col("cv")) + col("cn2"))
              .as("mind2"))
          .localCheckpoint()
      }
    }
    picks.select(col("pick_order"), col("vec_id"), col("radius_e6"))
      .orderBy("pick_order")
  }

  /** Candidate pool per query for [[mmrRerank]] (re-ranked down to
    * [[K]] picks). Pinned because the oracle unrolls the rounds. */
  private[graft] val MmrPool = 10

  /** q_mmr_rerank: MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell &
    * Goldstein, SIGIR'98) — the diversity pass every retrieval stack
    * runs between ANN and the consumer: from each query's top-
    * [[MmrPool]] exact-cosine pool, greedily keep [[K]] results
    * maximizing relevance MINUS similarity-to-already-chosen (λ=0.5,
    * where argmax(λ·rel − (1−λ)·maxSim) ≡ argmax(rel − maxSim), kept
    * integer-exact). q_ann_cosine returns the 5 nearest — which for a
    * near-duplicate cluster is 5 copies of the same thing; MMR is how
    * a RAG/retrieval pipeline turns that into 5 USEFUL passages.
    * [[coreset]] diversifies the corpus; this diversifies each
    * answer.
    *
    * Integer-exact: rel and pairwise sims quantize to e6 at scoring
    * (the knn-graph convention), the MMR score is their difference,
    * ties → min neighbor id.
    *
    * Scale shape: pool scoring is the q_ann_cosine broadcast shape
    * (map-side, one rank window on query_id); pairwise sims are
    * pool² per query — a CONSTANT 100 rows per query, the whole point
    * of re-ranking a small pool; each of the K−1 rounds is a
    * (query, candidate)-keyed join + max-agg + per-query argmax
    * window over ≤ pool rows per query. At corpus scale the pool
    * would come from q_ann_lsh_cosine's forest path; the rerank tail
    * is identical. */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = emb.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rel_e6").desc, col("neighbor_id").asc)
    val cand = emb.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("v"),
        col("nrm"),
        floor(dot(col("qv"), col("v")) / (col("qn") * col("nrm")) * 1e6 + 0.5)
          .cast("long").as("rel_e6"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= MmrPool)
      .localCheckpoint() // sims (both sides), slim, round 1 read it
    val a = cand.select(col("query_id"), col("neighbor_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = cand.select(col("query_id"), col("neighbor_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val sims = a.join(b, Seq("query_id"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("query_id"), col("id_a"), col("id_b"),
        floor(dot(col("va"), col("vb")) / (col("na") * col("nb")) * 1e6 + 0.5)
          .cast("long").as("sim_e6"))
      .localCheckpoint() // re-joined every round
    val slim = cand.select("query_id", "neighbor_id", "rel_e6")
      .localCheckpoint()
    var chosen = cand.filter(col("rk") === 1)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("pick_order"),
        col("rel_e6"), col("rel_e6").as("mmr_score_e6"))
      .localCheckpoint()
    for (i <- 2 to K) {
      val remaining = slim.join(
        chosen.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      val ms = sims.join(
          chosen.select(col("query_id"), col("neighbor_id").as("id_b")),
          Seq("query_id", "id_b"))
        .groupBy(col("query_id"), col("id_a").as("neighbor_id"))
        .agg(max("sim_e6").as("ms"))
      val w2 = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("neighbor_id").asc)
      val pick = remaining.join(ms, Seq("query_id", "neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("rel_e6"),
          (col("rel_e6") - col("ms")).as("score"))
        .withColumn("rk", row_number().over(w2))
        .filter(col("rk") === 1)
        .select(col("query_id"), col("neighbor_id"),
          lit(i.toLong).as("pick_order"), col("rel_e6"),
          col("score").as("mmr_score_e6"))
      chosen = chosen.unionAll(pick).localCheckpoint()
    }
    chosen.orderBy("query_id", "pick_order")
  }

  /** q_mrr: MEAN RECIPROCAL RANK of the exact top-[[K]] retrieval
    * against class-label relevance — the third leg of the retrieval
    * eval family: q_ann_recall grades the INDEX (does approx find the
    * true neighbors), q_ndcg grades graded ranking quality, MRR
    * grades "how fast does a user hit something RIGHT" (a result is
    * relevant iff it shares the query's label, the q_knn_classify
    * ground truth). Reported with hit@1 and any-hit counts so the
    * single MRR number is decomposable.
    *
    * Integer-exact: rr = 10⁶ div rank-of-first-relevant (0 when no
    * relevant lands in the top K — misses COUNT against the mean, the
    * honest convention); the mean is one truncating division.
    *
    * Scale shape: the result list is [[annCosine]]'s broadcast-scored
    * top-K (at corpus scale the forest path's, tail unchanged); label
    * lookup is two key joins; the rest runs on |queries| rows. */
  def mrr(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("lab"))
    val res = annCosine(spark, dir)
      .join(labels.select(col("vec_id").as("query_id"),
        col("lab").as("qlab")), Seq("query_id"))
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("lab").as("nlab")), Seq("neighbor_id"))
    res.groupBy("query_id")
      .agg(min(when(col("qlab") === col("nlab"), col("rank")))
          .as("first_rel"),
        max(when(col("qlab") === col("nlab") && col("rank") === 1, 1L)
          .otherwise(0L)).as("hit1"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("first_rel").isNotNull, 1L).otherwise(0L))
          .as("n_with_hit"),
        sum("hit1").as("hits_at_1"),
        expr("sum(coalesce(1000000 div first_rel, 0L)) div count(1)")
          .as("mrr_e6"))
  }

  /** Lloyd configuration for [[kmeans]] — pinned because the oracle
    * unrolls exactly these rounds over exactly these cells. */
  private[graft] val KmCells = 8
  private[graft] val KmRounds = 3

  /** q_kmeans: LLOYD'S k-means over the embedding corpus — the
    * centroid fit the rest of the vector family deliberately avoided
    * (IVF/silhouette use single-pass md5 anchors; SemDeDup clusters
    * come from the kNN graph): [[KmRounds]] assign/recompute rounds
    * from the IVF anchor seeds, reported per (round, cell) with
    * member counts and mean squared distance so the convergence curve
    * is the OUTPUT. This is the canonical "train the coarse codebook"
    * step an IVF deployment actually runs before q_ann_ivf_cosine's
    * search — the missing first half of that pipeline.
    *
    * ENTIRELY INTEGER: vectors e6-quantize at the scan (the
    * q_cluster_profile convention), centroids are truncating integer
    * means per dimension, and squared distances between integer
    * vectors are exact integers — so ASSIGNMENT (argmin d², ties →
    * cell asc) involves no float comparison anywhere, the strongest
    * engine-parity statement a k-means can make. Spark `div` truncates
    * toward zero by definition; the oracle does NOT trust DuckDB `//`
    * on negative operands (truncating on the pinned DuckDB 1.0.0, but
    * the project's parity rule records `//` as flooring — a version-
    * sensitive seam): its centroid mean splits on sign and divides
    * magnitudes, which is truncation under either `//` semantics.
    * OperatorSpec pins the Spark half on a negative-sum row.
    *
    * Scale shape: each round is one map-side assignment against the
    * broadcast ≤[[KmCells]]-row centroid table (the catalog-grid
    * crossJoin class) with a per-vector rank window, then one
    * (cell, dim) two-phase aggregate — the textbook distributed
    * Lloyd; per-round frames localCheckpoint (the q_pagerank loop
    * discipline). Cells that lose all members drop naturally — in
    * both engines. */
  def kmeans(spark: SparkSession, dir: String): DataFrame =
    lloyd(e6Vectors(spark, dir))._1.orderBy("round", "cell")

  /** The e6-quantized vector scan the Lloyd trainer and its IVF
    * search consumer share (the q_cluster_profile convention). */
  private def e6Vectors(spark: SparkSession, dir: String): DataFrame =
    Tables.widened(Tables.embeddings(spark, dir))
      .select(col("vec_id"), expr(
        "transform(cast(embedding as array<double>), x -> cast(floor(x * 1e6 + 0.5) as bigint))")
        .as("ve"))
      .localCheckpoint() // re-assigned every round

  /** [[KmRounds]] integer-exact Lloyd rounds from the md5-seeded
    * anchors — returns (per-round stats, final-round assignment
    * (vec_id, cell, ve, d2), final centroid table (cell, ce)). ONE
    * kernel for q_kmeans (which outputs the convergence curve) and
    * q_ann_ivf_kmeans (which searches with the trained codebook), so
    * the codebook a search deploys is exactly the one the
    * convergence report certified. */
  private def lloyd(ve: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val anchorW = Window.orderBy(expr("md5(cast(vec_id as string))"),
      col("vec_id"))
    var cents = ve
      .orderBy(expr("md5(cast(vec_id as string))"), col("vec_id"))
      .limit(KmCells)
      .withColumn("cell", (row_number().over(anchorW) - 1).cast("long"))
      .select(col("cell"), col("ve").as("ce"))
      .localCheckpoint()
    val d2 = expr(
      "aggregate(zip_with(ve, ce, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
    var out: DataFrame = null
    var assign: DataFrame = null
    for (r <- 1 to KmRounds) {
      val w = Window.partitionBy("vec_id")
        .orderBy(col("d2").asc, col("cell").asc)
      assign = ve.crossJoin(broadcast(cents))
        .withColumn("d2", d2)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("vec_id"), col("cell"), col("ve"), col("d2"))
        .localCheckpoint() // round stats + next centroids
      val stats = assign.groupBy("cell")
        .agg(count(lit(1)).as("n_members"),
          sum(expr("cast(d2 as decimal(38,0))")).as("sd2"))
        .select(lit(r.toLong).as("round"), col("cell"), col("n_members"),
          expr("cast(sd2 div n_members as bigint)").as("mean_d2"))
      out = if (out == null) stats else out.unionAll(stats)
      if (r < KmRounds) {
        cents = assign
          .select(col("cell"), posexplode(col("ve")).as(Seq("dim", "v")))
          .groupBy("cell", "dim")
          .agg(sum("v").as("s"), count(lit(1)).as("cnt"))
          .withColumn("m", expr("s div cnt"))
          .groupBy("cell")
          .agg(expr(
            "transform(sort_array(collect_list(struct(dim, m))), p -> p.m)")
            .as("ce"))
          .localCheckpoint()
      }
    }
    (out, assign, cents)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_kmeans" -> (kmeans(_, _)),
    "q_mrr" -> (mrr(_, _)),
    "q_mmr_rerank" -> (mmrRerank(_, _)),
    "q_coreset" -> (coreset(_, _)),
    "q_silhouette" -> (silhouette(_, _)),
    "q_embed_drift" -> (embedDrift(_, _)),
    "q_intrinsic_dim" -> (intrinsicDim(_, _)),
    "q_intrinsic_dim_approx" -> (intrinsicDimApprox(_, _)),
    "q_lof_approx" -> (lofApprox(_, _)),
    "q_cluster_sample_approx" -> (clusterSampleApprox(_, _)),
    "q_cluster_profile_approx" -> (clusterProfileApprox(_, _)),
    "q_hard_negatives" -> (hardNegatives(_, _)),
    "q_knn_classify" -> (knnClassify(_, _)),
    "q_embed_outliers" -> (embedOutliers(_, _)),
    "q_feature_scale" -> (featureScale(_, _)),
    "q_pca_power" -> (pcaPower(_, _)),
    "q_anisotropy" -> (anisotropy(_, _)),
    "q_mutual_info" -> (mutualInfo(_, _)),
    "q_ann_cosine" -> (annCosine(_, _)),
    "q_knn_graph" -> (knnGraph(_, _)),
    "q_lof" -> (lof(_, _)),
    "q_knn_graph_approx" -> (knnGraphApprox(_, _)),
    "q_knn_components" -> (knnComponents(_, _)),
    "q_knn_components_approx" -> (knnComponentsApprox(_, _)),
    "q_forest_sweep" -> (forestSweep(_, _)),
    "q_graph_modularity" -> (graphModularity(_, _)),
    "q_cluster_purity" -> (clusterPurity(_, _)),
    "q_cluster_sample" -> (clusterSample(_, _)),
    "q_triangle_count" -> (triangleCount(_, _)),
    "q_cluster_profile" -> (clusterProfile(_, _)),
    "q_ann_lsh_cosine" -> (annLshCosine(_, _)),
    "q_ann_recall" -> (annRecall(_, _)),
    "q_ann_ivf_cosine" -> (annIvfCosine(_, _)),
    "q_ann_ivf_kmeans" -> (annIvfKmeans(_, _)),
    "q_ann_ivfpq" -> (annIvfPq(_, _)),
    "q_dedup_embedding" -> (dedupEmbedding(_, _)),
    "q_embed_quantize" -> (embedQuantize(_, _)),
    "q_embed_pq" -> (embedPq(_, _)),
    "q_semdedup" -> (semDedup(_, _)),
    "q_sem_decontam" -> (semDecontam(_, _)))

  /** The power-iteration oracle core — centered integer table e plus
    * the unrolled rounds ending in v2(dim, vv) — composed into BOTH
    * the q_pca_power and q_anisotropy oracles, mirroring
    * [[pcaParts]]. */
  private val PcaOracleCore: String =
    """WITH x AS (
      |  SELECT vec_id, i - 1 AS dim,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS v
      |  FROM embeddings,
      |       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)),
      |m AS (SELECT dim, SUM(v) // COUNT(*) AS mean_e6 FROM x GROUP BY dim),
      |e AS (SELECT vec_id, x.dim, v - mean_e6 AS c
      |  FROM x JOIN m ON m.dim = x.dim),
      |s1 AS (SELECT vec_id, SUM(CAST(c AS HUGEINT) * 1000000) AS s
      |  FROM e GROUP BY vec_id),
      |u1 AS (SELECT dim, SUM(CAST(e.c AS HUGEINT) * s1.s) AS u
      |  FROM e JOIN s1 USING (vec_id) GROUP BY dim),
      |p1 AS (SELECT u AS pu FROM u1 ORDER BY abs(u) DESC, dim ASC LIMIT 1),
      |v1 AS (SELECT dim, CASE WHEN pu = 0 THEN 0
      |    ELSE (u * 1000000) // pu END AS vv FROM u1 CROSS JOIN p1),
      |s2 AS (SELECT vec_id, SUM(CAST(c AS HUGEINT) * vv) AS s
      |  FROM e JOIN v1 ON v1.dim = e.dim GROUP BY vec_id),
      |u2 AS (SELECT e.dim, SUM(CAST(e.c AS HUGEINT) * s2.s) AS u
      |  FROM e JOIN s2 USING (vec_id) GROUP BY e.dim),
      |p2 AS (SELECT u AS pu FROM u2 ORDER BY abs(u) DESC, dim ASC LIMIT 1),
      |v2 AS (SELECT dim, CASE WHEN pu = 0 THEN 0
      |    ELSE (u * 1000000) // pu END AS vv FROM u2 CROSS JOIN p2)""".stripMargin

  /** Shared oracle prelude: embeddings as double lists + norms + the
    * same sign-projection buckets (planes embedded as literals). */
  private val bucketSqlPrelude: String = {
    val planeRows = planeSigns(Planes).zipWithIndex.map { case (signs, p) =>
      s"SELECT $p AS p, [${signs.map(s => s"$s.0").mkString(", ")}] AS s"
    }.mkString("\n  UNION ALL ")
    s"""emb AS (
       |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
       |  FROM embeddings),
       |nrm AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)], (a, b) -> a + b)) AS nrm
       |  FROM emb),
       |planes AS (
       |  $planeRows),
       |proj AS (
       |  SELECT vec_id, p,
       |    list_reduce([v[i] * s[i] for i in range(1, len(v) + 1)], (a, b) -> a + b) AS proj
       |  FROM nrm, planes),
       |buck AS (
       |  SELECT vec_id, SUM(CASE WHEN proj > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS bucket
       |  FROM proj GROUP BY vec_id),
       |embb AS (
       |  SELECT nrm.vec_id, v, nrm, bucket FROM nrm JOIN buck USING (vec_id))""".stripMargin
  }

  /** Oracle prelude for the OR-amplified forest: all L·8 plane rows
    * (global index p; table = p // 8, bit = p % 8) and the per-table
    * buckets of every vector — the same derivation [[annLshCosine]]
    * runs, re-expressed in SQL. */
  private val forestSqlPrelude: String = {
    val planeRows = planeSigns(LshTables * Planes).zipWithIndex
      .map { case (signs, p) =>
        s"SELECT $p AS p, [${signs.map(s => s"$s.0").mkString(", ")}] AS s"
      }.mkString("\n  UNION ALL ")
    s"""emb AS (
       |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
       |  FROM embeddings),
       |nrm AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)], (a, b) -> a + b)) AS nrm
       |  FROM emb),
       |fplanes AS (
       |  $planeRows),
       |fproj AS (
       |  SELECT vec_id, p,
       |    list_reduce([v[i] * s[i] for i in range(1, len(v) + 1)], (a, b) -> a + b) AS proj
       |  FROM nrm, fplanes),
       |tbuck AS (
       |  SELECT vec_id, p // $Planes AS t,
       |    SUM(CASE WHEN proj > 0 THEN CAST(1 AS BIGINT) << (p % $Planes) ELSE 0 END) AS bucket
       |  FROM fproj GROUP BY vec_id, p // $Planes)""".stripMargin
  }

  /** The DYNAMIC forest prelude + corpus-wide multiprobe + distinct
    * candidate pairs (the [[forestPairs]] mirror) — composed by
    * [[forestTopSql]] and the q_intrinsic_dim_approx oracle. Unlike
    * the search path's pinned [[forestSqlPrelude]], the plane count
    * here is DERIVED FROM THE DATA exactly as [[occupancyPlanes]]
    * derives it (greatest(4, length(bin((n+7)//8 − 1))) =
    * max(4, ⌈log₂⌈n/8⌉⌉)), and the ±1 plane signs are recomputed
    * in SQL from the same md5('plane<p>/<i>') first-byte parity
    * [[planeSigns]] uses — ONE generator rule, two engines, so the
    * hash oracle exercises the occupancy dial at every scale factor
    * instead of interpolating a pinned constant. */
  private val forestCandSql: String =
    s"""fn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
       |fpl AS (SELECT CASE WHEN (n + ${ForestTargetOccupancy - 1}) // $ForestTargetOccupancy >= 2
       |    THEN greatest(4, CAST(length(bin((n + ${ForestTargetOccupancy - 1}) // $ForestTargetOccupancy - 1)) AS INT))
       |    ELSE 4 END AS planes FROM fn),
       |emb AS MATERIALIZED (
       |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
       |  FROM embeddings),
       |nrm AS MATERIALIZED (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)], (a, b) -> a + b)) AS nrm
       |  FROM emb),
       |fplanes AS (
       |  SELECT g.gp,
       |    list(CASE WHEN (CAST(concat('0x', substr(md5(concat('plane', CAST(g.gp AS VARCHAR), '/', CAST(i.i AS VARCHAR))), 1, 2)) AS INT) & 1) = 1
       |      THEN 1.0 ELSE -1.0 END ORDER BY i.i) AS s
       |  FROM (SELECT unnest(generate_series(0, $LshTables * planes - 1)) AS gp FROM fpl) g,
       |       (SELECT unnest(generate_series(0, 63)) AS i) i
       |  GROUP BY g.gp),
       |fproj AS (
       |  SELECT vec_id, gp AS p,
       |    list_reduce([v[i] * s[i] for i in range(1, len(v) + 1)], (a, b) -> a + b) AS proj
       |  FROM nrm, fplanes),
       |tbuck AS MATERIALIZED (
       |  SELECT vec_id, p // planes AS t,
       |    SUM(CASE WHEN proj > 0 THEN CAST(1 AS BIGINT) << (p % planes) ELSE 0 END) AS bucket
       |  FROM fproj CROSS JOIN fpl GROUP BY vec_id, p // planes),
       |nprobe AS (
       |  SELECT vec_id, t, bucket AS probe FROM tbuck
       |  UNION ALL
       |  SELECT tb.vec_id, tb.t, xor(tb.bucket, CAST(1 AS BIGINT) << b.p8)
       |  FROM tbuck tb, (SELECT unnest(generate_series(0, planes - 1)) AS p8 FROM fpl) b),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT q.vec_id AS id_a, c.vec_id AS id_b
       |  FROM nprobe q JOIN tbuck c
       |    ON q.t = c.t AND q.probe = c.bucket AND q.vec_id <> c.vec_id)""".stripMargin

  private def forestTopSql(k: Int): String =
    s"""$forestCandSql,
       |scored AS (
       |  SELECT c.id_a, c.id_b,
       |    list_reduce([na.v[i] * nb.v[i] for i in range(1, len(na.v) + 1)], (x, y) -> x + y)
       |      / (na.nrm * nb.nrm) AS cos_raw
       |  FROM cand c
       |    JOIN nrm na ON na.vec_id = c.id_a
       |    JOIN nrm nb ON nb.vec_id = c.id_b),
       |ranked AS (
       |  SELECT id_a, id_b, cos_raw,
       |    ROW_NUMBER() OVER (PARTITION BY id_a
       |      ORDER BY cos_raw DESC, id_b ASC) AS rank
       |  FROM scored),
       |top AS MATERIALIZED (SELECT * FROM ranked WHERE rank <= $k)""".stripMargin

  /** Shared CTE chain rebuilding [[knnMutual]]'s directed top-k lists
    * (through `top`) — composed by the q_knn_graph, q_knn_components
    * and q_cluster_sample oracles. */
  /** The exact directed-top-k chain, with the all-pairs window CHUNKED
    * into [[KnnOracleChunks]] query-side slices: rank is PER id_a, so
    * slicing the query side is exact, and each branch's window sorts
    * n²/chunks rows instead of n² — the q_binseg lesson applied to
    * oracle CAPACITY: at sf1 the single 2.5·10⁹-row window exhausted
    * the sandbox's spill disk; the sliced form stays in memory. Total
    * scoring work is unchanged (an exact oracle must pay n²). */
  private def knnTopSql(k: Int): String = {
    val branches = (0 until KnnOracleChunks).map { c =>
      s"""topc$c AS (
         |  SELECT id_a, id_b, cos_raw, rank FROM (
         |    SELECT id_a, id_b, cos_raw,
         |      ROW_NUMBER() OVER (PARTITION BY id_a
         |        ORDER BY cos_raw DESC, id_b ASC) AS rank
         |    FROM (
         |      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |        list_reduce([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)], (a2, b2) -> a2 + b2)
         |          / (a.nrm * b.nrm) AS cos_raw
         |      FROM nrm a JOIN nrm b ON a.vec_id <> b.vec_id
         |      WHERE a.vec_id % $KnnOracleChunks = $c))
         |  WHERE rank <= $k)""".stripMargin
    }.mkString(",\n")
    val union = (0 until KnnOracleChunks)
      .map(c => s"SELECT * FROM topc$c").mkString("\n  UNION ALL ")
    // MATERIALIZED is load-bearing on the shared prelude: nrm feeds
    // all $KnnOracleChunks chunk joins and top is referenced twice by
    // every mutual-edge consumer — DuckDB's default CTE inlining would
    // re-evaluate the n² scan per reference (q_cluster_purity blew a
    // 60 GB spill cap at sf1 exactly this way). Plan pin only.
    s"""emb AS MATERIALIZED (
       |  SELECT vec_id,
       |    [CAST(x AS DOUBLE) for x in embedding] AS v
       |  FROM embeddings),
       |nrm AS MATERIALIZED (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)], (a, b) -> a + b)) AS nrm
       |  FROM emb),
       |$branches,
       |top AS MATERIALIZED (
       |  $union)""".stripMargin
  }

  /** Chunk count for the exact all-pairs oracle windows. */
  private val KnnOracleChunks = 8

  /** CC labels over the mutual edges of whatever directed `top` list
    * the prelude built — the oracle for Dedup.componentLabels fed by
    * [[mutualEdges]]; composed (under WITH RECURSIVE, harmlessly —
    * nothing recurses any more) with [[knnTopSql]] by the exact
    * cluster-family oracles and with [[forestTopSql]] by their
    * forest-fed siblings, so each pair shares its tail verbatim.
    *
    * The closure is UNROLLED min-label propagation WITH POINTER
    * JUMPING, because the old `reach` transitive-closure CTE
    * materializes node×|component| pairs: at sf1 the exact mutual-kNN
    * graph percolates into ONE 19,999-node component, i.e. 4·10⁸ reach
    * rows per iteration, and the oracle exhausted the spill disk. Each
    * round here is (neighbor-min over the edge list) then (label :=
    * label of label). This is NOT the rule the Spark side runs
    * (hook-and-shortcut over a parent table): it is an independent
    * rule with the same fixpoint, every node labelled with its
    * component minimum, so the two agree only on converged labels.
    * Spark throws rather than return labels that have not converged;
    * this rule has no such check, so [[CcRounds]] must stay above the
    * most rounds it needs on any consumer's graph (14, on the
    * forest-fed cluster graphs at sf0.1; PERF.md has the per-consumer
    * table). A graph that needs more leaves some labels above their
    * minimum and fails the comparison loudly. Cost per round ∝ nodes +
    * edges — linear, like the engine. */
  private val CcRounds = 30 // > the most rounds this rule needs on any consumer (PERF.md)

  /** The unrolled rounds over an `<edgesName>(src, dst)` CTE, ending
    * in lab(vec_id, cluster_id) — shared by [[ccLabSql]] and the
    * oracles that carry their own mutual/edge CTEs. AS MATERIALIZED
    * is load-bearing: each round references its predecessor twice,
    * and DuckDB's default CTE inlining doubles the plan per round —
    * 2³⁰ parquet scans exhausts the fd limit before anything
    * executes. */
  private def ccPointerJumpSql(edgesName: String): String = {
    val rounds = (1 to CcRounds).map { i =>
      s"""nm$i AS MATERIALIZED (
         |  SELECT n.node, LEAST(n.lab, COALESCE(MIN(l2.lab), n.lab)) AS lab
         |  FROM lab${i - 1} n
         |  LEFT JOIN $edgesName e ON e.src = n.node
         |  LEFT JOIN lab${i - 1} l2 ON l2.node = e.dst
         |  GROUP BY n.node, n.lab),
         |lab$i AS MATERIALIZED (
         |  SELECT a.node, LEAST(a.lab, b.lab) AS lab
         |  FROM nm$i a JOIN nm$i b ON b.node = a.lab)""".stripMargin
    }.mkString(",\n")
    s"""lab0 AS MATERIALIZED (SELECT vec_id AS node, vec_id AS lab FROM embeddings),
       |$rounds,
       |lab AS MATERIALIZED (
       |  SELECT node AS vec_id, lab AS cluster_id FROM lab$CcRounds)""".stripMargin
  }

  private val ccLabSql: String =
    s"""mutual AS MATERIALIZED (
       |  SELECT f.id_a, f.id_b
       |  FROM top f JOIN top r ON f.id_a = r.id_b AND f.id_b = r.id_a
       |  WHERE f.id_a < f.id_b),
       |edges AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst FROM mutual
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM mutual),
       |${ccPointerJumpSql("edges")}""".stripMargin

  /** The ⌈√size⌉-budget salted-draw tail over `lab` — shared verbatim
    * by the exact and forest-fed q_cluster_sample oracles. */
  private val clusterSampleTailSql: String =
    """sz AS (
      |  SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id),
      |draws AS (
      |  SELECT l.vec_id, l.cluster_id, s.cluster_size,
      |    CAST(ceil(sqrt(CAST(s.cluster_size AS DOUBLE))) AS BIGINT) AS budget,
      |    ROW_NUMBER() OVER (PARTITION BY l.cluster_id
      |      ORDER BY CAST(concat('0x',
      |          substr(md5(concat('cs|', CAST(l.vec_id AS VARCHAR))), 1, 15)) AS BIGINT),
      |        l.vec_id) AS pick_rank
      |  FROM lab l JOIN sz s USING (cluster_id))
      |SELECT vec_id, cluster_id, cluster_size, budget, pick_rank
      |FROM draws WHERE pick_rank <= budget
      |ORDER BY vec_id""".stripMargin

  /** The e6-quantize / exact-centroid / member-cosine tail over `lab`
    * — shared verbatim by the exact and forest-fed q_cluster_profile
    * oracles. */
  private val clusterProfileTailSql: String =
    """ve AS (
      |  SELECT vec_id,
      |    [CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT) for x in embedding] AS v
      |  FROM embeddings),
      |mem AS (
      |  SELECT l.vec_id, l.cluster_id, ve.v FROM lab l JOIN ve USING (vec_id)),
      |dims AS (
      |  SELECT cluster_id, i AS dim, v[i] AS val
      |  FROM mem, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i)),
      |cent AS (
      |  SELECT cluster_id, dim,
      |    CASE WHEN SUM(val) < 0 THEN -((-SUM(val)) // COUNT(*))
      |      ELSE SUM(val) // COUNT(*) END AS mean_e6
      |  FROM dims GROUP BY cluster_id, dim),
      |ca AS (
      |  SELECT cluster_id, list(mean_e6 ORDER BY dim) AS ce
      |  FROM cent GROUP BY cluster_id),
      |sc AS (
      |  SELECT m.vec_id, m.cluster_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      [m.v[i] * ca.ce[i] for i in range(1, len(m.v) + 1)]),
      |      (a, x) -> a + x) AS dot,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      [m.v[i] * m.v[i] for i in range(1, len(m.v) + 1)]),
      |      (a, x) -> a + x) AS na,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      [ca.ce[i] * ca.ce[i] for i in range(1, len(ca.ce) + 1)]),
      |      (a, x) -> a + x) AS nc
      |  FROM mem m JOIN ca USING (cluster_id)),
      |cos AS (
      |  SELECT cluster_id, nc,
      |    CASE WHEN na = 0 OR nc = 0 THEN CAST(0 AS BIGINT)
      |         ELSE CAST(floor(CAST(dot AS DOUBLE)
      |           / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE)))
      |           * 1e6 + 0.5) AS BIGINT) END AS cos_e6
      |  FROM sc)
      |SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size,
      |  CAST(floor(sqrt(CAST(MAX(nc) AS DOUBLE)) + 0.5) AS BIGINT) AS centroid_norm_e6,
      |  CAST(SUM(cos_e6) // COUNT(*) AS BIGINT) AS mean_cos_e6,
      |  CAST(MIN(cos_e6) AS BIGINT) AS min_cos_e6
      |FROM cos GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** The k-distance / reachability / srd / ratio-mean tail over `top`
    * — shared verbatim by the exact and forest-fed q_lof oracles.
    * The mean divides by COUNT(*) (the edges actually present), the
    * [[lofFrom]] rule. */
  private val lofTailSql: String =
    """dists AS (
      |  SELECT id_a, id_b,
      |    1000000 - CAST(floor(cos_raw * 1e6 + 0.5) AS BIGINT) AS d
      |  FROM top),
      |kd AS (SELECT id_a, CAST(MAX(d) AS BIGINT) AS kdist
      |       FROM dists GROUP BY id_a),
      |srd AS (
      |  SELECT t.id_a,
      |    GREATEST(CAST(SUM(GREATEST(k.kdist, t.d)) AS BIGINT), 1) AS srd
      |  FROM dists t JOIN kd k ON k.id_a = t.id_b
      |  GROUP BY t.id_a),
      |lf AS (
      |  SELECT t.id_a,
      |    CAST(SUM((sa.srd * 1000000) // sb.srd) // COUNT(*) AS BIGINT)
      |      AS lof_e6
      |  FROM dists t
      |  JOIN srd sa ON sa.id_a = t.id_a
      |  JOIN srd sb ON sb.id_a = t.id_b
      |  GROUP BY t.id_a)
      |SELECT l.id_a AS vec_id, k.kdist AS kdist_e6, s.srd AS srd_e6,
      |  l.lof_e6
      |FROM lf l JOIN kd k ON k.id_a = l.id_a JOIN srd s ON s.id_a = l.id_a
      |ORDER BY vec_id""".stripMargin

  /** The rank-2 / ln-ratio / MLE tail over a `scored(id_a, id_b, d2)`
    * CTE — shared verbatim by the exact and forest-fed
    * q_intrinsic_dim oracles. n_dropped counts from the embeddings
    * total (the [[intrinsicDimFinish]] rule), so candidate-less nodes
    * in the forest path are dropped, not invisible. */
  private val intrinsicDimTailSql: String =
    """ranked AS (
      |  SELECT id_a, id_b, d2,
      |    ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY d2 ASC, id_b ASC) AS rank
      |  FROM scored),
      |mu AS (
      |  SELECT id_a,
      |    MIN(CASE WHEN rank = 1 THEN d2 END) AS d1,
      |    MIN(CASE WHEN rank = 2 THEN d2 END) AS dn2
      |  FROM ranked WHERE rank <= 2 GROUP BY id_a),
      |lm AS (
      |  SELECT CASE WHEN d1 IS NULL OR dn2 IS NULL OR d1 <= 0.0 OR dn2 <= 0.0 THEN NULL
      |    ELSE CAST(floor(500000.0 * ln(dn2 / d1) + 0.5) AS BIGINT) END AS lnmu
      |  FROM mu),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM embeddings),
      |agg AS (
      |  SELECT CAST(COUNT(lnmu) AS BIGINT) AS n_used,
      |    SUM(CAST(lnmu AS HUGEINT)) AS sln
      |  FROM lm)
      |SELECT n_used, CAST(t.n_total - n_used AS BIGINT) AS n_dropped,
      |  CASE WHEN sln IS NULL OR sln <= 0 THEN CAST(-1 AS BIGINT)
      |       ELSE CAST((CAST(n_used AS HUGEINT) * 1000000000000)
      |         // sln AS BIGINT) END AS d_hat_e6
      |FROM agg, tot t""".stripMargin

  /** The q_coreset oracle: Gonzalez's greedy k-center unrolled into
    * [[CoresetK]] generated CTE stages — the same seed (min vec_id),
    * the same pinned-fold d² tree, LEAST update, and
    * (mind2 DESC, vec_id ASC) argmax per round. */
  private val coresetOracleSql: String = {
    def dotSql(x: String, c: String): String =
      s"list_reduce([$x.v[i] * $c.cv[i] for i in range(1, len($x.v) + 1)], (d1, d2) -> d1 + d2)"
    val stages = (2 to CoresetK).map { i =>
      val prev = s"m${i - 1}"
      val pick =
        s"""p$i AS (
           |  SELECT vec_id, mind2 FROM $prev
           |  ORDER BY mind2 DESC, vec_id ASC LIMIT 1)""".stripMargin
      if (i < CoresetK)
        pick +
          s""",
             |c$i AS (
             |  SELECT m.v AS cv, m.nrm2 AS cn2
             |  FROM $prev m JOIN p$i p ON p.vec_id = m.vec_id),
             |m$i AS (
             |  SELECT m.vec_id, m.v, m.nrm2,
             |    LEAST(m.mind2, m.nrm2 - 2.0 * ${dotSql("m", "c")} + c.cn2) AS mind2
             |  FROM $prev m, c$i c)""".stripMargin
      else pick
    }
    val branches = (2 to CoresetK).map(i =>
      s"""UNION ALL SELECT CAST($i AS BIGINT), vec_id,
         |  CAST(floor(mind2 * 1e6 + 0.5) AS BIGINT) FROM p$i""".stripMargin)
    s"""WITH emb0 AS (
       |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
       |  FROM embeddings),
       |n2 AS (
       |  SELECT vec_id, v,
       |    list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)], (a, b) -> a + b) AS nrm2
       |  FROM emb0),
       |c1 AS (
       |  SELECT vec_id AS c_id, v AS cv, nrm2 AS cn2 FROM n2
       |  ORDER BY vec_id LIMIT 1),
       |m1 AS (
       |  SELECT x.vec_id, x.v, x.nrm2,
       |    x.nrm2 - 2.0 * ${dotSql("x", "c")} + c.cn2 AS mind2
       |  FROM n2 x, c1 c),
       |${stages.mkString(",\n")}
       |SELECT CAST(1 AS BIGINT) AS pick_order, c_id AS vec_id,
       |  CAST(0 AS BIGINT) AS radius_e6 FROM c1
       |${branches.mkString("\n")}
       |ORDER BY pick_order""".stripMargin
  }

  /** The q_mmr_rerank oracle: the same pool cut, e6 pair sims, and
    * K−1 greedy rounds unrolled with the identical
    * (rel−maxSim DESC, id ASC) argmax. */
  private val mmrOracleSql: String = {
    val rounds = (2 to K).map { i =>
      s"""m$i AS MATERIALIZED (
         |  SELECT s.query_id, s.id_a AS neighbor_id, MAX(s.sim_e6) AS ms
         |  FROM sims s JOIN ch${i - 1} c
         |    ON c.query_id = s.query_id AND c.neighbor_id = s.id_b
         |  GROUP BY s.query_id, s.id_a),
         |p$i AS (
         |  SELECT query_id, neighbor_id, CAST($i AS BIGINT) AS pick_order,
         |    rel_e6, score AS mmr_score_e6
         |  FROM (
         |    SELECT r.query_id, r.neighbor_id, r.rel_e6,
         |      r.rel_e6 - m.ms AS score,
         |      ROW_NUMBER() OVER (PARTITION BY r.query_id
         |        ORDER BY r.rel_e6 - m.ms DESC, r.neighbor_id ASC) AS rk
         |    FROM cand r
         |    JOIN m$i m ON m.query_id = r.query_id
         |      AND m.neighbor_id = r.neighbor_id
         |    WHERE NOT EXISTS (SELECT 1 FROM ch${i - 1} c
         |      WHERE c.query_id = r.query_id
         |        AND c.neighbor_id = r.neighbor_id))
         |  WHERE rk = 1),
         |ch$i AS MATERIALIZED (
         |  SELECT query_id, neighbor_id FROM ch${i - 1}
         |  UNION ALL SELECT query_id, neighbor_id FROM p$i)""".stripMargin
    }.mkString(",\n")
    val branches = (2 to K).map(i =>
      s"UNION ALL SELECT query_id, neighbor_id, pick_order, rel_e6, mmr_score_e6 FROM p$i")
      .mkString("\n")
    s"""WITH emb AS (
       |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
       |  FROM embeddings),
       |nrm AS MATERIALIZED (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)], (a, b) -> a + b)) AS nrm
       |  FROM emb),
       |cand AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, v, nrm, rel_e6, rk FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.v, c.nrm,
       |      CAST(floor(
       |        list_reduce([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)], (a, b) -> a + b)
       |        / (q.nrm * c.nrm) * 1e6 + 0.5) AS BIGINT) AS rel_e6,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY CAST(floor(
       |          list_reduce([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)], (a, b) -> a + b)
       |          / (q.nrm * c.nrm) * 1e6 + 0.5) AS BIGINT) DESC,
       |          c.vec_id ASC) AS rk
       |    FROM nrm q JOIN nrm c ON q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id)
       |  WHERE rk <= $MmrPool),
       |sims AS MATERIALIZED (
       |  SELECT a.query_id, a.neighbor_id AS id_a, b.neighbor_id AS id_b,
       |    CAST(floor(
       |      list_reduce([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)], (x, y) -> x + y)
       |      / (a.nrm * b.nrm) * 1e6 + 0.5) AS BIGINT) AS sim_e6
       |  FROM cand a JOIN cand b
       |    ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id),
       |c1 AS (
       |  SELECT query_id, neighbor_id, CAST(1 AS BIGINT) AS pick_order,
       |    rel_e6, rel_e6 AS mmr_score_e6
       |  FROM cand WHERE rk = 1),
       |ch1 AS (SELECT query_id, neighbor_id FROM c1),
       |$rounds
       |SELECT query_id, neighbor_id, pick_order, rel_e6, mmr_score_e6 FROM c1
       |$branches
       |ORDER BY query_id, pick_order""".stripMargin
  }

  /** Integer d² between an e6 vector table alias and a centroid
    * alias — the oracle spelling of the Lloyd zip_with fold. */
  private def kmD2Sql(x: String, c: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"[($x.v[i] - $c.ce[i]) * ($x.v[i] - $c.ce[i]) for i in range(1, len($x.v) + 1)]), " +
      "(acc, x2) -> acc + x2)"

  /** Shared CTE chain of the Lloyd trainer (ve, c1, a1..aR / s1..sR /
    * c2..cR) — composed by the q_kmeans oracle (which reads the s$r
    * stats) and the q_ann_ivf_kmeans oracle (which reads the final
    * a$KmRounds assignment and c$KmRounds codebook; the unreferenced
    * s$r CTEs prune away under DuckDB's default inlining). */
  private val kmeansRoundsSql: String = {
    def d2Sql(x: String, c: String): String = kmD2Sql(x, c)
    val rounds = (1 to KmRounds).map { r =>
      val assign =
        s"""a$r AS (
           |  SELECT vec_id, cell, v, d2 FROM (
           |    SELECT vec_id, cell, v, d2,
           |      ROW_NUMBER() OVER (PARTITION BY vec_id
           |        ORDER BY d2 ASC, cell ASC) AS rk
           |    FROM (SELECT ve.vec_id, c.cell, ve.v,
           |        ${d2Sql("ve", "c")} AS d2
           |      FROM ve, c$r c))
           |  WHERE rk = 1),
           |s$r AS (
           |  SELECT CAST($r AS BIGINT) AS round, cell,
           |    CAST(COUNT(*) AS BIGINT) AS n_members,
           |    CAST(SUM(CAST(d2 AS HUGEINT)) // COUNT(*) AS BIGINT) AS mean_d2
           |  FROM a$r GROUP BY cell)""".stripMargin
      val recompute =
        if (r < KmRounds)
          s""",
             |c${r + 1} AS (
             |  SELECT cell, list(m ORDER BY dim) AS ce FROM (
             |    SELECT cell, i AS dim,
             |      CASE WHEN SUM(v[i]) < 0 THEN -((-SUM(v[i])) // COUNT(*))
             |        ELSE SUM(v[i]) // COUNT(*) END AS m
             |    FROM a$r, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i)
             |    GROUP BY cell, i) GROUP BY cell)""".stripMargin
        else ""
      assign + recompute
    }.mkString(",\n")
    s"""ve AS (
       |  SELECT vec_id,
       |    [CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT) for x in embedding] AS v
       |  FROM embeddings),
       |c1 AS (
       |  SELECT CAST(rk - 1 AS BIGINT) AS cell, v AS ce FROM (
       |    SELECT v, ROW_NUMBER() OVER (
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
       |    FROM ve)
       |  WHERE rk <= $KmCells),
       |$rounds""".stripMargin
  }

  /** The q_kmeans oracle: the same e6 vectors, md5-ordered anchor
    * seeds, and [[KmRounds]] unrolled assign/recompute rounds with the
    * identical integer d² and (d2, cell) argmin. */
  private val kmeansOracleSql: String = {
    val branches = (1 to KmRounds)
      .map(r => s"SELECT round, cell, n_members, mean_d2 FROM s$r")
      .mkString("\nUNION ALL ")
    s"""WITH $kmeansRoundsSql
       |$branches
       |ORDER BY round, cell""".stripMargin
  }

  /** The q_ann_ivf_kmeans oracle: the SAME unrolled Lloyd chain, then
    * the q_ann_ivf_cosine probe/score/rank tail against the trained
    * a$KmRounds assignment and c$KmRounds codebook — integer d²
    * routing, double cosine scoring, identical tie orders. */
  private val annIvfKmeansOracleSql: String =
    s"""WITH $kmeansRoundsSql,
       |embq AS (
       |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
       |  FROM embeddings),
       |nrmq AS MATERIALIZED (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)], (a, b) -> a + b)) AS nrm
       |  FROM embq),
       |corpus AS MATERIALIZED (
       |  SELECT n.vec_id, n.v, n.nrm, a.cell
       |  FROM nrmq n JOIN a$KmRounds a ON a.vec_id = n.vec_id),
       |qd AS (
       |  SELECT ve.vec_id AS query_id, c.cell, ${kmD2Sql("ve", "c")} AS d2
       |  FROM ve, c$KmRounds c WHERE ve.vec_id % 50 = 0),
       |probe AS (
       |  SELECT query_id, cell,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY d2 ASC, cell ASC) AS pr
       |  FROM qd
       |  QUALIFY pr <= $IvfNprobe),
       |idpairs AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id
       |  FROM probe p
       |  JOIN (SELECT vec_id, cell FROM corpus) c
       |    ON c.cell = p.cell AND c.vec_id <> p.query_id),
       |scored AS (
       |  SELECT pr.query_id, pr.neighbor_id,
       |    list_reduce([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)], (a, b) -> a + b)
       |      / (q.nrm * c.nrm) AS cos_raw
       |  FROM idpairs pr
       |  JOIN corpus q ON q.vec_id = pr.query_id
       |  JOIN corpus c ON c.vec_id = pr.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos_raw,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, floor(cos_raw * 1e6 + 0.5) / 1e6 AS cosine, rank
       |FROM ranked WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  private val baseOracleSql: Map[String, String] = Map(
    "q_kmeans" -> kmeansOracleSql,
    "q_ann_ivf_kmeans" -> annIvfKmeansOracleSql,
    // the q_ann_cosine ranked top-K, label relevance via two key
    // joins, the same first-relevant rank pick and truncating mean
    "q_mrr" ->
      s"""WITH emb AS (
         |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
         |  FROM embeddings),
         |nrm AS (
         |  SELECT vec_id, v,
         |    sqrt(list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)], (a, b) -> a + b)) AS nrm
         |  FROM emb),
         |ranked AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_reduce([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)], (a, b) -> a + b)
         |        / (q.nrm * c.nrm) DESC, c.vec_id ASC) AS rank
         |  FROM nrm q JOIN nrm c ON q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id),
         |top AS (SELECT * FROM ranked WHERE rank <= $K),
         |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS lab FROM embeddings),
         |res AS (
         |  SELECT t.query_id, t.rank, ql.lab AS qlab, nl.lab AS nlab
         |  FROM top t
         |  JOIN lab ql ON ql.vec_id = t.query_id
         |  JOIN lab nl ON nl.vec_id = t.neighbor_id),
         |perq AS (
         |  SELECT query_id,
         |    MIN(CASE WHEN qlab = nlab THEN rank END) AS first_rel,
         |    MAX(CASE WHEN qlab = nlab AND rank = 1 THEN 1 ELSE 0 END) AS hit1
         |  FROM res GROUP BY query_id)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  CAST(SUM(CASE WHEN first_rel IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_hit,
         |  CAST(SUM(hit1) AS BIGINT) AS hits_at_1,
         |  CAST(SUM(COALESCE(1000000 // first_rel, 0)) // COUNT(*) AS BIGINT) AS mrr_e6
         |FROM perq""".stripMargin,
    "q_mmr_rerank" -> mmrOracleSql,
    "q_coreset" -> coresetOracleSql,
    // the IVF oracle's anchor/dist derivation, then per-point sorted
    // first/second distances and the identical one-floor s tree
    "q_silhouette" ->
      s"""WITH emb AS (
         |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
         |  FROM embeddings),
         |nrm AS (
         |  SELECT vec_id, v,
         |    list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)], (a, b) -> a + b) AS nrm2
         |  FROM emb),
         |anchors AS (
         |  SELECT v AS av, nrm2 AS a2,
         |    ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS cell
         |  FROM nrm
         |  QUALIFY cell <= $IvfCells),
         |dist AS (
         |  SELECT n.vec_id, a.cell,
         |    n.nrm2 - 2.0 * list_reduce([n.v[i] * a.av[i] for i in range(1, len(n.v) + 1)],
         |      (x, y) -> x + y) + a.a2 AS d
         |  FROM nrm n, anchors a),
         |pv AS (
         |  SELECT vec_id, list(d ORDER BY cell) AS dists FROM dist GROUP BY vec_id),
         |sil AS (
         |  SELECT vec_id,
         |    list_position(dists, list_aggregate(dists, 'min')) AS cell,
         |    list_sort(dists)[1] AS da2, list_sort(dists)[2] AS db2
         |  FROM pv),
         |se AS (
         |  SELECT cell,
         |    CASE WHEN sqrt(greatest(db2, 0.0)) <= 0.0 THEN CAST(0 AS BIGINT)
         |         ELSE CAST(floor(1000000.0
         |           * (1.0 - sqrt(greatest(da2, 0.0)) / sqrt(greatest(db2, 0.0)))
         |           + 0.5) AS BIGINT) END AS s_e6
         |  FROM sil)
         |SELECT CAST(cell AS BIGINT) AS cell, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST(s_e6 AS HUGEINT)) // COUNT(*) AS BIGINT) AS mean_s_e6
         |FROM se GROUP BY cell ORDER BY cell""".stripMargin,
    // the q_pca_power e6 quantize, per-half exact moments, one exact
    // mean-shift division, and the identical per-dim Welch tree
    "q_embed_drift" ->
      """WITH x AS (
        |  SELECT vec_id, i - 1 AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS q
        |  FROM embeddings,
        |       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)),
        |m AS (
        |  SELECT dim,
        |    CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    SUM(CASE WHEN vec_id % 2 = 0 THEN CAST(q AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS sa,
        |    SUM(CASE WHEN vec_id % 2 = 1 THEN CAST(q AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS sb,
        |    SUM(CASE WHEN vec_id % 2 = 0 THEN CAST(q AS HUGEINT) * q ELSE CAST(0 AS HUGEINT) END) AS ssa,
        |    SUM(CASE WHEN vec_id % 2 = 1 THEN CAST(q AS HUGEINT) * q ELSE CAST(0 AS HUGEINT) END) AS ssb
        |  FROM x GROUP BY dim),
        |d AS (
        |  SELECT dim, n_a, n_b, sa, sb,
        |    (CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / n_a) / (n_a - 1) AS va,
        |    (CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / n_b) / (n_b - 1) AS vb
        |  FROM m),
        |e AS (SELECT dim, n_a, n_b, sa, sb, va / n_a + vb / n_b AS se2 FROM d)
        |SELECT dim, n_a, n_b,
        |  CASE WHEN n_a = 0 OR n_b = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST((sa * n_b - sb * n_a)
        |         // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) END AS delta_e6,
        |  CASE WHEN n_a < 2 OR n_b < 2 OR se2 <= 0.0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(floor(1000000.0
        |         * (CAST(sa AS DOUBLE) / n_a - CAST(sb AS DOUBLE) / n_b)
        |         / sqrt(se2)) AS BIGINT) END AS t_e6
        |FROM e ORDER BY dim""".stripMargin,
    // the exact-kNN prelude at k=2 (euclidean), per-point ln-ratio
    // quantized e6, one exact MLE division
    "q_intrinsic_dim" -> {
      // the same chunked-window capacity treatment as knnTopSql: each
      // slice pre-cuts to rank <= 2 per id_a, and the shared tail's
      // re-rank over the <= 2-per-node union reproduces ranks 1/2
      // exactly (ranking a prefix of the same ordering)
      val branches = (0 until 8).map { c =>
        s"""sc$c AS (
          |  SELECT id_a, id_b, d2 FROM (
          |    SELECT id_a, id_b, d2,
          |      ROW_NUMBER() OVER (PARTITION BY id_a
          |        ORDER BY d2 ASC, id_b ASC) AS rank
          |    FROM (
          |      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |        a.nrm2 - 2.0 * list_reduce([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)],
          |          (a2, b2) -> a2 + b2) + b.nrm2 AS d2
          |      FROM n2 a JOIN n2 b ON a.vec_id <> b.vec_id
          |      WHERE a.vec_id % 8 = $c))
          |  WHERE rank <= 2)""".stripMargin
      }.mkString(",\n")
      val union = (0 until 8).map(c => s"SELECT * FROM sc$c")
        .mkString("\n  UNION ALL ")
      s"""WITH emb AS (
        |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
        |  FROM embeddings),
        |n2 AS (
        |  SELECT vec_id, v,
        |    list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)], (a, b) -> a + b) AS nrm2
        |  FROM emb),
        |$branches,
        |scored AS (
        |  $union),
        |$intrinsicDimTailSql""".stripMargin
    },
    // the identical two-NN tail over forest-candidate pairs only
    "q_intrinsic_dim_approx" ->
      s"""WITH $forestCandSql,
        |n2 AS (
        |  SELECT vec_id, v,
        |    list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)], (a, b) -> a + b) AS nrm2
        |  FROM emb),
        |scored AS (
        |  SELECT c.id_a, c.id_b,
        |    a.nrm2 - 2.0 * list_reduce([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)],
        |      (a2, b2) -> a2 + b2) + b.nrm2 AS d2
        |  FROM cand c
        |    JOIN n2 a ON a.vec_id = c.id_a
        |    JOIN n2 b ON b.vec_id = c.id_b),
        |$intrinsicDimTailSql""".stripMargin,
    // q_ann_cosine's CTE with the label-mismatch cut before ranking
    "q_hard_negatives" ->
      s"""WITH emb AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    [CAST(x AS DOUBLE) for x in embedding] AS v
         |  FROM embeddings),
         |nrm AS (
         |  SELECT vec_id, label, v,
         |    sqrt(list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)], (a, b) -> a + b)) AS nrm
         |  FROM emb),
         |scored AS (
         |  SELECT q.vec_id AS query_id, q.label AS query_label,
         |    c.vec_id AS neg_id, c.label AS neg_label,
         |    list_reduce([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)], (a, b) -> a + b)
         |      / (q.nrm * c.nrm) AS cos_raw
         |  FROM nrm q JOIN nrm c ON q.vec_id % 50 = 0 AND c.label <> q.label),
         |ranked AS (
         |  SELECT query_id, query_label, neg_id, neg_label, cos_raw,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos_raw DESC, neg_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, query_label, neg_id, neg_label,
         |  floor(cos_raw * 1e6 + 0.5) / 1e6 AS cosine, rank
         |FROM ranked WHERE rank <= $K
         |ORDER BY query_id, rank""".stripMargin,
    // same neighbor ranking; majority vote with (votes desc, label)
    "q_knn_classify" ->
      s"""WITH emb AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    [CAST(x AS DOUBLE) for x in embedding] AS v
         |  FROM embeddings),
         |nrm AS (
         |  SELECT vec_id, label, v,
         |    sqrt(list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)], (a, b) -> a + b)) AS nrm
         |  FROM emb),
         |nn AS (
         |  SELECT query_id, actual, label FROM (
         |    SELECT q.vec_id AS query_id, q.label AS actual, c.label,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        list_reduce([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)], (a, b) -> a + b)
         |          / (q.nrm * c.nrm) DESC, c.vec_id ASC) AS rank
         |    FROM nrm q JOIN nrm c ON q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id)
         |  WHERE rank <= $KnnClassK),
         |votes AS (
         |  SELECT query_id, actual, label, CAST(COUNT(*) AS BIGINT) AS votes
         |  FROM nn GROUP BY query_id, actual, label),
         |pred AS (
         |  SELECT query_id, actual, label AS predicted,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY votes DESC, label ASC) AS rn
         |  FROM votes),
         |cm AS (
         |  SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n_queries
         |  FROM pred WHERE rn = 1 GROUP BY actual, predicted)
         |SELECT actual, predicted, n_queries,
         |  CAST(SUM(n_queries) OVER (PARTITION BY actual) AS BIGINT) AS row_total,
         |  CAST((n_queries * 1000000) // SUM(n_queries) OVER (PARTITION BY actual)
         |    AS BIGINT) AS p_e6
         |FROM cm ORDER BY actual, predicted""".stripMargin,
    // Same e6 quantization, integer centroids, integer dist² compare.
    "q_embed_outliers" ->
      s"""WITH ve AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    [CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT) for x in embedding] AS v
         |  FROM embeddings),
         |dims AS (
         |  SELECT label, i AS dim, v[i] AS val
         |  FROM ve, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i)),
         |cent AS (
         |  SELECT label, dim, CAST(SUM(val) // COUNT(*) AS BIGINT) AS mean_e6
         |  FROM dims GROUP BY label, dim),
         |ca AS (
         |  SELECT label, list(mean_e6 ORDER BY dim) AS ce
         |  FROM cent GROUP BY label),
         |d2 AS (
         |  SELECT m.vec_id, m.label,
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      [(m.v[i] - ca.ce[i]) * (m.v[i] - ca.ce[i])
         |       for i in range(1, len(m.v) + 1)]),
         |      (a, x) -> a + x) AS BIGINT) AS dist2
         |  FROM ve m JOIN ca USING (label)),
         |means AS (
         |  SELECT label,
         |    CAST(SUM(CAST(dist2 AS HUGEINT)) // COUNT(*) AS BIGINT) AS mean_dist2
         |  FROM d2 GROUP BY label)
         |SELECT d.vec_id, d.label, d.dist2,
         |  d.dist2 > m.mean_dist2 * $OutlierK AS outlier
         |FROM d2 d JOIN means m USING (label)
         |ORDER BY d.vec_id""".stripMargin,
    "q_feature_scale" ->
      """WITH x AS (
        |  SELECT i - 1 AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i))
        |SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(v) AS BIGINT) AS min_e6, CAST(MAX(v) AS BIGINT) AS max_e6,
        |  CAST(SUM(v) AS BIGINT) AS sum_e6,
        |  CAST(SUM(v) // COUNT(*) AS BIGINT) AS mean_e6,
        |  CAST((COUNT(*) * SUM(v * v) - SUM(v) * SUM(v))
        |    // (COUNT(*) * COUNT(*)) AS BIGINT) AS var_e12
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin,
    // same centered integer table, the two matvec rounds unrolled as
    // CTE pairs (sk/uk), rescale by the signed top-|u| pick
    "q_pca_power" ->
      s"""$PcaOracleCore
        |SELECT m.dim, CAST(m.mean_e6 AS BIGINT) AS mean_e6,
        |  CAST(v2.vv AS BIGINT) AS loading_e6
        |FROM m JOIN v2 ON v2.dim = m.dim
        |ORDER BY m.dim""".stripMargin,
    // same quantize/means, sign flags, joint contingency + reused
    // marginals, one ln-kernel term per cell, truncating div by N
    "q_mutual_info" ->
      """WITH x AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label, i - 1 AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS v
        |  FROM embeddings,
        |       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)),
        |m AS (SELECT dim, SUM(v) // COUNT(*) AS mean_e6 FROM x GROUP BY dim),
        |f AS (SELECT x.dim, label,
        |    CASE WHEN v >= mean_e6 THEN 1 ELSE 0 END AS s
        |  FROM x JOIN m ON m.dim = x.dim),
        |joint AS (SELECT dim, s, label, CAST(COUNT(*) AS BIGINT) AS n_sl
        |  FROM f GROUP BY dim, s, label),
        |ms AS (SELECT dim, s, CAST(SUM(n_sl) AS BIGINT) AS n_s
        |  FROM joint GROUP BY dim, s),
        |ml AS (SELECT dim, label, CAST(SUM(n_sl) AS BIGINT) AS n_l
        |  FROM joint GROUP BY dim, label),
        |tt AS (SELECT dim, CAST(SUM(n_sl) AS BIGINT) AS nn
        |  FROM joint GROUP BY dim),
        |terms AS (
        |  SELECT j.dim, j.s, j.n_sl,
        |    j.n_sl * CAST(floor(ln((CAST(j.n_sl AS DOUBLE) * nn)
        |      / (CAST(n_s AS DOUBLE) * n_l)) * 1e6 + 0.5) AS BIGINT) AS term_e6
        |  FROM joint j
        |  JOIN ms ON ms.dim = j.dim AND ms.s = j.s
        |  JOIN ml ON ml.dim = j.dim AND ml.label = j.label
        |  JOIN tt ON tt.dim = j.dim),
        |board AS (
        |  SELECT t.dim, MAX(nn) AS n_vecs,
        |    CAST(SUM(CASE WHEN s = 1 THEN n_sl ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(SUM(term_e6) // MAX(nn) AS BIGINT) AS mi_e6
        |  FROM terms t JOIN tt ON tt.dim = t.dim
        |  GROUP BY t.dim)
        |SELECT dim, n_vecs, n_pos, mi_e6,
        |  CAST(ROW_NUMBER() OVER (ORDER BY mi_e6 DESC, dim ASC) AS BIGINT) AS rank
        |FROM board ORDER BY dim""".stripMargin,
    // same core, one projection pass, identical div-staged ratio
    "q_anisotropy" ->
      s"""$PcaOracleCore,
        |proj AS (
        |  SELECT vec_id, SUM(CAST(c AS HUGEINT) * vv) // 1000000 AS p,
        |    SUM(CAST(c AS HUGEINT) * c) AS cn2_i
        |  FROM e JOIN v2 ON v2.dim = e.dim GROUP BY vec_id),
        |a1 AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |    SUM(CAST(p AS HUGEINT) * p) AS num,
        |    SUM(cn2_i) // 1000000 AS cn2m
        |  FROM proj),
        |va AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_dims,
        |    SUM(CAST(vv AS HUGEINT) * vv) // 1000000 AS vn2
        |  FROM v2)
        |SELECT n_vecs, n_dims,
        |  CAST(CASE WHEN vn2 * cn2m = 0 THEN -1
        |    ELSE (num * n_dims * 1000000) // (vn2 * cn2m) END AS BIGINT) AS anis_e6,
        |  CAST(CASE WHEN vn2 * cn2m = 0 THEN -1
        |    ELSE (num * 1000000) // (vn2 * cn2m) END AS BIGINT) AS evr_e6
        |FROM a1 CROSS JOIN va""".stripMargin,
    "q_embed_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, embedding AS v,
        |    CAST(list_aggregate(list_transform(embedding, x -> abs(x)), 'max') AS DOUBLE)
        |      / 127.0 AS scale
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, v, scale,
        |    list_transform(v, x -> CASE WHEN scale = 0.0 THEN CAST(0 AS BIGINT)
        |      ELSE CAST(greatest(-127.0, least(127.0,
        |        floor(CAST(x AS DOUBLE) / scale + 0.5))) AS BIGINT) END) AS qv
        |  FROM s)
        |SELECT vec_id,
        |  CAST(len(v) AS BIGINT) AS n_dims,
        |  CAST(floor(scale * 1e9 + 0.5) AS BIGINT) AS scale_e9,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), qv),
        |    (a, x) -> a + x) AS BIGINT) AS q_sum,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(qv, x -> x * x)), (a, x) -> a + x) AS BIGINT) AS q_l2,
        |  CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    [(CAST(v[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE) * scale)
        |      * (CAST(v[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE) * scale)
        |      for i in range(1, len(v) + 1)]),
        |    (a, e) -> a + e) * 1e9 + 0.5) AS BIGINT) AS mse_e9
        |FROM q
        |ORDER BY vec_id""".stripMargin,
    "q_ann_lsh_cosine" ->
      s"""WITH $forestSqlPrelude,
         |qprobe AS (
         |  SELECT vec_id AS query_id, t, bucket AS probe
         |  FROM tbuck WHERE vec_id % 50 = 0
         |  UNION ALL
         |  SELECT tb.vec_id, tb.t, xor(tb.bucket, CAST(1 AS BIGINT) << b.p8)
         |  FROM tbuck tb, (SELECT unnest(generate_series(0, ${Planes - 1})) AS p8) b
         |  WHERE tb.vec_id % 50 = 0),
         |cand AS (
         |  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
         |  FROM qprobe q JOIN tbuck c ON q.t = c.t AND q.probe = c.bucket
         |  WHERE c.vec_id <> q.query_id),
         |scored AS (
         |  SELECT cand.query_id, cand.neighbor_id,
         |    list_reduce([qv.v[i] * cv.v[i] for i in range(1, len(qv.v) + 1)], (a, b) -> a + b)
         |      / (qv.nrm * cv.nrm) AS cos_raw
         |  FROM cand
         |    JOIN nrm qv ON qv.vec_id = cand.query_id
         |    JOIN nrm cv ON cv.vec_id = cand.neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos_raw,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, floor(cos_raw * 1e6 + 0.5) / 1e6 AS cosine, rank
         |FROM ranked WHERE rank <= $K
         |ORDER BY query_id, rank""".stripMargin,
    "q_dedup_embedding" ->
      s"""WITH $bucketSqlPrelude,
         |idp AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM (SELECT vec_id, bucket FROM embb) a
         |  JOIN (SELECT vec_id, bucket FROM embb) b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT idp.id_a, idp.id_b,
         |  floor(list_reduce([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)], (x, y) -> x + y)
         |    / (a.nrm * b.nrm) * 1e6 + 0.5) / 1e6 AS cosine
         |FROM idp JOIN embb a ON a.vec_id = idp.id_a
         |  JOIN embb b ON b.vec_id = idp.id_b
         |WHERE list_reduce([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)], (x, y) -> x + y)
         |    / (a.nrm * b.nrm) >= $DedupTau
         |ORDER BY id_a, id_b""".stripMargin,
    // Mirrors the seeded-codebook IVF end-to-end: md5-ranked anchors,
    // argmin cell assignment, nprobe probing, bucket-local scoring —
    // every distance/cosine is the same pinned left fold, so cells and
    // ranks are bit-identical.
    "q_ann_ivf_cosine" ->
      s"""WITH emb AS (
         |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
         |  FROM embeddings),
         |nrm AS (
         |  SELECT vec_id, v,
         |    list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)], (a, b) -> a + b) AS nrm2
         |  FROM emb),
         |anchors AS (
         |  SELECT v AS av, nrm2 AS a2,
         |    ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS cell
         |  FROM nrm
         |  QUALIFY cell <= $IvfCells),
         |dist AS (
         |  SELECT n.vec_id, a.cell,
         |    n.nrm2 - 2.0 * list_reduce([n.v[i] * a.av[i] for i in range(1, len(n.v) + 1)],
         |      (x, y) -> x + y) + a.a2 AS d
         |  FROM nrm n, anchors a),
         |asn AS (
         |  SELECT vec_id,
         |    list_position(dists, list_aggregate(dists, 'min')) AS cell
         |  FROM (SELECT vec_id, list(d ORDER BY cell) AS dists FROM dist GROUP BY vec_id)),
         |corpus AS (
         |  SELECT n.vec_id, n.v, sqrt(n.nrm2) AS nrm, asn.cell
         |  FROM nrm n JOIN asn USING (vec_id)),
         |probe AS (
         |  SELECT vec_id AS query_id, cell,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS pr
         |  FROM dist WHERE vec_id % 50 = 0
         |  QUALIFY pr <= $IvfNprobe),
         |idpairs AS (
         |  SELECT p.query_id, c.vec_id AS neighbor_id
         |  FROM probe p
         |  JOIN (SELECT vec_id, cell FROM corpus) c
         |    ON c.cell = p.cell AND c.vec_id <> p.query_id),
         |scored AS (
         |  SELECT pr.query_id, pr.neighbor_id,
         |    list_reduce([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)], (a, b) -> a + b)
         |      / (q.nrm * c.nrm) AS cos_raw
         |  FROM idpairs pr
         |  JOIN corpus q ON q.vec_id = pr.query_id
         |  JOIN corpus c ON c.vec_id = pr.neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos_raw,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, floor(cos_raw * 1e6 + 0.5) / 1e6 AS cosine, rank
         |FROM ranked WHERE rank <= $K
         |ORDER BY query_id, rank""".stripMargin,
    // Same nrm/scored prelude as q_ann_cosine but unsampled; the two
    // directed top-K halves meet on (id_a, id_b), a < b emitted once.
    "q_knn_graph" ->
      s"""WITH ${knnTopSql(KnnK)}
         |SELECT f.id_a AS id_a, f.id_b AS id_b,
         |  floor(f.cos_raw * 1e6 + 0.5) / 1e6 AS cosine,
         |  f.rank AS rank_ab, r.rank AS rank_ba
         |FROM top f JOIN top r ON f.id_a = r.id_b AND f.id_b = r.id_a
         |WHERE f.id_a < f.id_b
         |ORDER BY f.id_a, f.id_b""".stripMargin,
    // same directed top-K substrate, e6 distances, max-d k-distance,
    // reach/srd sums, and the per-edge truncating ratio mean
    "q_lof" -> s"WITH ${knnTopSql(KnnK)},\n$lofTailSql",
    // the identical LOF tail over the forest-candidate top lists
    "q_lof_approx" -> s"WITH ${forestTopSql(KnnK)},\n$lofTailSql",
    // the exact graph's rank-and-mutual tail over forest candidates
    // only — same forest derivation as the LSH oracle
    "q_knn_graph_approx" ->
      s"""WITH ${forestTopSql(KnnK)}
         |SELECT f.id_a AS id_a, f.id_b AS id_b,
         |  floor(f.cos_raw * 1e6 + 0.5) / 1e6 AS cosine,
         |  f.rank AS rank_ab, r.rank AS rank_ba
         |FROM top f JOIN top r ON f.id_a = r.id_b AND f.id_b = r.id_a
         |WHERE f.id_a < f.id_b
         |ORDER BY f.id_a, f.id_b""".stripMargin,
    // one forest build; per-pair min table index with/without flips;
    // every grid cell one conditional count — the same trick
    "q_forest_sweep" -> {
      val gridVals = SweepTables
        .flatMap(l => Seq(s"($l, 0)", s"($l, 1)")).mkString(", ")
      s"""WITH $forestSqlPrelude,
         |exactsc AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_reduce([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)], (a, b) -> a + b)
         |      / (q.nrm * c.nrm) AS cos_raw
         |  FROM nrm q JOIN nrm c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id % 50 = 0),
         |exact AS (
         |  SELECT query_id, neighbor_id, 1 AS hit FROM (
         |    SELECT query_id, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
         |    FROM exactsc) WHERE rank <= $K),
         |probes AS (
         |  SELECT vec_id AS query_id, t, bucket AS probe, FALSE AS flipped
         |  FROM tbuck WHERE vec_id % 50 = 0
         |  UNION ALL
         |  SELECT tb.vec_id, tb.t, xor(tb.bucket, CAST(1 AS BIGINT) << b.p8), TRUE
         |  FROM tbuck tb, (SELECT unnest(generate_series(0, ${Planes - 1})) AS p8) b
         |  WHERE tb.vec_id % 50 = 0),
         |pa AS (
         |  SELECT p.query_id, c.vec_id AS neighbor_id,
         |    COALESCE(MIN(CASE WHEN NOT p.flipped THEN p.t END), 99) AS t0,
         |    MIN(p.t) AS t1
         |  FROM probes p JOIN tbuck c
         |    ON c.t = p.t AND c.bucket = p.probe AND c.vec_id <> p.query_id
         |  GROUP BY p.query_id, c.vec_id),
         |pah AS (
         |  SELECT pa.query_id, pa.neighbor_id, pa.t0, pa.t1,
         |    COALESCE(e.hit, 0) AS hit
         |  FROM pa LEFT JOIN exact e USING (query_id, neighbor_id)),
         |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact),
         |grid(tables, radius) AS (VALUES $gridVals)
         |SELECT CAST(g.tables AS BIGINT) AS tables,
         |  CAST(g.radius AS BIGINT) AS radius,
         |  CAST(COUNT(*) AS BIGINT) AS n_cand,
         |  CAST(SUM(hit) AS BIGINT) AS hits, ne.n_exact,
         |  CAST(SUM(hit) * 1000000 // ne.n_exact AS BIGINT) AS recall_e6
         |FROM pah, grid g, ne
         |WHERE CASE WHEN g.radius = 0 THEN pah.t0 < g.tables
         |      ELSE pah.t1 < g.tables END
         |GROUP BY g.tables, g.radius, ne.n_exact
         |ORDER BY tables, radius""".stripMargin
    },
    // the q_knn_components closure over the forest-fed mutual edges
    "q_knn_components_approx" ->
      s"""WITH RECURSIVE ${forestTopSql(KnnK)},
         |mutual AS MATERIALIZED (
         |  SELECT f.id_a, f.id_b
         |  FROM top f JOIN top r ON f.id_a = r.id_b AND f.id_b = r.id_a
         |  WHERE f.id_a < f.id_b),
         |edges AS MATERIALIZED (
         |  SELECT id_a AS src, id_b AS dst FROM mutual
         |  UNION ALL SELECT id_b AS src, id_a AS dst FROM mutual),
         |${ccPointerJumpSql("edges")},
         |sz AS (
         |  SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id)
         |SELECT l.vec_id, l.cluster_id, s.cluster_size,
         |  l.vec_id = l.cluster_id AS is_canonical
         |FROM lab l JOIN sz s USING (cluster_id)
         |ORDER BY l.vec_id""".stripMargin,
    // Mutual edges from the shared top-K prelude, then the same
    // reachability-closure CC the q_dedup_clusters oracle uses; the
    // seed row set is ALL embeddings so singletons label themselves.
    "q_knn_components" ->
      s"""WITH RECURSIVE ${knnTopSql(KnnK)},
         |mutual AS MATERIALIZED (
         |  SELECT f.id_a, f.id_b
         |  FROM top f JOIN top r ON f.id_a = r.id_b AND f.id_b = r.id_a
         |  WHERE f.id_a < f.id_b),
         |edges AS MATERIALIZED (
         |  SELECT id_a AS src, id_b AS dst FROM mutual
         |  UNION ALL SELECT id_b AS src, id_a AS dst FROM mutual),
         |${ccPointerJumpSql("edges")},
         |sz AS (
         |  SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id)
         |SELECT l.vec_id, l.cluster_id, s.cluster_size,
         |  l.vec_id = l.cluster_id AS is_canonical
         |FROM lab l JOIN sz s USING (cluster_id)
         |ORDER BY l.vec_id""".stripMargin,
    // same mutual edges + closure labels; the contribution is the
    // exact rational (4·m·e_c − d_c²)/(4·m²) in HUGEINT, e6-scaled
    // before one truncating division
    "q_graph_modularity" ->
      s"""WITH RECURSIVE ${knnTopSql(SampleKnnK)},
         |mutual AS MATERIALIZED (
         |  SELECT f.id_a, f.id_b
         |  FROM top f JOIN top r ON f.id_a = r.id_b AND f.id_b = r.id_a
         |  WHERE f.id_a < f.id_b),
         |edges2 AS MATERIALIZED (
         |  SELECT id_a AS src, id_b AS dst FROM mutual
         |  UNION ALL SELECT id_b AS src, id_a AS dst FROM mutual),
         |${ccPointerJumpSql("edges2")},
         |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM mutual),
         |deg AS (
         |  SELECT src AS vec_id, CAST(COUNT(*) AS BIGINT) AS deg
         |  FROM edges2 GROUP BY src),
         |dc AS (
         |  SELECT l.cluster_id, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |    CAST(SUM(COALESCE(d.deg, 0)) AS BIGINT) AS degree_sum
         |  FROM lab l LEFT JOIN deg d USING (vec_id) GROUP BY l.cluster_id),
         |ie AS (
         |  SELECT la.cluster_id, CAST(COUNT(*) AS BIGINT) AS intra_edges
         |  FROM mutual mu
         |    JOIN lab la ON la.vec_id = mu.id_a
         |    JOIN lab lb ON lb.vec_id = mu.id_b
         |  WHERE la.cluster_id = lb.cluster_id
         |  GROUP BY la.cluster_id)
         |SELECT d.cluster_id, d.n_nodes,
         |  CAST(COALESCE(ie.intra_edges, 0) AS BIGINT) AS intra_edges,
         |  d.degree_sum,
         |  CAST((CAST(4 AS HUGEINT) * mm.m * COALESCE(ie.intra_edges, 0)
         |    - CAST(d.degree_sum AS HUGEINT) * d.degree_sum) * 1000000
         |    // (CAST(4 AS HUGEINT) * mm.m * mm.m) AS BIGINT) AS contrib_e6
         |FROM dc d LEFT JOIN ie USING (cluster_id) CROSS JOIN mm
         |ORDER BY cluster_id""".stripMargin,
    // same closure labels + (cluster, label) census + pinned argmax
    "q_cluster_purity" ->
      s"""WITH RECURSIVE ${knnTopSql(SampleKnnK)},
         |mutual AS MATERIALIZED (
         |  SELECT f.id_a, f.id_b
         |  FROM top f JOIN top r ON f.id_a = r.id_b AND f.id_b = r.id_a
         |  WHERE f.id_a < f.id_b),
         |edges2 AS MATERIALIZED (
         |  SELECT id_a AS src, id_b AS dst FROM mutual
         |  UNION ALL SELECT id_b AS src, id_a AS dst FROM mutual),
         |${ccPointerJumpSql("edges2")},
         |cy AS (
         |  SELECT l.cluster_id, CAST(emb.label AS BIGINT) AS y,
         |    CAST(COUNT(*) AS BIGINT) AS n_y
         |  FROM lab l JOIN embeddings emb ON emb.vec_id = l.vec_id
         |  GROUP BY l.cluster_id, CAST(emb.label AS BIGINT)),
         |rk AS (
         |  SELECT cluster_id, y, n_y,
         |    ROW_NUMBER() OVER (PARTITION BY cluster_id
         |      ORDER BY n_y DESC, y ASC) AS rk,
         |    CAST(SUM(n_y) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_nodes
         |  FROM cy)
         |SELECT cluster_id, n_nodes, y AS majority_label, n_y AS majority_n,
         |  CAST(n_y * 1000000 // n_nodes AS BIGINT) AS purity_e6
         |FROM rk WHERE rk = 1
         |ORDER BY cluster_id""".stripMargin,
    // Shared CC labels, e6-quantized members, exact-integer per-dim
    // centroid sums, one double division per member cosine — the
    // identical tree the Spark side executes.
    "q_cluster_profile" ->
      s"WITH RECURSIVE ${knnTopSql(SampleKnnK)},\n$ccLabSql,\n$clusterProfileTailSql",
    // the identical labels + profile tail over forest-candidate lists
    "q_cluster_profile_approx" ->
      s"WITH RECURSIVE ${forestTopSql(SampleKnnK)},\n$ccLabSql,\n$clusterProfileTailSql",
    // Mutual edges from the shared top-K prelude, degree-ordered
    // orientation by the (degree, id) pair, wedge join + closing
    // equi-join — all-integer logic, so the engines agree exactly.
    "q_triangle_count" ->
      s"""WITH ${knnTopSql(KnnK)},
         |mutual AS (
         |  SELECT f.id_a, f.id_b
         |  FROM top f JOIN top r ON f.id_a = r.id_b AND f.id_b = r.id_a
         |  WHERE f.id_a < f.id_b),
         |deg AS (
         |  SELECT node, COUNT(*) AS degree FROM (
         |    SELECT id_a AS node FROM mutual
         |    UNION ALL SELECT id_b AS node FROM mutual) u
         |  GROUP BY node),
         |oe AS (
         |  SELECT CASE WHEN da.degree < db.degree
         |           OR (da.degree = db.degree AND m.id_a < m.id_b)
         |         THEN m.id_a ELSE m.id_b END AS u,
         |         CASE WHEN da.degree < db.degree
         |           OR (da.degree = db.degree AND m.id_a < m.id_b)
         |         THEN m.id_b ELSE m.id_a END AS v,
         |         CASE WHEN da.degree < db.degree
         |           OR (da.degree = db.degree AND m.id_a < m.id_b)
         |         THEN db.degree ELSE da.degree END AS vd
         |  FROM mutual m
         |  JOIN deg da ON da.node = m.id_a JOIN deg db ON db.node = m.id_b),
         |tri AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM oe e1 JOIN oe e2 ON e1.u = e2.u
         |    AND (e1.vd < e2.vd OR (e1.vd = e2.vd AND e1.v < e2.v))
         |  JOIN oe e3 ON e3.u = e1.v AND e3.v = e2.v),
         |pert AS (
         |  SELECT node, COUNT(*) AS triangles FROM (
         |    SELECT a AS node FROM tri UNION ALL SELECT b AS node FROM tri
         |    UNION ALL SELECT c AS node FROM tri) x
         |  GROUP BY node)
         |SELECT d.node AS vec_id, CAST(d.degree AS BIGINT) AS degree,
         |  CAST(COALESCE(p.triangles, 0) AS BIGINT) AS triangles,
         |  CAST(CASE WHEN d.degree >= 2
         |    THEN 2000000 * COALESCE(p.triangles, 0) // (d.degree * (d.degree - 1))
         |    ELSE 0 END AS BIGINT) AS cc_e6
         |FROM deg d LEFT JOIN pert p ON p.node = d.node
         |ORDER BY vec_id""".stripMargin,
    // Finer clusters (mutual top-SampleKnnK), then the ⌈√size⌉ budget
    // cut over salted-md5 ranked members.
    "q_cluster_sample" ->
      s"WITH RECURSIVE ${knnTopSql(SampleKnnK)},\n$ccLabSql,\n$clusterSampleTailSql",
    // the identical labels + draw tail over forest-candidate top lists
    "q_cluster_sample_approx" ->
      s"WITH RECURSIVE ${forestTopSql(SampleKnnK)},\n$ccLabSql,\n$clusterSampleTailSql",
    "q_ann_cosine" ->
      s"""WITH emb AS (
         |  SELECT vec_id,
         |    [CAST(x AS DOUBLE) for x in embedding] AS v
         |  FROM embeddings),
         |nrm AS (
         |  SELECT vec_id, v,
         |    sqrt(list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)], (a, b) -> a + b)) AS nrm
         |  FROM emb),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_reduce([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)], (a, b) -> a + b)
         |      / (q.nrm * c.nrm) AS cos_raw
         |  FROM nrm q JOIN nrm c ON q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos_raw,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, floor(cos_raw * 1e6 + 0.5) / 1e6 AS cosine, rank
         |FROM ranked WHERE rank <= $K
         |ORDER BY query_id, rank""".stripMargin,
    // Rebuilds the seeded codebook, argmin assignment, per-cell pairs
    // and the lexicographic (cent_cos, id) keep rule — the distance,
    // dot and cosine folds all run in pinned index order, so every
    // keep bit matches Spark's.
    "q_semdedup" ->
      s"""WITH emb AS (
         |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
         |  FROM embeddings),
         |nrm AS (
         |  SELECT vec_id, v,
         |    list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)], (a, b) -> a + b) AS nrm2
         |  FROM emb),
         |anchors AS (
         |  SELECT v AS av, nrm2 AS a2,
         |    ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS cell
         |  FROM nrm
         |  QUALIFY cell <= $IvfCells),
         |dist AS (
         |  SELECT n.vec_id, a.cell,
         |    list_reduce([n.v[i] * a.av[i] for i in range(1, len(n.v) + 1)],
         |      (x, y) -> x + y) AS cdot,
         |    n.nrm2 - 2.0 * list_reduce([n.v[i] * a.av[i] for i in range(1, len(n.v) + 1)],
         |      (x, y) -> x + y) + a.a2 AS d
         |  FROM nrm n, anchors a),
         |asn AS (
         |  SELECT vec_id,
         |    CAST(list_position(dists, list_aggregate(dists, 'min')) AS BIGINT) AS cell
         |  FROM (SELECT vec_id, list(d ORDER BY cell) AS dists FROM dist GROUP BY vec_id)),
         |corpus AS (
         |  SELECT n.vec_id, n.v, sqrt(n.nrm2) AS nrm, asn.cell,
         |    dd.cdot / (sqrt(n.nrm2) * sqrt(a.a2)) AS cent_cos
         |  FROM nrm n
         |  JOIN asn USING (vec_id)
         |  JOIN dist dd ON dd.vec_id = n.vec_id AND dd.cell = asn.cell
         |  JOIN anchors a ON a.cell = asn.cell),
         |idp AS (
         |  SELECT a.vec_id AS xa, b.vec_id AS yb
         |  FROM (SELECT vec_id, cell FROM corpus) a
         |  JOIN (SELECT vec_id, cell FROM corpus) b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |stats AS (
         |  SELECT x.vec_id,
         |    COUNT(*) AS n_dups,
         |    MAX(CASE WHEN y.cent_cos < x.cent_cos
         |      OR (y.cent_cos = x.cent_cos AND y.vec_id < x.vec_id)
         |      THEN 1 ELSE 0 END) AS drp
         |  FROM idp
         |  JOIN corpus x ON x.vec_id = idp.xa
         |  JOIN corpus y ON y.vec_id = idp.yb
         |  WHERE list_reduce([x.v[i] * y.v[i] for i in range(1, len(x.v) + 1)],
         |      (a, b) -> a + b) / (x.nrm * y.nrm) >= $SemTau
         |  GROUP BY x.vec_id)
         |SELECT c.vec_id, c.cell,
         |  CAST(floor(c.cent_cos * 1e6 + 0.5) AS BIGINT) AS cent_cos_e6,
         |  COALESCE(s.n_dups, 0) AS n_dups,
         |  COALESCE(s.drp, 0) = 0 AS keep
         |FROM corpus c LEFT JOIN stats s USING (vec_id)
         |ORDER BY vec_id""".stripMargin,
    // corpus×eval max-cosine with the e6 floor applied BEFORE the
    // (cos DESC, eval_id ASC) argmax — the same fold order as the
    // Spark aggregate lambda
    "q_sem_decontam" ->
      s"""WITH emb AS MATERIALIZED (
         |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
         |  FROM embeddings),
         |nrm AS MATERIALIZED (
         |  SELECT vec_id, v,
         |    sqrt(list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)], (a, b) -> a + b)) AS nrm
         |  FROM emb),
         |scored AS (
         |  SELECT c.vec_id, e.vec_id AS eval_id,
         |    CAST(floor(
         |      list_reduce([c.v[i] * e.v[i] for i in range(1, len(c.v) + 1)], (a, b) -> a + b)
         |      / (c.nrm * e.nrm) * 1e6 + 0.5) AS BIGINT) AS cos_e6
         |  FROM nrm c JOIN nrm e
         |    ON e.vec_id % 50 = 0 AND c.vec_id % 50 <> 0),
         |rk AS (
         |  SELECT vec_id, eval_id, cos_e6,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY cos_e6 DESC, eval_id ASC) AS rk
         |  FROM scored)
         |SELECT vec_id, eval_id AS nearest_eval_id, cos_e6 AS max_cos_e6,
         |  cos_e6 >= $SemDecontamTauE6 AS contaminated
         |FROM rk WHERE rk = 1
         |ORDER BY vec_id""".stripMargin,
    // IVF cells + PQ codes rebuilt from their own oracles' CTEs; ADC =
    // the query's per-code distance rows joined on the candidate's
    // codes, summed in the same m-order as the Spark fold.
    "q_ann_ivfpq" -> {
      val mParts = (0 until PqM).map { m =>
        s"""pqd$m AS (
           |  SELECT e.vec_id, a.code,
           |    list_reduce([e.v[i + $m * e.s] * e.v[i + $m * e.s]
           |      for i in range(1, e.s + 1)], (x, y) -> x + y)
           |    - 2.0 * list_reduce([e.v[i + $m * e.s] * a.av[i + $m * a.s]
           |      for i in range(1, e.s + 1)], (x, y) -> x + y)
           |    + list_reduce([a.av[i + $m * a.s] * a.av[i + $m * a.s]
           |      for i in range(1, e.s + 1)], (x, y) -> x + y) AS d
           |  FROM pqe e, pqanch a),
           |pqa$m AS (
           |  SELECT vec_id,
           |    CAST(list_position(ds, list_aggregate(ds, 'min')) AS BIGINT) AS code${m + 1}
           |  FROM (SELECT vec_id, list(d ORDER BY code) AS ds FROM pqd$m GROUP BY vec_id))"""
          .stripMargin
      }.mkString(",\n")
      val codeJoins = (0 until PqM).map(m => s"JOIN pqa$m USING (vec_id)").mkString(" ")
      val adcJoins = (0 until PqM)
        .map(m => s"JOIN pqd$m d$m ON d$m.vec_id = p.query_id AND d$m.code = c.code${m + 1}")
        .mkString("\n  ")
      val adcSum = (0 until PqM).map(m => s"d$m.d").mkString(" + ")
      s"""WITH emb AS (
         |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
         |  FROM embeddings),
         |nrm AS (
         |  SELECT vec_id, v,
         |    list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)], (a, b) -> a + b) AS nrm2
         |  FROM emb),
         |anchors AS (
         |  SELECT v AS av, nrm2 AS a2,
         |    ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS cell
         |  FROM nrm
         |  QUALIFY cell <= $IvfCells),
         |dist AS (
         |  SELECT n.vec_id, a.cell,
         |    n.nrm2 - 2.0 * list_reduce([n.v[i] * a.av[i] for i in range(1, len(n.v) + 1)],
         |      (x, y) -> x + y) + a.a2 AS d
         |  FROM nrm n, anchors a),
         |asn AS (
         |  SELECT vec_id,
         |    list_position(dists, list_aggregate(dists, 'min')) AS cell
         |  FROM (SELECT vec_id, list(d ORDER BY cell) AS dists FROM dist GROUP BY vec_id)),
         |pqe AS (
         |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v,
         |    len(embedding) // $PqM AS s
         |  FROM embeddings),
         |pqanch AS (
         |  SELECT v AS av, s,
         |    ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS code
         |  FROM pqe QUALIFY code <= $PqKs),
         |$mParts,
         |cand AS (
         |  SELECT a.vec_id, a.cell, ${(1 to PqM).map(m => s"code$m").mkString(", ")}
         |  FROM asn a $codeJoins),
         |probe AS (
         |  SELECT vec_id AS query_id, cell,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS pr
         |  FROM dist WHERE vec_id % 50 = 0
         |  QUALIFY pr <= $IvfNprobe),
         |scored AS (
         |  SELECT p.query_id, c.vec_id AS neighbor_id, $adcSum AS adc
         |  FROM probe p
         |  JOIN cand c ON c.cell = p.cell AND c.vec_id <> p.query_id
         |  $adcJoins),
         |ranked AS (
         |  SELECT query_id, neighbor_id, adc,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY adc ASC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id,
         |  CAST(floor(adc * 1e9 + 0.5) AS BIGINT) AS adc_e9,
         |  CAST(rank AS BIGINT) AS rank
         |FROM ranked WHERE rank <= $K
         |ORDER BY query_id, rank""".stripMargin
    },
    "q_embed_pq" -> {
      // one distance + assignment CTE pair per subspace, the same
      // expansion (|sv|² − 2·sv·a + |a|²) the Spark side computes
      val mParts = (0 until PqM).map { m =>
        s"""pqd$m AS (
           |  SELECT e.vec_id, a.code,
           |    list_reduce([e.v[i + $m * e.s] * e.v[i + $m * e.s]
           |      for i in range(1, e.s + 1)], (x, y) -> x + y)
           |    - 2.0 * list_reduce([e.v[i + $m * e.s] * a.av[i + $m * a.s]
           |      for i in range(1, e.s + 1)], (x, y) -> x + y)
           |    + list_reduce([a.av[i + $m * a.s] * a.av[i + $m * a.s]
           |      for i in range(1, e.s + 1)], (x, y) -> x + y) AS d
           |  FROM pqe e, pqanch a),
           |pqa$m AS (
           |  SELECT vec_id,
           |    CAST(list_position(ds, list_aggregate(ds, 'min')) AS BIGINT) AS code${m + 1},
           |    list_aggregate(ds, 'min') AS dmin$m
           |  FROM (SELECT vec_id, list(d ORDER BY code) AS ds FROM pqd$m GROUP BY vec_id))"""
          .stripMargin
      }.mkString(",\n")
      val codeCols = (1 to PqM).map(m => s"code$m").mkString(", ")
      val errSum = (0 until PqM).map(m => s"dmin$m").mkString(" + ")
      val joins = (0 until PqM).map(m => s"JOIN pqa$m USING (vec_id)").mkString(" ")
      s"""WITH pqe AS (
         |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v,
         |    len(embedding) // $PqM AS s
         |  FROM embeddings),
         |pqanch AS (
         |  SELECT v AS av, s,
         |    ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS code
         |  FROM pqe QUALIFY code <= $PqKs),
         |$mParts
         |SELECT e.vec_id, $codeCols,
         |  CAST(floor(($errSum) * 1e9 + 0.5) AS BIGINT) AS err_e9
         |FROM pqe e $joins
         |ORDER BY vec_id""".stripMargin
    })

  /** Public oracle map: the base entries plus the recall report, which
    * composes the three component oracles VERBATIM as subqueries (two
    * steps so the composition cannot self-reference the map mid-
    * construction). */
  val oracleSql: Map[String, String] = baseOracleSql + ("q_ann_recall" ->
    s"""WITH ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |${baseOracleSql("q_ann_cosine")}) x),
       |ls AS (
       |  SELECT query_id, neighbor_id FROM (
       |${baseOracleSql("q_ann_lsh_cosine")}) x),
       |iv AS (
       |  SELECT query_id, neighbor_id FROM (
       |${baseOracleSql("q_ann_ivf_cosine")}) x),
       |j AS (
       |  SELECT e.query_id,
       |    CASE WHEN l.neighbor_id IS NULL THEN 0 ELSE 1 END AS in_lsh,
       |    CASE WHEN v.neighbor_id IS NULL THEN 0 ELSE 1 END AS in_ivf
       |  FROM ex e
       |  LEFT JOIN ls l ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
       |  LEFT JOIN iv v ON v.query_id = e.query_id AND v.neighbor_id = e.neighbor_id),
       |g AS (
       |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |    CAST(SUM(in_lsh) AS BIGINT) AS lsh_hits,
       |    CAST(SUM(in_ivf) AS BIGINT) AS ivf_hits
       |  FROM j GROUP BY query_id)
       |SELECT query_id, n_exact, lsh_hits, ivf_hits,
       |  CAST(lsh_hits * 1000000 // n_exact AS BIGINT) AS lsh_recall_e6,
       |  CAST(ivf_hits * 1000000 // n_exact AS BIGINT) AS ivf_recall_e6
       |FROM g ORDER BY query_id""".stripMargin)
}
