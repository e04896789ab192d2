package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` (SURVEY §2 rows 22-25):
  * exact content-hash, MinHash-LSH near-dup candidates, SimHash
  * hamming-chunk candidates, and exact n-gram Jaccard verification of
  * the LSH candidates.
  *
  * Scale design (100 TB):
  *  - Exact dedup is one hash-partitioned groupBy with map-side partial
  *    aggregation — shuffle volume is one (hash, id) pair per row.
  *  - MinHash signatures are computed map-side (pure per-row expressions,
  *    no UDF), then the ONLY shuffle is on (band, signature) — candidate
  *    generation is a bucket-local equi-join, never an O(n²) cross join.
  *    Oversized buckets (identical-content floods) are sliced to
  *    [[HotBucketCap]] members before pairing, bounding any bucket's
  *    pair fan-out at cap².
  *  - SimHash candidates join on (chunk index, 15-bit chunk value) — the
  *    pigeonhole scheme of Manku/Jain/Sarma (WWW'07): a 60-bit simhash
  *    split into 4 chunks guarantees any pair within hamming ≤ 3 agrees
  *    on at least one whole chunk. 4×2¹⁵ bucket keys keep every bucket
  *    tiny at corpus scale (vs 16 global prefix buckets ≈ n²/16 pairs).
  *  - Jaccard verification consumes the MinHash band-bucket candidate
  *    pairs — the verify stage touches only |pairs| rows, never a
  *    coarse (lang, length) megabucket self-join.
  *
  * All hashing is md5-hex derived (hex prefix → bigint) so every step —
  * including the SimHash bit votes — is reproducible in DuckDB and the
  * whole family is hash-oracled end-to-end.
  */
object Dedup {

  /** q_dedup_exact: canonical doc per exact content hash. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("keep_id")

  /** q_soft_dedup: duplication-aware training weights instead of hard
    * removal (the soft-dedup alternative in the dedup playbook —
    * repeated content contributes once IN EXPECTATION via weight
    * 1/n_dups, preserving coverage that hard dropping loses). Per doc:
    * its exact-dup group size and the e6 integer weight; a trainer
    * multiplies per-example loss by weight_e6/10⁶. Composes
    * [[dedupExact]]'s content-hash groups verbatim, so the two rows
    * can never disagree about what a duplicate is.
    *
    * Scale shape: one content-hash two-phase agg + one hash-keyed
    * equi-join back to the corpus (shuffle ∝ docs, text never rides
    * it — the hash is map-side). */
  def softDedup(spark: SparkSession, dir: String): DataFrame = {
    val hashed = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
    val sizes = hashed.groupBy("content_hash")
      .agg(count(lit(1)).as("n_dups"))
    hashed.join(sizes, "content_hash")
      .select(col("doc_id"), col("content_hash"), col("n_dups"),
        expr("1000000L div n_dups").as("weight_e6"))
      .orderBy("doc_id")
  }

  /** Word k-shingles (k=3) of `text`, with duplicates — the codegen'd
    * native expression (functions/Shingles.scala), not an interpreted
    * transform/element_at chain. */
  private def shinglesRaw(text: Column): Column =
    graft.functions.WordShingles.wordShingles(text, 3)

  /** Word k-shingles (k=3) of `text`, distinct — needed for Jaccard;
    * the MinHash path uses [[shinglesRaw]] because minima are invariant
    * under duplicates and array_distinct is O(n²) per row. */
  private def shingles(text: Column): Column = array_distinct(shinglesRaw(text))

  private val NumHashes = 16
  private val BandRows = 2 // r=2: P(band match) = J², kills the
  // quadratic bucket blowup that r=1 suffers on high-overlap corpora
  private val P = 2147483647L // 2^31-1; (a·h+b) stays < 2^37, no overflow
  private def permA(i: Int): Long = 2L * i + 1
  private def permB(i: Int): Long = 7919L * (i + 1)

  /** q_dedup_minhash: near-dup candidate pairs via MinHash-LSH banding
    * (b=8 bands of r=2 rows → P(candidate) = 1-(1-J²)^8, steep around
    * J≈0.35).
    *
    * Scale shape: each shingle is md5'd ONCE (hex prefix → bigint), the
    * 16 permutations are cheap modular arithmetic ((a·h+b) mod 2³¹-1),
    * and the per-doc minima aggregate with map-side partial min inside
    * whole-stage codegen — no higher-order functions in the heavy pass
    * and no double evaluation (a naive self-join recomputes the full
    * signature per side). Pairs are generated bucket-locally from
    * collected id lists; a bucket is a near-dup cluster, so lists stay
    * small by construction (an identical-content flood at 100 TB would
    * be capped by slicing the hottest buckets before pairing). */
  /** Members a bucket is sliced to before pairing: caps any bucket's
    * pair fan-out at cap(cap-1)/2 even under an identical-content flood
    * (the flood's canonical pair set survives via the kept members). */
  private val HotBucketCap = 64

  /** Per-doc MinHash component minima (doc_id, mh0..mh15) — the raw
    * signature both the band index and the estimate report read. */
  private[graft] def minhashComponents(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(shinglesRaw(col("text"))).as("sh"))
      .withColumn("hm",
        expr(s"cast(conv(substr(md5(sh), 1, 15), 16, 10) as bigint) % $P"))
    val minCols = (0 until NumHashes).map { i =>
      min((col("hm") * permA(i) + permB(i)) % P).as(s"mh$i")
    }
    g.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
  }

  /** Per-doc LSH band signatures (doc_id, band, mh) — the rows a
    * production deployment PERSISTS as its near-dup index (signatures
    * are tiny next to documents: 8 band keys per doc). Shared by the
    * full-corpus pair generation and the incremental path. */
  private[graft] def bandSignatures(spark: SparkSession, dir: String): DataFrame = {
    val minh = minhashComponents(spark, dir)
    val bandSig = array((0 until NumHashes / BandRows).map { b =>
      struct(
        lit(b).as("band"),
        concat_ws("|", (0 until BandRows).map(r => col(s"mh${b * BandRows + r}")): _*).as("sig"))
    }: _*)
    minh
      .select(col("doc_id"), explode(bandSig).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("mh"))
  }

  /** Bucket-local pair expansion with the hot-bucket cap (see
    * [[minhashPairs]]); `sig` is (doc_id, band, mh). */
  private def bucketPairs(sig: DataFrame): DataFrame = {
    val buckets = sig
      .groupBy("band", "mh")
      .agg(graft.functions.CappedSortedIds
        .cappedSortedIds(col("doc_id"), HotBucketCap).as("ids"))
      .filter(size(col("ids")) > 1)
    buckets
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids")) - i - 1),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Band-bucket candidate pairs (id_a < id_b) with the number of bands
    * that voted for the pair — shared by q_dedup_minhash and the
    * q_ngram_jaccard verification stage. */
  private[graft] def minhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sig = bandSignatures(spark, dir)
    // hot-bucket cap in ONE aggregation pass: capped_sorted_ids keeps
    // only the HotBucketCap smallest members per bucket inside an
    // O(cap) aggregation buffer with map-side partials — semantically
    // the rank-window slice, but with no per-bucket sort, no second
    // sizing pass, and a duplicate flood shrinks map-side before it
    // ever reaches the shuffle.
    bucketPairs(sig)
  }

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(spark, dir).orderBy("id_a", "id_b")

  /** Delta-batch membership for the incremental path: every 4th doc is
    * "today's ingest"; the rest stand in for the already-indexed
    * corpus. */
  private def isDelta(id: Column) = id % 4 === 0

  /** q_dedup_incremental: near-dup detection for a NEW ingest batch
    * against the EXISTING corpus — the shape that makes 100 TB dedup
    * sustainable: the historical corpus is touched only through its
    * persisted band-signature index (8 tiny keys per doc,
    * [[bandSignatures]]), never re-shingled; daily work is
    * ∝ delta, not ∝ corpus.
    *
    * Two candidate classes, tagged in the output:
    *  - `index`: delta signature ⋈ index on the band-bucket key. The
    *    index side is capped per bucket at build time (the same
    *    [[HotBucketCap]] invariant the batch path enforces), so one
    *    delta doc can fan out to at most bands × cap candidates.
    *  - `delta`: near-dups WITHIN the new batch (a fresh flood of
    *    copies must be caught before it is appended to the index),
    *    via the same capped bucket-local pair expansion as
    *    q_dedup_minhash, run on the delta slice only.
    *
    * (At test scale the "index" is recomputed from the base slice —
    * the persisted artifact of a real deployment — because there is no
    * cross-run store here; the JOIN shape is what's being pinned.) */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val sig = bandSignatures(spark, dir)
    val delta = sig.filter(isDelta(col("doc_id")))
    // the "persisted index": base-slice signatures, bucket-capped at
    // build time (smallest ids kept — CappedSortedIds' invariant)
    val index = sig.filter(!isDelta(col("doc_id")))
      .groupBy("band", "mh")
      .agg(graft.functions.CappedSortedIds
        .cappedSortedIds(col("doc_id"), HotBucketCap).as("ids"))
      .select(col("band"), col("mh"), explode(col("ids")).as("dup_id"))
    val vsIndex = delta.select(col("band"), col("mh"), col("doc_id").as("id_a"))
      .join(index, Seq("band", "mh"))
      .groupBy(col("id_a"), col("dup_id").as("id_b"))
      .agg(count(lit(1)).as("n_bands"))
      .withColumn("kind", lit("index"))
    val within = bucketPairs(delta).withColumn("kind", lit("delta"))
    vsIndex.unionByName(within)
      .select(col("id_a"), col("id_b"), col("kind"), col("n_bands"))
      .orderBy("kind", "id_a", "id_b")
  }

  private val SimBits = 60 // md5 hex prefix → 60-bit token hash
  private val SimChunks = 4
  private val ChunkBits = SimBits / SimChunks // 15 → 2^15 values/chunk
  /** Near-dup radius: the pigeonhole over [[SimChunks]] chunks holds
    * for any hamming distance below [[SimChunks]]. */
  private val SimMaxHamming = 3

  /** q_dedup_simhash: 60-bit SimHash per doc (md5-derived token hashes,
    * per-bit majority vote); near-dup mate counts within hamming ≤ 3.
    *
    * Candidate generation is the Manku/Jain/Sarma pigeonhole scheme:
    * the simhash splits into 4 disjoint 15-bit chunks, and any pair
    * within hamming ≤ 3 must agree exactly on ≥1 chunk — so candidates
    * come from an equi-join on (chunk index, chunk value), 4·2¹⁵
    * distinct bucket keys, with the exact hamming filter applied only
    * inside buckets. Hash-oracled end-to-end (md5 → DuckDB rebuilds the
    * identical bit votes). */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    // distributed per-bit majority vote: explode distinct tokens, hash
    // once, then 60 partial-aggregable sums — one shuffle on doc_id
    val tokRows = Tables.widened(Tables.documents(spark, dir))
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h",
        expr("cast(conv(substr(md5(tok), 1, 15), 16, 10) as bigint)"))
    val voteCols = (0 until SimBits).map { j =>
      sum((shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1).cast("int")).as(s"v$j")
    }
    val votes = tokRows.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
    val sim = (0 until SimBits).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    // The per-doc aggregate is referenced by three plan branches (both
    // chunk-join sides + the final left join); its subtree ends in the
    // groupBy shuffle, so exchange reuse materializes the expensive
    // explode + 60-vote partial aggregation once. Only the cheap
    // post-shuffle reduce (one row per doc) reruns per branch — and
    // nothing stays pinned in the cache for the session lifetime.
    val docs = votes.select(col("doc_id"), sim.as("simhash"))
    val chunkArr = array((0 until SimChunks).map { c =>
      struct(lit(c).as("c"),
        shiftright(col("simhash"), c * ChunkBits)
          .bitwiseAND(lit((1L << ChunkBits) - 1)).as("cv"))
    }: _*)
    val chunks = docs
      .select(col("doc_id"), col("simhash"), explode(chunkArr).as("ch"))
      .select(col("doc_id"), col("simhash"),
        col("ch.c").as("c"), col("ch.cv").as("cv"))
    val near = chunks.as("a").join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"))
      .distinct() // a pair may agree on several chunks
      .filter(bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= SimMaxHamming)
    val cnt = near.select(col("id_a").as("doc_id"))
      .unionAll(near.select(col("id_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_near"))
    docs.join(cnt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("simhash"),
        coalesce(col("n_near"), lit(0L)).as("n_near"))
      .orderBy("doc_id")
  }

  /** q_ngram_jaccard: exact Jaccard over distinct word-3-gram sets for
    * the MinHash band-bucket candidate pairs — the verification stage
    * consumes the LSH candidates ([[minhashPairs]]), so compare work is
    * ∝ |candidates|, never a coarse-bucket self-join. */
  /** q_minhash_est: the MinHash sketch-accuracy report — for every LSH
    * candidate pair, the Jaccard ESTIMATE the 16-component signature
    * implies (matching components / 16, the unbiased MinHash
    * estimator) next to the exact distinct-shingle Jaccard, with the
    * signed e6 error. Completes the accuracy-report trio
    * (q_ann_recall for ANN, q_count_min for point frequency): the
    * table that says whether 16 components suffice before a 100 TB
    * run trusts signature-only dedup thresholds.
    *
    * Scale shape: components come from the ONE signature pass the
    * band index already computes (shared [[minhashComponents]]);
    * candidate pairs are the LSH output (never all-pairs); the
    * estimate is pure column arithmetic over two signature lookups
    * (pair-keyed equi-joins), and the exact Jaccard touches only
    * |pairs| rows — the q_ngram_jaccard contract. */
  def minhashEst(spark: SparkSession, dir: String): DataFrame = {
    val comp = minhashComponents(spark, dir).localCheckpoint() // two lookups below
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), shingles(col("text")).as("grams"))
    val m = (0 until NumHashes)
      .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    minhashPairs(spark, dir).select("id_a", "id_b")
      .join(comp.select(col("doc_id").as("id_a") +:
        (0 until NumHashes).map(i => col(s"mh$i").as(s"a_mh$i")): _*), Seq("id_a"))
      .join(comp.select(col("doc_id").as("id_b") +:
        (0 until NumHashes).map(i => col(s"mh$i").as(s"b_mh$i")): _*), Seq("id_b"))
      .withColumn("n_match", m)
      .join(docs.select(col("doc_id").as("id_a"), col("grams").as("grams_a")), Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("grams").as("grams_b")), Seq("id_b"))
      .withColumn("jaccard_e6", expr(
        """(cast(size(array_intersect(grams_a, grams_b)) as bigint) * 1000000)
          | div (size(grams_a) + size(grams_b) - size(array_intersect(grams_a, grams_b)))
          |""".stripMargin.replace('\n', ' ')))
      .select(col("id_a"), col("id_b"), col("n_match"),
        expr(s"(n_match * 1000000) div $NumHashes").as("est_e6"),
        col("jaccard_e6"),
        (expr(s"(n_match * 1000000) div $NumHashes") - col("jaccard_e6")).as("err_e6"))
      .orderBy("id_a", "id_b")
  }

  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(spark, dir).select("id_a", "id_b")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), shingles(col("text")).as("grams"))
    pairs
      .join(docs.select(col("doc_id").as("id_a"), col("grams").as("grams_a")), Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("grams").as("grams_b")), Seq("id_b"))
      .select(
        col("id_a"), col("id_b"),
        size(col("grams_a")).cast("long").as("n_a"),
        size(col("grams_b")).cast("long").as("n_b"),
        size(array_intersect(col("grams_a"), col("grams_b"))).cast("long").as("n_inter"))
      .withColumn("jaccard",
        floor(col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")) * 1e6 + 0.5) / 1e6)
      .orderBy("id_a", "id_b")
  }

  /** Engulfment flag threshold for [[containment]] (pinned: the
    * oracle interpolates it). */
  private val ContainTauE6 = 500000L

  /** q_containment: ASYMMETRIC near-duplicate containment (Broder's
    * C(A,B) = |A∩B|/|A|, "On the resemblance and containment of
    * documents", 1997) over the same MinHash candidate pairs the
    * Jaccard verifier consumes — the quote-expansion catcher: a short
    * document wholly quoted inside a long one has high containment in
    * ONE direction while symmetric Jaccard stays low, so a
    * Jaccard-only dedup keeps both copies. Emits both directions, the
    * asymmetry gap, and the engulfed flag (either direction ≥ τ).
    *
    * Scale shape: identical to q_ngram_jaccard — candidate pairs from
    * the banded index (never all pairs), shingle sets fetched by one
    * hash join per side, set ops in-task; ratios integer-e6. */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(spark, dir).select("id_a", "id_b")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), shingles(col("text")).as("grams"))
    pairs
      .join(docs.select(col("doc_id").as("id_a"), col("grams").as("grams_a")), Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("grams").as("grams_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(col("grams_a")).cast("long").as("n_a"),
        size(col("grams_b")).cast("long").as("n_b"),
        size(array_intersect(col("grams_a"), col("grams_b"))).cast("long").as("n_inter"))
      .withColumn("contain_ab_e6", expr("n_inter * 1000000 div n_a"))
      .withColumn("contain_ba_e6", expr("n_inter * 1000000 div n_b"))
      .withColumn("asym_e6",
        abs(col("contain_ab_e6") - col("contain_ba_e6")))
      .withColumn("engulfed",
        greatest(col("contain_ab_e6"), col("contain_ba_e6")) >= ContainTauE6)
      .orderBy("id_a", "id_b")
  }

  /** q_dedup_clusters: connected components over the MinHash candidate
    * pairs — the final stage of the dedup pipeline (pairs → clusters →
    * one canonical keeper per cluster, everything else droppable).
    *
    * Algorithm: [[componentLabels]] (hook-and-shortcut over a parent
    * table) on the pair graph's nodes only; it converges in O(log n)
    * rounds whatever the ids' order along a chain. At 100 TB this is
    * the standard formulation: work per round is |edges| shuffled on
    * id — the near-dup subgraph, orders of magnitude smaller than the
    * corpus — and no component is ever collected; singleton docs never
    * enter the loop and rejoin at the end as their own clusters. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val lab = labelEveryNode(Tables.documents(spark, dir).select(col("doc_id")),
      "doc_id", minhashPairs(spark, dir).select("id_a", "id_b"))
    val sizes = lab.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    lab
      .join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** The shared connected-components loop behind [[dedupClusters]] and
    * Similarity.knnComponents, over the pair graph's nodes ONLY. Input:
    * one row per undirected edge (id_a, id_b); output: (id, label) for
    * exactly the ids that appear in some pair, labelled with their
    * component's least id. A node in no pair is a singleton whose
    * label could never change, so it never enters the loop (callers
    * rejoin singletons as label = id) and each round shuffles the
    * orders-of-magnitude-smaller pair-graph node set, never the corpus.
    *
    * Algorithm: Shiloach–Vishkin / FastSV hook-and-shortcut over a
    * parent table p(id, p), started at p(v) = min(v, min N(v)). Each
    * round: c(v) = min of p over v and its neighbours; hook — c(v) is
    * sent to v and to p(v), and each keeps the least it receives;
    * shortcut — p(v) ← min(p(v), p(p(v))). p(v) ≤ v only decreases and
    * stays inside v's component, so the label sum strictly decreases
    * until the fixpoint, where p is constant along every edge: the
    * component minimum. Rounds are O(log n) (8–9 on a 1000-node chain
    * over random ids, where plain min-label propagation needs hundreds).
    *
    * Plan: a [[Pregel]] loop. The symmetric edge list with one
    * self-loop per node becomes the adjacency N[v] (v and its
    * neighbours), grouped and hash-partitioned by node once, so the
    * start p(v) = min N[v] is narrow. A round is one job over four
    * message shuffles, none of them the edge list: c(v) (each node
    * sends p(v) over N[v]), the hook, the shortcut's ask to h(v), and
    * its answer back to v. The job also returns the label sum, so the
    * convergence test costs nothing extra. A graph that has not
    * converged after `maxIter` rounds throws: its labels would not yet
    * be component minima. */
  private[graft] def componentLabels(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    import pairs.sparkSession.implicits._
    val (ids, part) = Pregel.pairs(pairs.select(col("id_a").cast("long"), col("id_b").cast("long")))
    val edges = ids.flatMap { case (a, b) => Iterator((a, b), (b, a), (a, a), (b, b)) }
    def converged(sums: Seq[BigInt]): Boolean =
      sums.length >= 2 && sums(sums.length - 1) == sums(sums.length - 2)
    val parent = Pregel.withAdjacency(edges, part) { adj =>
      val (p, sums) = Pregel.iterate(adj.mapValues(_.min), maxIter)({ (p, _) =>
        // c(v) = the least p over N[v]
        val c = Pregel.reduceByNode(Pregel.scan(adj, p)((_, ns, x) => ns.iterator.map((_, x))), part)(
          math.min(_, _))
        // hook: c(v) to v and to p(v); each keeps the least it receives
        val hooked = Pregel.reduceByNode(Pregel.zipByNode(c, p) { (rows, pv) =>
          rows.flatMap { case (v, cv) => Iterator((v, cv), (pv(v), cv)) }
        }, part)(math.min(_, _))
        // shortcut: p(v) ← min(h(v), h(h(v))), asked at w = h(v), answered to v
        val asks = Pregel.shipByNode(hooked.map(_.swap), part)
        Pregel.shipByNode(Pregel.zipByNode(asks, hooked) { (rows, h) =>
          rows.map { case (w, v) => (v, math.min(w, h.getOrElse(w, w))) }
        }, part)
      })(_.foldLeft(BigInt(0))(_ + _._2))(_ + _, converged)
      if (!converged(sums)) {
        Pregel.release(p)
        throw new IllegalStateException(
          s"connected components did not converge in ${sums.length} rounds (maxIter = $maxIter)")
      }
      p
    }
    parent.toDF("id", "label")
  }

  /** Every row of `nodes` with its component label as `cluster_id`:
    * [[componentLabels]] over `pairs`, left-joined back on the node id
    * column `id`, so a node in no pair is its own cluster. The one
    * "label every node" tail of the connected-components consumers;
    * `nodes` must not carry a column named `label`. */
  private[graft] def labelEveryNode(nodes: DataFrame, id: String,
      pairs: DataFrame): DataFrame =
    nodes.join(componentLabels(pairs).withColumnRenamed("id", id), Seq(id), "left")
      .select(nodes.columns.toIndexedSeq.map(col) :+
        coalesce(col("label"), col(id)).as("cluster_id"): _*)

  /** Chunk width (words) for q_chunk_dedup. */
  private[graft] val ChunkWords = 20

  /** q_chunk_dedup: SUB-document exact dedup — drop repeated
    * [[ChunkWords]]-word chunks corpus-wide, keep each chunk's first
    * occurrence, and reassemble what's left of every document. Document-
    * level dedup (q_dedup_exact) misses boilerplate repeated ACROSS
    * distinct pages (headers, disclaimers, templated spans); paragraph-
    * level passes like this are the standard next stage (cf. Dolma /
    * CCNet paragraph dedup — this corpus has no newline structure, so
    * fixed-width word chunks stand in for paragraphs).
    *
    * Spark-first shape: explode to (doc, chunk_idx, chunk) → md5 →
    * two-phase MIN(ord) per hash (ord = doc_id·10⁶ + chunk_idx, a total
    * first-occurrence order; docs are bounded ≪ 10⁶ chunks) → self
    * equi-join on the hash → per-doc reassembly via sorted collect of
    * the ≤ doc-sized kept set. Shuffles are by chunk-hash (uniform by
    * construction) and doc_id — never all-pairs; a chunk repeated a
    * million times still aggregates to ONE keeper row map-side. The
    * reassembled text is carried as md5 (clean_md5) so the full result
    * stays value-oracled without shipping text twice. */
  private def docChunks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), posexplode(
        transform(
          sequence(lit(0),
            ceil(size(col("words")) / lit(ChunkWords.toDouble)).cast("int") - 1),
          i => array_join(
            slice(col("words"), i * ChunkWords + 1, lit(ChunkWords)), " "))))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk")

  /** Distinct chunk-hash count (spec support: must equal Σ n_kept). */
  private[graft] def chunkDedupDistinctChunks(spark: SparkSession, dir: String): Long =
    docChunks(spark, dir).select(md5(col("chunk"))).distinct().count()

  /** Boilerplate chunk width (words) and the flag threshold (chunk
    * present in ≥ this many DISTINCT docs of one source). Width 5 is
    * finer than [[ChunkWords]] because site chrome is short (nav
    * items, disclaimers); pinned — the oracle interpolates both. */
  private[graft] val BoilerWords = 5
  private[graft] val BoilerMinDocs = 2L

  /** q_boilerplate: per-SOURCE boilerplate detection — the site-chrome
    * audit run before paragraph dedup: a chunk repeated across
    * distinct documents of the SAME source is template chrome
    * (headers, nav, disclaimers), and the per-source boilerplate
    * fraction tells the pipeline which sources need an extraction fix
    * rather than corpus-wide dedup (cross-source repetition is
    * q_chunk_dedup's job; contamination between sources is
    * q_source_overlap's).
    *
    * Scale shape: explode to (source, chunk-md5) — the TEXT never
    * shuffles, only 32-hex hashes — one two-phase aggregate counting
    * rows + distinct docs per (source, chunk), then a per-source
    * rollup of that already-aggregated frame; doc totals broadcast.
    * Nothing after the first aggregate is corpus-sized. */
  def boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val ch = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("source"), explode(
        transform(
          sequence(lit(0),
            ceil(size(col("w")) / lit(BoilerWords.toDouble)).cast("int") - 1),
          i => md5(array_join(
            slice(col("w"), i * BoilerWords + 1, lit(BoilerWords)), " "))))
        .as("h"))
    val perChunk = ch.groupBy("source", "h")
      .agg(count(lit(1)).as("rows_c"),
        count_distinct(col("doc_id")).as("docs_c"))
    val nd = Tables.documents(spark, dir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    perChunk.groupBy("source")
      .agg(
        sum("rows_c").as("n_chunk_rows"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(when(col("docs_c") >= BoilerMinDocs, 1L).otherwise(0L))
          .as("n_boiler_chunks"),
        sum(when(col("docs_c") >= BoilerMinDocs, col("rows_c")).otherwise(0L))
          .as("boiler_rows"))
      .join(broadcast(nd), Seq("source"))
      .withColumn("boiler_frac_e6",
        expr("boiler_rows * 1000000 div n_chunk_rows"))
      .select("source", "n_docs", "n_chunk_rows", "n_distinct_chunks",
        "n_boiler_chunks", "boiler_rows", "boiler_frac_e6")
      .orderBy("source")
  }

  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val keyed = docChunks(spark, dir)
      .withColumn("h", md5(col("chunk")))
      .withColumn("ord", col("doc_id") * 1000000L + col("chunk_idx"))
    val firsts = keyed.groupBy("h").agg(min("ord").as("keep_ord"))
    keyed.join(firsts, Seq("h"))
      .withColumn("kept", col("ord") === col("keep_ord"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("chunk_idx"), col("chunk"))))),
            s => s.getField("chunk")), " ")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** q_substr_dup constants: word-gram order, stopword-run df cap,
    * minimum aligned-run length (12 shared 8-grams = a 19-word span). */
  private val SubstrK = 8
  private val SubstrMaxDf = 50
  private val SubstrMinRun = 12

  /** q_substr_dup: EXACT-SUBSTRING duplicate candidates — document
    * pairs sharing a long run of consecutive identical word
    * [[SubstrK]]-grams (the distributed reduction of Lee et al. 2022's
    * ExactSubstr dedup, which at full strength wants a suffix array no
    * cluster shuffle can build). Chunk dedup (q_chunk_dedup) only sees
    * repeats aligned to fixed chunk boundaries; MinHash sees bag-of-
    * shingles similarity; this catches a verbatim span at ANY offset:
    * two positions sharing a gram hash lie on the same DIAGONAL when
    * posA − posB is constant, so an aligned run of length L collapses
    * to ONE (docA, docB, diag) group with count L — no sequence
    * alignment, just a group-by.
    *
    * Scale shape: positioned grams explode once; document frequency >
    * [[SubstrMaxDf]] grams are pruned (the stopword-run cut that also
    * bounds the hash self-join fan-out at df² per gram); the join key
    * is the 16-hex gram hash (uniform), and the run statistic is a
    * two-phase count on (docA, docB, diag). Runs shorter than
    * [[SubstrMinRun]] are noise and dropped. */
  def substrDup(spark: SparkSession, dir: String): DataFrame = {
    // widened: per-position md5 over every word window — the winnowFp
    // note applies (single-row-group scan serializes the map phase)
    val grams = Tables.widened(Tables.documents(spark, dir))
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= SubstrK)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(1), size(col("ws")) - (SubstrK - 1)),
        i => substring(md5(array_join(slice(col("ws"), i, lit(SubstrK)), " ")), 1, 16))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("h"))
    val rare = grams.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") <= SubstrMaxDf).select("h")
    // both self-join sides consume the pruned positioned-gram index —
    // localCheckpoint materializes the explosion ONCE and, unlike
    // cache() (whose CacheManager entry pins storage for the session
    // lifetime — 92 queries share one bench JVM), releases its blocks
    // via the ContextCleaner as soon as the result is dropped
    val gi = grams.join(rare, "h").localCheckpoint()
    gi.as("a").join(gi.as("b"), Seq("h"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (col("a.pos") - col("b.pos")).as("diag"))
      .agg(count(lit(1)).as("n_aligned"), min(col("a.pos")).as("min_pos_a"))
      .filter(col("n_aligned") >= SubstrMinRun)
      .orderBy("doc_a", "doc_b", "diag")
  }

  /** Winnowing geometry for [[winnowFp]]: k = 16-char grams, w = 8
    * consecutive gram hashes per window (guarantee threshold
    * t = k + w − 1 = 23 chars: any shared substring of ≥ t chars
    * yields at least one shared fingerprint — MOSS's operating range;
    * shorter grams fire on shared VOCABULARY rather than shared
    * passages), 40-bit md5 hashes packed with a 2²⁰ position field so
    * ONE integer min implements the rightmost-min tie rule. Docs are
    * bounded at 2²⁰ chars by the packing (corpus docs are ~10³).
    * Pairs need ≥ [[WinnowMinShared]] shared fingerprints — one
    * 23-char collision is quotation, four is a copied passage. */
  private[graft] val WinnowK = 16
  private[graft] val WinnowW = 8
  private val WinnowCap = 32
  private val WinnowPosMod = 1L << 20
  private val WinnowMinShared = 4

  /** q_winnow_fp: document fingerprinting by winnowing (Schleimer,
    * Wilkerson & Aiken, SIGMOD'03 — the MOSS algorithm) and the
    * cross-document match report it exists for. Each doc's char
    * [[WinnowK]]-gram hash sequence is slid over windows of
    * [[WinnowW]]; each window selects its minimum hash (ties → the
    * rightmost — standard winnowing's tie rule; the paper's ROBUST
    * winnowing variant instead prefers the previous window's
    * selection, a different refinement not implemented here); the
    * distinct selected hashes are the doc's fingerprints. Unlike positional
    * rolling-hash alignment (q_substr_dup's diagonal runs) the
    * fingerprint set is position-INDEPENDENT, so reordered/spliced
    * plagiarism still matches; unlike MinHash it guarantees any shared
    * substring of ≥ k+w−1 chars is caught (density 2/(w+1) of
    * positions, a 60% index reduction at w=4).
    *
    * Output: doc pairs sharing ≥ [[WinnowMinShared]] fingerprints with
    * the containment overlap n_shared/min(n_a, n_b) — the
    * plagiarism-candidate list.
    *
    * Scale shape: gram hashing + window minima + distinct-per-doc all
    * happen INSIDE one map-only array expression per document (no
    * explode of raw gram positions ever shuffles); the census shuffle
    * is ∝ selected fingerprints (~2/(w+1) of positions); pairing is
    * the capped-bucket expansion (the q_dedup_minhash
    * [[HotBucketCap]] discipline at [[WinnowCap]]) — never all-pairs.
    * The rightmost-min rule is ONE packed-integer min: smaller hash
    * wins, ties resolve to the larger position via the inverted
    * (2²⁰ − i) low field — both engines compute the identical long. */
  def winnowFp(spark: SparkSession, dir: String): DataFrame = {
    // widened: the per-position md5 array is the heaviest map in the
    // dedup family, and a single-row-group scan serializes it on one
    // task (measured 3.3 s → 0.6 s for the gram pass at sf0.1)
    val census = Tables.widened(Tables.documents(spark, dir))
      .filter(length(col("text")) >= WinnowK + WinnowW - 1)
      // packed gram-hash array built ONCE per doc (each position is
      // hashed exactly once; windows then slice the array)
      .select(col("doc_id"), expr(
        s"""transform(sequence(1, length(text) - ${WinnowK - 1}),
           |  i -> cast(conv(substr(md5(substring(text, i, $WinnowK)), 1, 10), 16, 10) as bigint)
           |       * $WinnowPosMod + ($WinnowPosMod - i))""".stripMargin
          .replace('\n', ' ')).as("arr"))
      .select(col("doc_id"), explode(expr(
        s"""array_distinct(transform(sequence(1, size(arr) - ${WinnowW - 1}),
           |  j -> array_min(slice(arr, j, $WinnowW)) div $WinnowPosMod))"""
          .stripMargin.replace('\n', ' '))).as("fp"))
      .distinct()
      .localCheckpoint() // two readers: per-doc sizes and the pair index
    val counts = census.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = census.groupBy("fp")
      .agg(graft.functions.CappedSortedIds
        .cappedSortedIds(col("doc_id"), WinnowCap).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids")) - i - 1),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
    pairs
      .join(counts.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(counts.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_shared"), col("n_a"),
        col("n_b"),
        expr("(n_shared * 1000000) div least(n_a, n_b)").as("overlap_e6"))
      .orderBy("id_a", "id_b")
  }

  /** q_ppjoin Jaccard threshold, e6 (τ = 0.6). */
  private val PpTauE6 = 600000L

  /** q_ppjoin: EXACT set-similarity self-join by prefix filtering
    * (SSJoin/PPJoin, Chaudhuri et al. ICDE'06, Xiao et al. WWW'08) —
    * every document pair with shingle Jaccard ≥ τ, with NO
    * approximation. MinHash-LSH (q_dedup_minhash) trades recall for
    * speed; this is its exact counterpart: by the prefix-filtering
    * principle, two sets with Jaccard ≥ τ MUST share a token among the
    * first n−⌈τ·n⌉+1 of their tokens in any fixed global order — so
    * candidates come from an equi-join on PREFIX tokens only, and the
    * rarest-first order (ascending document frequency) makes those
    * prefixes the least-shared tokens in the corpus.
    *
    * Spark-first shape: token df attaches by equi-join; the (df, tok)
    * sort is per-document (array_sort of a collected doc-local list —
    * never a global window); prefixes explode to the candidate
    * equi-join; verification joins candidates back to the full token
    * sets by (doc, tok) and applies the integer cross-multiplied
    * Jaccard test (n_shared·10⁶ ≥ τ_e6·(n_a+n_b−n_shared)) — all
    * exact. The ORACLE is the UNFILTERED all-pairs shared-token join:
    * a hash match proves the prefix filter lost no qualifying pair on
    * real data (the exactness theorem, demonstrated not assumed). */
  def ppJoin(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.WordShingles.wordShingles(col("text"), 3))).as("tok"))
      // prefix build + both verify sides read it; localCheckpoint =
      // materialize once, auto-release on GC (no session-lifetime pin)
      .localCheckpoint()
    val dfs = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val sets = toks.join(dfs, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        array_sort(collect_list(struct(col("df"), col("tok")))).as("sorted"))
      // prefix length n − ⌈τ·n⌉ + 1, integer-exact: ⌈6n/10⌉ = (6n+9) div 10
      .withColumn("plen", col("n") - expr("(6 * n + 9) div 10") + 1)
    val prefixes = sets
      .select(col("doc_id"), col("n"),
        explode(slice(col("sorted"), lit(1), col("plen"))).as("p"))
      .select(col("doc_id"), col("n"), col("p.tok").as("tok"))
    val cands = prefixes.as("a").join(prefixes.as("b"), Seq("tok"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      // PPJoin length filter: J ≥ τ forces min(n)·10⁶ ≥ τ_e6·max(n) —
      // prunes size-mismatched candidates BEFORE the dedup + verify
      .filter(least(col("a.n"), col("b.n")) * 1000000L >=
        lit(PpTauE6) * greatest(col("a.n"), col("b.n")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val shared = cands
      .join(toks.select(col("doc_id").as("doc_a"), col("tok")), Seq("doc_a"))
      .join(toks.select(col("doc_id").as("doc_b"), col("tok")), Seq("doc_b", "tok"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
    val sizes = sets.select(col("doc_id"), col("n"))
    shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .filter(col("n_shared") * 1000000L >=
        lit(PpTauE6) * (col("n_a") + col("n_b") - col("n_shared")))
      .withColumn("jaccard_e6",
        expr("(n_shared * 1000000) div (n_a + n_b - n_shared)"))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        col("n_shared"), col("jaccard_e6"))
      .orderBy("doc_a", "doc_b")
  }

  /** Band width of the q_dedup_recall rollup (e6 Jaccard; 0.1-wide). */
  private val RecallBandE6 = 100000L

  /** q_dedup_recall: the NEAR-DUP QUALITY SWEEP as data — per
    * Jaccard-decile recall of the MinHash-LSH candidate generator
    * against the exact shared-shingle ground truth (the dedup analog of
    * q_ann_recall: the b/r banding curve P(candidate)=1−(1−J²)⁸
    * measured on the real corpus, not assumed from theory).
    *
    * Ground truth is every pair sharing ≥ 1 word-3-shingle with its
    * exact integer Jaccard (the q_ppjoin ORACLE shape, unfiltered);
    * the LSH side is [[minhashPairs]] VERBATIM. A full-outer merge
    * classifies each pair, then one tiny rollup per 0.1-wide Jaccard
    * band reports n_pairs / n_lsh / recall_e6 — high bands read as
    * recall (should → 10⁶), low bands as the collision/waste mass the
    * verify stage pays for. LSH-only pairs with no shared shingle
    * (pure mod-P collisions) land in band 0.
    *
    * Scale shape: the truth join's work is ∝ Σ df² over shingles —
    * the sweep is a QUALITY AUDIT, run on a bounded sample at corpus
    * scale (like q_ann_recall's fixed catalog), never on all 100 TB;
    * everything after the two-phase pair aggs is ≤ 11 rows. */
  def dedupRecall(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(shingles(col("text"))).as("tok"))
      .localCheckpoint() // sizes + both join sides read it
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val shared = toks.as("a").join(toks.as("b"), Seq("tok"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
    val allp = shared
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .withColumn("jaccard_e6",
        expr("(n_shared * 1000000) div (n_a + n_b - n_shared)"))
      .select("id_a", "id_b", "jaccard_e6")
    val lsh = minhashPairs(spark, dir)
    allp.join(lsh, Seq("id_a", "id_b"), "full_outer")
      .select(coalesce(col("jaccard_e6"), lit(0L)).as("j"),
        coalesce(col("n_bands"), lit(0L)).as("nb"))
      .groupBy(expr(s"j div $RecallBandE6").as("band"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("nb") > 0, 1L).otherwise(0L)).as("n_lsh"))
      .withColumn("recall_e6", expr("(n_lsh * 1000000) div n_pairs"))
      .orderBy("band")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_recall" -> (dedupRecall(_, _)),
    "q_ppjoin" -> (ppJoin(_, _)),
    "q_substr_dup" -> (substrDup(_, _)),
    "q_winnow_fp" -> (winnowFp(_, _)),
    "q_chunk_dedup" -> (chunkDedup(_, _)),
    "q_boilerplate" -> (boilerplate(_, _)),
    "q_dedup_exact" -> (dedupExact(_, _)),
    "q_soft_dedup" -> (softDedup(_, _)),
    "q_dedup_minhash" -> (dedupMinhash(_, _)),
    "q_dedup_incremental" -> (dedupIncremental(_, _)),
    "q_dedup_simhash" -> (dedupSimhash(_, _)),
    "q_ngram_jaccard" -> (ngramJaccard(_, _)),
    "q_containment" -> (containment(_, _)),
    "q_minhash_est" -> (minhashEst(_, _)),
    "q_dedup_sweep" -> (dedupSweep(_, _)),
    "q_dedup_clusters" -> (dedupClusters(_, _)))

  /** Thresholds for the dedup policy sweep (e6 Jaccard). */
  private[graft] val SweepTaus: Seq[Long] = (5 to 9).map(_ * 100000L)

  /** q_dedup_sweep: the dedup POLICY what-if — for each candidate
    * threshold τ, how many verified near-dup pairs and how many
    * distinct documents the drop stage would touch. The report that
    * turns "pick a Jaccard cutoff" from folklore into a read of the
    * actual curve (a cliff between 0.7 and 0.8 means the corpus has a
    * clean dup/non-dup separation; a smooth slope means τ is a real
    * recall/precision dial). Composes [[ngramJaccard]] verbatim —
    * same candidates, same verification — so the sweep can never
    * disagree with the pair table it summarizes.
    *
    * Scale shape: everything runs on the VERIFIED PAIR table (∝ LSH
    * candidates, already bounded by banding + the hot-bucket cap):
    * a 5-way threshold explode, two bounded aggs, one ≤5-row join. */
  def dedupSweep(spark: SparkSession, dir: String): DataFrame = {
    val hit = ngramJaccard(spark, dir)
      .withColumn("j_e6", floor(col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")) * 1e6 + 0.5).cast("long"))
      .select("id_a", "id_b", "j_e6")
      .withColumn("tau_e6", explode(array(SweepTaus.map(lit): _*)))
      .filter(col("j_e6") >= col("tau_e6"))
      .localCheckpoint() // reused: pair census + touched-doc census
    val pairsPer = hit.groupBy("tau_e6").agg(count(lit(1)).as("n_pairs"))
    val docsPer = hit
      .select(col("tau_e6"), explode(array(col("id_a"), col("id_b"))).as("d"))
      .distinct()
      .groupBy("tau_e6").agg(count(lit(1)).as("n_docs"))
    pairsPer.join(docsPer, Seq("tau_e6")).orderBy("tau_e6")
  }

  private val shingleSql: String =
    """SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
      |    THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks) - 1)]
      |    ELSE [text] END) AS grams
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)""".stripMargin

  /** CTE chain rebuilding [[bandSignatures]] (through `sig`). */
  private val sigSql: String =
    s"""sh AS ($shingleSql),
       |g AS (
       |  SELECT doc_id,
       |    CAST(concat('0x', substr(md5(t.sh), 1, 15)) AS BIGINT) % ${P} AS hm
       |  FROM sh, UNNEST(grams) AS t(sh)),
       |minh AS (
       |  SELECT doc_id,
       |    ${(0 until NumHashes).map(i => s"MIN((hm * ${permA(i)} + ${permB(i)}) % ${P}) AS mh$i").mkString(",\n       |    ")}
       |  FROM g GROUP BY doc_id),
       |sig AS (
       |  ${(0 until NumHashes / BandRows).map { b =>
            val cols = (0 until BandRows).map(r => s"mh${b * BandRows + r}").mkString(", '|', ")
            s"SELECT doc_id, $b AS band, concat($cols) AS mh FROM minh"
          }.mkString("\n       |  UNION ALL ")})""".stripMargin

  /** Shared CTE chain rebuilding [[minhashPairs]] (including the
    * hot-bucket cap, as a rank ≤ cap filter on the sorted bucket).
    * `private[graft]` so Curation's funnel oracle can reuse the exact
    * same pair set its Spark side gets from [[minhashPairs]]. */
  private[graft] val pairSql: String =
    s"""$sigSql,
       |rsig AS (
       |  SELECT doc_id, band, mh,
       |    ROW_NUMBER() OVER (PARTITION BY band, mh ORDER BY doc_id) AS r
       |  FROM sig),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_bands
       |  FROM rsig a JOIN rsig b
       |    ON a.band = b.band AND a.mh = b.mh AND a.doc_id < b.doc_id
       |      AND a.r <= $HotBucketCap AND b.r <= $HotBucketCap
       |  GROUP BY a.doc_id, b.doc_id)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // minhash pairSql verbatim + the unfiltered all-pairs truth join
    // (the q_ppjoin oracle shape) → full-outer merge → decile rollup
    "q_dedup_recall" ->
      s"""WITH $pairSql,
         |toks AS (
         |  SELECT doc_id, unnest(grams) AS tok FROM sh),
         |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY doc_id),
         |shared AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM toks a JOIN toks b USING (tok)
         |  WHERE a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |allp AS (
         |  SELECT id_a, id_b,
         |    (n_shared * 1000000) // (sa.n + sb.n - n_shared) AS jaccard_e6
         |  FROM shared
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b),
         |merged AS (
         |  SELECT COALESCE(a.jaccard_e6, 0) AS j,
         |    COALESCE(p.n_bands, 0) AS nb
         |  FROM allp a FULL OUTER JOIN pairs p
         |    ON a.id_a = p.id_a AND a.id_b = p.id_b)
         |SELECT j // $RecallBandE6 AS band,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(CASE WHEN nb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh,
         |  CAST((SUM(CASE WHEN nb > 0 THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS recall_e6
         |FROM merged GROUP BY band
         |ORDER BY band""".stripMargin,
    // Same non-overlapping chunk build, chunk identity as md5, rows +
    // distinct-doc counts per (source, chunk), per-source rollup.
    "q_boilerplate" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
         |ch AS (
         |  SELECT doc_id, source,
         |    md5(array_to_string(w[i * $BoilerWords + 1 : i * $BoilerWords + $BoilerWords], ' ')) AS h
         |  FROM d, LATERAL (SELECT unnest(generate_series(0,
         |    CAST(ceil(len(w) / ${BoilerWords.toDouble}) AS INT) - 1)) AS i)),
         |pc AS (
         |  SELECT source, h, CAST(COUNT(*) AS BIGINT) AS rows_c,
         |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs_c
         |  FROM ch GROUP BY source, h),
         |nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
         |       FROM documents GROUP BY source),
         |agg AS (
         |  SELECT source,
         |    CAST(SUM(rows_c) AS BIGINT) AS n_chunk_rows,
         |    CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
         |    CAST(SUM(CASE WHEN docs_c >= $BoilerMinDocs THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler_chunks,
         |    CAST(SUM(CASE WHEN docs_c >= $BoilerMinDocs THEN rows_c ELSE 0 END) AS BIGINT) AS boiler_rows
         |  FROM pc GROUP BY source)
         |SELECT a.source, nd.n_docs, a.n_chunk_rows, a.n_distinct_chunks,
         |  a.n_boiler_chunks, a.boiler_rows,
         |  CAST(a.boiler_rows * 1000000 // a.n_chunk_rows AS BIGINT) AS boiler_frac_e6
         |FROM agg a JOIN nd USING (source)
         |ORDER BY a.source""".stripMargin,
    // UNFILTERED all-pairs shared-token join: a hash match proves the
    // prefix filter dropped no qualifying pair.
    "q_ppjoin" ->
      s"""WITH toks AS (
         |  SELECT DISTINCT doc_id, tok FROM (
         |    SELECT doc_id, unnest(CASE WHEN len(ts) >= 3
         |      THEN [ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts) - 1)]
         |      ELSE [text] END) AS tok
         |    FROM (SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents))),
         |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY doc_id),
         |shared AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM toks a JOIN toks b USING (tok)
         |  WHERE a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b, sa.n AS n_a, sb.n AS n_b, n_shared,
         |  (n_shared * 1000000) // (sa.n + sb.n - n_shared) AS jaccard_e6
         |FROM shared
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE n_shared * 1000000 >= $PpTauE6 * (sa.n + sb.n - n_shared)
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_substr_dup" ->
      s"""WITH g AS (
         |  SELECT doc_id, i AS pos,
         |    substr(md5(array_to_string(ws[i:i+${SubstrK - 1}], ' ')), 1, 16) AS h
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |       LATERAL (SELECT unnest(generate_series(1, len(ws) - ${SubstrK - 1})) AS i)
         |  WHERE len(ws) >= $SubstrK),
         |rare AS (SELECT h FROM (
         |  SELECT h, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY h)
         |  WHERE df <= $SubstrMaxDf),
         |gi AS (SELECT g.* FROM g JOIN rare USING (h))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  a.pos - b.pos AS diag,
         |  CAST(COUNT(*) AS BIGINT) AS n_aligned,
         |  CAST(MIN(a.pos) AS BIGINT) AS min_pos_a
         |FROM gi a JOIN gi b USING (h)
         |WHERE a.doc_id < b.doc_id
         |GROUP BY a.doc_id, b.doc_id, a.pos - b.pos
         |HAVING COUNT(*) >= $SubstrMinRun
         |ORDER BY doc_a, doc_b, diag""".stripMargin,
    // same packed rightmost-min winnowing selection, same 32-doc
    // fingerprint cap (row_number == capped_sorted_ids on doc_id)
    "q_winnow_fp" ->
      s"""WITH arrs AS (
         |  SELECT doc_id,
         |    [CAST(concat('0x', substr(md5(substr(text, i, $WinnowK)), 1, 10)) AS BIGINT)
         |       * $WinnowPosMod + ($WinnowPosMod - i)
         |     for i in range(1, len(text) - ${WinnowK - 2})] AS arr
         |  FROM documents WHERE len(text) >= ${WinnowK + WinnowW - 1}),
         |census AS (
         |  SELECT DISTINCT doc_id, fp FROM (
         |    SELECT doc_id,
         |      unnest([list_min(arr[j:j+${WinnowW - 1}]) // $WinnowPosMod
         |              for j in range(1, len(arr) - ${WinnowW - 2})]) AS fp
         |    FROM arrs)),
         |counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
         |           FROM census GROUP BY doc_id),
         |capped AS (
         |  SELECT fp, doc_id,
         |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS r
         |  FROM census),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  WHERE a.r <= $WinnowCap AND b.r <= $WinnowCap
         |  GROUP BY 1, 2 HAVING COUNT(*) >= $WinnowMinShared)
         |SELECT id_a, id_b, n_shared, ca.n AS n_a, cb.n AS n_b,
         |  (n_shared * 1000000) // LEAST(ca.n, cb.n) AS overlap_e6
         |FROM pairs
         |JOIN counts ca ON ca.doc_id = id_a
         |JOIN counts cb ON cb.doc_id = id_b
         |ORDER BY id_a, id_b""".stripMargin,
    "q_chunk_dedup" ->
      s"""WITH ch AS (
         |  SELECT doc_id, i AS chunk_idx,
         |    array_to_string(words[(i*$ChunkWords+1):(i*$ChunkWords+$ChunkWords)], ' ') AS chunk
         |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         |       LATERAL (SELECT unnest(generate_series(0,
         |         CAST(ceil(len(words)/$ChunkWords.0) AS BIGINT) - 1)) AS i)),
         |k AS (SELECT doc_id, chunk_idx, chunk, md5(chunk) AS h,
         |        doc_id*1000000 + chunk_idx AS ord FROM ch),
         |f AS (SELECT h, MIN(ord) AS keep_ord FROM k GROUP BY h)
         |SELECT doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(SUM(CASE WHEN ord = keep_ord THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  md5(COALESCE(string_agg(CASE WHEN ord = keep_ord THEN chunk END,
         |    ' ' ORDER BY chunk_idx), '')) AS clean_md5
         |FROM k JOIN f USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the exact-dup groups re-joined per doc; weights are integer e6
    "q_soft_dedup" ->
      """WITH hashed AS (
        |  SELECT doc_id, md5(text) AS content_hash FROM documents),
        |sizes AS (
        |  SELECT content_hash, CAST(COUNT(*) AS BIGINT) AS n_dups
        |  FROM hashed GROUP BY content_hash)
        |SELECT h.doc_id, h.content_hash, s.n_dups,
        |  CAST(1000000 // s.n_dups AS BIGINT) AS weight_e6
        |FROM hashed h JOIN sizes s USING (content_hash)
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY keep_id""".stripMargin,
    "q_dedup_minhash" ->
      s"""WITH $pairSql
         |SELECT id_a, id_b, n_bands FROM pairs
         |ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_incremental" ->
      s"""WITH $sigSql,
         |idx AS (
         |  SELECT doc_id, band, mh,
         |    ROW_NUMBER() OVER (PARTITION BY band, mh ORDER BY doc_id) AS r
         |  FROM sig WHERE doc_id % 4 <> 0),
         |vb AS (
         |  SELECT d.doc_id AS id_a, i.doc_id AS id_b, 'index' AS kind,
         |    COUNT(*) AS n_bands
         |  FROM sig d JOIN idx i ON d.band = i.band AND d.mh = i.mh
         |    AND i.r <= $HotBucketCap
         |  WHERE d.doc_id % 4 = 0
         |  GROUP BY d.doc_id, i.doc_id),
         |dd AS (
         |  SELECT doc_id, band, mh,
         |    ROW_NUMBER() OVER (PARTITION BY band, mh ORDER BY doc_id) AS r
         |  FROM sig WHERE doc_id % 4 = 0),
         |wd AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, 'delta' AS kind,
         |    COUNT(*) AS n_bands
         |  FROM dd a JOIN dd b ON a.band = b.band AND a.mh = b.mh
         |    AND a.doc_id < b.doc_id
         |    AND a.r <= $HotBucketCap AND b.r <= $HotBucketCap
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT id_a, id_b, kind, n_bands FROM vb
         |UNION ALL SELECT id_a, id_b, kind, n_bands FROM wd
         |ORDER BY kind, id_a, id_b""".stripMargin,
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $pairSql,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(node, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT w.node, e.dst FROM reach w JOIN edges e ON e.src = w.r),
         |lab AS (
         |  SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
         |sz AS (
         |  SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id)
         |SELECT l.doc_id, l.cluster_id, s.cluster_size,
         |  l.doc_id = l.cluster_id AS is_canonical
         |FROM lab l JOIN sz s USING (cluster_id)
         |ORDER BY l.doc_id""".stripMargin,
    // pairSql + minh verbatim: component-match estimate vs exact Jaccard
    "q_minhash_est" -> {
      val matchSum = (0 until NumHashes)
        .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $pairSql
         |SELECT p.id_a, p.id_b,
         |  CAST($matchSum AS BIGINT) AS n_match,
         |  CAST((($matchSum) * 1000000) // $NumHashes AS BIGINT) AS est_e6,
         |  CAST((CAST(len(list_intersect(ga.grams, gb.grams)) AS BIGINT) * 1000000)
         |    // (len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)))
         |    AS BIGINT) AS jaccard_e6,
         |  CAST((($matchSum) * 1000000) // $NumHashes
         |    - (CAST(len(list_intersect(ga.grams, gb.grams)) AS BIGINT) * 1000000)
         |      // (len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)))
         |    AS BIGINT) AS err_e6
         |FROM pairs p
         |JOIN minh a ON a.doc_id = p.id_a
         |JOIN minh b ON b.doc_id = p.id_b
         |JOIN sh ga ON ga.doc_id = p.id_a
         |JOIN sh gb ON gb.doc_id = p.id_b
         |ORDER BY id_a, id_b""".stripMargin
    },
    // pairSql + the same e6 verification, swept over the 5 thresholds
    "q_dedup_sweep" ->
      s"""WITH $pairSql,
         |jac AS (
         |  SELECT p.id_a, p.id_b,
         |    CAST(floor(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
         |      / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
         |      * 1e6 + 0.5) AS BIGINT) AS j_e6
         |  FROM pairs p
         |  JOIN sh a ON p.id_a = a.doc_id
         |  JOIN sh b ON p.id_b = b.doc_id),
         |taus AS (SELECT UNNEST([${SweepTaus.mkString(", ")}]) AS tau_e6),
         |hit AS (SELECT tau_e6, id_a, id_b
         |  FROM jac CROSS JOIN taus WHERE j_e6 >= tau_e6),
         |pp AS (SELECT tau_e6, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |  FROM hit GROUP BY tau_e6),
         |dd AS (SELECT tau_e6, CAST(COUNT(*) AS BIGINT) AS n_docs FROM (
         |  SELECT DISTINCT tau_e6, d FROM (
         |    SELECT tau_e6, id_a AS d FROM hit
         |    UNION ALL SELECT tau_e6, id_b AS d FROM hit))
         |  GROUP BY tau_e6)
         |SELECT CAST(pp.tau_e6 AS BIGINT) AS tau_e6, n_pairs, n_docs
         |FROM pp JOIN dd USING (tau_e6) ORDER BY tau_e6""".stripMargin,
    // same candidate pairs + shingle joins; integer-e6 truncating divs
    "q_containment" ->
      s"""WITH $pairSql
         |SELECT p.id_a, p.id_b,
         |  CAST(len(a.grams) AS BIGINT) AS n_a,
         |  CAST(len(b.grams) AS BIGINT) AS n_b,
         |  CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS n_inter,
         |  CAST(len(list_intersect(a.grams, b.grams)) * 1000000 // len(a.grams)
         |    AS BIGINT) AS contain_ab_e6,
         |  CAST(len(list_intersect(a.grams, b.grams)) * 1000000 // len(b.grams)
         |    AS BIGINT) AS contain_ba_e6,
         |  CAST(abs(len(list_intersect(a.grams, b.grams)) * 1000000 // len(a.grams)
         |    - len(list_intersect(a.grams, b.grams)) * 1000000 // len(b.grams))
         |    AS BIGINT) AS asym_e6,
         |  greatest(len(list_intersect(a.grams, b.grams)) * 1000000 // len(a.grams),
         |    len(list_intersect(a.grams, b.grams)) * 1000000 // len(b.grams))
         |    >= $ContainTauE6 AS engulfed
         |FROM pairs p
         |JOIN sh a ON p.id_a = a.doc_id
         |JOIN sh b ON p.id_b = b.doc_id
         |ORDER BY id_a, id_b""".stripMargin,
    "q_ngram_jaccard" ->
      s"""WITH $pairSql
         |SELECT p.id_a, p.id_b,
         |  CAST(len(a.grams) AS BIGINT) AS n_a,
         |  CAST(len(b.grams) AS BIGINT) AS n_b,
         |  CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS n_inter,
         |  floor(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
         |    / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) * 1e6 + 0.5) / 1e6 AS jaccard
         |FROM pairs p
         |JOIN sh a ON p.id_a = a.doc_id
         |JOIN sh b ON p.id_b = b.doc_id
         |ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
         |  FROM toks),
         |votes AS (
         |  SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM g, UNNEST(range(0, $SimBits)) AS t(j)
         |  GROUP BY doc_id, j),
         |sim AS (
         |  SELECT doc_id,
         |    CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM votes GROUP BY doc_id),
         |chunks AS (
         |  SELECT doc_id, simhash, c, (simhash >> ($ChunkBits * c)) & ${(1L << ChunkBits) - 1} AS cv
         |  FROM sim, UNNEST(range(0, $SimChunks)) AS t(c)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.simhash AS sim_a, b.simhash AS sim_b
         |  FROM chunks a JOIN chunks b
         |    ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id),
         |near AS (
         |  SELECT id_a, id_b FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= $SimMaxHamming),
         |cnt AS (
         |  SELECT doc_id, COUNT(*) AS n_near
         |  FROM (SELECT id_a AS doc_id FROM near
         |        UNION ALL SELECT id_b AS doc_id FROM near) u
         |  GROUP BY doc_id)
         |SELECT s.doc_id, s.simhash, COALESCE(c.n_near, 0) AS n_near
         |FROM sim s LEFT JOIN cnt c ON s.doc_id = c.doc_id
         |ORDER BY s.doc_id""".stripMargin)
}
