package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-pipeline text-analysis operators over the `documents` table:
  * language ID, quality scoring, token counting, rolling-hash
  * fingerprinting (SURVEY §2 rows 28-31).
  *
  * All four are pure per-row column expressions — no shuffle at all
  * until the (optional) final presentation sort, so they scale linearly:
  * at 100 TB they are a single map-only pass fused into one
  * whole-stage-codegen stage with the parquet scan.
  *
  * Determinism: hashing is md5-hex (string min/max, no numeric
  * conversion), scores are rational arithmetic only (no exp/ln whose
  * last-ulp behavior differs between libm implementations) — results are
  * bit-reproducible in DuckDB for the oracle compare.
  */
object TextAnalysis {

  /** Occurrence count of literal `pat` in `c` via length difference. */
  private def occ(c: Column, pat: String): Column =
    (length(c) - length(regexp_replace(c, java.util.regex.Pattern.quote(pat), ""))) / pat.length

  /** Fixed char-bigram profiles per language — a deterministic stand-in
    * for trained n-gram frequency profiles (cf. Cavnar-Trenkle n-gram
    * language categorization). */
  private[operators] val profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("ch", "ei", "en", "de", "er"),
    "en" -> Seq("th", "he", "an", "er", "in"),
    "es" -> Seq("de", "la", "os", "en", "ar"),
    "fr" -> Seq("le", "es", "en", "re", "on"),
    "zh" -> Seq("zh", "sh", "ng", "xi", "wo"))

  /** q_lang_id: n-gram-heuristic language ID — per-language profile
    * scores, argmax with alphabetical tie-break. Map-only. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = profiles.foldLeft(docs) { case (df, (lang, grams)) =>
      df.withColumn(s"s_$lang",
        grams.map(g => occ(col("text"), g)).reduce(_ + _).cast("long"))
    }
    val best = greatest(profiles.map { case (l, _) => col(s"s_$l") }: _*)
    val pred = profiles.foldRight(lit(null).cast("string")) {
      case ((lang, _), acc) => when(col(s"s_$lang") === best, lit(lang)).otherwise(acc)
    }
    // foldRight builds zh-innermost, so the FIRST (alphabetical) match wins
    scored
      .select(
        col("doc_id"), col("lang"),
        pred.as("pred_lang"),
        best.as("best_score"),
        (col("lang") === pred).cast("int").as("is_match"))
      .orderBy("doc_id")
  }

  /** q_quality_score: doc quality from length / stopword-ratio /
    * mean-word-length signals; rational-arithmetic score. Map-only. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "and", "of", "to")
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("long")
    val nStop = size(filter(toks, t => t.isin(stop.map(lit(_)): _*))).cast("long")
    val nLetters = length(regexp_replace(col("text"), " ", "")).cast("long")
    val stopRatio = floor(nStop.cast("double") / nTok * 1e6 + 0.5) / 1e6
    val meanLen = floor(nLetters.cast("double") / nTok * 1e6 + 0.5) / 1e6
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_"),
        nTok.as("n_tokens"),
        nStop.as("n_stopwords"),
        stopRatio.as("stop_ratio"),
        meanLen.as("mean_word_len"),
        (floor((nTok.cast("double") / (nTok + lit(20))) * (lit(1.0) - nStop.cast("double") / nTok) * 1e6 + 0.5) / 1e6)
          .as("quality"))
      .orderBy("doc_id")
  }

  /** The BPE-ish tokenizer unit pattern (letter runs, digit runs,
    * single other chars) — THE token definition every token-counting
    * query in the engine shares (q_token_count, q_token_hist,
    * q_pack_sequences, q_bpe_*, q_lm_quality, q_curation_funnel, and
    * their oracles). One definition: cross-query token accounting
    * (e.g. the funnel's ingest row vs q_token_count) relies on these
    * counts agreeing, so the pattern must never fork. */
  private[graft] val TokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  /** q_token_count: whitespace tokens + BPE-ish regex tokens (letter runs,
    * digit runs, single other chars) + a chars/4 approximation. Map-only. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit(TokenRe), lit(0)))
          .cast("long").as("bpe_tokens"),
        ceil(length(col("text")) / lit(4.0)).cast("long").as("approx_tokens"))
      .orderBy("doc_id")

  /** q_tokenizer_fertility: per-language tokenizer-efficiency report —
    * the statistic that drives vocab-size and tokenizer choices for a
    * multilingual mix: fertility (regex-BPE tokens per whitespace
    * word) and compression (chars per token), per language. A language
    * whose fertility runs hot pays more sequence length for the same
    * text; the budgeting stage reads exactly this table (cf. the
    * fertility analyses in the XLM-R / NLLB tokenizer literature).
    *
    * All-integer: the per-doc token counts sum as longs and the ratios
    * are scaled integer divisions — bit-stable everywhere. One corpus
    * scan, one two-phase aggregate on the 5-key lang column. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("ws"),
        size(regexp_extract_all(col("text"), lit(TokenRe), lit(0)))
          .cast("long").as("bpe"),
        length(col("text")).cast("long").as("chars"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("ws").as("ws_tokens"),
        sum("bpe").as("bpe_tokens"),
        sum("chars").as("n_chars"))
      .withColumn("fertility_e6", expr("bpe_tokens * 1000000 div ws_tokens"))
      .withColumn("chars_per_tok_e2", expr("n_chars * 100 div bpe_tokens"))
      .orderBy("lang")

  /** Equi-depth bin count for [[quantileBins]] (pinned: the oracle
    * interpolates it). */
  private[graft] val DepthBins = 10L

  /** q_quantile_bins: EQUI-DEPTH length binning per language — the
    * curriculum/batch-balancing stage: deciles of the per-doc token
    * count, so a trainer can draw length-balanced batches (or schedule
    * short→long) without a corpus sort. Fixed-width histograms
    * (q_token_hist) tell you the shape; equi-depth bins give each bin
    * the same document mass regardless of shape.
    *
    * Spark-first shape (the q_percentiles idiom): aggregate to the
    * (lang, n_tok) VALUE HISTOGRAM first — shuffle ∝ distinct lengths,
    * never corpus rows — then one cumulative window over that bounded
    * frame assigns every VALUE its bin: bin(v) = (cum_lt(v)·B) div n
    * + 1, ties share a bin (the deterministic choice a reproducible
    * curriculum needs; NTILE would split equal lengths arbitrarily).
    * The per-bin rollup then reads only histogram rows. All exact
    * integer arithmetic. */
  def quantileBins(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.documents(spark, dir)
      .select(col("lang"),
        size(regexp_extract_all(col("text"), lit(TokenRe), lit(0)))
          .cast("long").as("n_tok"))
      .groupBy("lang", "n_tok").agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum_le", sum("c").over(
        Window.partitionBy("lang").orderBy("n_tok")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(Window.partitionBy("lang")))
      .withColumn("bin",
        expr(s"(cum_le - c) * $DepthBins div n + 1"))
    cum.groupBy("lang", "bin")
      .agg(
        sum("c").as("n_docs"),
        min("n_tok").as("min_tok"),
        max("n_tok").as("max_tok"),
        sum(col("c") * col("n_tok")).as("sum_tok"))
      .orderBy("lang", "bin")
  }

  /** q_fingerprint's char-gram width and winnowing window. */
  private val FpGram = 5
  private val FpWindow = 4

  /** q_fingerprint: winnowing-lite document fingerprint — char
    * [[FpGram]]-gram md5 hashes, per-window ([[FpWindow]]) minima,
    * distinct set (cf. Schleimer, Wilkerson, Aiken: "Winnowing: Local
    * Algorithms for Document Fingerprinting", SIGMOD'03). Map-only; the
    * fingerprint set is summarized to scalars so the oracle compare is
    * array-free. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val grams = transform(
      sequence(lit(1), length(col("text")) - (FpGram - 1)),
      i => col("text").substr(i, lit(FpGram)))
    val hashes = transform(grams, g => substring(md5(g), 1, 8))
    val mins = transform(
      sequence(lit(1), size(col("hashes")) - (FpWindow - 1)),
      j => array_min(slice(col("hashes"), j, lit(FpWindow))))
    val fps = array_distinct(mins)
    // widen: the per-char md5 cascade is the whole query; a one-task
    // sandbox scan would run it single-threaded (no-op at scale)
    Tables.widened(Tables.documents(spark, dir)
      .filter(length(col("text")) >= FpGram + FpWindow - 1))
      .withColumn("hashes", hashes)
      .select(
        col("doc_id"),
        size(col("hashes")).cast("long").as("n_grams"),
        size(fps).cast("long").as("n_fp"),
        array_min(fps).as("fp_min"),
        array_max(fps).as("fp_max"))
      .orderBy("doc_id")
  }

  /** The BPE-ish token count shared by q_token_count / q_token_hist. */
  private def bpeTokens: Column =
    size(regexp_extract_all(col("text"), lit(TokenRe), lit(0)))
      .cast("long")

  /** q_token_hist: per-language token-length histogram (32-token-wide
    * buckets) — the length-distribution stat corpus curation actually
    * uses. Exact per-group quantiles need a per-language sort (5
    * partitions would hold the whole corpus), so the histogram IS the
    * scale answer: a pure two-phase groupBy on a high-cardinality
    * (lang, bucket) key, map-only before the one shuffle. */
  def tokenHist(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), bpeTokens.as("n_tok"))
      .withColumn("bucket", expr("(n_tok div 32) * 32"))
      .groupBy("lang", "bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("sum_tokens"),
        min("n_tok").as("min_tok"),
        max("n_tok").as("max_tok"))
      .orderBy("lang", "bucket")

  /** q_sample_split: deterministic content-hash train/val/test split
    * (80/10/10) with per-(lang, split) counts — the reproducible
    * sampling stage of a training-data pipeline. The split key is an
    * md5-derived integer, so membership is a pure function of doc_id:
    * stable across runs, engines, and cluster layouts (the reason
    * hash-based splits beat rand() sampling in any pipeline that must
    * be replayable). Map-only + one two-phase aggregation. */
  def sampleSplit(spark: SparkSession, dir: String): DataFrame = {
    val h = expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) % 100")
    Tables.documents(spark, dir)
      .select(col("lang"), bpeTokens.as("n_tok"),
        when(h < 80, "train").when(h < 90, "val").otherwise("test").as("split"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tokens"))
      .orderBy("lang", "split")
  }

  /** Hits reported per query by q_token_search and q_bm25_search. */
  private val SearchTopK = 5

  /** q_token_search: inverted-index token-overlap retrieval — the
    * reference's ES best-candidate search (nlp/ESSearchBestCand.scala:
    * 28-33, 40-62: query = distinct tokens of the pattern text, hit =
    * the best-matching stored page) without the external search engine.
    *
    * Spark-first shape: the inverted index is the exploded distinct
    * (term, doc_id) list; retrieval is ONE equi-join on term (the
    * classic index-postings join, shuffled on term) followed by a
    * per-(query, doc) count and a per-query top-k window on the
    * high-cardinality query key. Terms are word 3-shingles (phrases,
    * like the reference's pattern queries — this corpus's single-word
    * vocabulary is tiny and near-universal, exactly the stopword case);
    * terms with document frequency above [[SearchMaxDf]] are pruned
    * from the index first — the stopword cut every real search engine
    * applies, and what bounds the postings-join fan-out at corpus
    * scale (a term in N docs contributes N postings per query
    * containing it). */
  private val SearchMaxDf = 100

  def tokenSearch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(array_distinct(
          graft.functions.WordShingles.wordShingles(col("text"), 3))).as("tok"))
    val rare = toks.groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df") <= SearchMaxDf)
      .select("tok")
    val index = toks.join(rare, Seq("tok"))
    val queries = index
      .filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"), col("tok"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("overlap").desc, col("doc_id").asc)
    queries
      .join(index, Seq("tok"))
      .filter(col("query_id") =!= col("doc_id"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("overlap"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= SearchTopK)
      .orderBy("query_id", "rank")
  }

  /** BM25 parameters (Robertson–Walker–Jones defaults). */
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** q_bm25_search: BM25-ranked retrieval over the same inverted index
    * as q_token_search — raw term overlap promotes long documents and
    * weights a near-universal shingle equal to a rare one; BM25
    * (Robertson et al., TREC-3) fixes both with idf weighting and
    * document-length normalization, and is what the reference's ES
    * searches actually score with under the hood (Lucene's BM25
    * similarity, nlp/ESSearchBestCand.scala:40-62 `match` query).
    *
    * The index rows carry (tok, doc_id, df, dl): df and dl are
    * pre-joined at index-build time on their natural keys (tok,
    * doc_id), so scoring is the SAME postings equi-join as
    * q_token_search — no extra shuffle, no broadcast of per-doc state;
    * only the 1-row corpus stats (N, Σdl) cross-join in. Term
    * frequency within a doc is 1 by construction (distinct shingles),
    * so the tf component reduces to (k1+1)/(1 + k1·(1−b+b·dl·N/Σdl)).
    * Per-term contributions floor-scale to e6 INTEGERS before the sum,
    * so the per-pair score is order-independent and the result fully
    * hash-oracled (the one ln() per distinct df is the only float op,
    * same-input ulp risk only — the house pattern from q_lm_quality).
    * Ranking ties break on doc_id. */
  def bm25Search(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // dls/dfs/index/queries all consume the shingle explosion — this IS
    // the materialize-the-index-once step (disk-spillable table build
    // at 100 TB), not a per-consumer re-explosion of the corpus.
    // localCheckpoint, not cache(): same one-time materialization, but
    // the blocks auto-release when the result is dropped instead of
    // pinning executor storage for the session lifetime.
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(array_distinct(
          graft.functions.WordShingles.wordShingles(col("text"), 3))).as("tok"))
      .localCheckpoint()
    val dls = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dls.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val dfs = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val index = toks
      .join(dfs.filter(col("df") <= SearchMaxDf), Seq("tok"))
      .join(dls, Seq("doc_id"))
    val queries = index
      .filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"), col("tok"))
    val contrib = // identical operation tree on both engines
      log(lit(1.0) + (col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
          (col("df").cast("double") + 0.5)) *
        lit(Bm25K1 + 1.0) /
        (lit(1.0) + lit(Bm25K1) * (lit(1.0 - Bm25B) +
          lit(Bm25B) * (col("dl").cast("double") * col("n_docs").cast("double") /
            col("sum_dl").cast("double"))))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_e6").desc, col("doc_id").asc)
    queries
      .join(index, Seq("tok"))
      .filter(col("query_id") =!= col("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib_e6", floor(contrib * 1e6 + 0.5).cast("long"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("overlap"), sum("contrib_e6").as("score_e6"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= SearchTopK)
      .orderBy("query_id", "rank")
  }

  /** RRF smoothing constant (Cormack, Clarke & Buettcher, SIGIR'09 —
    * k=60 is the published default everyone ships). Pinned: the oracle
    * interpolates it. */
  private val RrfK = 60L

  /** q_rank_fusion: HYBRID RETRIEVAL — reciprocal-rank fusion of the
    * lexical ranking ([[bm25Search]]) and the semantic ranking
    * (Similarity.annCosine) for the shared query subset (both sides
    * pin queries to id % 50 = 0, and vec_id ≡ doc_id in the catalog) —
    * the standard way a RAG/retrieval stack combines BM25 with vector
    * search without score calibration: RRF(d) = Σ_rankers 1/(k + rank),
    * rank-only, so the wildly different score scales never meet.
    * Integer-exact: each contribution is `1 000 000 div (k + rank)`,
    * absent ranks contribute zero and report as rank 0.
    *
    * Scale shape: both inputs are already top-k-bounded per query, so
    * fusion touches ≤ 2k rows per query — a (query, doc) equi-join of
    * two tiny frames plus one rank window on query_id, trivia after
    * the retrieval stages that feed it. */
  def rankFusion(spark: SparkSession, dir: String): DataFrame =
    fuseRankings(
      bm25Search(spark, dir)
        .select(col("query_id"), col("doc_id"), col("rank").as("rank_text")),
      Similarity.annCosine(spark, dir)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").cast("long").as("rank_vec")))

  /** The fusion core over any two (query_id, doc_id, rank) frames —
    * split out so the spec can prove the both-rankers arithmetic on
    * synthetic overlapping rankings (on this corpus the two real top-5
    * lists are disjoint: random embeddings share no signal with the
    * text, which is itself a finding the fused report surfaces). */
  private[graft] def fuseRankings(txt: DataFrame, vec: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = vec.select(col("query_id").as("vq"), col("doc_id").as("vd"),
      col("rank_vec"))
    txt.join(v,
        col("query_id") === col("vq") && col("doc_id") === col("vd"),
        "full_outer")
      .select(
        coalesce(col("query_id"), col("vq")).as("query_id"),
        coalesce(col("doc_id"), col("vd")).as("doc_id"),
        coalesce(col("rank_text"), lit(0L)).as("rank_text"),
        coalesce(col("rank_vec"), lit(0L)).as("rank_vec"))
      .withColumn("rrf_e6",
        when(col("rank_text") === 0, lit(0L))
          .otherwise(expr(s"1000000 div ($RrfK + rank_text)")) +
        when(col("rank_vec") === 0, lit(0L))
          .otherwise(expr(s"1000000 div ($RrfK + rank_vec)")))
      .withColumn("fused_rank",
        row_number().over(Window.partitionBy("query_id")
          .orderBy(col("rrf_e6").desc, col("doc_id").asc)).cast("long"))
      .orderBy("query_id", "fused_rank")
  }

  /** Sliding-chunk geometry for q_chunk_sliding: the RAG default of a
    * fixed window with 50% overlap. Pinned — the oracle inlines both. */
  private[graft] val SlideWindow = 16
  private[graft] val SlideStride = 8

  /** q_chunk_sliding: retrieval-index chunking — every document cut
    * into [[SlideWindow]]-token windows advancing by [[SlideStride]]
    * (50% overlap, the standard RAG indexing prep: overlap keeps a
    * sentence that straddles a boundary retrievable from either
    * side). Starts step to the end of the document, so trailing
    * windows shorten instead of dropping tail tokens — every token is
    * covered by ≥1 chunk. Each chunk row carries its provenance
    * (start, length) and content hash; the hash is what a vector
    * index stores beside the chunk embedding, and what chunk-level
    * dedup (q_chunk_dedup's family) consumes upstream.
    *
    * Scale shape: map-only — ONE transform over the already-split
    * token array per document (the window slices never self-join),
    * exploded to chunk rows inside the scan; no shuffle at all before
    * the output sort. */
  def chunkSliding(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, size(ts), $SlideStride),
           | s -> struct(s AS start_tok, slice(ts, s, $SlideWindow) AS w))"""
          .stripMargin.replace('\n', ' '))).as(Seq("idx", "c")))
      .select(col("doc_id"),
        (col("idx") + 1).cast("long").as("chunk_idx"),
        col("c.start_tok").cast("long").as("start_tok"),
        size(col("c.w")).cast("long").as("n_tok"),
        md5(array_join(col("c.w"), " ")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  /** nDCG position weights 10⁶/log₂(i+1) for ranks 1..5, and their
    * prefix sums — precomputed HERE and inlined as the SAME literals
    * into both engines (the Benford-constants convention: log2 is not
    * correctly rounded, so NEITHER engine may compute them). */
  private[graft] val NdcgWeightsE6: Seq[Long] = (1 to 5).map(i =>
    math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0)) + 0.5).toLong)
  private[graft] val NdcgPrefixE6: Seq[Long] =
    NdcgWeightsE6.scanLeft(0L)(_ + _)

  /** q_ndcg: graded retrieval-quality eval of the BM25 ranking —
    * per-query nDCG@5 (Järvelin & Kekäläinen 2002) and MRR, the two
    * numbers every search/RAG stack reports. Relevance is EXTERNAL to
    * the ranker (judging BM25 by its own overlap would be circular):
    * the corpus metadata grades a hit 3 (same source AND lang),
    * 2 (same source), 1 (same lang), 0 — catalog labels standing in
    * for human judgments. IDCG is the TRUE ideal over the whole
    * corpus, not the retrieved set: per-query tier populations derive
    * from the (source, lang) cell counts by subtraction, so a query
    * that missed its best matches is penalized, not forgiven. Gains
    * 2^rel−1 ∈ {0,1,3,7} and the inlined position weights keep DCG,
    * IDCG, nDCG, and MRR exact integers end-to-end.
    *
    * Scale shape: rides [[bm25Search]]'s top-5 output (|Q|×5 rows);
    * two doc_id equi-joins pull the metadata; the tier populations are
    * catalog-bounded aggs broadcast back; everything after is per-row
    * arithmetic + ONE (query_id, …) two-phase agg. No window beyond
    * the ranker's own. */
  def ndcgEval(spark: SparkSession, dir: String): DataFrame = {
    val meta = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"))
      .localCheckpoint() // catalog projection; four readers below
    val cell = meta.groupBy("source", "lang").agg(count(lit(1)).as("n_cell"))
    val srcTot = meta.groupBy("source").agg(count(lit(1)).as("n_src"))
    val langTot = meta.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val wArr = array(NdcgWeightsE6.map(lit): _*)
    val pre = array(NdcgPrefixE6.map(lit): _*)
    val per = bm25Search(spark, dir)
      .join(meta.select(col("doc_id").as("query_id"),
        col("source").as("q_src"), col("lang").as("q_lang")), Seq("query_id"))
      .join(meta.select(col("doc_id"),
        col("source").as("d_src"), col("lang").as("d_lang")), Seq("doc_id"))
      .withColumn("rel",
        when(col("q_src") === col("d_src") &&
          col("q_lang") === col("d_lang"), 3L)
          .when(col("q_src") === col("d_src"), 2L)
          .when(col("q_lang") === col("d_lang"), 1L)
          .otherwise(0L))
      .withColumn("gain", expr(
        "CASE rel WHEN 3 THEN 7 WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END"))
      .withColumn("contrib_e6",
        col("gain") * element_at(wArr, col("rank").cast("int")))
      .groupBy("query_id", "q_src", "q_lang")
      .agg(count(lit(1)).as("n_hits"),
        sum(when(col("rel") >= 1, 1L).otherwise(0L)).as("n_rel"),
        sum("contrib_e6").as("dcg_e6"),
        min(when(col("rel") >= 1, col("rank"))).as("first_rel"))
    per
      .join(broadcast(cell.select(col("source").as("q_src"),
        col("lang").as("q_lang"), col("n_cell"))), Seq("q_src", "q_lang"))
      .join(broadcast(srcTot.select(col("source").as("q_src"),
        col("n_src"))), Seq("q_src"))
      .join(broadcast(langTot.select(col("lang").as("q_lang"),
        col("n_lang"))), Seq("q_lang"))
      // greedy ideal top-5 fill: n_cell includes the query itself, so
      // tier-3 capacity is n_cell − 1; each lower tier takes what's left
      .withColumn("t3", least(lit(5L), col("n_cell") - 1))
      .withColumn("t2",
        least(lit(5L) - col("t3"), col("n_src") - col("n_cell")))
      .withColumn("t1", least(lit(5L) - col("t3") - col("t2"),
        col("n_lang") - col("n_cell")))
      .withColumn("idcg_e6",
        lit(7L) * element_at(pre, (col("t3") + 1).cast("int"))
          + lit(3L) * (element_at(pre,
            (col("t3") + col("t2") + 1).cast("int"))
            - element_at(pre, (col("t3") + 1).cast("int")))
          + (element_at(pre,
            (col("t3") + col("t2") + col("t1") + 1).cast("int"))
            - element_at(pre, (col("t3") + col("t2") + 1).cast("int"))))
      .withColumn("ndcg_e6",
        expr("if(idcg_e6 = 0, -1, (dcg_e6 * 1000000) div idcg_e6)"))
      .withColumn("mrr_e6",
        expr("if(first_rel is null, 0, 1000000 div first_rel)"))
      .select("query_id", "n_hits", "n_rel", "dcg_e6", "idcg_e6",
        "ndcg_e6", "mrr_e6")
      .orderBy("query_id")
  }

  /** q_quality_repetition: Gopher-style repetition filters (Rae et al.
    * 2021, Table A1, token approximation): per doc, the fraction of
    * tokens inside the most frequent word 2-gram and the fraction of
    * word 3-grams that are duplicated, plus the keep/drop flag at the
    * Gopher-ish thresholds (top-2-gram ≤ 0.20, dup-3-gram ≤ 0.18).
    * The n-gram counts are explode → two-phase (doc, gram) aggregations
    * (map-side partials, shuffle ∝ distinct grams) — never a per-row
    * O(n²) HOF scan. Fractions floor-scale so keep flags compare
    * exactly. */
  def qualityRepetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    def gramStats(k: Int) = docs
      .select(col("doc_id"),
        explode(graft.functions.WordShingles.wordShingles(col("text"), k)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        max(col("c")).as(s"top${k}_cnt"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as(s"dup${k}_cnt"),
        sum(col("c")).as(s"n$k"))
    val top2Frac = floor(col("top2_cnt") * 2 * 1e6 / col("n_tok") + 0.5) / 1e6
    val dup3Frac = floor(col("dup3_cnt") * 1e6 / col("n3") + 0.5) / 1e6
    docs.drop("text")
      .join(gramStats(2).select("doc_id", "top2_cnt"), Seq("doc_id"))
      .join(gramStats(3).select("doc_id", "dup3_cnt", "n3"), Seq("doc_id"))
      .select(col("doc_id"), col("n_tok"), col("top2_cnt"), col("dup3_cnt"), col("n3"),
        top2Frac.as("top2_frac"), dup3Frac.as("dup3_frac"))
      .withColumn("keep",
        (col("top2_frac") <= 0.20 && col("dup3_frac") <= 0.18).cast("int"))
      .orderBy("doc_id")
  }

  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]+"
  private val PhonePat = "555-[0-9][0-9][0-9][0-9]"

  /** q_pii_scrub: PII redaction — the pre-training scrub pass. The
    * corpus is augmented with deterministic doc_id-derived emails and
    * phone numbers (the testdata carries none), then emails/phones are
    * counted and replaced with placeholder tags. Pure map-only column
    * work (one codegen stage with the scan); both regexes are
    * RE2-compatible so DuckDB rebuilds the byte-identical scrub. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val raw = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id"), lit("@example.com do")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")))
    val scrubbed = regexp_replace(
      regexp_replace(col("raw"), EmailPat, "<EMAIL>"), PhonePat, "<PHONE>")
    Tables.documents(spark, dir)
      .withColumn("raw", raw)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("raw"), lit(EmailPat), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(PhonePat), lit(0))).cast("long").as("n_phones"),
        length(col("raw")).cast("long").as("len_raw"),
        length(scrubbed).cast("long").as("len_scrubbed"),
        md5(scrubbed).as("scrub_hash"))
      .orderBy("doc_id")
  }

  /** Packing bin capacity (tokens). */
  private[graft] val PackCap = 512L
  private[graft] val PackShards = 8L

  /** Shared packing input: (lang, doc_id, n_tok, shard) over any
    * documents frame — one definition for batch [[packSequences]] and
    * the streaming variant, so the two can never disagree on token
    * counts or shard assignment. */
  private[graft] def packInput(docs: DataFrame): DataFrame = {
    val shard = expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)") % PackShards
    docs.select(col("lang"), col("doc_id"), bpeTokens.as("n_tok"), shard.as("shard"))
  }

  /** Shared per-bin rollup over per-doc (lang, shard, bin, doc_id,
    * n_tok) assignments — the other half batch and stream share. */
  private[graft] def packRollup(assigned: DataFrame): DataFrame =
    assigned
      .groupBy("lang", "shard", "bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("sum_tokens"),
        min("doc_id").as("first_doc"))
      .withColumn("fill_e6",
        floor(col("sum_tokens") * 1e6 / lit(PackCap.toDouble) + 0.5).cast("long"))
      .orderBy("lang", "shard", "bin")

  /** q_pack_sequences: training sequence packing — greedy document
    * packing into fixed-capacity token bins, the batch-assembly stage
    * of an LLM data pipeline. A doc joins the bin where its running
    * token total starts (cumulative sum over a deterministic doc order).
    * Scale shape: packing is SHARD-LOCAL by design — the window
    * partitions on (lang, md5-shard), never on the low-cardinality lang
    * alone, so no partition holds more than corpus/(langs·shards) and
    * adding shards scales the pack-out linearly (bins are only ever
    * consumed shard-locally by the trainer). Integer token sums only —
    * bit-stable everywhere. */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    packRollup(
      packInput(Tables.documents(spark, dir))
        .withColumn("cum_before", sum(col("n_tok")).over(w) - col("n_tok"))
        .withColumn("bin", expr(s"cum_before div $PackCap")))
  }

  /** Merge-table size for q_bpe_pairs (pinned: oracle interpolates). */
  private val BpeTopK = 50

  /** q_bpe_pairs: the first iteration of BPE tokenizer training — the
    * corpus-wide adjacent character-pair frequency table whose argmax
    * is the first merge (Sennrich et al., "Neural Machine Translation
    * of Rare Words with Subword Units", ACL'16).
    *
    * Scale shape is the trick every real BPE trainer uses: aggregate
    * the corpus to its distinct-WORD dictionary first (Zipf-bounded —
    * millions of entries when the corpus is 100 TB), then count pairs
    * over the dictionary weighted by word frequency. The heavy
    * two-phase agg runs on words (map-side combine eats the Zipf
    * head); the pair explode touches only dictionary entries, never
    * corpus rows. All-integer arithmetic; ties at the cut break on the
    * pair string, so the top-k set is deterministic. */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("n_word"))
    words
      .select(col("n_word"), explode(
        transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("n_word")).as("n_occ"))
      .orderBy(col("n_occ").desc, col("pair").asc)
      .limit(BpeTopK)
  }

  /** q_bpe_encode: tokenizer APPLICATION — encode the corpus dictionary
    * with the [[BpeTopK]]-entry merge table q_bpe_pairs ranks. This is
    * the train-small / apply-big contract every production tokenizer
    * follows: the merge table is tiny (fixed at BpeTopK entries — it
    * rides into the task closure like a broadcast dim), while the
    * encode is a map-only pass over the Zipf-bounded word dictionary;
    * corpus token counts then weight by word frequency without ever
    * re-touching corpus rows.
    *
    * Semantics, pinned for the oracle: a word starts as space-separated
    * characters; merge #r rewrites ' x y ' → ' xy ' in ONE left-to-right
    * non-overlapping replace pass, ranks applied in q_bpe_pairs order
    * (frequency-ranked one-shot merge list — the WordPiece-style
    * shortcut; iterative refit would recount pairs between merges).
    * Both engines' literal `replace` share the leftmost-non-overlap
    * rule, so results are bit-identical; the oracle re-derives the same
    * table in a recursive CTE (one iteration per rank) — an independent
    * evaluation strategy for the same merge algebra. The driver-side
    * collect is the bounded merge table only, never data. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpePairs(spark, dir).collect().map(_.getString(0)).toSeq
    val words = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("n_word"))
    val init =
      concat(lit(" "), array_join(split(col("word"), ""), " "), lit(" "))
    val encoded = merges.foldLeft(init) { (c, p) =>
      replace(c, lit(s" ${p(0)} ${p(1)} "), lit(s" $p "))
    }
    words.withColumn("s", encoded)
      .select(col("word"), col("n_word"), trim(col("s")).as("encoded"),
        size(split(trim(col("s")), " ")).cast("long").as("n_tokens"))
      .orderBy("word")
  }

  /** Iterative-refit merge rounds for q_bpe_train (pinned: the oracle
    * unrolls exactly this many rounds). */
  private val BpeTrainRounds = 10

  /** q_bpe_train: the REAL iterative BPE trainer (Sennrich ACL'16) —
    * [[BpeTrainRounds]] rounds of count-all-adjacent-pairs → take the
    * argmax → apply the merge to the dictionary → recount. This is
    * the refit loop q_bpe_pairs' one-shot ranking approximates (its
    * scaladoc says so); after the first round the two diverge, because
    * a merge changes the pair census it was counted under. Output is
    * the trained merge table: one row per round with the winning pair,
    * its count AT SELECTION TIME, and the merged token.
    *
    * Scale shape — the trick every production BPE trainer uses: all
    * rounds run on the distinct-WORD dictionary weighted by frequency
    * (Zipf-bounded; millions of entries at 100 TB), never on corpus
    * rows. Each round is one narrow two-phase pair agg + a 1-row
    * argmax collect (the merge decision is inherently global and
    * sequential — the driver holds one row per round, nothing more),
    * and the dictionary localCheckpoints so lineage stays flat across
    * rounds. Pair counting is per adjacent position (overlaps count);
    * the merge pass is leftmost-non-overlapping literal replace —
    * both pinned, shared bit-for-bit by the oracle's unrolled CTEs.
    * Ties break (count DESC, a ASC, b ASC). */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    var dict = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("n_word"))
      .select(col("n_word"),
        concat(lit(" "), array_join(split(col("word"), ""), " "), lit(" ")).as("s"))
      .localCheckpoint()
    val merges = (1 to BpeTrainRounds).map { round =>
      val best = dict
        .select(col("n_word"), split(trim(col("s")), " ").as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("n_word"), explode(expr(
          "transform(sequence(0, size(t) - 2), i -> struct(t[i] as a, t[i+1] as b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("n_word").as("n_occ"))
        .orderBy(col("n_occ").desc, col("a").asc, col("b").asc)
        .limit(1).collect()(0)
      val (a, b) = (best.getString(0), best.getString(1))
      dict = dict
        .withColumn("s", replace(col("s"), lit(s" $a $b "), lit(s" $a$b ")))
        .localCheckpoint()
      (round.toLong, a, b, a + b, best.getLong(2))
    }
    merges.toDF("round", "pair_a", "pair_b", "merged", "n_occ")
      .orderBy("round")
  }

  /** The q_bpe_train oracle: the same rounds UNROLLED as CTE pairs
    * (dict_k, best_k) — the q_pagerank oracle strategy. */
  private def bpeTrainOracleSql: String = {
    val init =
      s"""dict0 AS (
         |  SELECT n_word,
         |    ' ' || array_to_string([word[i] for i in range(1, len(word)+1)], ' ') || ' ' AS s
         |  FROM (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_word FROM (
         |      SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |    WHERE len(word) >= 2 GROUP BY word))""".stripMargin
    val rounds = (1 to BpeTrainRounds).map { k =>
      s"""best$k AS (
         |  SELECT a, b, CAST(SUM(n_word) AS BIGINT) AS n_occ
         |  FROM (
         |    SELECT t[i] AS a, t[i+1] AS b, n_word
         |    FROM (SELECT n_word, string_split(trim(s), ' ') AS t FROM dict${k - 1}),
         |         LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i))
         |  GROUP BY a, b
         |  ORDER BY n_occ DESC, a ASC, b ASC LIMIT 1),
         |dict$k AS (
         |  SELECT n_word,
         |    replace(s, ' ' || bb.a || ' ' || bb.b || ' ', ' ' || bb.a || bb.b || ' ') AS s
         |  FROM dict${k - 1}, best$k bb)""".stripMargin
    }
    val sel = (1 to BpeTrainRounds).map(k =>
      s"SELECT CAST($k AS BIGINT) AS round, a AS pair_a, b AS pair_b, " +
        s"a || b AS merged, n_occ FROM best$k")
      .mkString("\nUNION ALL\n")
    s"WITH $init,\n${rounds.mkString(",\n")}\n$sel\nORDER BY round"
  }

  /** HLL buckets (2⁸) for q_hll_distinct, and α·m² precomputed once
    * so Spark and the oracle share the identical double constant. */
  private[graft] val HllM = 256
  private[graft] val HllAlphaM2 = 0.7213 / (1.0 + 1.079 / HllM) * HllM * HllM

  /** q_hll_distinct: HyperLogLog distinct-count sketch (Flajolet et
    * al. 2007) per language over word 3-shingles — the bounded-state
    * approximate-distinct path q_profile_table documents for 100 TB
    * (exact COUNT DISTINCT shuffles every distinct value; the sketch
    * shuffles ≤ [[HllM]] registers per group, mergeable and
    * streaming-compatible, since per-bucket MAX is associative).
    *
    * Every step is DETERMINISTIC, so the sketch itself is value-
    * oracled (not just error-bounded): bucket = first 2 md5 hex chars;
    * the rank rho = leading-zero count of the next 56 bits is computed
    * on the HEX STRING (4·leading-'0'-digits + a 16-way CASE on the
    * first non-zero digit) — pure string/integer ops, no float bit
    * tricks; harmonic terms floor-scale to e6 integers BEFORE the
    * per-group sum (the q_lm_quality rule: no order-dependent double
    * sums); the final estimate (with the standard linear-counting
    * switch for the small regime) is one shared double expression over
    * those integers. The exact distinct count rides along for
    * reference — at 100 TB you'd drop that column; the spec pins
    * relative error ≤ 10% (theory: 1.04/√m ≈ 6.5%). */
  /** Bucket + rank columns for one shingle in `tok` (shared by the
    * batch query and the streaming variant — one definition). */
  private[graft] def hllBucket: Column =
    conv(substring(md5(col("tok")), 1, 2), 16, 10).cast("long")
  private[graft] def hllRho: Column =
    (expr("""4 * (14 - length(ltrim('0', substr(md5(tok), 3, 14))))""") +
      expr("""CASE substr(concat(ltrim('0', substr(md5(tok), 3, 14)), 'f'), 1, 1)
             |  WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
             |  WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
             |  ELSE 0 END""".stripMargin) + 1).cast("long")

  /** Registers (lang, bucket, m) → (lang, v, s_e6, hll_est): the
    * harmonic estimate with the standard linear-counting switch. */
  private[graft] def hllFinish(regs: DataFrame): DataFrame = {
    val stats = regs.groupBy("lang")
      .agg(count(lit(1)).as("v"),
        sum(floor(lit(1e6) / pow(lit(2.0), col("m")) + 0.5).cast("long")).as("s_e6"))
    val raw = floor(lit(HllAlphaM2) * 1e6 /
      (col("s_e6").cast("double") + (lit(HllM) - col("v")) * 1e6) + 0.5).cast("long")
    val lc = floor(lit(HllM.toDouble) *
      log(lit(HllM.toDouble) / (lit(HllM) - col("v")).cast("double")) + 0.5).cast("long")
    stats.withColumn("hll_est",
      when(col("v") < HllM && raw <= lit((2.5 * HllM).toLong), lc).otherwise(raw))
  }

  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"),
        explode(array_distinct(
          graft.functions.WordShingles.wordShingles(col("text"), 3))).as("tok"))
      .distinct()
    val regs = toks
      .withColumn("bucket", hllBucket)
      .withColumn("r", hllRho)
      .groupBy("lang", "bucket").agg(max("r").as("m"))
    val exact = toks.groupBy("lang").agg(count_distinct(col("tok")).as("exact_distinct"))
    exact.join(hllFinish(regs), "lang")
      .select(col("lang"), col("exact_distinct"), col("v"), col("s_e6"), col("hll_est"))
      .orderBy("lang")
  }

  /** q_zipf_spectrum: Zipf/power-law corpus diagnostics WITHOUT a
    * global rank sort — the frequency SPECTRUM (how many distinct
    * word shingles occur exactly f times) is a pure two-phase
    * double-aggregation (corpus → (gram, freq) → (freq, m_f)), and for
    * a Zipf corpus log m_f is linear in log f (spectrum slope
    * ≈ −(1+1/s)). The least-squares fit runs over e3-scaled INTEGER
    * log points (floored per point, then exact integer Σx/Σy/Σxy/Σx² —
    * the q_lm_quality rule), so the e6 slope is bit-exact. The sums
    * themselves fit Long at any realistic spectrum size (|x| ≤ ~3·10⁴,
    * points ≤ distinct frequencies ~10⁷), but n·Σxy and the ×10⁶ of
    * the final division do NOT — they cross 2⁶³ around 10⁶ spectrum
    * points and would THROW under ANSI — so the slope arithmetic runs
    * in decimal(38,0) and only the bounded slope_e6 (≈ −(1+1/s)·10⁶,
    * a few million) returns to Long. The rank-sorted formulation would
    * need a corpus-wide ORDER BY frequency; the spectrum needs no
    * order at all — that's what survives 100 TB. */
  def zipfSpectrum(spark: SparkSession, dir: String): DataFrame = {
    val freqs = Tables.documents(spark, dir)
      .select(explode(
        graft.functions.WordShingles.wordShingles(col("text"), 3)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("f"))
    val spectrum = freqs.groupBy("f").agg(count(lit(1)).as("m"))
      .select(col("f"), col("m"),
        floor(log(col("f").cast("double")) * 1e3 + 0.5).cast("long").as("x"),
        floor(log(col("m").cast("double")) * 1e3 + 0.5).cast("long").as("y"))
    spectrum.agg(
      count(lit(1)).as("n_points"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope_e6", expr(
        """((CAST(n_points AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)
          |  * 1000000)
          | div (CAST(n_points AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
          |""".stripMargin.replace('\n', ' ')))
  }

  /** Order statistics used by the Hill estimator (pinned — the
    * oracle embeds it). */
  private[graft] val HillK = 200

  /** q_hill_tail: Hill estimator of the token-frequency tail exponent
    * — the maximum-likelihood power-law fit over the top-[[HillK]]
    * order statistics (Hill, Ann. Statist. 1975), the rigorous
    * companion to q_zipf_spectrum's least-squares slope (binned LS
    * over log-log spectra is known-biased; Hill over the upper order
    * statistics is the estimator the heavy-tail literature actually
    * trusts). α̂ = k / Σᵢ₌₁..k (ln fᵢ − ln f₍ₖ₊₁₎) over the k largest
    * frequencies, with f₍ₖ₊₁₎ the cutoff xmin. A vocabulary whose α
    * drifts round-over-round is the early-warning for template flood
    * or dedup regression — same dashboard as q_heaps_growth.
    *
    * Exactness: per-token ln f is floored ONCE to an e6 integer
    * (the q_zipf_spectrum convention), so the order-statistic sums
    * are exact integers and the final ratio is a div — bit-stable
    * regardless of summation order. Ties at the cutoff are harmless:
    * tied rows share the same l, so "top k" is well-defined on sums.
    *
    * Scale shape: token explode → two-phase (tok) count — the
    * q_token_search postings shuffle, ∝ distinct tokens; the top-
    * (k+1) is TakeOrdered (heap per partition + driver merge of
    * k+1-row slices, never a global sort); the finish is a 201-row
    * local aggregate. At 100 TB the only corpus-scale stage is the
    * token count every sibling query already pays. */
  def hillTail(spark: SparkSession, dir: String): DataFrame = {
    val freqs = Tables.documents(spark, dir)
      .select(explode(
        regexp_extract_all(col("text"), lit(TokenRe), lit(0))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
    val nv = freqs.agg(count(lit(1)).as("n_vocab"))
    val top = freqs.orderBy(col("f").desc, col("tok").asc).limit(HillK + 1)
      .select(col("f"),
        floor(log(col("f").cast("double")) * 1e6 + 0.5).cast("long").as("l"))
    top.agg(count(lit(1)).as("cnt"), sum("l").as("sum_l"),
        min("f").as("xmin"), min("l").as("lmin"))
      .crossJoin(broadcast(nv))
      // Σ_topk (lᵢ − lmin) = (sum_l − lmin) − k·lmin; a flat cutoff
      // window (all 201 tied) leaves α undefined — report −1
      .withColumn("k", col("cnt") - 1)
      .withColumn("alpha_e6", expr(
        """case when sum_l - lmin - k * lmin = 0 then cast(-1 as bigint)
          |else cast(k * 1000000000000 div (sum_l - lmin - k * lmin)
          |          as bigint) end""".stripMargin.replace('\n', ' ')))
      .select("n_vocab", "k", "xmin", "alpha_e6")
  }

  /** Keywords kept per document by q_doc_keywords (pinned — the
    * oracle embeds it). */
  private[graft] val KeywordK = 3

  /** q_doc_keywords: per-document top-[[KeywordK]] TF-IDF keywords —
    * the per-doc salient-term tags a corpus browser or weak labeler
    * reads (q_tfidf_topk ranks feature BUCKETS corpus-wide; this ranks
    * TERMS per document). idf = ⌊log2((N+1)/(df+1))·10⁶+0.5⌋ via the
    * integer shift-and-square kernel (Curation.lmBitsE6 — no libm
    * log2 in either engine), computed once per term so
    * score_e6 = tf · idf_e6 is exact integer arithmetic and the
    * per-doc ranking (score desc, token asc) is bit-stable in both
    * engines.
    *
    * Scale shape: tf is a two-phase groupBy on (doc, token); df a
    * second on token; they meet on a token-keyed postings equi-join
    * (shuffle ∝ distinct (doc,token) pairs, never raw tokens); the
    * corpus size is a one-row broadcast; per-doc top-K is a window
    * partitioned by doc_id — embarrassingly parallel across docs. */
  def docKeywords(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val nd = tf.agg(count_distinct(col("doc_id")).as("n_docs"))
    // IDF once per vocab TYPE (the q_lm_quality bits-per-type rule) on
    // the integer shift-and-square log2 kernel — no libm log2 in
    // either engine's scoring path (df ≤ n_docs, so lmBitsE6's
    // non-negative b ≥ a contract holds)
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd))
      .withColumn("idf_e6", expr(graft.operators.Curation.lmBitsE6(
        "n_docs + 1", "df + 1", duck = false)))
      .select("tok", "df", "idf_e6")
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_e6").desc, col("tok").asc)
    tf.join(dfreq, "tok")
      .withColumn("score_e6", col("tf") * col("idf_e6"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= KeywordK)
      .select(col("doc_id"), col("rank"), col("tok"), col("tf"),
        col("df"), col("score_e6"))
      .orderBy("doc_id", "rank")
  }

  /** Low-entropy alarm floor for q_char_entropy (e6 bits/char): natural
    * prose sits near 4 bits/char; repeated-template boilerplate and
    * degenerate spam fall well under 3. Pinned — the oracle embeds it. */
  private[graft] val EntropyAlarmE6 = 3000000L

  /** q_char_entropy: per-document character-level Shannon entropy —
    * the compressibility signal quality filters pair with repetition
    * ratios (cf. Gopher/C4-style heuristics): near-zero entropy means
    * the document is one repeated template; unusually high means
    * base64/binary junk. H = Σ_c (n_c/N)·log2(N/n_c) over the per-doc
    * character histogram.
    *
    * Determinism (the q_lm_quality rule): each histogram term is an
    * e6 INTEGER from the shift-and-square kernel
    * (Curation.entropyTermE6 — no libm log2 in either engine, so a
    * 1-ulp transcendental disagreement can't flip a floor boundary
    * data-dependently) before the per-doc sum, so no cross-row double
    * accumulation can go partition-order nondeterministic; the
    * corpus is ASCII so Spark's UTF-16 code-unit split and DuckDB's
    * codepoint split see identical characters.
    *
    * Scale shape: one explode + two-phase groupBy on (doc_id, char) —
    * shuffle ∝ docs × alphabet (the histogram, not the text); the
    * per-doc totals ride a window over the SAME doc_id partitioning,
    * and the final rollup re-uses it. No joins, nothing ordered
    * globally. */
  def charEntropy(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "") // empty doc → zero rows in both engines
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("n"))
    val byDoc = Window.partitionBy("doc_id")
    hist
      .withColumn("nn", sum("n").over(byDoc))
      .withColumn("term_e6",
        expr(graft.operators.Curation.entropyTermE6("n", "nn", duck = false)))
      .groupBy("doc_id")
      .agg(max("nn").as("n_chars"),
        count(lit(1)).as("n_distinct"),
        sum("term_e6").as("ent_e6"))
      .withColumn("low_entropy", col("ent_e6") < EntropyAlarmE6)
      .orderBy("doc_id")
  }

  /** Min-frequency thresholds for q_vocab_coverage. */
  private val CoverageThresholds = Seq(2L, 5L, 10L, 50L)

  /** q_vocab_coverage: token coverage by minimum word frequency — for
    * each threshold T, what fraction of corpus TOKENS belongs to words
    * occurring ≥ T times (the OOV-rate curve that sets a tokenizer's
    * vocabulary cutoff). Rank-free by design: "top-N words" needs a
    * global sort; "words with freq ≥ T" is a filter over the word
    * dictionary — two two-phase aggs and a broadcast-sized spectrum,
    * nothing ordered. All counts exact integers; the coverage ratio is
    * e6 integer division. The four thresholds share ONE aggregation
    * (conditional sums per threshold, unpivoted by stack) — a
    * per-threshold agg would re-run the corpus explode + word groupBy
    * once per curve point. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    val perT = CoverageThresholds.flatMap { t =>
      Seq(sum(when(col("f") >= t, lit(1L)).otherwise(0L)).as(s"kept_$t"),
        sum(when(col("f") >= t, col("f")).otherwise(0L)).as(s"tok_$t"))
    }
    val totals = Seq(count(lit(1)).as("n_words_total"), sum("f").as("tokens_total"))
    val aggs = perT ++ totals
    val one = words.agg(aggs.head, aggs.tail: _*)
    val stackArgs = CoverageThresholds
      .map(t => s"CAST($t AS BIGINT), kept_$t, tok_$t").mkString(", ")
    one.selectExpr(
      s"stack(${CoverageThresholds.size}, $stackArgs)" +
        " AS (min_freq, n_words_kept, tokens_kept)",
      "n_words_total", "tokens_total")
      // decimal: tokens_kept × 10⁶ crosses 2⁶³ near 10¹³ corpus tokens
      // (a ~40 TB text corpus) and ANSI would throw, not wrap
      .withColumn("coverage_e6",
        expr("(CAST(tokens_kept AS DECIMAL(38,0)) * 1000000) div tokens_total"))
      .orderBy("min_freq")
  }

  /** Sample size per language for q_reservoir. */
  private val ReservoirK = 20
  private val Pack = 1099511627776L // 2^40: doc_id field width in the packed key

  /** q_reservoir: deterministic bounded per-group sampling — the
    * [[ReservoirK]] docs per language with the smallest md5 draws (the
    * labeled-audit / eyeball-sample extraction every 100 TB pipeline
    * needs; salted md5 so the draw is independent of q_sample_split's).
    *
    * Scale shape: a naive per-group row_number window sorts EVERY row
    * of a language partition; here each (draw, doc_id) packs into one
    * long (draw·2⁴⁰ + id — ids are bounded ≪ 2⁴⁰) and the group's k
    * smallest flow through [[graft.functions.CappedSortedIds]] — the
    * O(k)-buffer TypedImperativeAggregate from the LSH hot-bucket cap:
    * map-side partials shrink before the shuffle, memory stays O(k)
    * per group however large the language is. Unpacking posexplodes
    * the k-element array back to ranked rows. */
  def reservoir(spark: SparkSession, dir: String): DataFrame = {
    val packed = Tables.documents(spark, dir)
      .select(col("lang"),
        (expr("cast(conv(substr(md5(concat('smp', cast(doc_id as string))), 1, 15), 16, 10) as bigint) % 1000000")
          * Pack + col("doc_id")).as("packed"))
    packed.groupBy("lang")
      .agg(graft.functions.CappedSortedIds
        .cappedSortedIds(col("packed"), ReservoirK).as("ids"))
      .select(col("lang"), posexplode(col("ids")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        expr(s"col % $Pack").as("doc_id"),
        expr(s"col div $Pack").as("draw"))
      .orderBy("lang", "rank")
  }

  /** Collocation support floor + result cap for q_pmi. */
  private val PmiMinPair = 5
  private val PmiTopK = 100

  /** q_pmi: collocation mining — pointwise mutual information of
    * adjacent word pairs, PMI(w₁w₂) = log₂(p(w₁w₂)/(p(w₁)p(w₂)))
    * (Church & Hanks 1990), the statistic behind phrase detection /
    * multi-word tokenizer entries. High-PMI pairs co-occur far more
    * than their unigram frequencies predict.
    *
    * Scale shape: bigram + unigram counts are both two-phase aggs
    * (shuffle ∝ distinct grams, Zipf-bounded); the PMI join attaches
    * the two unigram counts by their natural keys (w1, w2 equi-joins —
    * the unigram table is dictionary-sized, broadcast at sandbox scale,
    * plain shuffle join when a 100 TB vocabulary outgrows broadcast);
    * corpus totals are a 1-row cross join. One SIGNED integer
    * log-ratio per surviving pair (Curation.log2RatioSignedE6, three
    * log terms per side — no libm log2 in either engine, so the
    * ranked e6 floor can't flip on a 1-ulp transcendental
    * disagreement); the ≥ [[PmiMinPair]]
    * support floor is standard (PMI of hapax pairs is noise) and keeps
    * the ranked result ∝ genuinely frequent pairs. Top-K is
    * TakeOrderedAndProject, never a global sort. */
  def pmi(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(split(col("text"), " ").as("ws"))
    val unigrams = words.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val bigrams = words.filter(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ws")) - 1),
        i => concat(element_at(col("ws"), i), lit(" "),
          element_at(col("ws"), i + 1)))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c2"))
    val totals = unigrams.agg(sum("c1").as("t1"))
      .crossJoin(bigrams.agg(sum("c2").as("t2")))
    bigrams.filter(col("c2") >= PmiMinPair)
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(unigrams.withColumnRenamed("w", "w1").withColumnRenamed("c1", "c1a"), Seq("w1"))
      .join(unigrams.withColumnRenamed("w", "w2").withColumnRenamed("c1", "c1b"), Seq("w2"))
      .crossJoin(broadcast(totals))
      // signed integer log-ratio, three log terms per side (the
      // q_dsir_weights kernel generalized) — no libm log2 in either
      // engine's scoring path
      .withColumn("pmi_e6", expr(graft.operators.Curation.log2RatioSignedE6(
        Seq("c2", "t1", "t1"), Seq("t2", "c1a", "c1b"), duck = false)))
      .select(col("bg"), col("c2"), col("c1a"), col("c1b"), col("pmi_e6"))
      .orderBy(col("pmi_e6").desc, col("bg").asc)
      .limit(PmiTopK)
  }

  /** q_heaps_growth: the Heaps-law vocabulary growth curve — how
    * distinct vocabulary accumulates as the corpus is read in doc_id
    * order, reported at ten cumulative checkpoints (id-range deciles).
    * The third leg of the corpus-statistics triad: q_zipf_spectrum
    * fits the frequency law, q_vocab_coverage cuts it by threshold,
    * this one answers "how fast does NEW vocabulary keep arriving?" —
    * the curve that sizes a tokenizer's vocab budget and flags a
    * saturating (template-heavy) corpus.
    *
    * Scale shape: NO cumulative distinct anywhere — each token
    * contributes exactly once via its FIRST document (a two-phase
    * min-aggregate), so vocab-at-checkpoint is a plain count by
    * first-occurrence decile. One explode + two two-phase aggregates;
    * the only window is the cumsum over the TEN decile rows (a
    * single-partition exchange of 10 rows — constant at any corpus
    * size). The id-range decile needs no rank: (doc_id·10) div
    * (max_id+1) is map-side arithmetic against one broadcast bound. */
  def heapsGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("arr"))
    val bound = docs.agg((max("doc_id") + 1).as("n_ids"))
    val perDecile = docs
      .select(col("doc_id"), size(col("arr")).cast("long").as("n_tok"))
      .crossJoin(broadcast(bound))
      .withColumn("decile", expr("(doc_id * 10) div n_ids"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_toks"))
    val firsts = docs.select(col("doc_id"), explode(col("arr")).as("tok"))
      .groupBy("tok").agg(min("doc_id").as("first_doc"))
      .crossJoin(broadcast(bound))
      .withColumn("decile", expr("(first_doc * 10) div n_ids"))
      .groupBy("decile").agg(count(lit(1)).as("new_vocab"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDecile.join(firsts, Seq("decile"), "left")
      .na.fill(0L, Seq("new_vocab"))
      .select(col("decile"),
        sum("n_docs").over(w).as("docs_cum"),
        sum("n_toks").over(w).as("toks_cum"),
        sum("new_vocab").over(w).as("vocab_cum"))
      .orderBy("decile")
  }

  /** q_readability: Flesch-Kincaid grade per (source, lang) — words as
    * letter runs, sentences as terminator runs, syllables as vowel
    * groups (the standard dictionary-free heuristic), per-doc grade in
    * exact e3 integers: 0.39·W/S + 11.8·Y/W − 15.59 becomes
    * 390·W div S + 11800·Y div W − 15590 (each ratio floored — the
    * deterministic cousin of the float formula). The curation
    * companion to q_quality_score: quality filters junk, readability
    * grades the survivors for audience targeting / difficulty-mix
    * reporting.
    *
    * Scale shape: map-only per-doc regex counting fused into the scan
    * (three regexp_counts, no explode — the doc never tokenizes into
    * rows), then ONE two-phase agg on the catalog-sized (source, lang)
    * key. Aggregate ratios are div-of-sums, so the group figures are
    * exact too; sums cast to decimal(38,0) before the e3 scale-up
    * (Σwords · 11800 crosses 2⁶³ at corpus scale — ANSI-throw). */
  def readability(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        expr("regexp_count(text, '[A-Za-z]+')").cast("long").as("w"),
        expr("regexp_count(text, '[.!?]+')").cast("long").as("s_runs"),
        expr("regexp_count(lower(text), '[aeiouy]+')").cast("long").as("y"))
      .filter(col("w") > 0)
      // terminator-free text (transcripts, this synthetic corpus) falls
      // back to fixed 16-word pseudo-sentences — FK is undefined at
      // S = 0 and dropping such docs would silently skew the mix report
      .withColumn("s", expr("if(s_runs > 0, s_runs, (w + 15) div 16)"))
      .withColumn("grade_e3",
        expr("(390 * w) div s + (11800 * y) div w - 15590"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("w").as("n_words"), sum("s").as("n_sentences"),
        sum("y").as("n_syllables"),
        expr("sum(grade_e3) div count(1)").as("mean_grade_e3"))
      .withColumn("wps_e3", expr(
        "cast((cast(n_words as decimal(38,0)) * 1000) div n_sentences as bigint)"))
      .withColumn("spw_e3", expr(
        "cast((cast(n_syllables as decimal(38,0)) * 1000) div n_words as bigint)"))
      .orderBy("source", "lang")

  /** q_nb_langid: a multinomial Naive Bayes language classifier
    * trained AND applied entirely as relational algebra — no ML
    * library, no iteration: train on even doc_ids (per-(lang, token)
    * counts + add-one smoothing), score odd doc_ids in e3-integer log
    * space (the q_elasticity ln-kernel convention: floor(ln·10³+0.5)
    * per term, exact integer sums after), argmax with a pinned
    * (score desc, lang asc) tie-break, and report the confusion
    * matrix with e6 row shares. The TRAINED counterpart of
    * q_lang_id's fixed heuristic — same task, model estimated from
    * the corpus itself, quality readable off the diagonal.
    *
    * Scale shape: training is one two-phase (lang, token) agg; the
    * model head (priors, totals, defaults — one row per language) and
    * the test fan-out (langs × tokens) are catalog-bounded broadcasts;
    * the per-token log-probability table is Zipf-bounded and joins
    * the test tokens by EQUI-join (never broadcast — vocab grows with
    * corpus); per-doc sums are two-phase; the only window partitions
    * by doc_id (high-cardinality key, bounded rows per doc). */
  def nbLangid(spark: SparkSession, dir: String): DataFrame =
    nbScores(spark, dir)
      .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("score_e3").desc, col("model_lang").asc)))
      .filter(col("rn") === 1)
      .groupBy(col("actual"), col("model_lang").as("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("row_total", sum("n_docs").over(Window.partitionBy("actual")))
      .withColumn("p_e6", expr("(n_docs * 1000000) div row_total"))
      .orderBy("actual", "predicted")

  /** q_kappa: Cohen's κ between the two deployed language
    * classifiers — the n-gram heuristic ([[langId]]) and the trained
    * naive Bayes ([[nbLangid]]) — on the NB test half (odd doc_ids).
    * Accuracy-vs-truth (q_eval_metrics, the confusion matrices) can't
    * answer the ROUTING question "do the cheap and the expensive
    * model agree enough to gate one behind the other?": κ is the
    * chance-corrected agreement (Cohen 1960), κ = (p_o − p_e)/(1 −
    * p_e) with p_e from the two prediction marginals — the standard
    * annotator/classifier-agreement audit every labeling pipeline
    * runs before trusting auto-labels.
    *
    * Exactness: the agreement census, both marginals, and the cross
    * mass Σ_l m_h(l)·m_nb(l) are exact integers (decimal(38,0)/
    * HUGEINT for the n² terms); κ_e6 = (agree·n − cross)·10⁶ div
    * (n² − cross) is ONE truncating division, negative-safe. The
    * both-constant-same-class degenerate (n² = cross) pins to 10⁶.
    *
    * Scale shape: both classifiers are the corpus-scan kernels their
    * own queries pay (the NB side reuses [[nbScores]] verbatim, so
    * the audited model IS the deployed one); after the per-doc argmax
    * the census is one |langs|² two-phase agg, and everything beyond
    * it is constant-size arithmetic on that ≤25-cell grid. */
  def kappaAgreement(spark: SparkSession, dir: String): DataFrame = {
    val heur = langId(spark, dir).filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("pred_lang").as("pred_h"))
    val nb = nbScores(spark, dir)
      .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("score_e3").desc, col("model_lang").asc)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("model_lang").as("pred_n"))
    val cm = heur.join(nb, "doc_id").groupBy("pred_h", "pred_n")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // ≤ |langs|² cells; census + both marginals
    val s = cm.agg(sum("c").as("n"),
      coalesce(sum(when(col("pred_h") === col("pred_n"), col("c"))),
        lit(0L)).as("agree"))
    val cross = cm.groupBy(col("pred_h").as("l")).agg(sum("c").as("ma"))
      .join(cm.groupBy(col("pred_n").as("l")).agg(sum("c").as("mb")), "l")
      .agg(coalesce(sum(expr("cast(ma as decimal(38,0)) * mb")),
        expr("cast(0 as decimal(38,0))")).as("cross_m"))
    s.crossJoin(broadcast(cross))
      .select(col("n"), col("agree"),
        expr("cast(agree * 1000000 div n as bigint)").as("po_e6"),
        expr("""cast(cross_m * 1000000 div
          | (cast(n as decimal(38,0)) * n) as bigint)"""
          .stripMargin.replace('\n', ' ')).as("pe_e6"),
        expr("""case when cast(n as decimal(38,0)) * n - cross_m = 0
          | then cast(1000000 as bigint)
          | else cast(((cast(agree as decimal(38,0)) * n - cross_m)
          |   * 1000000) div (cast(n as decimal(38,0)) * n - cross_m)
          |   as bigint) end""".stripMargin.replace('\n', ' '))
          .as("kappa_e6"))
  }

  /** The NB scorer kernel — per (test doc, candidate language) total
    * log-score, SHARED by [[nbLangid]] (argmax → confusion) and
    * [[calibration]] (top-2 margin → reliability bins) so the audited
    * model is exactly the deployed one. */
  private[graft] def nbScores(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
    val train = docs.filter(col("doc_id") % 2 === 0)
    val counts = train.select(col("lang"), explode(col("toks")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // reused: totals, vocab, and the lp table
    val totals = counts.groupBy("lang").agg(sum("cnt").as("tot"))
    val vocab = counts.select("tok").distinct().agg(count(lit(1)).as("v"))
    val priors = train.groupBy("lang").agg(count(lit(1)).as("nd"))
    val nTrain = train.agg(count(lit(1)).as("n"))
    val model = totals.crossJoin(broadcast(vocab))
      .join(priors, "lang").crossJoin(broadcast(nTrain))
      .select(col("lang"), col("tot"), col("v"),
        floor(log(col("nd").cast("double") / col("n")) * 1e3 + 0.5)
          .cast("long").as("prior_e3"),
        floor(log(lit(1.0) / (col("tot") + col("v"))) * 1e3 + 0.5)
          .cast("long").as("default_e3"))
      .localCheckpoint() // one row per language
    val lp = counts.join(broadcast(model.select("lang", "tot", "v")), "lang")
      .select(col("lang").as("model_lang"), col("tok"),
        floor(log((col("cnt") + 1).cast("double") / (col("tot") + col("v")))
          * 1e3 + 0.5).cast("long").as("lp_e3"))
    val scored = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang").as("actual"),
        explode(col("toks")).as("tok"))
      .crossJoin(broadcast(model
        .select(col("lang").as("model_lang"), col("default_e3"))))
      .join(lp, Seq("model_lang", "tok"), "left")
      .select(col("doc_id"), col("actual"), col("model_lang"),
        coalesce(col("lp_e3"), col("default_e3")).as("c"))
      .groupBy("doc_id", "actual", "model_lang").agg(sum("c").as("s"))
      .join(broadcast(model.select(col("lang").as("model_lang"),
        col("prior_e3"))), "model_lang")
      .withColumn("score_e3", col("s") + col("prior_e3"))
    scored.select("doc_id", "actual", "model_lang", "score_e3")
  }

  /** Reliability-diagram bin count for q_calibration. */
  private[graft] val CalibBins = 10L

  /** The top-2 margin table over [[nbScores]] — per held-out doc the
    * predicted language, top-1−top-2 log-score margin, and
    * correctness bit. SHARED by [[calibration]] (reliability bins)
    * and [[labelErrors]] (confident-disagreement mining) so both
    * audit exactly the deployed scorer. */
  private[graft] def nbMargins(spark: SparkSession, dir: String): DataFrame = {
    val ranked = nbScores(spark, dir)
      .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("score_e3").desc, col("model_lang").asc)))
      .filter(col("rn") <= 2)
    ranked.groupBy("doc_id", "actual")
      .agg(
        max(when(col("rn") === 1, col("model_lang"))).as("predicted"),
        max(when(col("rn") === 1, col("score_e3"))).as("s1"),
        max(when(col("rn") === 2, col("score_e3"))).as("s2"))
      .withColumn("margin_e3", col("s1") - col("s2"))
      .withColumn("ok", when(col("predicted") === col("actual"), 1L)
        .otherwise(0L))
  }

  /** Label-error candidates kept on the review board. */
  private[graft] val LabelErrK = 20

  /** q_label_errors: confident-learning label-error mining (Northcutt
    * et al. 2021, "Confident Learning", JAIR 70) reduced to its
    * ranking core — held-out docs where the trained NB classifier
    * DISAGREES with the stored label, ranked by the top-1−top-2
    * log-score margin: a high margin on a disagreement means the
    * model is confident the LABEL is wrong, which is exactly the
    * review queue a curation team works through before training on
    * the labels. Reuses the deployed scorer verbatim
    * ([[nbScores]] via [[nbMargins]]), so the mined errors are the
    * deployed model's opinion, not a sidecar's.
    *
    * Scale shape: everything up to the margin table is [[nbScores]]'
    * audited shape; the disagreement filter then cuts to candidates
    * and the top-[[LabelErrK]] board is TakeOrderedAndProject
    * (per-partition heap + driver merge — never a global sort); the
    * rank stamp is a window over the ≤ K board rows only. */
  def labelErrors(spark: SparkSession, dir: String): DataFrame = {
    val board = nbMargins(spark, dir)
      .filter(col("predicted") =!= col("actual"))
      .select("doc_id", "actual", "predicted", "margin_e3")
      .orderBy(col("margin_e3").desc, col("doc_id").asc)
      .limit(LabelErrK)
    board
      .withColumn("rank", row_number().over(
        Window.orderBy(col("margin_e3").desc, col("doc_id").asc)).cast("long"))
      .select("rank", "doc_id", "actual", "predicted", "margin_e3")
      .orderBy("rank")
  }

  /** q_calibration: the reliability audit of the NB language
    * classifier — is its CONFIDENCE trustworthy, not just its argmax?
    * Confidence is the top-1 − top-2 log-score MARGIN (an exact e3
    * integer, monotone in the posterior odds ratio — the calibration
    * axis that needs no exp(), which is not correctly rounded and
    * would split engines). Margins bin into [[CalibBins]] EQUAL-WIDTH
    * bins between the observed min and max (the reliability-diagram
    * convention), and each bin reports volume, accuracy, and its
    * margin range: a calibrated classifier shows accuracy rising with
    * the bin index; a flat profile means the margin is noise and
    * abstention thresholds are lies.
    *
    * Scale shape: the scorer kernel is [[nbScores]] (shared with
    * q_nb_langid); the only window partitions by doc_id (bounded rows
    * per doc = #languages); bin edges are a 1-row global aggregate
    * broadcast back (no global sort — equal-width bins, not ntile,
    * exactly so the corpus never orders by margin); the bin table is
    * a [[CalibBins]]-row two-phase agg. */
  def calibration(spark: SparkSession, dir: String): DataFrame = {
    val top = nbMargins(spark, dir)
    val edges = top.agg(min("margin_e3").as("lo"), max("margin_e3").as("hi"))
    top.crossJoin(broadcast(edges))
      // margin − lo ≥ 0, so truncating div = floor; hi lands in the
      // last bin because (hi−lo)·B < B·(hi−lo+1)
      .withColumn("bin",
        expr(s"((margin_e3 - lo) * $CalibBins) div (hi - lo + 1)"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("ok").as("n_correct"),
        min("margin_e3").as("margin_lo_e3"),
        max("margin_e3").as("margin_hi_e3"),
        expr("sum(margin_e3) div count(1)").as("mean_margin_e3"))
      .withColumn("acc_e6", expr("(n_correct * 1000000) div n_docs"))
      .select("bin", "n_docs", "n_correct", "acc_e6",
        "margin_lo_e3", "margin_hi_e3", "mean_margin_e3")
      .orderBy("bin")
  }

  /** q_good_turing: per-language Good–Turing unseen-token mass and
    * Chao1 vocabulary-richness estimate off the word-frequency
    * spectrum — the "how much of this language's vocabulary has the
    * crawl actually seen?" report (q_vocab_coverage cuts the census
    * by observed min-frequency; this row estimates the UNOBSERVED
    * remainder) that decides whether MORE data or
    * BETTER data is the next token buy (large unseen mass = keep
    * crawling; small = curate). P(unseen) = N₁/N (Good 1953: the
    * singleton mass is the MLE of what the next token being novel),
    * Chao1 = V + N₁(N₁−1)/(2(N₂+1)) (bias-corrected form — defined
    * even when no doubletons exist), vocab_deficit = (Chao1 − V)/
    * Chao1 — the estimated fraction of the language's vocabulary the
    * corpus has never observed.
    *
    * Exactness: every statistic is exact integer counts and ONE
    * truncating division each — no IEEE anywhere.
    *
    * Scale shape: one token scan → the (lang, token) two-phase census
    * (shuffle ∝ distinct vocab, not tokens) → a per-lang agg over the
    * frequency column; the spectrum reduction (N/V/N₁/N₂) is
    * conditional counting inside ONE agg, never a second corpus
    * pass. */
  def goodTuring(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
      .groupBy("lang").agg(
        sum("c").as("n_tok"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2"))
      .select(col("lang"), col("n_tok"), col("vocab"), col("n1"), col("n2"),
        expr("cast((n1 * 1000000) div n_tok as bigint)").as("p_unseen_e6"),
        expr("cast(vocab + (n1 * (n1 - 1)) div (2 * (n2 + 1)) as bigint)")
          .as("chao1"),
        expr("""cast(((vocab + (n1 * (n1 - 1)) div (2 * (n2 + 1)) - vocab)
          | * 1000000) div (vocab + (n1 * (n1 - 1)) div (2 * (n2 + 1)))
          | as bigint)""".stripMargin.replace('\n', ' '))
          .as("vocab_deficit_e6"))
      .orderBy("lang")

  /** The 52 ASCII letters, for the translate-based char-class counts
    * (translate deletes unmapped chars identically in Spark and
    * DuckDB — no regexp_replace, whose global-flag semantics DIFFER
    * between the engines). */
  private val AsciiLetters =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"

  /** The per-doc char-class census behind [[charsetAudit]] and the
    * at-ingest q_stream_charset: per source, exact counts of chars by
    * class. Char classes via translate-deletion (engine-identical);
    * non-ASCII presence via the UTF-8 byte overhead octet_length −
    * length, exact and identical in both engines. All sums additive
    * across micro-batches. */
  private[graft] def charsetCensus(docs: DataFrame): DataFrame = {
    val n = length(col("text")).cast("long")
    val letters = (n - length(translate(col("text"), AsciiLetters, "")))
      .cast("long")
    val digits = (n - length(translate(col("text"), "0123456789", "")))
      .cast("long")
    val spaces = (n - length(translate(col("text"), " ", ""))).cast("long")
    val overhead = (octet_length(col("text")) - length(col("text")))
      .cast("long")
    docs.select(col("source"), n.as("n"), letters.as("l"), digits.as("d"),
        spaces.as("s"), overhead.as("o"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_chars"),
        sum("l").as("n_letters"), sum("d").as("n_digits"),
        sum("s").as("n_spaces"),
        sum(when(col("o") > 0, 1L).otherwise(0L)).as("nonascii_docs"))
  }

  /** The e6 ratio finish over a converged charset census — shared by
    * batch and stream. A source whose every document is empty has
    * n_chars = 0: Spark's `div` would yield NULL where DuckDB's `//`
    * raises, so the zero census is pinned to 0 ratios in BOTH engines
    * (the honest report for "no bytes observed"). */
  private[graft] def charsetFinish(census: DataFrame): DataFrame = {
    def ratio(num: String): String =
      s"case when n_chars = 0 then 0L else ($num * 1000000) div n_chars end"
    census.select(col("source"), col("n_docs"), col("n_chars"),
        expr(ratio("n_letters")).as("letter_ratio_e6"),
        expr(ratio("n_digits")).as("digit_ratio_e6"),
        expr(ratio("n_spaces")).as("space_ratio_e6"),
        expr(ratio("(n_chars - n_letters - n_digits - n_spaces)"))
          .as("other_ratio_e6"),
        col("nonascii_docs"))
      .orderBy("source")
  }

  /** q_charset_audit: the CHARSET / CHARACTER-CLASS profile per crawl
    * source — the data-quality census an ingest pipeline reads before
    * trusting a source's text (a source whose letter ratio collapses
    * or whose non-ASCII doc count spikes changed its encoding or its
    * scraper broke; the byte-overhead column is the UTF-8 smoke
    * alarm). Complements q_lang_id (which words) at the level below:
    * which BYTES. All counts exact integers via translate-deletion —
    * deliberately NOT regexp_replace, whose global-replace semantics
    * differ between engines — and ratios are truncating e6 divisions.
    *
    * Scale shape: one map-side projection (four translate calls per
    * doc) + one per-source two-phase aggregate; output ∝ sources. */
  def charsetAudit(spark: SparkSession, dir: String): DataFrame =
    charsetFinish(charsetCensus(Tables.documents(spark, dir)))

  /** RAKE stopword delimiters — the q_quality_score stop list, shared
    * so the two operators' notion of "function word" cannot fork. */
  private val RakeStop = Seq("the", "a", "and", "of", "to")
  private val RakeTopN = 100

  /** q_rake_keywords: KEYPHRASE extraction by RAKE (Rose et al. 2010)
    * — candidate phrases are maximal runs of non-stopword tokens,
    * scored by Σ_w deg(w)/freq(w) (deg = total length of phrases the
    * word appears in, freq = its occurrence count): words that ride
    * in LONG phrases outscore frequent-but-alone words, which is
    * exactly what separates "machine learning pipeline" from "the".
    * q_doc_keywords ranks single words by TF-IDF; this is the
    * multiword complement — the corpus-level keyphrase table a
    * curation report or index builder reads.
    *
    * Integer-exact: each word's score is one truncating e6 division
    * of exact counts (decimal-guarded product), phrase scores are
    * integer sums, and the top-[[RakeTopN]] cut orders by the unique
    * (score, phrase-text) pair — no float, no unstable boundary.
    *
    * Scale shape: phrase segmentation is one per-doc cumulative-sum
    * window over token positions (shuffle ∝ tokens, keyed by doc);
    * word stats and phrase scores are two-phase aggregates on token
    * keys; the final cut is TakeOrdered(100), never a global sort. */
  def rakeKeywords(spark: SparkSession, dir: String): DataFrame = {
    val wD = Window.partitionBy("doc_id").orderBy("i")
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("p", "tok")))
      .withColumn("i", (col("p") + 1).cast("long"))
      .withColumn("is_stop",
        when(col("tok").isin(RakeStop.map(lit(_)): _*), 1L).otherwise(0L))
      .withColumn("pid", sum("is_stop").over(
        wD.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val mem = toks.filter(col("is_stop") === 0 && col("tok") =!= "")
      .select("doc_id", "pid", "i", "tok")
      .localCheckpoint() // word stats, phrase scores, phrase text
    val plen = mem.groupBy("doc_id", "pid").agg(count(lit(1)).as("plen"))
    val ws = mem.join(plen, Seq("doc_id", "pid"))
      .groupBy("tok").agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
    val psc = mem.join(ws, Seq("tok"))
      .groupBy("doc_id", "pid")
      .agg(sum(expr("cast(deg as decimal(38,0)) * 1000000 div freq"))
        .cast("long").as("score_e6"))
    val ptext = mem.groupBy("doc_id", "pid")
      .agg(expr(
        "concat_ws(' ', transform(sort_array(collect_list(struct(i, tok))), x -> x.tok))")
        .as("phrase"))
    ptext.join(psc, Seq("doc_id", "pid"))
      .groupBy("phrase")
      .agg(count(lit(1)).as("n_occ"), min("score_e6").as("score_e6"))
      .orderBy(col("score_e6").desc, col("phrase").asc)
      .limit(RakeTopN)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_rake_keywords" -> (rakeKeywords(_, _)),
    "q_charset_audit" -> (charsetAudit(_, _)),
    "q_good_turing" -> (goodTuring(_, _)),
    "q_nb_langid" -> (nbLangid(_, _)),
    "q_kappa" -> (kappaAgreement(_, _)),
    "q_calibration" -> (calibration(_, _)),
    "q_label_errors" -> (labelErrors(_, _)),
    "q_readability" -> (readability(_, _)),
    "q_heaps_growth" -> (heapsGrowth(_, _)),
    "q_pmi" -> (pmi(_, _)),
    "q_char_entropy" -> (charEntropy(_, _)),
    "q_doc_keywords" -> (docKeywords(_, _)),
    "q_hll_distinct" -> (hllDistinct(_, _)),
    "q_reservoir" -> (reservoir(_, _)),
    "q_zipf_spectrum" -> (zipfSpectrum(_, _)),
    "q_hill_tail" -> (hillTail(_, _)),
    "q_vocab_coverage" -> (vocabCoverage(_, _)),
    "q_bpe_encode" -> (bpeEncode(_, _)),
    "q_bpe_pairs" -> (bpePairs(_, _)),
    "q_bpe_train" -> (bpeTrain(_, _)),
    "q_quality_repetition" -> (qualityRepetition(_, _)),
    "q_pii_scrub" -> (piiScrub(_, _)),
    "q_pack_sequences" -> (packSequences(_, _)),
    "q_token_search" -> (tokenSearch(_, _)),
    "q_bm25_search" -> (bm25Search(_, _)),
    "q_ndcg" -> (ndcgEval(_, _)),
    "q_chunk_sliding" -> (chunkSliding(_, _)),
    "q_rank_fusion" -> (rankFusion(_, _)),
    "q_lang_id" -> (langId(_, _)),
    "q_quality_score" -> (qualityScore(_, _)),
    "q_token_count" -> (tokenCount(_, _)),
    "q_tokenizer_fertility" -> (tokenizerFertility(_, _)),
    "q_quantile_bins" -> (quantileBins(_, _)),
    "q_fingerprint" -> (fingerprint(_, _)),
    "q_token_hist" -> (tokenHist(_, _)),
    "q_sample_split" -> (sampleSplit(_, _)))

  private val profileSql: String = profiles.map { case (lang, grams) =>
    val sum = grams
      .map(g => s"(len(text) - len(regexp_replace(text, '$g', '', 'g'))) / 2")
      .mkString(" + ")
    s"CAST($sum AS BIGINT) AS s_$lang"
  }.mkString(",\n    ")

  /** The NB scorer as a WITH-chain ending in
    * scored(doc_id, actual, model_lang, score_e3) — composed verbatim
    * into BOTH the q_nb_langid and q_calibration oracles, mirroring
    * the shared [[nbScores]] kernel. */
  private val NbScoresOracleCore: String =
    """WITH d AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
      |tr AS (SELECT doc_id, lang, ts FROM d WHERE doc_id % 2 = 0),
      |counts AS (
      |  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM (SELECT lang, unnest(ts) AS tok FROM tr) GROUP BY lang, tok),
      |tot AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS tot
      |  FROM counts GROUP BY lang),
      |voc AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM counts),
      |pri AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nd FROM tr GROUP BY lang),
      |ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tr),
      |model AS (
      |  SELECT t.lang, t.tot, voc.v,
      |    CAST(floor(ln(CAST(pri.nd AS DOUBLE) / ntr.n) * 1e3 + 0.5)
      |      AS BIGINT) AS prior_e3,
      |    CAST(floor(ln(1.0 / (t.tot + voc.v)) * 1e3 + 0.5)
      |      AS BIGINT) AS default_e3
      |  FROM tot t CROSS JOIN voc JOIN pri ON pri.lang = t.lang CROSS JOIN ntr),
      |lp AS (
      |  SELECT c.lang AS model_lang, c.tok,
      |    CAST(floor(ln(CAST(c.cnt + 1 AS DOUBLE) / (m.tot + m.v)) * 1e3 + 0.5)
      |      AS BIGINT) AS lp_e3
      |  FROM counts c JOIN model m ON m.lang = c.lang),
      |sc AS (
      |  SELECT f.doc_id, f.actual, f.model_lang,
      |    CAST(SUM(COALESCE(lp.lp_e3, f.default_e3)) AS BIGINT) AS s
      |  FROM (
      |    SELECT t.doc_id, t.actual, m.lang AS model_lang, t.tok, m.default_e3
      |    FROM (SELECT doc_id, lang AS actual, unnest(ts) AS tok
      |          FROM d WHERE doc_id % 2 = 1) t
      |    CROSS JOIN model m) f
      |  LEFT JOIN lp ON lp.model_lang = f.model_lang AND lp.tok = f.tok
      |  GROUP BY f.doc_id, f.actual, f.model_lang),
      |scored AS (
      |  SELECT sc.doc_id, sc.actual, sc.model_lang,
      |    CAST(sc.s + m.prior_e3 AS BIGINT) AS score_e3
      |  FROM sc JOIN model m ON m.lang = sc.model_lang)""".stripMargin

  /** The q_bm25_search oracle body — also composed (verbatim) into
    * the q_rank_fusion oracle, so it cannot self-reference the map. */
  private val Bm25OracleSql: String =
    s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(ts) >= 3
         |    THEN [ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts) - 1)]
         |    ELSE [text] END)) AS tok
         |  FROM (SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents)),
         |dls AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
         |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dls),
         |dfs AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY tok),
         |idx AS (
         |  SELECT t.doc_id, t.tok, f.df, d.dl FROM toks t
         |  JOIN dfs f USING (tok) JOIN dls d USING (doc_id)
         |  WHERE f.df <= $SearchMaxDf),
         |q AS (
         |  SELECT doc_id AS query_id, tok FROM idx WHERE doc_id % 50 = 0),
         |scored AS (
         |  SELECT q.query_id, i.doc_id, CAST(COUNT(*) AS BIGINT) AS overlap,
         |    CAST(SUM(CAST(floor(
         |      ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(i.df AS DOUBLE) + 0.5)
         |          / (CAST(i.df AS DOUBLE) + 0.5))
         |      * ${Bm25K1 + 1.0} / (1.0 + $Bm25K1 * (${1.0 - Bm25B} +
         |        $Bm25B * (CAST(i.dl AS DOUBLE) * CAST(s.n_docs AS DOUBLE)
         |          / CAST(s.sum_dl AS DOUBLE))))
         |      * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS score_e6
         |  FROM q JOIN idx i USING (tok) CROSS JOIN stats s
         |  WHERE q.query_id <> i.doc_id
         |  GROUP BY q.query_id, i.doc_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score_e6 DESC, doc_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, doc_id, overlap, score_e6, CAST(rank AS BIGINT) AS rank
         |FROM ranked WHERE rank <= $SearchTopK
         |ORDER BY query_id, rank""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // same stop-boundary segmentation via positional cumsum, same
    // deg/freq word scores and unique (score, phrase) cut
    "q_rake_keywords" -> {
      val stopList = RakeStop.map(s => s"'$s'").mkString(", ")
      s"""WITH tk AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |pos AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS i, t[i] AS tok,
         |    CASE WHEN t[i] IN ($stopList) THEN 1 ELSE 0 END AS is_stop
         |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i)),
         |ph AS (
         |  SELECT doc_id, i, tok, is_stop,
         |    SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY i) AS pid
         |  FROM pos),
         |mem AS (
         |  SELECT doc_id, pid, i, tok FROM ph
         |  WHERE is_stop = 0 AND tok <> ''),
         |plen AS (
         |  SELECT doc_id, pid, CAST(COUNT(*) AS BIGINT) AS plen
         |  FROM mem GROUP BY doc_id, pid),
         |ws AS (
         |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq,
         |    CAST(SUM(plen) AS BIGINT) AS deg
         |  FROM mem JOIN plen USING (doc_id, pid) GROUP BY tok),
         |psc AS (
         |  SELECT m.doc_id, m.pid,
         |    CAST(SUM(CAST(ws.deg AS HUGEINT) * 1000000 // ws.freq) AS BIGINT)
         |      AS score_e6
         |  FROM mem m JOIN ws ON ws.tok = m.tok GROUP BY m.doc_id, m.pid),
         |ptext AS (
         |  SELECT doc_id, pid, string_agg(tok, ' ' ORDER BY i) AS phrase
         |  FROM mem GROUP BY doc_id, pid)
         |SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ,
         |  CAST(MIN(score_e6) AS BIGINT) AS score_e6
         |FROM ptext JOIN psc USING (doc_id, pid)
         |GROUP BY phrase
         |ORDER BY score_e6 DESC, phrase ASC LIMIT $RakeTopN""".stripMargin
    },
    // identical translate-deletion counts, byte-overhead flag, and
    // truncating e6 ratios
    "q_charset_audit" ->
      s"""WITH d AS (
         |  SELECT source,
         |    CAST(length(text) AS BIGINT) AS n,
         |    CAST(length(text) - length(translate(text, '$AsciiLetters', '')) AS BIGINT) AS l,
         |    CAST(length(text) - length(translate(text, '0123456789', '')) AS BIGINT) AS dg,
         |    CAST(length(text) - length(translate(text, ' ', '')) AS BIGINT) AS sp,
         |    CAST(octet_length(encode(text)) - length(text) AS BIGINT) AS o
         |  FROM documents),
         |c AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n) AS BIGINT) AS n_chars,
         |    CAST(SUM(l) AS BIGINT) AS n_letters,
         |    CAST(SUM(dg) AS BIGINT) AS n_digits,
         |    CAST(SUM(sp) AS BIGINT) AS n_spaces,
         |    CAST(SUM(CASE WHEN o > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonascii_docs
         |  FROM d GROUP BY source)
         |SELECT source, n_docs, n_chars,
         |  CASE WHEN n_chars = 0 THEN CAST(0 AS BIGINT)
         |    ELSE (n_letters * 1000000) // n_chars END AS letter_ratio_e6,
         |  CASE WHEN n_chars = 0 THEN CAST(0 AS BIGINT)
         |    ELSE (n_digits * 1000000) // n_chars END AS digit_ratio_e6,
         |  CASE WHEN n_chars = 0 THEN CAST(0 AS BIGINT)
         |    ELSE (n_spaces * 1000000) // n_chars END AS space_ratio_e6,
         |  CASE WHEN n_chars = 0 THEN CAST(0 AS BIGINT)
         |    ELSE ((n_chars - n_letters - n_digits - n_spaces) * 1000000) // n_chars
         |    END AS other_ratio_e6,
         |  nonascii_docs
         |FROM c ORDER BY source""".stripMargin,
    // same (lang, token) census and integer spectrum reduction
    "q_good_turing" ->
      """WITH census AS (
        |  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY lang, tok),
        |sp AS (
        |  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tok,
        |    CAST(COUNT(*) AS BIGINT) AS vocab,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM census GROUP BY lang)
        |SELECT lang, n_tok, vocab, n1, n2,
        |  CAST((n1 * 1000000) // n_tok AS BIGINT) AS p_unseen_e6,
        |  CAST(vocab + (n1 * (n1 - 1)) // (2 * (n2 + 1)) AS BIGINT) AS chao1,
        |  CAST(((vocab + (n1 * (n1 - 1)) // (2 * (n2 + 1)) - vocab) * 1000000)
        |    // (vocab + (n1 * (n1 - 1)) // (2 * (n2 + 1))) AS BIGINT)
        |    AS vocab_deficit_e6
        |FROM sp ORDER BY lang""".stripMargin,
    // same token census, TOP (k+1) by (f desc, tok), per-point e6
    // ln floor, and the identical integer Hill ratio
    "q_hill_tail" ->
      s"""WITH toks AS (
        |  SELECT unnest(regexp_extract_all(text, '$TokenRe')) AS tok
        |  FROM documents),
        |freqs AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS f
        |  FROM toks GROUP BY tok),
        |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab FROM freqs),
        |top AS (
        |  SELECT f,
        |    CAST(floor(ln(CAST(f AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS l
        |  FROM freqs ORDER BY f DESC, tok ASC LIMIT ${HillK + 1}),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(SUM(l) AS BIGINT) AS sum_l,
        |    MIN(f) AS xmin, MIN(l) AS lmin FROM top)
        |SELECT n_vocab, cnt - 1 AS k, xmin,
        |  CASE WHEN sum_l - lmin - (cnt - 1) * lmin = 0
        |       THEN CAST(-1 AS BIGINT)
        |       ELSE CAST((cnt - 1) * 1000000000000
        |                 // (sum_l - lmin - (cnt - 1) * lmin) AS BIGINT)
        |  END AS alpha_e6
        |FROM s, nv""".stripMargin,
    // same split/counts/smoothing; ln terms floored at e3 per the
    // elasticity kernel; identical argmax tie-break
    // same shared NB scorer + argmax on one side, the same heuristic
    // profile scores + alphabetical-first tie CASE on the other,
    // identical census/marginal/κ integer arithmetic
    "q_kappa" ->
      s"""$NbScoresOracleCore,
        |nbp AS (
        |  SELECT doc_id, model_lang AS pred_n,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score_e3 DESC, model_lang) AS rn
        |  FROM scored),
        |nb1 AS (SELECT doc_id, pred_n FROM nbp WHERE rn = 1),
        |hsc AS (
        |  SELECT doc_id,
        |    $profileSql
        |  FROM documents WHERE doc_id % 2 = 1),
        |hbest AS (
        |  SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS best
        |  FROM hsc),
        |heur AS (
        |  SELECT doc_id,
        |    CASE WHEN s_de = best THEN 'de'
        |         WHEN s_en = best THEN 'en'
        |         WHEN s_es = best THEN 'es'
        |         WHEN s_fr = best THEN 'fr'
        |         ELSE 'zh' END AS pred_h
        |  FROM hbest),
        |cm AS (SELECT pred_h, pred_n, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM heur JOIN nb1 USING (doc_id) GROUP BY 1, 2),
        |st AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(COALESCE(SUM(CASE WHEN pred_h = pred_n THEN c END), 0)
        |      AS BIGINT) AS agree
        |  FROM cm),
        |xs AS (
        |  SELECT COALESCE(SUM(CAST(ma AS HUGEINT) * mb), 0) AS cross_m
        |  FROM (SELECT pred_h AS l, CAST(SUM(c) AS BIGINT) AS ma
        |        FROM cm GROUP BY 1)
        |  JOIN (SELECT pred_n AS l, CAST(SUM(c) AS BIGINT) AS mb
        |        FROM cm GROUP BY 1) USING (l))
        |SELECT n, agree,
        |  CAST(agree * 1000000 // n AS BIGINT) AS po_e6,
        |  CAST(cross_m * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT)
        |    AS pe_e6,
        |  CASE WHEN CAST(n AS HUGEINT) * n - cross_m = 0
        |       THEN CAST(1000000 AS BIGINT)
        |       ELSE CAST(((CAST(agree AS HUGEINT) * n - cross_m) * 1000000)
        |         // (CAST(n AS HUGEINT) * n - cross_m) AS BIGINT)
        |  END AS kappa_e6
        |FROM st, xs""".stripMargin,
    "q_nb_langid" ->
      s"""$NbScoresOracleCore,
        |pred AS (
        |  SELECT doc_id, actual, model_lang AS predicted,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score_e3 DESC, model_lang) AS rn
        |  FROM scored),
        |cm AS (SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM pred WHERE rn = 1 GROUP BY actual, predicted)
        |SELECT actual, predicted, n_docs,
        |  CAST(SUM(n_docs) OVER (PARTITION BY actual) AS BIGINT) AS row_total,
        |  CAST((n_docs * 1000000) // SUM(n_docs) OVER (PARTITION BY actual)
        |    AS BIGINT) AS p_e6
        |FROM cm ORDER BY actual, predicted""".stripMargin,
    // same shared scorer core, top-2 margin pivot, equal-width bins
    // from the 1-row min/max edge table
    "q_calibration" ->
      s"""$NbScoresOracleCore,
        |rk AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY score_e3 DESC, model_lang) AS rn
        |  FROM scored),
        |top AS (
        |  SELECT doc_id, actual,
        |    max(CASE WHEN rn = 1 THEN model_lang END) AS predicted,
        |    max(CASE WHEN rn = 1 THEN score_e3 END) AS s1,
        |    max(CASE WHEN rn = 2 THEN score_e3 END) AS s2
        |  FROM rk WHERE rn <= 2 GROUP BY doc_id, actual),
        |m2 AS (
        |  SELECT doc_id, s1 - s2 AS margin_e3,
        |    CASE WHEN predicted = actual THEN 1 ELSE 0 END AS ok
        |  FROM top),
        |e AS (SELECT min(margin_e3) AS lo, max(margin_e3) AS hi FROM m2),
        |binned AS (
        |  SELECT ((margin_e3 - lo) * $CalibBins) // (hi - lo + 1) AS bin,
        |    margin_e3, ok
        |  FROM m2 CROSS JOIN e)
        |SELECT CAST(bin AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(ok) AS BIGINT) AS n_correct,
        |  CAST(SUM(ok) * 1000000 // COUNT(*) AS BIGINT) AS acc_e6,
        |  CAST(MIN(margin_e3) AS BIGINT) AS margin_lo_e3,
        |  CAST(MAX(margin_e3) AS BIGINT) AS margin_hi_e3,
        |  CAST(SUM(margin_e3) // COUNT(*) AS BIGINT) AS mean_margin_e3
        |FROM binned GROUP BY bin ORDER BY bin""".stripMargin,
    // same scorer chain + top-2 margin; same disagreement filter and
    // pinned (margin DESC, doc_id) board cut
    "q_label_errors" ->
      s"""$NbScoresOracleCore,
        |rk AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY score_e3 DESC, model_lang) AS rn
        |  FROM scored),
        |top AS (
        |  SELECT doc_id, actual,
        |    max(CASE WHEN rn = 1 THEN model_lang END) AS predicted,
        |    max(CASE WHEN rn = 1 THEN score_e3 END) AS s1,
        |    max(CASE WHEN rn = 2 THEN score_e3 END) AS s2
        |  FROM rk WHERE rn <= 2 GROUP BY doc_id, actual),
        |board AS (
        |  SELECT doc_id, actual, predicted,
        |    CAST(s1 - s2 AS BIGINT) AS margin_e3
        |  FROM top WHERE predicted <> actual
        |  ORDER BY margin_e3 DESC, doc_id LIMIT $LabelErrK)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY margin_e3 DESC, doc_id)
        |    AS BIGINT) AS rank,
        |  doc_id, actual, predicted, margin_e3
        |FROM board ORDER BY rank""".stripMargin,
    // len(regexp_extract_all) ≡ regexp_count; same per-doc e3 grade,
    // div-of-sums group ratios, HUGEINT for the scale-ups
    "q_readability" ->
      """WITH d AS (
        |  SELECT source, lang,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS s_runs,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS y
        |  FROM documents),
        |g AS (
        |  SELECT source, lang, w, y,
        |    CASE WHEN s_runs > 0 THEN s_runs ELSE (w + 15) // 16 END AS s,
        |    (390 * w) // (CASE WHEN s_runs > 0 THEN s_runs
        |       ELSE (w + 15) // 16 END)
        |      + (11800 * y) // w - 15590 AS grade_e3
        |  FROM d WHERE w > 0)
        |SELECT source, lang,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(w) AS BIGINT) AS n_words,
        |  CAST(SUM(s) AS BIGINT) AS n_sentences,
        |  CAST(SUM(y) AS BIGINT) AS n_syllables,
        |  CAST(SUM(grade_e3) // COUNT(*) AS BIGINT) AS mean_grade_e3,
        |  CAST((CAST(SUM(w) AS HUGEINT) * 1000) // SUM(s) AS BIGINT) AS wps_e3,
        |  CAST((CAST(SUM(y) AS HUGEINT) * 1000) // SUM(w) AS BIGINT) AS spw_e3
        |FROM g GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin,
    "q_heaps_growth" ->
      """WITH b AS (SELECT MAX(doc_id) + 1 AS n_ids FROM documents),
        |sized AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    (doc_id * 10) // n_ids AS decile
        |  FROM documents, b),
        |pd AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(n_tok) AS BIGINT) AS n_toks
        |       FROM sized GROUP BY decile),
        |f AS (
        |  SELECT tok, MIN(doc_id) AS first_doc
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok),
        |nv AS (
        |  SELECT (first_doc * 10) // n_ids AS decile,
        |    CAST(COUNT(*) AS BIGINT) AS new_vocab
        |  FROM f, b GROUP BY 1)
        |SELECT decile,
        |  CAST(SUM(n_docs) OVER w AS BIGINT) AS docs_cum,
        |  CAST(SUM(n_toks) OVER w AS BIGINT) AS toks_cum,
        |  CAST(SUM(COALESCE(new_vocab, 0)) OVER w AS BIGINT) AS vocab_cum
        |FROM pd LEFT JOIN nv USING (decile)
        |WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY decile""".stripMargin,
    // Same tf/df postings join, same e6-floored idf, same window rank.
    "q_doc_keywords" ->
      s"""WITH tf AS (
         |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM documents)
         |  GROUP BY doc_id, tok),
         |nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
         |dfreq AS MATERIALIZED (
         |  SELECT tok, df,
         |    ${graft.operators.Curation.lmBitsE6("n.n_docs + 1", "df + 1",
              duck = true)} AS idf_e6
         |  FROM (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok)
         |  CROSS JOIN nd n),
         |scored AS (
         |  SELECT t.doc_id, t.tok, t.tf, f.df, t.tf * f.idf_e6 AS score_e6
         |  FROM tf t JOIN dfreq f USING (tok)),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score_e6 DESC, tok ASC) AS rank
         |  FROM scored)
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, tok, tf, df, score_e6
         |FROM ranked WHERE rank <= $KeywordK
         |ORDER BY doc_id, rank""".stripMargin,
    // Same histogram → per-char e6-floored term → integer per-doc sum.
    "q_char_entropy" ->
      s"""WITH hist AS (
         |  SELECT doc_id, c AS ch, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
         |  WHERE c <> '' GROUP BY doc_id, c),
         |terms AS (
         |  SELECT doc_id, ch, n,
         |    CAST(SUM(n) OVER (PARTITION BY doc_id) AS BIGINT) AS nn
         |  FROM hist),
         |te AS (
         |  SELECT doc_id, nn,
         |    ${graft.operators.Curation.entropyTermE6("n", "nn", duck = true)}
         |      AS term_e6
         |  FROM terms)
         |SELECT doc_id,
         |  MAX(nn) AS n_chars,
         |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
         |  CAST(SUM(term_e6) AS BIGINT) AS ent_e6,
         |  CAST(SUM(term_e6) AS BIGINT) < $EntropyAlarmE6 AS low_entropy
         |FROM te GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Same value-histogram cumsum; bin(v) = (cum_lt · B) div n + 1.
    "q_quantile_bins" ->
      s"""WITH h AS (
         |  SELECT lang,
         |    CAST(len(regexp_extract_all(text, '$TokenRe')) AS BIGINT) AS n_tok,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM documents GROUP BY lang, n_tok),
         |cum AS (
         |  SELECT lang, n_tok, c,
         |    SUM(c) OVER (PARTITION BY lang ORDER BY n_tok
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_le,
         |    SUM(c) OVER (PARTITION BY lang) AS n
         |  FROM h),
         |b AS (
         |  SELECT lang, n_tok, c,
         |    (cum_le - c) * $DepthBins // n + 1 AS bin
         |  FROM cum)
         |SELECT lang, CAST(bin AS BIGINT) AS bin,
         |  CAST(SUM(c) AS BIGINT) AS n_docs,
         |  CAST(MIN(n_tok) AS BIGINT) AS min_tok,
         |  CAST(MAX(n_tok) AS BIGINT) AS max_tok,
         |  CAST(SUM(c * n_tok) AS BIGINT) AS sum_tok
         |FROM b GROUP BY lang, bin
         |ORDER BY lang, bin""".stripMargin,
    "q_tokenizer_fertility" ->
      s"""WITH d AS (
         |  SELECT lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
         |    CAST(len(regexp_extract_all(text, '$TokenRe')) AS BIGINT) AS bpe,
         |    CAST(len(text) AS BIGINT) AS chars
         |  FROM documents),
         |g AS (
         |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(ws) AS BIGINT) AS ws_tokens,
         |    CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
         |    CAST(SUM(chars) AS BIGINT) AS n_chars
         |  FROM d GROUP BY lang)
         |SELECT lang, n_docs, ws_tokens, bpe_tokens, n_chars,
         |  CAST(bpe_tokens * 1000000 // ws_tokens AS BIGINT) AS fertility_e6,
         |  CAST(n_chars * 100 // bpe_tokens AS BIGINT) AS chars_per_tok_e2
         |FROM g ORDER BY lang""".stripMargin,
    // same stride walk; DuckDB 1-based inclusive list slicing ≡
    // Spark's slice(arr, s, W); md5 over the space-joined window
    "q_chunk_sliding" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |c AS (
         |  SELECT doc_id, s,
         |    ts[s : least(s + ${SlideWindow - 1}, len(ts))] AS w,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s) AS chunk_idx
         |  FROM d, LATERAL (
         |    SELECT unnest(generate_series(1, len(ts), $SlideStride)) AS s))
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(s AS BIGINT) AS start_tok,
         |  CAST(len(w) AS BIGINT) AS n_tok,
         |  md5(array_to_string(w, ' ')) AS chunk_md5
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // the bm25 oracle VERBATIM as the ranking; same metadata grades,
    // inlined weight/prefix literals, subtraction-derived tier counts
    "q_ndcg" ->
      s"""WITH bm AS (
         |  SELECT query_id, doc_id, rank FROM (
         |${Bm25OracleSql}) b),
         |meta AS (SELECT doc_id, source, lang FROM documents),
         |cell AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_cell
         |  FROM meta GROUP BY source, lang),
         |stot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src
         |  FROM meta GROUP BY source),
         |ltot AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang
         |  FROM meta GROUP BY lang),
         |res AS (
         |  SELECT b.query_id, qm.source AS q_src, qm.lang AS q_lang, b.rank,
         |    CASE WHEN qm.source = dm.source AND qm.lang = dm.lang THEN 3
         |         WHEN qm.source = dm.source THEN 2
         |         WHEN qm.lang = dm.lang THEN 1 ELSE 0 END AS rel
         |  FROM bm b
         |  JOIN meta qm ON qm.doc_id = b.query_id
         |  JOIN meta dm ON dm.doc_id = b.doc_id),
         |per AS (
         |  SELECT query_id, q_src, q_lang,
         |    CAST(COUNT(*) AS BIGINT) AS n_hits,
         |    CAST(SUM(CASE WHEN rel >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
         |    CAST(SUM((CASE rel WHEN 3 THEN 7 WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END)
         |      * ([${NdcgWeightsE6.mkString(", ")}])[rank]) AS BIGINT) AS dcg_e6,
         |    MIN(CASE WHEN rel >= 1 THEN rank END) AS first_rel
         |  FROM res GROUP BY query_id, q_src, q_lang),
         |t3t AS (
         |  SELECT p.*, c.n_cell, s.n_src, l.n_lang,
         |    least(5, c.n_cell - 1) AS t3
         |  FROM per p
         |  JOIN cell c ON c.source = p.q_src AND c.lang = p.q_lang
         |  JOIN stot s ON s.source = p.q_src
         |  JOIN ltot l ON l.lang = p.q_lang),
         |t2t AS (SELECT *, least(5 - t3, n_src - n_cell) AS t2 FROM t3t),
         |t1t AS (SELECT *, least(5 - t3 - t2, n_lang - n_cell) AS t1 FROM t2t),
         |idcg AS (
         |  SELECT *,
         |    7 * pre[t3 + 1]
         |    + 3 * (pre[t3 + t2 + 1] - pre[t3 + 1])
         |    + (pre[t3 + t2 + t1 + 1] - pre[t3 + t2 + 1]) AS idcg_e6
         |  FROM (SELECT *, [${NdcgPrefixE6.mkString(", ")}] AS pre FROM t1t))
         |SELECT query_id, n_hits, n_rel, dcg_e6,
         |  CAST(idcg_e6 AS BIGINT) AS idcg_e6,
         |  CAST(CASE WHEN idcg_e6 = 0 THEN -1
         |    ELSE (dcg_e6 * 1000000) // idcg_e6 END AS BIGINT) AS ndcg_e6,
         |  CAST(CASE WHEN first_rel IS NULL THEN 0
         |    ELSE 1000000 // first_rel END AS BIGINT) AS mrr_e6
         |FROM idcg ORDER BY query_id""".stripMargin,
    // The two component oracles VERBATIM as subqueries, fused by the
    // same integer RRF and rank window.
    "q_rank_fusion" ->
      s"""WITH txt AS (
         |  SELECT query_id, doc_id, rank FROM (
         |${Bm25OracleSql}) b),
         |vec AS (
         |  SELECT query_id, neighbor_id AS doc_id, rank FROM (
         |${graft.operators.Similarity.oracleSql("q_ann_cosine")}) a),
         |f AS (
         |  SELECT COALESCE(t.query_id, v.query_id) AS query_id,
         |    COALESCE(t.doc_id, v.doc_id) AS doc_id,
         |    COALESCE(t.rank, 0) AS rank_text,
         |    COALESCE(v.rank, 0) AS rank_vec,
         |    CASE WHEN t.rank IS NULL THEN 0
         |         ELSE 1000000 // ($RrfK + t.rank) END
         |    + CASE WHEN v.rank IS NULL THEN 0
         |           ELSE 1000000 // ($RrfK + v.rank) END AS rrf
         |  FROM txt t FULL OUTER JOIN vec v
         |    ON t.query_id = v.query_id AND t.doc_id = v.doc_id)
         |SELECT query_id, doc_id, CAST(rrf AS BIGINT) AS rrf_e6,
         |  CAST(rank_text AS BIGINT) AS rank_text,
         |  CAST(rank_vec AS BIGINT) AS rank_vec,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS fused_rank
         |FROM f ORDER BY query_id, fused_rank""".stripMargin,
    "q_zipf_spectrum" ->
      """WITH toks AS (
        |  SELECT unnest(CASE WHEN len(ts) >= 3
        |    THEN [ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts) - 1)]
        |    ELSE [text] END) AS g
        |  FROM (SELECT text, string_split(text, ' ') AS ts FROM documents)),
        |freqs AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS f FROM toks GROUP BY g),
        |spectrum AS (
        |  SELECT f, CAST(COUNT(*) AS BIGINT) AS m,
        |    CAST(floor(ln(CAST(f AS DOUBLE)) * 1e3 + 0.5) AS BIGINT) AS x,
        |    CAST(floor(ln(CAST(COUNT(*) AS DOUBLE)) * 1e3 + 0.5) AS BIGINT) AS y
        |  FROM freqs GROUP BY f),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM spectrum)
        |SELECT n_points, sx, sy, sxy, sxx,
        |  CAST(((CAST(n_points AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy) * 1000000)
        |    // (CAST(n_points AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT)
        |    AS slope_e6
        |FROM s""".stripMargin,
    "q_vocab_coverage" -> {
      val blocks = CoverageThresholds.map { t =>
        s"""SELECT CAST($t AS BIGINT) AS min_freq,
           |  CAST(SUM(CASE WHEN f >= $t THEN 1 ELSE 0 END) AS BIGINT) AS n_words_kept,
           |  CAST(COUNT(*) AS BIGINT) AS n_words_total,
           |  CAST(SUM(CASE WHEN f >= $t THEN f ELSE 0 END) AS BIGINT) AS tokens_kept,
           |  CAST(SUM(f) AS BIGINT) AS tokens_total,
           |  CAST((SUM(CASE WHEN f >= $t THEN f ELSE 0 END) * 1000000)
           |    // SUM(f) AS BIGINT) AS coverage_e6
           |FROM freqs""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH freqs AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  GROUP BY w)
         |$blocks
         |ORDER BY min_freq""".stripMargin
    },
    // row_number formulation — the windowed definition the O(k)-buffer
    // aggregate replaces at scale.
    "q_reservoir" ->
      s"""WITH d AS (
         |  SELECT lang, doc_id,
         |    CAST(concat('0x', substr(md5(concat('smp', CAST(doc_id AS VARCHAR))), 1, 15))
         |      AS BIGINT) % 1000000 AS draw
         |  FROM documents)
         |SELECT lang,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY draw, doc_id)
         |    AS BIGINT) AS rank,
         |  doc_id, draw
         |FROM d
         |QUALIFY rank <= $ReservoirK
         |ORDER BY lang, rank""".stripMargin,
    "q_hll_distinct" ->
      s"""WITH toks AS (
         |  SELECT lang, unnest(list_distinct(CASE WHEN len(ts) >= 3
         |    THEN [ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts) - 1)]
         |    ELSE [text] END)) AS tok
         |  FROM (SELECT lang, text, string_split(text, ' ') AS ts FROM documents)),
         |w AS (SELECT DISTINCT lang, tok FROM toks),
         |h AS (SELECT lang, md5(tok) AS hx,
         |    CAST(concat('0x', substr(md5(tok), 1, 2)) AS BIGINT) AS bucket FROM w),
         |rho AS (
         |  SELECT lang, bucket,
         |    4 * (14 - len(ltrim(substr(hx, 3, 14), '0')))
         |    + CASE substr(ltrim(substr(hx, 3, 14), '0') || 'f', 1, 1)
         |        WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
         |        WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
         |        ELSE 0 END + 1 AS r
         |  FROM h),
         |regs AS (SELECT lang, bucket, CAST(MAX(r) AS BIGINT) AS m
         |  FROM rho GROUP BY lang, bucket),
         |st AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS v,
         |    CAST(SUM(CAST(floor(1e6 / power(2.0, m) + 0.5) AS BIGINT)) AS BIGINT) AS s_e6
         |  FROM regs GROUP BY lang),
         |ex AS (SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_distinct
         |  FROM w GROUP BY lang)
         |SELECT ex.lang, ex.exact_distinct, st.v, st.s_e6,
         |  CASE WHEN st.v < $HllM AND
         |      CAST(floor(CAST($HllAlphaM2 AS DOUBLE) * 1e6
         |        / (CAST(st.s_e6 AS DOUBLE) + ($HllM - st.v) * 1e6) + 0.5) AS BIGINT)
         |        <= ${(2.5 * HllM).toLong}
         |    THEN CAST(floor($HllM.0 * ln($HllM.0 / CAST($HllM - st.v AS DOUBLE)) + 0.5) AS BIGINT)
         |    ELSE CAST(floor(CAST($HllAlphaM2 AS DOUBLE) * 1e6
         |        / (CAST(st.s_e6 AS DOUBLE) + ($HllM - st.v) * 1e6) + 0.5) AS BIGINT)
         |  END AS hll_est
         |FROM ex JOIN st USING (lang) ORDER BY lang""".stripMargin,
    "q_pmi" ->
      s"""WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
         |uni AS (
         |  SELECT u AS w1, CAST(COUNT(*) AS BIGINT) AS c1
         |  FROM (SELECT unnest(w) AS u FROM ws) GROUP BY u),
         |bi AS (
         |  SELECT bg, CAST(COUNT(*) AS BIGINT) AS c2 FROM (
         |    SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
         |    FROM ws WHERE len(w) >= 2) GROUP BY bg),
         |tot AS (
         |  SELECT (SELECT CAST(SUM(c1) AS BIGINT) FROM uni) AS t1,
         |         (SELECT CAST(SUM(c2) AS BIGINT) FROM bi) AS t2)
         |SELECT bg, c2, a.c1 AS c1a, b.c1 AS c1b,
         |  ${graft.operators.Curation.log2RatioSignedE6(
              Seq("c2", "t1", "t1"), Seq("t2", "a.c1", "b.c1"),
              duck = true)} AS pmi_e6
         |FROM bi
         |JOIN uni a ON a.w1 = string_split(bg, ' ')[1]
         |JOIN uni b ON b.w1 = string_split(bg, ' ')[2]
         |CROSS JOIN tot
         |WHERE c2 >= $PmiMinPair
         |ORDER BY pmi_e6 DESC, bg ASC
         |LIMIT $PmiTopK""".stripMargin,
    "q_bpe_encode" ->
      s"""WITH RECURSIVE w AS (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_word FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE len(word) >= 2 GROUP BY word),
         |p AS (
         |  SELECT unnest([substr(word, i, 2) for i in range(1, len(word))]) AS pair, n_word
         |  FROM w),
         |m AS (
         |  SELECT pair, ROW_NUMBER() OVER (ORDER BY SUM(n_word) DESC, pair ASC) AS rk
         |  FROM p GROUP BY pair
         |  QUALIFY rk <= $BpeTopK),
         |enc AS (
         |  SELECT word, n_word,
         |    ' ' || array_to_string([word[i] for i in range(1, len(word)+1)], ' ') || ' ' AS s,
         |    0 AS i
         |  FROM w
         |  UNION ALL
         |  SELECT e.word, e.n_word,
         |    replace(e.s, ' ' || m.pair[1] || ' ' || m.pair[2] || ' ', ' ' || m.pair || ' '),
         |    e.i + 1
         |  FROM enc e JOIN m ON m.rk = e.i + 1
         |  WHERE e.i < $BpeTopK)
         |SELECT word, n_word, trim(s) AS encoded,
         |  CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_tokens
         |FROM enc WHERE i = $BpeTopK ORDER BY word""".stripMargin,
    "q_bpe_train" -> bpeTrainOracleSql,
    "q_bpe_pairs" ->
      s"""WITH w AS (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_word FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE len(word) >= 2 GROUP BY word),
         |p AS (
         |  SELECT unnest([substr(word, i, 2) for i in range(1, len(word))]) AS pair, n_word
         |  FROM w)
         |SELECT pair, CAST(SUM(n_word) AS BIGINT) AS n_occ
         |FROM p GROUP BY pair
         |ORDER BY n_occ DESC, pair ASC
         |LIMIT $BpeTopK""".stripMargin,
    "q_quality_repetition" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    string_split(text, ' ') AS ts
        |  FROM documents),
        |g2 AS (
        |  SELECT doc_id, unnest(CASE WHEN len(ts) >= 2
        |    THEN [ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))]
        |    ELSE [text] END) AS g
        |  FROM d),
        |c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g),
        |s2 AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top2_cnt FROM c2 GROUP BY doc_id),
        |g3 AS (
        |  SELECT doc_id, unnest(CASE WHEN len(ts) >= 3
        |    THEN [ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts) - 1)]
        |    ELSE [text] END) AS g
        |  FROM d),
        |c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY doc_id, g),
        |s3 AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup3_cnt,
        |    CAST(SUM(c) AS BIGINT) AS n3
        |  FROM c3 GROUP BY doc_id),
        |j AS (
        |  SELECT d.doc_id, n_tok, top2_cnt, dup3_cnt, n3,
        |    floor(top2_cnt * 2 * 1e6 / n_tok + 0.5) / 1e6 AS top2_frac,
        |    floor(dup3_cnt * 1e6 / n3 + 0.5) / 1e6 AS dup3_frac
        |  FROM d JOIN s2 USING (doc_id) JOIN s3 USING (doc_id))
        |SELECT doc_id, n_tok, top2_cnt, dup3_cnt, n3, top2_frac, dup3_frac,
        |  CAST(CASE WHEN top2_frac <= 0.20 AND dup3_frac <= 0.18
        |    THEN 1 ELSE 0 END AS INT) AS keep
        |FROM j
        |ORDER BY doc_id""".stripMargin,
    "q_pii_scrub" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    concat(text,
        |      CASE WHEN doc_id % 3 = 0
        |        THEN concat(' contact user', CAST(doc_id AS VARCHAR), '@example.com do')
        |        ELSE '' END,
        |      CASE WHEN doc_id % 5 = 0
        |        THEN concat(' call 555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
        |        ELSE '' END) AS raw
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, raw,
        |    regexp_replace(
        |      regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]+', '<EMAIL>', 'g'),
        |      '555-[0-9][0-9][0-9][0-9]', '<PHONE>', 'g') AS scrubbed
        |  FROM r)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]+')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(raw, '555-[0-9][0-9][0-9][0-9]')) AS BIGINT) AS n_phones,
        |  CAST(len(raw) AS BIGINT) AS len_raw,
        |  CAST(len(scrubbed) AS BIGINT) AS len_scrubbed,
        |  md5(scrubbed) AS scrub_hash
        |FROM s
        |ORDER BY doc_id""".stripMargin,
    "q_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT lang, doc_id,
         |    CAST(len(regexp_extract_all(text, '$TokenRe')) AS BIGINT) AS n_tok,
         |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % $PackShards AS shard
         |  FROM documents),
         |c AS (
         |  SELECT *,
         |    CAST(SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS cum_before
         |  FROM t)
         |SELECT lang, shard, cum_before // $PackCap AS bin,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
         |  MIN(doc_id) AS first_doc,
         |  CAST(floor(SUM(n_tok) * 1e6 / ${PackCap.toDouble} + 0.5) AS BIGINT) AS fill_e6
         |FROM c
         |GROUP BY lang, shard, cum_before // $PackCap
         |ORDER BY lang, shard, bin""".stripMargin,
    "q_bm25_search" -> Bm25OracleSql,
    "q_token_search" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(ts) >= 3
         |    THEN [ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts) - 1)]
         |    ELSE [text] END)) AS tok
         |  FROM (SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents)),
         |rare AS (
         |  SELECT tok FROM toks GROUP BY tok HAVING COUNT(*) <= $SearchMaxDf),
         |idx AS (
         |  SELECT t.doc_id, t.tok FROM toks t JOIN rare USING (tok)),
         |q AS (
         |  SELECT doc_id AS query_id, tok FROM idx WHERE doc_id % 50 = 0),
         |scored AS (
         |  SELECT q.query_id, i.doc_id, CAST(COUNT(*) AS BIGINT) AS overlap
         |  FROM q JOIN idx i USING (tok)
         |  WHERE q.query_id <> i.doc_id
         |  GROUP BY q.query_id, i.doc_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY overlap DESC, doc_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, doc_id, overlap, CAST(rank AS BIGINT) AS rank
         |FROM ranked WHERE rank <= $SearchTopK
         |ORDER BY query_id, rank""".stripMargin,
    "q_lang_id" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |    $profileSql
         |  FROM documents),
         |best AS (
         |  SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS best_score FROM scored)
         |SELECT doc_id, lang,
         |  CASE WHEN s_de = best_score THEN 'de'
         |       WHEN s_en = best_score THEN 'en'
         |       WHEN s_es = best_score THEN 'es'
         |       WHEN s_fr = best_score THEN 'fr'
         |       ELSE 'zh' END AS pred_lang,
         |  best_score,
         |  CASE WHEN lang = (CASE WHEN s_de = best_score THEN 'de'
         |       WHEN s_en = best_score THEN 'en'
         |       WHEN s_es = best_score THEN 'es'
         |       WHEN s_fr = best_score THEN 'fr'
         |       ELSE 'zh' END) THEN 1 ELSE 0 END AS is_match
         |FROM best
         |ORDER BY doc_id""".stripMargin,
    "q_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(text) AS BIGINT) AS n_chars_,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x = 'the' OR x = 'a' OR x = 'and' OR x = 'of' OR x = 'to')) AS BIGINT) AS n_stopwords,
        |    CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_letters
        |  FROM documents)
        |SELECT doc_id, n_chars_, n_tokens, n_stopwords,
        |  floor(CAST(n_stopwords AS DOUBLE) / n_tokens * 1e6 + 0.5) / 1e6 AS stop_ratio,
        |  floor(CAST(n_letters AS DOUBLE) / n_tokens * 1e6 + 0.5) / 1e6 AS mean_word_len,
        |  floor((CAST(n_tokens AS DOUBLE) / (n_tokens + 20))
        |    * (1.0 - CAST(n_stopwords AS DOUBLE) / n_tokens) * 1e6 + 0.5) / 1e6 AS quality
        |FROM t
        |ORDER BY doc_id""".stripMargin,
    "q_token_hist" ->
      s"""WITH t AS (
        |  SELECT lang,
        |    CAST(len(regexp_extract_all(text, '$TokenRe')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT lang, (n_tok // 32) * 32 AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
        |  MIN(n_tok) AS min_tok, MAX(n_tok) AS max_tok
        |FROM t
        |GROUP BY lang, (n_tok // 32) * 32
        |ORDER BY lang, bucket""".stripMargin,
    "q_sample_split" ->
      s"""WITH t AS (
        |  SELECT lang,
        |    CAST(len(regexp_extract_all(text, '$TokenRe')) AS BIGINT) AS n_tok,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS h
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
        |FROM t
        |GROUP BY lang, CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END
        |ORDER BY lang, split""".stripMargin,
    "q_token_count" ->
      s"""SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '$TokenRe')) AS BIGINT) AS bpe_tokens,
        |  CAST(ceil(len(text) / 4.0) AS BIGINT) AS approx_tokens
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      s"""WITH g AS (
         |  SELECT doc_id, i,
         |    substr(md5(substr(text, CAST(i AS INT), $FpGram)), 1, 8) AS h
         |  FROM documents, UNNEST(range(1, len(text) - ${FpGram - 2})) AS t(i)
         |  WHERE len(text) >= ${FpGram + FpWindow - 1}),
         |n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM g GROUP BY doc_id),
         |wins AS (
         |  SELECT a.doc_id, a.i AS win, MIN(b.h) AS minh
         |  FROM g a
         |  JOIN n ON a.doc_id = n.doc_id AND a.i + ${FpWindow - 1} <= n.n_grams
         |  JOIN g b ON a.doc_id = b.doc_id AND b.i BETWEEN a.i AND a.i + ${FpWindow - 1}
         |  GROUP BY a.doc_id, a.i),
         |fp AS (SELECT doc_id, minh FROM wins GROUP BY doc_id, minh)
         |SELECT doc_id, n_grams,
         |  CAST(COUNT(*) AS BIGINT) AS n_fp,
         |  MIN(minh) AS fp_min, MAX(minh) AS fp_max
         |FROM fp JOIN n USING (doc_id)
         |GROUP BY doc_id, n_grams
         |ORDER BY doc_id""".stripMargin)
}
