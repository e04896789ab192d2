package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between dedup and packing: benchmark decontamination and
  * target-mixture sampling (SURVEY §2, LLM-pipeline rows). Both are
  * pure batch column pipelines with the small side broadcast — the
  * shapes that survive a 100 TB corpus.
  */
object Curation {

  /** Shingle order for decontamination overlap. 8-token shingles are
    * the published decontamination convention (GPT-3 appendix C uses
    * 8-13-gram collision; Dolma uses paragraph+13-gram) — long enough
    * that natural re-use is rare, short enough to catch paraphrase-free
    * leakage. Docs shorter than k tokens hash as one whole-text
    * shingle ([[graft.functions.WordShingles]] fallback). */
  private[graft] val DecontamK = 8

  /** Eval-set membership: docs with id ≡ EvalRem (mod EvalMod) stand
    * in for the held-out benchmark suite — a deterministic slice (like
    * the other registered queries' pinned id-derived subsets) chosen so
    * the corpus's planted near-duplicates actually straddle the
    * train/eval boundary at every sf (real leakage to catch, not a
    * vacuously-empty join). Shared with the streaming variant
    * (StreamingQueries.streamDecontam) so batch and stream can never
    * disagree on the split. */
  private[graft] val EvalMod = 10
  private[graft] val EvalRem = 7
  private[graft] def isEval(id: org.apache.spark.sql.Column) =
    id % EvalMod === EvalRem

  /** q_decontaminate: flag training documents that share a word
    * [[DecontamK]]-gram with any eval document — the
    * train/test-contamination sweep every serious LLM corpus runs
    * before training.
    *
    * Scale shape: in production the eval side is the benchmark suite —
    * megabytes even when the corpus is 100 TB — so its (shingle,
    * eval_doc) pairs are BROADCAST and the corpus side never shuffles:
    * one scan, a broadcast left join on the shingle, one two-phase
    * aggregate on doc_id. (The TESTDATA eval rule is an id slice of
    * the corpus itself — a stand-in with no separate benchmark table;
    * if the eval side were ever genuinely corpus-sized, drop the
    * `broadcast` hint and this becomes the plain shingle equi-join.)
    * Every training doc is reported (hit or not); the contaminated
    * flag is what a filter stage would consume. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val shingled = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.WordShingles.wordShingles(col("text"), DecontamK))).as("sh"))
    val evalPairs = shingled.filter(isEval(col("doc_id")))
      .select(col("sh"), col("doc_id").as("eval_doc_id"))
    shingled.filter(!isEval(col("doc_id")))
      .join(broadcast(evalPairs), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(
        count_distinct(when(col("eval_doc_id").isNotNull, col("sh")))
          .as("n_shared_shingles"),
        count_distinct(col("eval_doc_id")).as("n_eval_docs"))
      .withColumn("contaminated", col("n_shared_shingles") > 0)
      .orderBy("doc_id")
  }

  /** q_mixture_sample: deterministic target-mixture sampling — compute
    * per-language keep rates that move the corpus toward a UNIFORM
    * language mix (target share 1/|langs|), then sample docs by md5
    * threshold. The mixture-rebalancing step (cf. the data-mixing
    * stage of any multilingual/multi-source training corpus), reduced
    * to its deterministic core so it is fully SQL-oracled.
    *
    * The keep test is pure integer arithmetic — `u·L·n_l < N·10⁶` with
    * u a 6-digit md5 draw — so Spark and DuckDB agree bit-for-bit (no
    * double rounding at the decision boundary). Scale shape: per-lang
    * counts are a tiny two-phase agg broadcast back onto the corpus;
    * the decision is map-side; one final two-phase agg per lang.
    * (Magnitudes: u < 10⁶, so the product stays under 2⁶³ up to
    * N·L ≈ 9·10¹² docs — beyond any single corpus; past that, scale u
    * down.) */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(regexp_extract_all(col("text"), lit(TextAnalysis.TokenRe), lit(0)))
          .cast("long").as("n_tok"))
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val totals = counts.agg(sum("n_lang").as("n_total"), count(lit(1)).as("n_langs"))
    val u = expr(
      "cast(conv(substr(md5(concat('mix', cast(doc_id as string))), 1, 15), 16, 10) as bigint) % 1000000")
    docs.join(broadcast(counts), Seq("lang"))
      .crossJoin(broadcast(totals))
      .withColumn("keep", u * col("n_lang") * col("n_langs") < col("n_total") * lit(1000000L))
      // integer div on both sides (Spark `div`, DuckDB `//`) — `/`
      // would be double division and could round differently
      .withColumn("rate_e6", least(lit(1000000L),
        expr("(n_total * 1000000) div (n_langs * n_lang)")))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("tok_kept"),
        max(col("rate_e6")).as("rate_e6"))
      .orderBy("lang")
  }

  /** INTEGER fixed-point log2 — e·2³⁰ + F for a positive BIGINT n,
    * computed by the classic shift-and-square algorithm (e = bit
    * length − 1; mantissa truncated to 31 bits; 30 squaring rounds
    * emit one fraction bit each). Every operation is an integer
    * shift/multiply/compare, so Spark and DuckDB — fed the SAME
    * algorithm by this one generator — agree BIT-FOR-BIT: no libm
    * log anywhere in the LM scoring paths. (Spark's log2 is
    * ln(x)/ln(2); DuckDB's is libm log2; a 1-ulp disagreement landing
    * exactly on a floor(x·1e6+0.5) boundary would break the hash
    * oracle data-dependently — the q_binseg overflow lesson applied
    * to transcendentals.) Truncation makes the result ≤ a few LSBs of
    * 2⁻³⁰ below true log2 — deterministic, identical in both engines,
    * and ~10⁻³ of one e6 unit.
    *
    * The fold accumulator packs (mantissa, fraction) into ONE BIGINT
    * (m·2³⁰ + F, ≤ 2⁶¹) because DuckDB 1.0.0's list_reduce
    * mis-evaluates multi-field struct accumulators (verified: the
    * fraction bits shift by one from iteration 3 on). */
  private def log2e30(n0: String, duck: Boolean): String = {
    val n = s"($n0)"
    def shr(x: String, k: String) =
      if (duck) s"(($x) >> ($k))" else s"shiftright($x, $k)"
    def shl(x: String, k: String) =
      if (duck) s"(($x) << ($k))" else s"shiftleft($x, $k)"
    val e = s"(length(bin$n) - 1)"
    val m0 = s"(CASE WHEN $e >= 30 THEN ${shr(n, s"$e - 30")} " +
      s"ELSE ${shl(n, s"30 - $e")} END)"
    val acc0 = shl(m0, "30")
    val m = shr("acc", "30")
    val mm = shr(s"($m * $m)", "30")
    val f2 = "((acc & 1073741823) * 2)"
    val step = s"CASE WHEN $mm >= 2147483648 THEN ${shl(shr(mm, "1"), "30")} + $f2 + 1 " +
      s"ELSE ${shl(mm, "30")} + $f2 END"
    val folded =
      if (duck)
        s"list_reduce(list_prepend($acc0, " +
          s"[CAST(0 AS BIGINT) for i in range(1, 31)]), (acc, x) -> $step)"
      else s"aggregate(sequence(1, 30), $acc0, (acc, i) -> $step)"
    s"(${shl(s"cast($e as bigint)", "30")} + (($folded) & 1073741823))"
  }

  /** ⌊log2(b/a)·10⁶ + 0.5⌋ for integers 1 ≤ a ≤ b via [[log2e30]] —
    * the −log₂(a/b) information-content kernel of the LM scoring
    * rows, emitted in both engine spellings. greatest(0, ·) pins the
    * (unreachable at k=0; possible only under extreme-scale
    * pre-shifts) a > b case to 0 in both engines rather than leaning
    * on negative integer-division parity. */
  private[operators] def lmBitsE6(b: String, a: String, duck: Boolean): String = {
    val diff = s"(${log2e30(b, duck)} - ${log2e30(a, duck)})"
    if (duck)
      s"greatest(CAST(0 AS BIGINT), CAST(($diff * 1000000 + 536870912) // 1073741824 AS BIGINT))"
    else s"greatest(0L, ($diff * 1000000 + 536870912) div 1073741824)"
  }

  /** ⌊log2(Πbs / Πas)·10⁶ + 0.5⌋ for positive BIGINTs, SIGNED — the
    * general log-ratio kernel via [[log2e30]], emitted in both engine
    * spellings. The log terms are SUMMED, never multiplied
    * (log2(Πb) = Σ log2 b), so no cross product of corpus-sized
    * counts can overflow a BIGINT; and because the difference can be
    * negative (unlike [[lmBitsE6]]'s b ≥ a contract), the rounding
    * division is pre-shifted by +64·max(|bs|,|as|)·2³⁰ — each
    * [[log2e30]] term is < 63·2³⁰ over 63-bit inputs, so |diff| is
    * strictly below the shift for ANY positive-BIGINT arguments —
    * onto non-negative ground where Spark's `div`, DuckDB's `//` and
    * mathematical floor all agree, then un-shifted by the exact
    * shift·10⁶/2³⁰ the pre-shift adds. Overflow headroom: worst case
    * (|diff| + shift)·10⁶ ≤ 2·shift·10⁶ ≈ 1.4e17·max-arity < 2⁶³ for
    * up to 32 terms per side. Truncation error: ≤ (|bs|+|as|) LSBs of
    * 2⁻³⁰ (~10⁻³ of one e6 unit per term), identical in both
    * engines. */
  private[operators] def log2RatioSignedE6(bs: Seq[String], as: Seq[String],
      duck: Boolean): String = {
    val diff = (bs.map(b => s"+ ${log2e30(b, duck)}") ++
      as.map(a => s"- ${log2e30(a, duck)}")).mkString("(0 ", " ", ")")
    val shiftUnits = 64L * math.max(bs.size, as.size)
    val shift = shiftUnits * 1073741824L
    val unshift = shiftUnits * 1000000L
    val num = s"(($diff + ${shift}) * 1000000 + 536870912)"
    if (duck) s"(CAST($num // 1073741824 AS BIGINT) - $unshift)"
    else s"(($num div 1073741824) - $unshift)"
  }

  /** The two-up/two-down spelling used by q_dsir_weights —
    * ⌊log2((b1·b2)/(a1·a2))·10⁶ + 0.5⌋, see the Seq overload. */
  private[operators] def log2RatioSignedE6(b1: String, b2: String,
      a1: String, a2: String, duck: Boolean): String =
    log2RatioSignedE6(Seq(b1, b2), Seq(a1, a2), duck)

  /** ⌊(wn/wd)·log2(Πbs/Πas)·10⁹ + 0.5⌋ for positive BIGINTs with
    * wn ≤ wd, SIGNED — the p·log2(ratio) kernel of the divergence
    * rows (q_kl_sources / q_stream_kl), via [[log2e30]] with the
    * final rational rounding in 128-bit integer arithmetic
    * (decimal(38,0) in Spark, HUGEINT in DuckDB). Exact
    * floor((wn·d·10⁹ + wd·2²⁹)/(wd·2³⁰)) with d the signed e30
    * log-sum; the numerator is pre-shifted by wd·2³⁰·shift (shift =
    * 64·max(|bs|,|as|)·10⁹) onto non-negative ground — |d| <
    * 64·max(|bs|,|as|)·2³⁰ and wn ≤ wd guarantee positivity — so
    * truncating and flooring division agree in both engines, then
    * un-shifted exactly. Headroom: wd·2³⁰·shift ≈ 1.4e34 at
    * wd = 10¹⁴ (a 100 TB per-source token count) — inside 38
    * digits / HUGEINT. */
  private[operators] def weightedLog2E9(wn: String, wd: String,
      bs: Seq[String], as: Seq[String], duck: Boolean): String = {
    val d = (bs.map(b => s"+ ${log2e30(b, duck)}") ++
      as.map(a => s"- ${log2e30(a, duck)}")).mkString("(0 ", " ", ")")
    val shiftE9 = 64L * math.max(bs.size, as.size) * 1000000000L
    if (duck)
      s"CAST((CAST(($wn) AS HUGEINT) * $d * 1000000000 + CAST(($wd) AS HUGEINT) * 536870912 + CAST(($wd) AS HUGEINT) * 1073741824 * $shiftE9) // (CAST(($wd) AS HUGEINT) * 1073741824) - $shiftE9 AS BIGINT)"
    else
      s"cast(((cast(($wn) as decimal(38,0)) * $d * 1000000000 + cast(($wd) as decimal(38,0)) * 536870912 + cast(($wd) as decimal(38,0)) * 1073741824 * $shiftE9) div (cast(($wd) as decimal(38,0)) * 1073741824)) - $shiftE9 as bigint)"
  }

  /** ⌊(n/nn)·log2(nn/n)·10⁶ + 0.5⌋ for integers 1 ≤ n ≤ nn — the
    * per-symbol Shannon entropy contribution p·log2(1/p) of a symbol
    * with count n out of nn, via [[log2e30]] with the final rational
    * rounding done in 128-bit integer arithmetic (decimal(38,0) in
    * Spark, HUGEINT in DuckDB — the q_holt_forecast wide-integer
    * pattern), so no libm log2 and no double product anywhere.
    * Exact floor((n·d·10⁶ + nn·2²⁹) / (nn·2³⁰)) with
    * d = log2e30(nn) − log2e30(n) ≥ 0; all factors non-negative, so
    * truncating and flooring division agree. Headroom:
    * n·d·10⁶ ≤ n·63·2³⁰·10⁶ ≈ 6.8e22 at n = 10⁶ — far inside 38
    * digits. */
  private[operators] def entropyTermE6(n: String, nn: String,
      duck: Boolean): String = {
    val d = s"(${log2e30(nn, duck)} - ${log2e30(n, duck)})"
    if (duck)
      s"CAST((CAST(($n) AS HUGEINT) * $d * 1000000 + CAST(($nn) AS HUGEINT) * 536870912) // (CAST(($nn) AS HUGEINT) * 1073741824) AS BIGINT)"
    else
      s"cast((cast(($n) as decimal(38,0)) * $d * 1000000 + cast(($nn) as decimal(38,0)) * 536870912) div (cast(($nn) as decimal(38,0)) * 1073741824) as bigint)"
  }

  /** q_lm_quality: statistical language-model quality score — the
    * CCNet-style filter (Wenzek et al., "CCNet: Extracting High
    * Quality Monolingual Datasets from Web Crawl Data", LREC'20 §4.3
    * scores documents by LM perplexity and keeps the low-perplexity
    * head). Reduced to its deterministic, external-model-free core: a
    * unigram LM estimated from the corpus itself (add-one smoothing),
    * and each document scored by mean token information content
    * -log₂ p(token) in bits — common filler scores low, rare-token
    * line noise scores high.
    *
    * Scale shape: the vocabulary is a two-phase token groupBy; scoring
    * is the classic token-postings equi-join (shuffle ∝ corpus tokens,
    * never all-pairs) + one per-doc aggregate. Each token's bits value
    * is an e6 INTEGER before the per-doc sum — a cross-row double sum
    * would be partition-order-dependent; integer sums are exact and
    * order-free, so the result is stable across runs and
    * partitionings. Bits are computed ONCE PER VOCAB TYPE (the
    * [[lmBitsE6]] integer log2 costs 30 fold steps, paid on the
    * Zipf-bounded dictionary, never per corpus token) and ride the
    * postings join as a precomputed column. */
  def lmQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val totals = vocab.agg(sum("cnt").as("n_total"), count(lit(1)).as("v_size"))
    val vb = vocab.crossJoin(broadcast(totals))
      .select(col("tok"),
        expr(lmBitsE6("n_total + v_size", "cnt + 1", duck = false))
          .as("tok_bits_e6"))
    toks.join(vb, Seq("tok"))
      .groupBy("doc_id", "lang")
      .agg(
        count(lit(1)).as("n_tok"),
        expr("sum(tok_bits_e6) div count(1)").as("bits_e6"))
      .orderBy("doc_id")
  }

  /** q_lm_bigram: the bigram upgrade of [[lmQuality]] — one step up
    * the n-gram ladder toward CCNet's KenLM (a 5-gram model): each
    * document scored by mean conditional information content, the
    * first token by the unigram add-one estimate and every later
    * token by −log₂ p̂(wᵢ | wᵢ₋₁) = −log₂ ((c(wᵢ₋₁wᵢ)+1)/(c(wᵢ₋₁)+V)).
    * Context makes filler CHEAPER than the unigram model thinks
    * ("batch batch batch" compresses hard) and incoherent token salad
    * costlier — exactly the separation a fluency filter wants.
    *
    * Scale shape: the bigram table is the Zipf-bounded pair dictionary
    * (two-phase (prev, cur) aggregate); the pair explode is a map-side
    * transform over the already-split token array (no self-join to
    * form adjacency); scoring is the same postings equi-join as the
    * unigram — one extra join against the pair dictionary. Same
    * e6-integer-before-sum determinism contract as [[lmQuality]],
    * with the same integer-log2 kernel paid once per DICTIONARY row
    * (first-token bits per vocab type, conditional bits per bigram
    * type), never per corpus token. */
  def lmBigram(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("arr"))
      .localCheckpoint() // corpus-ordered token arrays; three consumers
    val toks = docs.select(explode(col("arr")).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val totals = vocab.agg(sum("cnt").as("n_total"), count(lit(1)).as("v_size"))
    val pairs = docs.select(col("doc_id"), col("lang"), explode(expr(
      """CASE WHEN size(arr) >= 2
        |  THEN transform(sequence(2, size(arr)),
        |    i -> struct(element_at(arr, i - 1) AS prev, element_at(arr, i) AS cur))
        |  ELSE array() END""".stripMargin)).as("p"))
      .select(col("doc_id"), col("lang"),
        col("p.prev").as("prev"), col("p.cur").as("cur"))
    val cb = pairs.groupBy("prev", "cur").agg(count(lit(1)).as("cbn"))
    val vb = vocab.crossJoin(broadcast(totals))
      .select(col("tok"),
        expr(lmBitsE6("n_total + v_size", "cnt + 1", duck = false)).as("b"))
    val first = docs
      .select(col("doc_id"), col("lang"), element_at(col("arr"), 1).as("tok"))
      .join(vb, Seq("tok"))
      .select(col("doc_id"), col("lang"), col("b"))
    val cbb = cb
      .join(vocab.select(col("tok").as("prev"), col("cnt").as("cu")), Seq("prev"))
      .crossJoin(broadcast(totals))
      .select(col("prev"), col("cur"),
        expr(lmBitsE6("cu + v_size", "cbn + 1", duck = false)).as("b"))
    val rest = pairs
      .join(cbb, Seq("prev", "cur"))
      .select(col("doc_id"), col("lang"), col("b"))
    first.unionAll(rest)
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tok"),
        expr("sum(b) div count(1)").as("bits_e6"))
      .orderBy("doc_id")
  }

  /** q_kn_bigram: the Kneser–Ney upgrade of [[lmBigram]] — interpolated
    * KN with absolute discounting (Kneser & Ney ICASSP'95; Chen &
    * Goodman's benchmark winner, the smoothing KenLM ships), the
    * published answer to add-one's two failures: add-one over-taxes
    * frequent contexts (V is added to every denominator), and it backs
    * off to RAW unigram frequency, which scores "Francisco" high even
    * though it only ever follows "San". KN discounts every seen bigram
    * by a flat D = 0.75 and redistributes exactly the freed mass to the
    * CONTINUATION unigram P_cont(w) ∝ |distinct predecessors of w|:
    * P(w|v) = (c(vw) − D)/c(v·) + D·N1+(v·)/c(v·) · P_cont(w).
    * P_cont carries add-one smoothing ((N1+(·w)+1)/(N_bb+V)) so
    * document-INITIAL-only tokens (zero continuation count) stay
    * scoreable — the one departure from textbook KN, shared by both
    * engines and used for the first-token score too. Scored bigrams
    * are always seen (the model trains on the corpus it scores), so
    * the discounted term never floors at zero.
    *
    * Output shape matches q_lm_bigram (doc_id, lang, n_tok, bits_e6)
    * so the two smoothers are directly comparable; the spec pins that
    * they genuinely disagree.
    *
    * Scale shape: identical to [[lmBigram]] — the bigram dictionary is
    * one two-phase (prev, cur) agg (localCheckpointed: four readers),
    * continuation/context censuses are aggs OVER that dictionary
    * (∝ bigram types, never corpus tokens), scoring is the postings
    * equi-join, and every token's bits are e6-floored BEFORE the
    * per-doc sum (the order-free integer-sum contract). */
  def knBigram(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("arr"))
      .localCheckpoint() // token arrays; three consumers
    val vsize = docs.select(explode(col("arr")).as("tok"))
      .agg(count_distinct(col("tok")).as("v_size"))
    val pairs = docs.select(col("doc_id"), col("lang"), explode(expr(
      """CASE WHEN size(arr) >= 2
        |  THEN transform(sequence(2, size(arr)),
        |    i -> struct(element_at(arr, i - 1) AS prev, element_at(arr, i) AS cur))
        |  ELSE array() END""".stripMargin)).as("p"))
      .select(col("doc_id"), col("lang"),
        col("p.prev").as("prev"), col("p.cur").as("cur"))
    val cb = pairs.groupBy("prev", "cur").agg(count(lit(1)).as("cbn"))
      .localCheckpoint() // four readers: cv, n1l, nbb, scoring join
    val cv = cb.groupBy("prev").agg(sum("cbn").as("cv"), count(lit(1)).as("n1r"))
    val n1l = cb.groupBy("cur").agg(count(lit(1)).as("n1l"))
    val consts = cb.agg(count(lit(1)).as("nbb")).crossJoin(broadcast(vsize))
    val first = docs
      .select(col("doc_id"), col("lang"), element_at(col("arr"), 1).as("cur"))
      .join(n1l, Seq("cur"), "left").na.fill(0L, Seq("n1l"))
      .crossJoin(broadcast(consts))
      .select(col("doc_id"), col("lang"),
        expr(lmBitsE6("nbb + v_size", "n1l + 1", duck = false)).as("b"))
    // The KN interpolation as ONE integer rational: multiply through
    // by 4·cv·(nbb+V) ⇒ num = (4·cbn−3)·(nbb+V) + 3·n1r·(n1l+1),
    // den = 4·cv·(nbb+V); P < 1 strictly, so num < den and the bits
    // are a nonnegative integer log2 of a ratio of BIGINTs. The
    // shared pre-shift kk (sized so den's factors stay under 2⁶²)
    // is 0 at any realistic corpus and keeps the products exact;
    // at ≳10⁹-token corpora with ≳10⁹ bigram types it trades low
    // bits (≤2⁻³⁰ relative, both engines identically) for overflow
    // safety. Bits paid once per BIGRAM TYPE, never per corpus token.
    val kk = cb
      .join(cv, Seq("prev"))
      .join(n1l, Seq("cur")) // every scored cur is a successor ⇒ n1l ≥ 1
      .crossJoin(broadcast(consts))
      .withColumn("kk", expr(
        "greatest(0, (length(bin(4 * cv)) - 1) + (length(bin(nbb + v_size)) - 1) + 2 - 62)"))
    val num = "(4 * cbn - 3) * shiftright(nbb + v_size, kk) + " +
      "shiftright(3 * n1r * (n1l + 1), kk)"
    val den = "(4 * cv) * shiftright(nbb + v_size, kk)"
    val cbb = kk.select(col("prev"), col("cur"),
      expr(lmBitsE6(den, num, duck = false)).as("b"))
    val rest = pairs
      .join(cbb, Seq("prev", "cur"))
      .select(col("doc_id"), col("lang"), col("b"))
    first.unionAll(rest)
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tok"),
        expr("sum(b) div count(1)").as("bits_e6"))
      .orderBy("doc_id")
  }

  /** Funnel quality gate: token-count window + distinct-token
    * (repetition) floor — the Gopher-rule shapes, with bounds that
    * discriminate on this corpus (token counts span 10..~100;
    * distinct-token ratios span ~29%..100%). All integer
    * comparisons, so Spark and DuckDB agree bit-for-bit. */
  private[graft] val FunnelMinTok = 20L
  private[graft] val FunnelMaxTok = 10000L
  private[graft] val FunnelDistinctPct = 30L

  /** q_curation_funnel: the END-TO-END curation pipeline every
    * training corpus runs, as ONE composed query — quality gate →
    * exact dedup → near-dup drop → decontamination → mixture
    * sampling — reporting survivors (docs, tokens) after each stage.
    * The funnel report is what a data-curation run publishes: where
    * did the corpus shrink, and what token budget survives to
    * training.
    *
    * Stage predicates are doc-global (the dedup index and eval
    * shingle set are corpus-wide artifacts, as in production — a
    * doc's canonical/duplicate/contaminated status does not depend on
    * which other stages ran), EXCEPT the mixture keep rate, which is
    * computed over the survivors entering that stage (rebalancing
    * applies to what remains). Monotone conjunction ⇒ one pass
    * computes every stage's count.
    *
    * Scale shape: one corpus scan feeds all flag columns; the exact
    * hash and near-dup pair sets are the same equi-join/bucketed
    * shapes as q_dedup_exact / q_dedup_minhash; the eval shingle set
    * and per-lang counts are broadcast; the funnel itself is a single
    * 12-way conditional aggregate stacked to 6 rows. Nothing here is
    * new shuffle machinery — the funnel COMPOSES the already-bounded
    * stages, which is the point. */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val tokPat = TextAnalysis.TokenRe
    val docs = Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"), col("text"),
      size(regexp_extract_all(col("text"), lit(tokPat), lit(0)))
        .cast("long").as("n_tok"),
      size(split(col("text"), " ")).cast("long").as("n_ws"),
      size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct"))
      .withColumn("q",
        col("n_tok").between(FunnelMinTok, FunnelMaxTok) &&
          col("n_distinct") * 100 >= col("n_ws") * FunnelDistinctPct)
    // exact-canonical: global min doc_id per text hash (q_dedup_exact's rule)
    val canon = docs.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("canon_id"))
    val withKx = docs.withColumn("h", md5(col("text")))
      .join(canon, Seq("h"))
      .withColumn("kx", col("doc_id") === col("canon_id"))
    // near-dup: the larger id of any minhash candidate pair is dropped
    // (canonical-smallest survives) — the corpus-wide LSH index
    val ndDrop = graft.operators.Dedup.minhashPairs(spark, dir)
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("nd_drop", lit(true))
    // contamination: train doc sharing a DecontamK-gram with the eval set
    val shing = docs.select(col("doc_id"), explode(array_distinct(
      graft.functions.WordShingles.wordShingles(col("text"), DecontamK))).as("sh"))
    val evalSh = shing.filter(isEval(col("doc_id"))).select("sh").distinct()
    val contam = shing.filter(!isEval(col("doc_id")))
      .join(broadcast(evalSh), Seq("sh"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("dc_drop", lit(true))
    val flagged = withKx
      .join(ndDrop, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("nd", col("nd_drop").isNull)
      .withColumn("dc", !isEval(col("doc_id")) && col("dc_drop").isNull)
    // mixture keep rate over the survivors ENTERING the mixture stage
    val s4 = flagged.filter(col("q") && col("kx") && col("nd") && col("dc"))
    val counts = s4.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val totals = counts.agg(sum("n_lang").as("n_total"), count(lit(1)).as("n_langs"))
    val u = expr(
      "cast(conv(substr(md5(concat('mix', cast(doc_id as string))), 1, 15), 16, 10) as bigint) % 1000000")
    val mx = flagged
      .join(broadcast(counts), Seq("lang"), "left")
      .crossJoin(broadcast(totals))
      // false (not null) for langs absent from the survivor set
      .withColumn("mx",
        col("n_lang").isNotNull &&
          u * col("n_lang") * col("n_langs") < col("n_total") * lit(1000000L))
    val c1 = col("q")
    val c2 = c1 && col("kx")
    val c3 = c2 && col("nd")
    val c4 = c3 && col("dc")
    val c5 = c4 && col("mx")
    def d(c: Column) = sum(when(c, 1L).otherwise(0L))
    def t(c: Column) = sum(when(c, col("n_tok")).otherwise(0L))
    mx.agg(
      count(lit(1)).cast("long").as("d0"), sum("n_tok").as("t0"),
      d(c1).as("d1"), t(c1).as("t1"),
      d(c2).as("d2"), t(c2).as("t2"),
      d(c3).as("d3"), t(c3).as("t3"),
      d(c4).as("d4"), t(c4).as("t4"),
      d(c5).as("d5"), t(c5).as("t5"))
      .select(expr(
        """stack(6,
          |  cast(0 as bigint), 'ingest',      d0, t0,
          |  cast(1 as bigint), 'quality',     d1, t1,
          |  cast(2 as bigint), 'exact_dedup', d2, t2,
          |  cast(3 as bigint), 'near_dedup',  d3, t3,
          |  cast(4 as bigint), 'decontam',    d4, t4,
          |  cast(5 as bigint), 'mixture',     d5, t5
          |) as (stage, name, docs, toks)""".stripMargin))
      .orderBy("stage")
  }

  /** Bloom geometry, pinned because the oracle re-derives the exact
    * position set: m = 2¹⁶ bits (8 KiB bitset), j = 3 positions per
    * shingle taken from disjoint 8-hex-char windows of md5(shingle).
    * At production scale m grows to keep j·n/m ≈ ½ (10⁹ eval shingles
    * → m = 2³², a 512 MB bitset — still executor-resident where the
    * eval shingle STRINGS would be tens of GB). */
  private[graft] val BloomBits = 1 << 16
  private[graft] val BloomHashes = 3

  /** The j bit positions of one shingle (disjoint md5 hex windows —
    * independent enough for the fp analysis, and exactly computable in
    * DuckDB via the same substr/hex-cast). */
  private def bloomPositions(sh: Column): Seq[Column] =
    (0 until BloomHashes).map { i =>
      conv(substring(md5(sh), i * 8 + 1, 8), 16, 10).cast("long") % BloomBits
    }

  /** q_bloom_decontam: the decontamination probe rebuilt on a Bloom
    * filter — the shape that survives an eval suite too big to ship as
    * a broadcast string set. q_decontaminate broadcasts the eval
    * (shingle, doc) pairs themselves; here the eval side is folded
    * into an m-bit Bloom bitset (distributed build: each shingle maps
    * to j (word, bit-mask) pairs, map-side partial `bit_or` combines
    * them, and at most m/64 rows ever shuffle — the bitset size is
    * FIXED by m no matter how many shingles flow in). The probe side
    * is a map-only pass: j md5 windows, j bit tests against the
    * literal bitset, all codegen'd builtins — the corpus never
    * shuffles and never holds eval strings.
    *
    * Bloom semantics are one-sided by design: `maybe_contaminated`
    * has false POSITIVES (the spec measures the rate against the
    * exact join) but never false negatives — safe for a drop stage,
    * cheap enough to run inline. Fully value-oracled: DuckDB rebuilds
    * the identical position set, and "all j bits set" is exactly
    * "all j positions present" (set-bit set == position set). */
  def bloomDecontam(spark: SparkSession, dir: String): DataFrame = {
    val shingled = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.WordShingles.wordShingles(col("text"), DecontamK))).as("sh"))
    val posArr = array(bloomPositions(col("sh")): _*)
    // distributed bitset build: ≤ m/64 longs reach the driver
    val packed = shingled.filter(isEval(col("doc_id")))
      .select(explode(posArr).as("pos"))
      .select(shiftright(col("pos"), 6).as("w"),
        call_function("shiftleft", lit(1L), (col("pos") % 64).cast("int")).as("m"))
      .groupBy("w").agg(expr("bit_or(m)").as("bits"))
      .collect()
    val words = new Array[Long](BloomBits / 64)
    packed.foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    val bits = typedlit(words.toSeq)
    val hit = bloomPositions(col("sh")).map { p =>
      call_function("shiftright",
        element_at(bits, shiftright(p, 6).cast("int") + 1),
        (p % 64).cast("int")).bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
    shingled.filter(!isEval(col("doc_id")))
      .withColumn("hit", hit)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_bloom_hits"))
      .withColumn("maybe_contaminated", col("n_bloom_hits") > 0)
      .orderBy("doc_id")
  }

  /** DSIR hashed-feature dimension. The paper's point: the LM that
    * scores the raw pool must have FIXED size no matter how large the
    * target/raw corpora are — hashing tokens into B buckets bounds
    * both models at B counts, so they broadcast even when the pool is
    * 100 TB. Pinned because the oracle re-derives bucket ids. */
  private[graft] val DsirBuckets = 8192L

  /** q_dsir_weights: data selection via importance resampling (Xie et
    * al., "Data Selection for Language Models via Importance
    * Resampling", NeurIPS'23) — score every raw-pool document by how
    * much more likely a TARGET-distribution LM finds it than a
    * RAW-distribution LM: weight = Σ_tokens log₂ p_t(b) − log₂ p_r(b)
    * over hashed unigram buckets (add-one smoothing both sides). The
    * eval slice ([[isEval]], as the decontamination queries) stands in
    * for the high-quality target; positive weight = closer to target
    * than to the pool average, the resampling keep signal.
    *
    * The keep signal is the paper's resampling cut: the top 20% of
    * pool docs by weight (absolute-zero cuts are meaningless — with a
    * target slice much smaller than the pool, smoothing biases every
    * ratio down). The threshold is found as a top-k + min (Spark's
    * TakeOrderedAndProject — per-partition top-k then merge, no
    * global sort), broadcast back, and applied lexicographically on
    * (weight desc, doc_id asc) so ties resolve identically in both
    * engines and exactly k docs are kept.
    *
    * Scale shape: both LMs are ≤ [[DsirBuckets]]-row tables (two-phase
    * agg), broadcast onto the map-side bucket lookup; the only
    * corpus-sized shuffle is the per-doc aggregate (the score subplan
    * re-executes for the count/threshold passes — a production run
    * would persist the per-doc scores, they're one row per document).
    * Determinism: each token's log-ratio is an e6 INTEGER computed by
    * the [[log2RatioSignedE6]] shift-and-square kernel ONCE PER
    * BUCKET (8192 rows, the bits-per-vocab-type rule of q_lm_quality
    * — never per corpus token) BEFORE the per-doc sum (integer sums
    * are partition-order-free); no libm log2 anywhere in either
    * engine's scoring path, so a 1-ulp transcendental disagreement
    * can't flip a floor boundary data-dependently. The sum is
    * reported un-divided so no negative integer-division semantics
    * enter the compare. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("b",
        expr("cast(conv(substr(md5(tok), 1, 8), 16, 10) as bigint)") % DsirBuckets)
    val tgt = toks.filter(isEval(col("doc_id")))
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val raw = toks.filter(!isEval(col("doc_id")))
      .groupBy("b").agg(count(lit(1)).as("cr"))
    val model = tgt.join(raw, Seq("b"), "full_outer")
      .select(col("b"), coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
    val totals = model.agg(sum("ct").as("nt"), sum("cr").as("nr"))
    val modelScored = model.crossJoin(broadcast(totals))
      .withColumn("val_e6", expr(log2RatioSignedE6(
        "ct + 1", s"nr + $DsirBuckets", "cr + 1", s"nt + $DsirBuckets",
        duck = false)))
      .select("b", "val_e6")
    val scores = toks.filter(!isEval(col("doc_id")))
      .join(broadcast(modelScored), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("val_e6").as("logratio_e6"))
    // k from the pool's doc count (1 score row per pool doc — split(" ")
    // yields ≥ 1 token even for empty text): a column-pruned count of
    // the small side, not a third execution of the token-join subplan
    val k = math.max(1L,
      Tables.documents(spark, dir).filter(!isEval(col("doc_id"))).count() / 5)
    val thr = scores
      .orderBy(col("logratio_e6").desc, col("doc_id").asc).limit(k.toInt)
      .orderBy(col("logratio_e6").asc, col("doc_id").desc).limit(1)
      .select(col("logratio_e6").as("ts"), col("doc_id").as("tid"))
    scores.crossJoin(broadcast(thr))
      .withColumn("dsir_keep",
        col("logratio_e6") > col("ts")
          || (col("logratio_e6") === col("ts") && col("doc_id") <= col("tid")))
      .select(col("doc_id"), col("n_tok"), col("logratio_e6"), col("dsir_keep"))
      .orderBy("doc_id")
  }

  /** q_source_overlap: the cross-source contamination matrix — for
    * every pair of corpus sources, how many distinct word
    * [[DecontamK]]-gram shingles they share, plus the Jaccard overlap
    * (e6 integer). The between-collections leakage report a corpus
    * assembled from N crawls/dumps runs before mixing — two sources
    * with high shingle Jaccard are duplicates of each other, not
    * independent data.
    *
    * Scale shape: distinct (source, shingle) is one two-phase agg; the
    * pair counts come from the shingle self-join whose fan-out per
    * shingle is bounded by #sources (each shingle contributes at most
    * C(#sources, 2) pairs — #sources is a catalog constant, not data);
    * per-source sizes broadcast onto the 190-row pair table. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // sizes + both self-join sides consume the distinct (source,
    // shingle) set — one explosion, three readers. localCheckpoint:
    // materialized once, auto-released on GC rather than pinned in the
    // CacheManager for the session lifetime.
    val srcSh = Tables.documents(spark, dir)
      .select(col("source"), explode(array_distinct(
        graft.functions.WordShingles.wordShingles(col("text"), DecontamK))).as("sh"))
      .distinct()
      .localCheckpoint()
    val sizes = srcSh.groupBy("source").agg(count(lit(1)).as("n"))
    val pairs = srcSh.as("a").join(srcSh.as("b"), Seq("sh"))
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
      // decimal: n_shared × 10⁶ crosses 2⁶³ once a source holds ~10¹³
      // distinct shingles — inside the 100 TB range; ANSI would throw
      .withColumn("jaccard_e6",
        expr("(CAST(n_shared AS DECIMAL(38,0)) * 1000000) div (n_a + n_b - n_shared)"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_shared"), col("jaccard_e6"))
      .orderBy("src_a", "src_b")
  }

  /** Sample size for [[weightedSample]], pinned (the oracle embeds
    * it). */
  private[graft] val WsK = 100

  /** q_weighted_sample: weighted sampling WITHOUT replacement by the
    * Efraimidis–Spirakis exponential-jumps key (IPL'06) — each doc
    * draws u ∈ (0,1] and ranks by u^(1/w) with w = its length in
    * chars; the top [[WsK]] keys are a length-weighted sample with
    * P(inclusion) ∝ w. The sampler a token-BUDGETED mixture uses:
    * q_reservoir is uniform over docs, q_stratified_sample is quota'd
    * over groups, this one is proportional over TOKENS — pick 100
    * docs such that each token has equal say.
    *
    * Determinism + integer exactness: u is the salted-md5 e6 draw
    * (the q_mixture_sample convention, so both engines share the
    * stream bit-for-bit), and maximizing u^(1/w) is reordered as
    * minimizing key = (−ln u)·10⁶/w with −ln u e6-floored FIRST —
    * the numerator is nonnegative, so the one truncating division
    * never meets negative-division semantics (Spark div truncates,
    * DuckDB // floors — they only agree on nonnegatives).
    *
    * Scale shape: map-only key computation + top-k by (key, doc_id)
    * — Spark's TakeOrderedAndProject: per-partition k-heaps then one
    * k-row merge, NO global sort at any corpus size. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      // zero-weight guard: Spark's div by 0 yields NULL (which sorts
      // FIRST ascending — a zero-weight doc would silently head the
      // sample) while DuckDB's // by 0 errors; a w=0 doc has zero
      // inclusion probability by definition, so drop it in both
      // engines before the truncating division.
      .filter(col("n_chars") >= 1)
      .withColumn("u6", expr("cast(conv(substr(md5(concat('ws', " +
        "cast(doc_id as string))), 1, 15), 16, 10) as bigint) % 1000000 + 1"))
      .withColumn("nk", expr(
        "cast(floor(-ln(u6 / 1000000.0d) * 1000000.0d + 0.5d) as bigint)"))
      .withColumn("key_e6", expr("(nk * 1000000) div n_chars"))
      .orderBy(col("key_e6").asc, col("doc_id").asc)
      .limit(WsK)
      .select(col("doc_id"), col("source"), col("n_chars"), col("key_e6"))

  /** KMV sketch size for [[kmvSetops]]: 256 minima give a relative
    * standard error of ~1/√(K−2) ≈ 6 % on distinct counts — the
    * published KMV/theta-sketch operating point (Beyer et al.,
    * SIGMOD'07). */
  private[graft] val KmvK = 256

  /** Hash domain for [[kmvSetops]]: 13 md5 hex chars = 52 uniform
    * bits, the widest window whose (K−1)·2⁵² order-statistic product
    * still fits a BIGINT in both engines (255 · 2⁵² ≈ 1.15e18 < 2⁶³). */
  private[graft] val KmvMaxH: Long = 1L << 52

  /** q_kmv_setops: the sketch-path source-overlap matrix — per-source
    * KMV (bottom-K minimum-hash) distinct sketches over the token
    * vocabulary, pairwise union/intersection/Jaccard ESTIMATES from
    * the merged sketches, side-by-side with the exact answers as an
    * accuracy audit. q_source_overlap is the exact matrix (one
    * vocabulary self-join per run); this row is how the same decision
    * is planned at 100 TB: each source's sketch is K longs, sketches
    * are mergeable (union = k smallest of the concatenation, the theta
    * NoMoreHashTricks estimator), so the full N-source overlap matrix
    * costs one corpus scan ever and the pairwise stage runs on
    * N·K longs — no second pass, no vocabulary self-join.
    *
    * Estimators (Beyer et al. SIGMOD'07 / Dasgupta et al. theta
    * sketches): with U the K smallest distinct hashes of A∪B and kmax
    * = max(U): |A∪B| ≈ (K−1)·2⁵²/kmax (exact when the union sketch
    * never filled), J(A,B) ≈ |{h∈U : h∈sk(A) ∧ h∈sk(B)}| / |U|,
    * |A∩B| = J·|A∪B|. All integer: hashes are md5 windows identical in
    * both engines, divisions are single truncating `div`s, the one
    * cross-scale product runs in decimal(38,0) (q_source_overlap's
    * overflow convention).
    *
    * Scale shape: ONE token scan → distinct (source, h) census
    * (shuffle ∝ vocabulary) → per-source K-minima via the O(K)-state
    * capped_sorted_ids TypedImperativeAggregate (map-side partials; no
    * per-source sort). Everything downstream of the census runs on
    * #sources·K rows — broadcast-sized at any corpus scale. The exact
    * audit columns (the point of the row: MEASURED sketch error) reuse
    * the census for one hash-equi self-join, the q_source_overlap
    * bound: fan-out per hash ≤ #sources, a catalog constant. */
  /** Per-source 52-bit token hashes — duplicates allowed (the sketch
    * aggregate is duplicate-insensitive); shared with the streaming
    * variant so batch and stream hash identically. */
  private[graft] def kmvTokenHashes(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .select(col("source"),
        expr("cast(conv(substr(md5(tok), 1, 13), 16, 10) as bigint)").as("h"))

  /** Per-source KMV sketch as exploded (source, h) rows — ONE
    * aggregation pass, O(K) state per source via the
    * duplicate-insensitive capped_distinct_mins. */
  private[graft] def kmvSketch(hashes: DataFrame): DataFrame =
    hashes.groupBy("source")
      .agg(graft.functions.CappedDistinctMins
        .cappedDistinctMins(col("h"), KmvK).as("kmv"))
      .select(col("source"), explode(col("kmv")).as("h")) // ≤ #sources·K rows

  /** Pairwise set-operation ESTIMATES from exploded sketch rows —
    * everything here runs on #sources·K longs, broadcast-sized at any
    * corpus scale. Shared finish for q_kmv_setops and q_stream_kmv. */
  private[graft] def kmvEstimates(sketch: DataFrame): DataFrame = {
    val names = sketch.select("source").distinct()
    val axis = names.as("x").join(names.as("y"),
        col("x.source") < col("y.source"))
      .select(col("x.source").as("src_a"), col("y.source").as("src_b"))
    // union-of-sketches candidates with membership flags, deduped per
    // pair on h (two equi-joins against the tiny sketch table)
    val cand = axis.join(sketch, col("source") === col("src_a"))
      .select(col("src_a"), col("src_b"), col("h"),
        lit(1L).as("in_a"), lit(0L).as("in_b"))
      .union(axis.join(sketch, col("source") === col("src_b"))
        .select(col("src_a"), col("src_b"), col("h"),
          lit(0L).as("in_a"), lit(1L).as("in_b")))
      .groupBy("src_a", "src_b", "h")
      .agg(max("in_a").as("in_a"), max("in_b").as("in_b"))
    // K smallest of each pair's union — frames are ≤ 2K rows by
    // construction, so the window is bounded regardless of corpus size
    val w = Window.partitionBy("src_a", "src_b").orderBy("h")
    cand
      .withColumn("r", row_number().over(w))
      .withColumn("n_cand", count(lit(1)).over(
        Window.partitionBy("src_a", "src_b")))
      .filter(col("r") <= KmvK)
      .groupBy("src_a", "src_b")
      .agg(max("n_cand").as("n_cand"), count(lit(1)).as("k_used"),
        max("h").as("kmax"), sum(col("in_a") * col("in_b")).as("inter_in_k"))
      .select(col("src_a"), col("src_b"), col("k_used"),
        // union sketch never filled ⇒ it IS the exact union of two
        // exact sketches; otherwise the (K−1)/U_(K) order statistic
        when(col("n_cand") < KmvK, col("n_cand"))
          .otherwise(expr(s"(($KmvK - 1) * cast($KmvMaxH as bigint)) div kmax"))
          .as("union_est"),
        expr("(inter_in_k * 1000000) div k_used").as("jaccard_est_e6"))
      .withColumn("inter_est", expr(
        "cast((CAST(jaccard_est_e6 AS DECIMAL(38,0)) * union_est) div 1000000 as bigint)"))
  }

  def kmvSetops(spark: SparkSession, dir: String): DataFrame = {
    // distinct (source, hash): dedup on the HASH (not the token) —
    // the exact-audit side needs true set sizes, and the sketch side
    // is indifferent (duplicate-insensitive aggregate).
    val census = kmvTokenHashes(Tables.documents(spark, dir))
      .distinct()
      .localCheckpoint() // three readers: sizes, sketches, exact audit
    val sizes = census.groupBy("source").agg(count(lit(1)).as("n"))
    val est = kmvEstimates(kmvSketch(census))
    val exact = census.as("a").join(census.as("b"), Seq("h"))
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter_exact"))
    est.join(exact, Seq("src_a", "src_b"), "left")
      .na.fill(0L, Seq("inter_exact"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
      .withColumn("union_exact", col("n_a") + col("n_b") - col("inter_exact"))
      .withColumn("jaccard_exact_e6", expr(
        "(CAST(inter_exact AS DECIMAL(38,0)) * 1000000) div union_exact"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("k_used"), col("union_est"), col("jaccard_est_e6"),
        col("inter_est"),
        col("union_exact"), col("jaccard_exact_e6").cast("long").as("jaccard_exact_e6"),
        col("inter_exact"),
        abs(col("jaccard_est_e6") - col("jaccard_exact_e6")).cast("long").as("jac_err_e6"))
      .orderBy("src_a", "src_b")
  }

  /** floor(ln 2 · 10⁶ + 0.5), precomputed and inlined into both
    * engines (the Benford-constants convention). */
  private[graft] val Ln2E6: Long =
    math.floor(math.log(2.0) * 1e6 + 0.5).toLong

  /** q_js_divergence: the pairwise source-DISTRIBUTION divergence
    * matrix — Jensen–Shannon divergence between every two sources'
    * unigram distributions, the distributional companion to
    * q_source_overlap's shingle Jaccard (overlap says how much raw
    * text two crawls share; JS says whether they are drawn from the
    * same kind of language even when no literal text is shared —
    * the dedup-vs-reweigh routing signal for corpus mixing). JS needs
    * NO smoothing: a term absent from the partner contributes exactly
    * ln 2, so the sum splits into the shared-vocabulary join plus a
    * closed-form (n − Σ_shared y)·ln2 remainder — single-source terms
    * NEVER ride the join. Each shared term's ln(2·ya·nb/(ya·nb+yb·na))
    * floors to an e6 integer (one identical IEEE tree per engine)
    * before the decimal(38,0) sum; JS_e6 ∈ [0, ln2·10⁶], also
    * published normalized to [0, 10⁶].
    *
    * Scale shape: ONE (source, tok) census; the pair table comes from
    * the census self-join on tok — fan-out per term bounded by
    * #sources² (a catalog constant, the q_source_overlap bound);
    * per-source totals broadcast; pairs with fully disjoint
    * vocabularies are maximally divergent and absent (inner join),
    * like the overlap matrix. */
  def jsDivergence(spark: SparkSession, dir: String): DataFrame = {
    val census = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("y"))
      .localCheckpoint() // vocab × sources; totals + both join sides
    val totals = census.groupBy("source").agg(sum("y").as("n"))
    census.as("a").join(census.as("b"), Seq("tok"))
      .filter(col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.y").as("ya"), col("b.y").as("yb"))
      .join(broadcast(totals.select(col("source").as("src_a"),
        col("n").as("na"))), Seq("src_a"))
      .join(broadcast(totals.select(col("source").as("src_b"),
        col("n").as("nb"))), Seq("src_b"))
      .withColumn("ta", expr(
        """ya * cast(floor(ln((2.0 * ya * nb)
          | / (cast(ya as double) * nb + cast(yb as double) * na))
          | * 1e6 + 0.5) as bigint)""".stripMargin.replace('\n', ' ')))
      .withColumn("tb", expr(
        """yb * cast(floor(ln((2.0 * yb * na)
          | / (cast(ya as double) * nb + cast(yb as double) * na))
          | * 1e6 + 0.5) as bigint)""".stripMargin.replace('\n', ' ')))
      .groupBy("src_a", "src_b", "na", "nb")
      .agg(count(lit(1)).as("n_shared_terms"),
        sum(expr("cast(ta as decimal(38,0))")).as("sa"),
        sum(expr("cast(tb as decimal(38,0))")).as("sb"),
        sum("ya").as("ya_sum"), sum("yb").as("yb_sum"))
      .withColumn("kla_e6",
        expr(s"(sa + (na - ya_sum) * ${Ln2E6}) div na"))
      .withColumn("klb_e6",
        expr(s"(sb + (nb - yb_sum) * ${Ln2E6}) div nb"))
      .withColumn("jsd_e6", expr("(kla_e6 + klb_e6) div 2"))
      .withColumn("jsd_norm_e6", expr(s"(jsd_e6 * 1000000) div ${Ln2E6}"))
      .select("src_a", "src_b", "n_shared_terms", "jsd_e6", "jsd_norm_e6")
      .orderBy("src_a", "src_b")
  }

  /** Minimum in-source term count for the log-odds board — screens the
    * long noise tail before any statistic is computed. */
  private[graft] val LogoddsMinCount = 5L

  /** Terms kept per source on the log-odds leaderboard. */
  private[graft] val LogoddsTopK = 10

  /** q_logodds_terms: the per-source DISTINCTIVE-vocabulary board —
    * Monroe, Colaresi & Quinn 2008 ("Fightin' Words", Political
    * Analysis 16) log-odds-ratio with a Dirichlet prior, each source
    * compared against the REST of the corpus. The standard
    * corpus-comparison statistic: raw frequency ratios explode on rare
    * terms and PMI ignores sample size; the z-scored log-odds is the
    * one that ranks "terms this source genuinely over-uses" with
    * variance discounting. Reduced to the uninformative add-one prior
    * (α_w = 1, α₀ = V) so every count stays an exact integer.
    *
    * Exactness: δ is a difference of two ln-kernel terms (each
    * floor(ln(int expr)·10⁶+0.5) — the q_elasticity convention);
    * z = δ / √(1/(y_src+1) + 1/(y_rest+1)) is one identical IEEE tree
    * of correctly-rounded div/sqrt over exact integers (the
    * q_wilson_rates precedent), e3-floored. Rank pinned (z DESC, tok
    * ASC).
    *
    * Scale shape: ONE (source, tok) two-phase agg ∝ distinct terms ×
    * sources; corpus term totals REUSE that agg (groupBy tok on it —
    * no second corpus scan); rest-counts by subtraction (y_rest =
    * y_all − y_src — never an anti-join); per-source totals broadcast
    * (catalog-bounded); the rank window is PARTITIONED by source over
    * vocab-sized rows. */
  def logoddsTerms(spark: SparkSession, dir: String): DataFrame = {
    val bySrc = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok")
      .agg(count(lit(1)).as("y_src"))
      .localCheckpoint() // vocab × sources; three readers below
    val vocab = bySrc.groupBy("tok").agg(sum("y_src").as("y_all"))
    val srcTotals = bySrc.groupBy("source").agg(sum("y_src").as("n_src"))
    val totals = vocab.agg(sum("y_all").as("n_all"),
      count(lit(1)).as("v_size"))
    val scored = bySrc
      .filter(col("y_src") >= LogoddsMinCount)
      .join(vocab, Seq("tok"))
      .join(broadcast(srcTotals), Seq("source"))
      .crossJoin(broadcast(totals))
      .withColumn("y_rest", col("y_all") - col("y_src"))
      .withColumn("n_rest", col("n_all") - col("n_src"))
      .withColumn("delta_e6", expr(
        """cast(floor(ln((y_src + 1.0) / (n_src + v_size - y_src - 1.0)) * 1e6 + 0.5) as bigint)
          | - cast(floor(ln((y_rest + 1.0) / (n_rest + v_size - y_rest - 1.0)) * 1e6 + 0.5) as bigint)"""
          .stripMargin.replace('\n', ' ')))
      .withColumn("z_e3", expr(
        """cast(floor(cast(delta_e6 as double) / 1e6
          | / sqrt(1.0 / (y_src + 1) + 1.0 / (y_rest + 1)) * 1e3 + 0.5) as bigint)"""
          .stripMargin.replace('\n', ' ')))
    val w = Window.partitionBy("source")
      .orderBy(col("z_e3").desc, col("tok").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= LogoddsTopK)
      .select("source", "tok", "y_src", "y_rest", "delta_e6", "z_e3", "rank")
      .orderBy("source", "rank")
  }

  /** Output shard count for q_export_shards. */
  private[graft] val NShards = 8

  /** q_export_shards: the curated corpus partitioned into [[NShards]]
    * balanced output shards plus the shard MANIFEST — the final "write
    * the training dataset" stage (the WebDataset/TFRecord shard layout
    * every training loader consumes). Shard assignment is a salted
    * md5 draw on doc_id (layout-stable like q_sample_split: adding or
    * removing documents never moves a surviving doc to another shard),
    * and the manifest row per shard carries doc/token/char counts plus
    * a CONTENT fingerprint: bit_xor of a per-doc text hash —
    * commutative AND associative, so the fingerprint is identical
    * however partitions combine, with no sort anywhere. A loader can
    * verify a shard it reads against the manifest row byte-for-byte.
    *
    * Scale shape: one scan → map-only shard/token/hash columns → one
    * two-phase agg on [[NShards]] keys. In production the same shard
    * column feeds `write.partitionBy("shard")`; the manifest query IS
    * the bookkeeping that makes that write verifiable. */
  def exportShards(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        (expr("cast(conv(substr(md5(concat('shard', cast(doc_id as string))), 1, 15), 16, 10) as bigint)")
          % NShards).as("shard"),
        size(regexp_extract_all(col("text"), lit(TextAnalysis.TokenRe), lit(0)))
          .cast("long").as("n_tok"),
        length(col("text")).cast("long").as("n_chars"),
        expr("cast(conv(substr(md5(text), 1, 15), 16, 10) as bigint)").as("fp"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum("n_chars").as("n_chars"),
        expr("bit_xor(fp)").as("content_fp"),
        min("doc_id").as("min_doc_id"),
        max("doc_id").as("max_doc_id"))
      .orderBy("shard")

  /** q_dataset_card: the per-(source, lang) composition datasheet a
    * corpus release ships — doc/token/char counts, exact integer mean
    * doc length, and each cell's share of the whole corpus (e6) — the
    * table a "datasheets for datasets" card and every mixture-tuning
    * decision reads first.
    *
    * Scale shape: ONE corpus scan → two-phase agg on (source, lang);
    * the grouped table (|sources|×|langs| rows — catalog-sized) is
    * localCheckpointed and the corpus TOTALS reduce from it, so the
    * share denominators cost a second pass over ~100 rows, not the
    * corpus; totals then broadcast back onto the card. Shares multiply
    * in decimal(38,0) — n_tokens × 10⁶ crosses 2⁶³ near 10¹³ corpus
    * tokens (the q_vocab_coverage bound). */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val grouped = Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        size(regexp_extract_all(col("text"), lit(TextAnalysis.TokenRe), lit(0)))
          .cast("long").as("n_tok"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum("n_chars").as("n_chars"))
      .localCheckpoint() // card-sized; totals + card read it, one corpus pass
    val totals = grouped.agg(sum("n_docs").as("total_docs"),
      sum("n_tokens").as("total_toks"))
    grouped.crossJoin(broadcast(totals))
      .withColumn("mean_tok_e2", expr("(n_tokens * 100) div n_docs"))
      .withColumn("doc_share_e6",
        expr("(CAST(n_docs AS DECIMAL(38,0)) * 1000000) div total_docs"))
      .withColumn("tok_share_e6",
        expr("(CAST(n_tokens AS DECIMAL(38,0)) * 1000000) div total_toks"))
      .select("source", "lang", "n_docs", "n_tokens", "n_chars",
        "mean_tok_e2", "doc_share_e6", "tok_share_e6")
      .orderBy("source", "lang")
  }

  /** Length-bucket count and width for [[psiDrift]]: 16 buckets of 256
    * chars (cap at the last) cover the corpus's n_chars range; pinned
    * because the DuckDB oracle interpolates both. */
  private[graft] val PsiBuckets = 16
  private val PsiWidth = 256L
  /** Conventional PSI alarm threshold (0.1 on the natural scale ⇒
    * 100 000 at e6) — the industry rule of thumb: <0.1 stable,
    * 0.1–0.25 moderate shift, >0.25 major shift. */
  private val PsiAlarmE6 = 100000L

  /** q_psi_drift: per-source Population Stability Index of the
    * doc-length distribution against the corpus-wide mix — the drift
    * monitor a production pipeline runs per ingest source to catch a
    * crawler or parser gone wrong (truncated pages, boilerplate
    * floods) before the batch pollutes the training mix.
    *
    * PSI = Σ_buckets (p_i − q_i)·ln(p_i/q_i) with add-one smoothing
    * over the fixed [[PsiBuckets]]-bucket grid (so empty buckets
    * contribute finite mass and the index is defined for every
    * source). Each term is floored to e6 BEFORE the sum, and p, q are
    * single divisions of exactly-representable integers — the same
    * operation tree on both engines, so the only cross-engine risk is
    * a sub-ulp ln() difference landing exactly on a floor boundary
    * (the accepted q_zipf_spectrum tradeoff).
    *
    * Scale shape: one corpus scan → two-phase (source, bucket) counts
    * (≤ |sources|·16 rows), bucket totals and the grand total reduced
    * from THAT card-sized frame, the 16-row bucket grid broadcast —
    * nothing after the first aggregate is corpus-sized. */
  def psiDrift(spark: SparkSession, dir: String): DataFrame =
    psiFinish(
      psiBucketInput(Tables.documents(spark, dir))
        .groupBy("source", "bucket").agg(count(lit(1)).as("c"))
        .localCheckpoint()) // ≤ |sources|·16 rows; four consumers below

  /** Shared bucketing: (source, length-bucket) per doc — one
    * definition for batch [[psiDrift]] and the streaming variant. */
  private[graft] def psiBucketInput(docs: DataFrame): DataFrame =
    docs.select(col("source"),
      least(col("n_chars") / lit(PsiWidth), lit(PsiBuckets - 1L))
        .cast("long").as("bucket"))

  /** Shared PSI finish over the card-sized (source, bucket, c) counts —
    * the other half batch and stream share (the stream's sink owns the
    * counts; the index math runs batch-side over them, as the sketch
    * estimate does in q_stream_hll). */
  private[graft] def psiFinish(sc: DataFrame): DataFrame = {
    val spark = sc.sparkSession
    val st = sc.groupBy("source").agg(sum("c").as("n_src"))
    val cc = sc.groupBy("bucket").agg(sum("c").as("cb"))
    val ct = sc.agg(sum("c").as("n_all"))
    val grid = st.crossJoin(broadcast(
      spark.range(PsiBuckets).select(col("id").as("bucket"))))
    val terms = grid
      .join(sc, Seq("source", "bucket"), "left")
      .join(broadcast(cc), Seq("bucket"), "left")
      .crossJoin(broadcast(ct))
      .withColumn("p", (coalesce(col("c"), lit(0L)) + 1L).cast("double") /
        (col("n_src") + lit(PsiBuckets.toLong)).cast("double"))
      .withColumn("q", (coalesce(col("cb"), lit(0L)) + 1L).cast("double") /
        (col("n_all") + lit(PsiBuckets.toLong)).cast("double"))
      .withColumn("term_e6",
        floor((col("p") - col("q")) * log(col("p") / col("q")) * 1e6 + 0.5)
          .cast("long"))
    terms.groupBy("source", "n_src")
      .agg(sum("term_e6").as("psi_e6"))
      .select(col("source"), col("n_src").as("n_docs"), col("psi_e6"),
        (col("psi_e6") > PsiAlarmE6).as("drift"))
      .orderBy("source")
  }

  /** Snapshot-membership salt for [[snapshotDiff]] — md5-bucket of the
    * doc id, mod 10: bucket 0 exists only in the NEW snapshot (added),
    * bucket 1 only in the OLD (removed), bucket 2 in both with edited
    * text (changed). Shared verbatim with the oracle. */
  private val SnapSalt = "snap|"

  /** q_snapshot_diff: the incremental-ingest diff between two corpus
    * snapshots — per (status, lang) added/removed/changed/unchanged
    * document and character deltas, the report a pipeline emits per
    * crawl refresh to decide how much downstream work (dedup, decontam,
    * re-packing) the delta actually forces.
    *
    * The TESTDATA stand-in derives both snapshots from the one
    * documents table via a deterministic md5 bucket (10% added, 10%
    * removed, 10% edited); against real data the two sides are two
    * parquet snapshot roots and everything from the join down is
    * unchanged.
    *
    * Scale shape: the canonical CDC join — FULL OUTER on the doc key,
    * co-partitioned sort-merge (both sides shuffle once on doc_id);
    * change detection compares CONTENT HASHES (md5, computed map-side
    * before the join), never the payloads, so the wide text column
    * never rides the shuffle; the report is a two-phase (status, lang)
    * aggregate of the joined flags. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("b",
        expr(s"cast(conv(substr(md5(concat('$SnapSalt', cast(doc_id as string))), 1, 15), 16, 10) as bigint) % 10"))
    val old = d.filter(col("b") =!= 0)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("h"),
        col("n_chars"))
    val neu = d.filter(col("b") =!= 1)
      .select(col("doc_id"), col("lang"),
        when(col("b") === 2, md5(concat(col("text"), lit(" [rev2]"))))
          .otherwise(md5(col("text"))).as("h"),
        when(col("b") === 2, col("n_chars") + 7L)
          .otherwise(col("n_chars")).as("n_chars"))
    val o = old.select(col("doc_id"), col("lang"), col("h").as("ho"),
      col("n_chars").as("co"))
    val n = neu.select(col("doc_id").as("n_doc_id"), col("lang").as("n_lang"),
      col("h").as("hn"), col("n_chars").as("cn"))
    o.join(n, col("doc_id") === col("n_doc_id"), "full_outer")
      .select(
        coalesce(col("lang"), col("n_lang")).as("lang"),
        when(col("doc_id").isNull, lit("added"))
          .when(col("n_doc_id").isNull, lit("removed"))
          .when(col("ho") =!= col("hn"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        coalesce(col("co"), lit(0L)).as("co"),
        coalesce(col("cn"), lit(0L)).as("cn"))
      .groupBy("status", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("co").as("chars_old"),
        sum("cn").as("chars_new"),
        sum(col("cn") - col("co")).as("chars_delta"))
      .orderBy("status", "lang")
  }

  /** q_stratified_sample: EXACT-quota stratified sampling — every
    * (source, lang) stratum contributes exactly ⌈n/5⌉ documents (a
    * pinned 20 % quota with a floor of one), picked by salted-md5 rank
    * so the draw is deterministic, uniform within the stratum, and
    * reproducible across engines. The third member of the sampling
    * family: [[mixtureSample]] is Bernoulli at a target RATE (count
    * only in expectation), q_cluster_sample budgets √size per semantic
    * cluster; this is the classic survey-sampling quota per catalog
    * stratum — the shape a corpus datasheet's "balanced eval slice"
    * draw uses.
    *
    * Scale shape: one rank window partitioned by stratum — a
    * distributed sort keyed (stratum, md5), the terasort shape, one
    * shuffle. Stratum count is bounded by the source×lang alphabet; a
    * pathologically hot stratum sorts in one task, in which case the
    * production escape is the two-phase threshold variant (per-stratum
    * count → broadcast the ⌈n/5⌉-th md5 quantile estimate → map-side
    * filter + exact trim) — same answer, no per-stratum total sort. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source", "lang")
      .orderBy(expr("md5(concat('strat', cast(doc_id as string)))"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("source"), col("lang"), col("doc_id"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("n_stratum",
        count(lit(1)).over(Window.partitionBy("source", "lang")).cast("long"))
      .withColumn("budget", expr("(n_stratum + 4) div 5"))
      .filter(col("rnk") <= col("budget"))
      .select("source", "lang", "doc_id", "rnk", "n_stratum", "budget")
      .orderBy("source", "lang", "rnk")
  }

  /** q_gini_tokens: token-mass concentration per source — the Gini
    * coefficient of per-document token counts, the corpus-composition
    * inequality diagnostic (a source where 1 % of documents carry 90 %
    * of the tokens trains very differently from a uniform one, and
    * dedup/packing both key off exactly this skew). Uses the closed
    * form over ascending-ranked counts G = (2·Σi·xᵢ − (n+1)·Σx) /
    * (n·Σx), which is exact integer arithmetic once ranks are pinned
    * (ties broken by doc_id).
    *
    * Scale shape: one rank window per source (bounded alphabet) over a
    * two-column projection, then a plain aggregate. The rank-weighted
    * sum runs in decimal(38,0) — n·Σx reaches 10¹⁸ at mere millions of
    * docs per source, so a bigint product would ANSI-throw at scale;
    * DuckDB mirrors with HUGEINT. Sources with zero tokens are
    * excluded (Gini undefined). */
  def giniTokens(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("n_tok").asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(regexp_extract_all(col("text"), lit(TextAnalysis.TokenRe), lit(0)))
          .cast("long").as("n_tok"))
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("tok_total"),
        sum(col("i").cast("decimal(38,0)") * col("n_tok")).as("ixsum"))
      .filter(col("tok_total") > 0)
      .withColumn("gini_e6", expr(
        """cast(((2 * ixsum - (n_docs + 1) * cast(tok_total as decimal(38,0)))
          | * 1000000) div (cast(n_docs as decimal(38,0)) * tok_total)
          | as bigint)""".stripMargin))
      .select("source", "n_docs", "tok_total", "gini_e6")
      .orderBy("source")
  }

  /** q_ccnet_buckets: the CCNet head/middle/tail partition (Wenzek et
    * al., LREC'20 §4.3) — documents ranked by LM score within each
    * language and cut into perplexity tertiles; CCNet ships the "head"
    * as the high-quality training slice. Composes the [[lmQuality]]
    * kernel (corpus-trained add-one unigram LM, e6-integer bits)
    * verbatim, so the bucket boundaries inherit its determinism; the
    * tertile cut is ntile(3) over the total order (bits_e6, doc_id) —
    * ANSI NTILE semantics (front buckets take the remainder) agree
    * across engines.
    *
    * Scale shape: adds ONE rank window per language (bounded alphabet)
    * on top of lmQuality's postings equi-join, then a catalog-sized
    * aggregate. At 100 TB the per-language window is the same
    * terasort-shape sort q_stratified_sample documents; the production
    * escape is identical (approximate tertile thresholds from a
    * sampled CDF, then a map-side bucket assignment). */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("bits_e6").asc, col("doc_id").asc)
    lmQuality(spark, dir)
      .withColumn("bucket", ntile(3).over(w).cast("long"))
      .withColumn("band", element_at(
        array(lit("head"), lit("middle"), lit("tail")), col("bucket").cast("int")))
      .groupBy("lang", "bucket", "band")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("tok_total"),
        min("bits_e6").as("bits_min"),
        max("bits_e6").as("bits_max"))
      .orderBy("lang", "bucket")
  }

  /** q_ngram_novelty: marginal novelty per ingestion decile — of each
    * document's distinct word [[DecontamK]]-grams, the fraction never
    * seen in any earlier document (first occurrence = min doc_id, the
    * q_heaps_growth trick one level down: grams instead of tokens).
    * The curriculum/saturation diagnostic: a decile whose novelty
    * collapses is re-crawl or boilerplate — later data buys no new
    * content — and the curve says where incremental collection stops
    * paying.
    *
    * Scale shape: NO cumulative distinct and no window at all — one
    * shingle explosion feeds (a) a per-doc count and (b) a two-phase
    * MIN(doc_id) per gram; novel-at-doc counts come from grouping the
    * min table itself; the decile rollup is a broadcast of the 1-row
    * id bound + a 10-key agg. Shuffle ∝ distinct (doc, gram) pairs —
    * the same budget q_decontaminate already pays. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docSh = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.WordShingles.wordShingles(col("text"), DecontamK))).as("sh"))
      .localCheckpoint() // reused: per-doc totals + first-occurrence min
    val bounds = Tables.documents(spark, dir)
      .agg((max("doc_id") + 1).as("n_ids"))
    val novel = docSh.groupBy("sh").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    docSh.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      .join(novel, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_novel"))
      .crossJoin(broadcast(bounds))
      .withColumn("decile", expr("(doc_id * 10) div n_ids"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_grams").as("n_grams"), sum("n_novel").as("n_novel"))
      // decimal: Σnovel × 10⁶ crosses 2⁶³ near 10¹³ grams per decile
      .withColumn("novelty_e6", expr(
        "cast((cast(n_novel as decimal(38,0)) * 1000000) div n_grams as bigint)"))
      .orderBy("decile")
  }

  /** q_lorenz: the Lorenz curve itself, per source — at each document
    * decile (by ascending token count) the cumulative e6 share of
    * documents and of token mass. The curve q_gini_tokens integrates:
    * Gini is one number, these ten points say WHERE the inequality
    * lives (bottom-half starvation vs top-percentile hoarding read
    * differently for dedup/packing policy). Same [[TextAnalysis
    * .TokenRe]] counts as the Gini, so the two never disagree.
    *
    * Scale shape: a (source × distinct-token-count) histogram with two
    * cumsums over the bounded value axis — the raw docs never sort;
    * decile picks are min-v-meeting-rank conditional aggs joined back
    * to the histogram row (engine-safe: no struct-min ordering
    * assumptions). */
  def lorenz(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.documents(spark, dir)
      .select(col("source"),
        size(regexp_extract_all(col("text"), lit(TextAnalysis.TokenRe), lit(0)))
          .cast("long").as("v"))
      .groupBy("source", "v").agg(count(lit(1)).as("c"))
      .withColumn("m", col("v") * col("c"))
    val cum = hist
      .withColumn("cum_docs", sum("c").over(
        Window.partitionBy("source").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_toks", sum("m").over(
        Window.partitionBy("source").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(Window.partitionBy("source")))
      .withColumn("t", sum("m").over(Window.partitionBy("source")))
      .filter(col("t") > 0)
      .localCheckpoint() // reused: decile pick + cum lookup
    val picks = cum
      .withColumn("k", explode(array((1 to 10).map(i => lit(i.toLong)): _*)))
      .filter(col("cum_docs") >= expr("(n * k + 9) div 10"))
      .groupBy("source", "k").agg(min("v").as("v"))
    picks.join(cum.select("source", "v", "cum_docs", "cum_toks", "n", "t"),
        Seq("source", "v"))
      .select(col("source"), col("k").as("decile"),
        expr("cast((cast(cum_docs as decimal(38,0)) * 1000000) div n as bigint)")
          .as("doc_share_e6"),
        expr("cast((cast(cum_toks as decimal(38,0)) * 1000000) div t as bigint)")
          .as("token_share_e6"))
      .orderBy("source", "decile")
  }

  /** q_bigram_entropy: per-language conditional entropy H(next|prev)
    * of the word bigram process, in e6 bits — the predictability
    * number that separates formulaic/boilerplate text (low H) from
    * diverse prose (high H), read next to q_char_entropy (chars) and
    * q_lm_bigram (per-doc score): this is the corpus-level constant
    * those derive from. Exact: each distinct (lang, prev, cur) pair
    * contributes count · ⌊log₂(c_prev/c_pair)·10⁶+0.5⌋ — the
    * [[lmBitsE6]] integer shift-and-square log₂ (no libm
    * transcendental in either engine; c_prev ≥ c_pair, so the
    * kernel's non-negative contract holds) — then exact integer sums
    * in decimal(38,0).
    *
    * Scale shape: two chained two-phase aggs on Zipf-bounded keys
    * ((lang, prev, cur) then (lang, prev)) joined on the prev key, a
    * language-alphabet-sized finish. No windows. */
  def bigramEntropy(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documents(spark, dir)
      .select(col("lang"), split(col("text"), " ").as("arr"))
      .select(col("lang"), explode(expr(
        """CASE WHEN size(arr) >= 2
          |  THEN transform(sequence(2, size(arr)),
          |    i -> struct(element_at(arr, i - 1) AS prev, element_at(arr, i) AS cur))
          |  ELSE array() END""".stripMargin)).as("p"))
      .select(col("lang"), col("p.prev").as("prev"), col("p.cur").as("cur"))
    val cb = pairs.groupBy("lang", "prev", "cur").agg(count(lit(1)).as("cpc"))
      .localCheckpoint() // reused: prev totals + the weighted sum
    val cp = cb.groupBy("lang", "prev").agg(sum("cpc").as("cprev"))
    cb.join(cp, Seq("lang", "prev"))
      .select(col("lang"), col("cpc"),
        expr(lmBitsE6("cprev", "cpc", duck = false)).as("b"))
      .groupBy("lang")
      .agg(sum("cpc").as("n_pairs"), count(lit(1)).as("n_distinct"),
        expr("cast(sum(cast(cpc as decimal(38,0)) * b) div sum(cpc) as bigint)")
          .as("h_bits_e6"))
      .orderBy("lang")
  }

  /** Published Gopher-rules bounds (Rae et al. 2021, "Scaling Language
    * Models: ... Gopher", appendix A1.1 quality filtering) — pinned
    * because the DuckDB oracle interpolates them. */
  private[graft] val GopherMinWords = 50L
  private[graft] val GopherMaxWords = 100000L
  private[graft] val GopherMinWlenE2 = 300L   // mean word length ≥ 3
  private[graft] val GopherMaxWlenE2 = 1000L  // mean word length ≤ 10
  private[graft] val GopherMaxSymE6 = 100000L // symbol/word ratio ≤ 0.1
  private[graft] val GopherMinAlphaE6 = 800000L // ≥80% words have a letter
  private[graft] val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  private[graft] val GopherMinStops = 2L

  /** q_gopher_rules: the Gopher quality-filter rule battery per
    * document — the published heuristic gate (word-count bounds, mean
    * word length 3-10, #/ellipsis symbol ratio ≤ 0.1, ≥80% alphabetic
    * words, ≥2 English stop-word occurrences — the DataTrove
    * GopherQualityFilter reading of the rule) that C4/Gopher-lineage
    * pipelines run before any model-based scoring. Emits each rule's
    * measured value plus the composite keep flag, so the downstream
    * mix can audit WHICH rule rejected a document (the per-rule
    * censuses every curation report wants), not just how many.
    *
    * Scale shape: one corpus scan, all rules computed in a single
    * codegen'd projection over the split-once token array — no
    * shuffle at all until the final ORDER BY on the bounded output.
    * Ratios are e2/e6-integer (truncating div) so the gate is
    * bit-stable across engines. */
  private def GopherStopsSqlLits: String =
    GopherStops.map(s => s"'$s'").mkString(", ")

  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherFlags(Tables.widened(
      Tables.documents(spark, dir).select("doc_id", "text")))
      .orderBy("doc_id")

  /** Blocklist lexicon for q_lexicon_flags — a FIXED operator constant
    * (pinned: the oracle embeds it), standing in for the toxicity /
    * unsafe-content word lists every web-corpus filter carries (C4's
    * badwords pass, Dolma's taggers). Terms chosen to hit the
    * synthetic corpus vocabulary so the census is non-trivial at
    * every SF. */
  private[graft] val RiskLexicon =
    Seq("big", "crash", "drop", "leak", "scan", "slow", "stale", "unsafe")

  /** q_lexicon_flags: blocklist-lexicon census — per lexicon term, how
    * many documents contain it, total hit count, and the e6 document
    * rate. The audit view of the C4-style badword filter: before a
    * blocklist DROPS anything, the census says what fraction of the
    * corpus each term would take with it (a term with a 30% doc rate
    * is a false-positive factory, not a filter).
    *
    * Scale shape: one map-side token scan with an |lexicon|-membership
    * filter — only hits survive into the shuffle, so the exchange is
    * ∝ matched tokens, not corpus tokens; the (term, doc) distinct +
    * per-term census are two-phase aggs over ≤ |lexicon| keys; the
    * corpus-size denominator rides the accepted 1-row
    * crossJoin(broadcast(...)) pattern. No UDFs, fully codegen'd. */
  def lexiconFlags(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.widened(
      Tables.documents(spark, dir).select("doc_id", "text"))
    lexiconFinish(lexiconHits(docs),
      docs.agg(count(lit(1)).as("n_total")))
  }

  /** The (term, doc_id, n) hit census over any `(doc_id, text)` frame
    * — ONE shared kernel for the batch query and the stream
    * (q_stream_lexicon): per-doc counts are complete the moment the
    * doc's single row arrives, so the rows are a pure keyed UPSERT
    * across micro-batches (each doc lands exactly once). */
  private[graft] def lexiconHits(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"),
          lit(TextAnalysis.TokenRe), lit(0))).as("term"))
      .filter(col("term").isInCollection(RiskLexicon))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("n"))

  /** Per-term census over the (term, doc) hit rows + the 1-row corpus
    * total — shared by batch and stream so the finishes cannot
    * disagree. */
  private[graft] def lexiconFinish(hits: DataFrame,
      total: DataFrame): DataFrame =
    hits.groupBy("term")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_hits"))
      .crossJoin(broadcast(total))
      .withColumn("doc_rate_e6", expr("n_docs * 1000000 div n_total"))
      .select(col("term"), col("n_docs"), col("n_hits"), col("doc_rate_e6"))
      .orderBy("term")

  /** The rule battery over any `(doc_id, text)` frame — ONE shared
    * kernel for the batch query and the stateless stream scorer
    * (q_stream_quality), so the two can never disagree and share one
    * oracle. */
  private[graft] def gopherFlags(docs: DataFrame): DataFrame = {
    docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("mean_wlen_e2",
        expr("length(replace(text, ' ', '')) * 100L div n_words"))
      .withColumn("sym_e6", expr(
        """(regexp_count(text, '#') +
          | (length(text) - length(replace(text, '...', ''))) div 3)
          | * 1000000L div n_words""".stripMargin.replace('\n', ' ')))
      .withColumn("alpha_e6", expr(
        "size(filter(ws, w -> w rlike '[a-zA-Z]')) * 1000000L div n_words"))
      .withColumn("stop_hits", expr(
        s"size(filter(ws, w -> array_contains(array(${GopherStopsSqlLits}), lower(w))))")
        .cast("long"))
      .withColumn("keep",
        col("n_words").between(GopherMinWords, GopherMaxWords) &&
        col("mean_wlen_e2").between(GopherMinWlenE2, GopherMaxWlenE2) &&
        (col("sym_e6") <= GopherMaxSymE6) &&
        (col("alpha_e6") >= GopherMinAlphaE6) &&
        (col("stop_hits") >= GopherMinStops))
      .select("doc_id", "n_words", "mean_wlen_e2", "sym_e6", "alpha_e6",
        "stop_hits", "keep")
  }

  /** Keywords whose presence as whole words votes for "code". */
  private[graft] val CodeKws =
    Seq("def", "return", "import", "function", "class", "const",
      "var", "void", "int", "public")
  private def CodeKwsSqlLits: String =
    CodeKws.map(s => s"'$s'").mkString(", ")

  /** q_code_detect: the code-vs-prose router — the modality split a
    * pretraining mix does FIRST (code goes to the code pipeline with
    * its own dedup/quality rules; prose continues to the Gopher
    * gate). Four integer signals per document — symbol-character
    * density, indented-line share, code-punctuation line endings
    * (`;`/`{`/`}`), and whole-word keyword hits — each voting
    * against a fixed threshold, is_code = ≥ 2 votes (no single
    * signal can misroute a document; StarCoder-lineage heuristic
    * routers use exactly this rule-vote shape).
    *
    * Scale shape: one corpus scan, every signal computed in a single
    * codegen'd projection over the split-once line/word arrays — no
    * shuffle until the bounded final ORDER BY. All ratios e6-integer
    * (truncating div, zero-guarded) so the route is bit-stable
    * cross-engine. */
  def codeDetect(spark: SparkSession, dir: String): DataFrame =
    codeFlags(Tables.widened(
      Tables.documents(spark, dir).select("doc_id", "text")))
      .orderBy("doc_id")

  /** The rule battery over any `(doc_id, text)` frame — factored so
    * the spec can plant synthetic code documents. */
  private[graft] def codeFlags(docs: DataFrame): DataFrame = {
    docs
      .withColumn("ls", split(col("text"), "\n"))
      .withColumn("n_lines", size(col("ls")).cast("long"))
      .withColumn("sym_e6", expr(
        "regexp_count(text, '[{}();=<>]') * 1000000L div greatest(length(text), 1)"))
      .withColumn("indent_e6", expr(
        "size(filter(ls, l -> l rlike '^(  |\t)')) * 1000000L div n_lines"))
      .withColumn("eol_e6", expr(
        "size(filter(ls, l -> l rlike '[;{}]$')) * 1000000L div n_lines"))
      .withColumn("kw_hits", expr(
        s"size(filter(split(text, '[ \n]'), w -> array_contains(array($CodeKwsSqlLits), w)))")
        .cast("long"))
      .withColumn("votes",
        (when(col("sym_e6") >= 20000L, 1L).otherwise(0L) +
          when(col("indent_e6") >= 150000L, 1L).otherwise(0L) +
          when(col("eol_e6") >= 150000L, 1L).otherwise(0L) +
          when(col("kw_hits") >= 2L, 1L).otherwise(0L)))
      .withColumn("is_code", col("votes") >= 2L)
      .select("doc_id", "n_lines", "sym_e6", "indent_e6", "eol_e6",
        "kw_hits", "votes", "is_code")
  }

  /** q_chi2_grid: the source × lang independence audit — Pearson's
    * χ² over the full contingency grid ("does language mix depend on
    * ingest source?" — if yes, per-source language balancing must
    * happen BEFORE mixing, the routing decision q_js_divergence
    * informs at the vocabulary level, made here at the metadata
    * level). Per cell: observed count, expected count under
    * independence, and the χ² contribution — the cells that drive
    * dependence are the report, not just the statistic.
    *
    * Exactness: the n-scaled cell identity (n·O − r·c)² / (n·r·c)
    * needs no division until the final e3 floor (the q_chi2_abtest
    * kernel generalized to an R×C grid); everything runs in
    * decimal(38,0)/HUGEINT — exact to ~5·10⁸ documents, beyond which
    * the e3 scale drops to e0 (documented trade, same as the 2×2
    * case). Grid total and dof ride every row for the one-line
    * verdict.
    *
    * Scale shape: ONE (source, lang) two-phase count over the scan;
    * margins, total, and contributions are catalog-sized aggregates
    * and broadcasts — nothing after the first agg touches corpus
    * scale. */
  def chi2Grid(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy("source", "lang").agg(count(lit(1)).as("o"))
      .localCheckpoint() // reused: margins + the cell projection
    val rows = cells.groupBy("source").agg(sum("o").as("r"))
    val cols = cells.groupBy("lang").agg(sum("o").as("c"))
    val tot = cells.agg(sum("o").as("n"),
      countDistinct("source").as("ns"), countDistinct("lang").as("nl"))
    val scored = cells
      .join(broadcast(rows), "source")
      .join(broadcast(cols), "lang")
      .crossJoin(broadcast(tot))
      .withColumn("e_e3", expr(
        "cast(cast(r as decimal(38,0)) * c * 1000 div n as bigint)"))
      .withColumn("contrib_e3", expr(
        """cast((cast(n as decimal(38,0)) * o - cast(r as decimal(38,0)) * c)
          | * (cast(n as decimal(38,0)) * o - cast(r as decimal(38,0)) * c)
          | * 1000 div (cast(n as decimal(38,0)) * r * c) as bigint)"""
          .stripMargin.replace('\n', ' ')))
    scored
      .withColumn("chi2_e3",
        sum("contrib_e3").over(Window.partitionBy())) // bounded grid
      .withColumn("dof", (col("ns") - 1) * (col("nl") - 1))
      .select("source", "lang", "o", "r", "c", "e_e3", "contrib_e3",
        "chi2_e3", "dof")
      .orderBy("source", "lang")
  }

  // ── Differential-privacy release (q_dp_release) ────────────────────

  /** Release threshold: a group's NOISY count must clear this to be
    * published — the thresholding rule of Wilson et al. 2020
    * ("Differentially Private SQL with Bounded User Contribution",
    * VLDB 13): groups too small to survive their own noise are
    * suppressed outright rather than published with junk values. */
  private[graft] val DpTau = 5L

  /** Bounded-contribution clip: a document adds at most this many
    * tokens to its group's released total, pinning the token sum's
    * sensitivity at [[DpClip]] (the same paper's contribution bound —
    * without it the Laplace scale is unbounded). */
  private[graft] val DpClip = 200L

  /** The per-(source, lang) census the release is computed FROM —
    * exact doc counts and clipped token sums. Split out because both
    * sums are ADDITIVE across micro-batches, so the streaming twin
    * (q_stream_dp) upserts exactly this and shares [[dpFinish]] and
    * the batch oracle. */
  private[graft] def dpCensus(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("lang"),
        least(size(split(col("text"), " ")).cast("long"), lit(DpClip))
          .as("tk"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n"), sum("tk").as("st"))

  /** The Laplace mechanism + threshold over a converged census.
    * DETERMINISTIC noise, the q_bootstrap_ci trick: a salted md5
    * uniform u∈[0,10⁶) per (stat, group) inverted through the Laplace
    * CDF X = −b·sgn(u−½)·ln(1−2|u−½|), the ln through the e6
    * ln-kernel — a pure function both engines reproduce bit-for-bit,
    * so the noisy release itself is hash-oracled. ε = 1 split evenly
    * across the two stats → b = 2·sensitivity per stat (counts:
    * sensitivity 1; tokens: [[DpClip]]). */
  private[graft] def dpFinish(census: DataFrame): DataFrame =
    census
      .withColumn("cc", expr("cast(conv(substr(md5(concat('dpc', " +
        "source, ':', lang)), 1, 15), 16, 10) as bigint) % 1000000 - 500000"))
      .withColumn("ct", expr("cast(conv(substr(md5(concat('dpt', " +
        "source, ':', lang)), 1, 15), 16, 10) as bigint) % 1000000 - 500000"))
      .withColumn("lnc", expr("cast(floor(ln(greatest(1000000 - 2 * abs(cc), 1)" +
        " / 1000000.0) * 1e6 + 0.5) as bigint)"))
      .withColumn("lnt", expr("cast(floor(ln(greatest(1000000 - 2 * abs(ct), 1)" +
        " / 1000000.0) * 1e6 + 0.5) as bigint)"))
      .withColumn("noisy_docs", expr("cast((cast(n as decimal(38,0)) * 1000000" +
        " - 2 * if(cc < 0, -1, 1) * lnc) div 1000000 as bigint)"))
      .withColumn("noisy_tokens", expr(s"cast((cast(st as decimal(38,0)) * 1000000" +
        s" - ${2 * DpClip} * if(ct < 0, -1, 1) * lnt) div 1000000 as bigint)"))
      .filter(col("noisy_docs") >= DpTau)
      .select("source", "lang", "noisy_docs", "noisy_tokens")
      .orderBy("source", "lang")

  /** q_dp_release: an ε-DIFFERENTIALLY-PRIVATE release of per-
    * (source, lang) corpus statistics — the Laplace mechanism (Dwork
    * et al. 2006) with bounded contribution and noisy-threshold
    * suppression, the shape every public statistics release of a
    * private corpus runs (US Census TopDown; Google's DP SQL). Counts
    * get Laplace(2/ε) noise, clipped token sums Laplace(2·C/ε), and
    * only groups whose NOISY count clears [[DpTau]] are published.
    *
    * Scale shape: one map-side clip projection fused into the scan,
    * ONE two-phase agg ∝ sources×langs (alphabet-bounded), then noise
    * as a pure per-group function and the threshold filter — nothing
    * after the agg touches corpus-sized data. */
  def dpRelease(spark: SparkSession, dir: String): DataFrame =
    dpFinish(dpCensus(Tables.documents(spark, dir)))

  /** Per-(user, event_type) contribution cap for [[dpUserStats]] —
    * the privacy unit is the USER, so a user may add at most this
    * many events to any released per-type count. */
  private[graft] val DpUserCap = 3L

  /** q_dp_user_stats: USER-level ε-DP release of per-event-type
    * activity counts — the privacy-unit nuance that separates real DP
    * SQL from row-level noise ([[dpRelease]] bounds documents; here
    * the unit is the user, so each user's contribution to a type's
    * count is clipped at [[DpUserCap]] BEFORE aggregation and the
    * Laplace scale is 2·cap/ε, Wilson et al. 2020 §4's bounded-user-
    * contribution transform). Same deterministic salted-uniform
    * Laplace and noisy-threshold release as the rest of the DP
    * toolkit, so the release is hash-oracled.
    *
    * Scale shape: ONE (user, type) two-phase agg (the contribution
    * clip), one (type) re-agg of that census, noise a pure per-type
    * function — the user-keyed shuffle is the one required pass. */
  def dpUserStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .select(col("event_type"), least(col("c"), lit(DpUserCap)).as("c"))
      .groupBy("event_type").agg(sum("c").as("n"))
      .withColumn("cc", expr("cast(conv(substr(md5(concat('dpu', " +
        "event_type)), 1, 15), 16, 10) as bigint) % 1000000 - 500000"))
      .withColumn("lnc", expr("cast(floor(ln(greatest(1000000 - 2 * abs(cc), 1)" +
        " / 1000000.0) * 1e6 + 0.5) as bigint)"))
      .withColumn("noisy_events", expr(s"cast((cast(n as decimal(38,0)) * 1000000" +
        s" - ${2 * DpUserCap} * if(cc < 0, -1, 1) * lnc) div 1000000 as bigint)"))
      .filter(col("noisy_events") >= DpTau)
      .select("event_type", "noisy_events")
      .orderBy("event_type")

  /** Fixed candidate-bucket axis for [[dpMedian]]: doc char counts
    * clipped to [0, [[DpMedClip]]) and bucketed by [[DpMedWidth]] —
    * the candidate set must be data-INDEPENDENT or its support leaks. */
  private[graft] val DpMedClip = 5000L
  private[graft] val DpMedWidth = 100L

  /** q_dp_median: an ε-DP MEDIAN per source via report-noisy-max —
    * the selection side of the DP toolkit ([[dpRelease]] covers
    * numeric release; medians are where Laplace-on-the-value fails
    * and the EXPONENTIAL MECHANISM (McSherry & Talwar 2007) is the
    * textbook answer). Candidates are the fixed char-count buckets;
    * utility u(c) = −|#below − #above| (rank distance, sensitivity
    * 1); each candidate's score u·ε/2 + Gumbel is argmaxed — adding
    * Gumbel noise to utilities and taking the max IS the exponential
    * mechanism (the Gumbel-max trick), and the Gumbel draw is
    * DETERMINISTIC: the salted-md5 uniform through the DOUBLE
    * ln-kernel g = −ln(−ln u), each stage e6-floored, so both
    * engines reproduce the released median bit-for-bit.
    *
    * Scale shape: one clipped-bucket projection fused into the scan,
    * ONE (source, bucket) two-phase agg; the fixed 50-bucket axis
    * crossed with the source catalog is alphabet-bounded, the
    * cumulative/rank windows partition by source over ≤ 50 rows. */
  def dpMedian(spark: SparkSession, dir: String): DataFrame = {
    val nBuckets = DpMedClip / DpMedWidth // 50
    val docs = Tables.documents(spark, dir)
      .select(col("source"),
        expr(s"least(n_chars, ${DpMedClip - 1}) div $DpMedWidth").as("b"))
    val counts = docs.groupBy("source", "b").agg(count(lit(1)).as("cnt"))
    val srcs = counts.select("source").distinct()
    val axis = srcs.select(col("source"),
      explode(sequence(lit(0L), lit(nBuckets - 1))).as("b"))
    val w = Window.partitionBy("source").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    axis.join(counts, Seq("source", "b"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("below", coalesce(sum("cnt").over(w), lit(0L)))
      .withColumn("n", sum("cnt").over(Window.partitionBy("source")))
      .withColumn("u", -abs(col("below") - (col("n") - col("below") - col("cnt"))))
      .withColumn("ug", expr("cast(conv(substr(md5(concat('dpm', " +
        "source, ':', cast(b as string))), 1, 15), 16, 10) as bigint) % 1000000"))
      .withColumn("t_e6", expr(
        "cast(floor(-ln(greatest(ug, 1) / 1000000.0) * 1e6 + 0.5) as bigint)"))
      .withColumn("g_e6", expr(
        "cast(floor(-ln(greatest(t_e6, 1) / 1000000.0) * 1e6 + 0.5) as bigint)"))
      .withColumn("score_e6", expr("(u * 1000000) div 2 + g_e6"))
      .withColumn("rn", row_number().over(Window.partitionBy("source")
        .orderBy(col("score_e6").desc, col("b").asc)))
      .filter(col("rn") === 1)
      .select(col("source"), col("b").as("bucket"),
        (col("b") * DpMedWidth + DpMedWidth / 2).as("dp_median_chars"))
      .orderBy("source")
  }

  // ── Budget-capped mixture plan (q_mixture_cap) ─────────────────────

  /** q_mixture_cap: the WATER-FILLING mixture plan — given a training
    * token budget T (half the corpus here), cap every source at the
    * single level c* such that Σ min(tokens_i, c*) fills T: small
    * sources keep everything, large sources are cut to the common
    * cap. This is the max-min-fair allocation (the classic
    * water-filling solution) and the standard way a mixture is
    * rebalanced when one crawl dominates the corpus — the planning
    * sibling of [[mixtureSample]]'s executed per-doc sampling.
    *
    * The cap has a closed form over the sources sorted ascending by
    * size: at the first position i where pre_i + (k−i+1)·t_i ≥ T,
    * c* = (T − pre_i) div (k−i+1) — so the whole plan is one sorted
    * prefix-sum walk, no iteration. All integers; the e6 share runs
    * in decimal(38,0) (10¹³ tokens × 10⁶ breaches bigint).
    *
    * Scale shape: ONE two-phase (source) agg over the scan; the
    * ranked prefix walk, segment pick, and cap are windows/reduces
    * over the CATALOG-BOUNDED source axis (the blessed bounded-axis
    * global window); the 1-row cap broadcasts back. */
  def mixtureCap(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(spark, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n"))
      .groupBy("source").agg(sum("n").as("n_tokens"))
      .localCheckpoint() // source axis; reused by walk + final join
    val kT = t.agg(count(lit(1)).as("k"),
      expr("sum(n_tokens) div 2").as("t_budget"))
    val w = Window.orderBy(col("n_tokens").asc, col("source").asc)
    val seg = t
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("pre", coalesce(sum("n_tokens").over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(kT))
    val i0 = seg
      .filter(col("pre") + (col("k") - col("i") + 1) * col("n_tokens") >= col("t_budget"))
      .agg(min("i").as("i0"))
    val cap = seg.crossJoin(broadcast(i0)).filter(col("i") === col("i0"))
      .select(expr("(t_budget - pre) div (k - i + 1)").as("cap_tokens"),
        col("t_budget"))
    t.crossJoin(broadcast(cap))
      .select(col("source"), col("n_tokens"), col("cap_tokens"),
        least(col("n_tokens"), col("cap_tokens")).as("alloc_tokens"),
        expr("cast((cast(least(n_tokens, cap_tokens) as decimal(38,0)) * 1000000)" +
          " div t_budget as bigint)").as("share_e6"))
      .orderBy("source")
  }

  // ── k-anonymity generalization audit (q_kanon_audit) ───────────────

  /** Anonymity threshold k: a quasi-identifier group is releasable
    * only at ≥ k members (Sweeney 2002). */
  private[graft] val KanonK = 5L

  /** q_kanon_audit: the k-ANONYMITY generalization-ladder audit over
    * the customer quasi-identifiers (nation, market segment, account-
    * balance bucket) — Samarati/Sweeney global recoding: walk a
    * monotone coarsening ladder (L0 $100 balance buckets → L1 $1000 →
    * L2 drop balance → L3 drop segment → L4 single group) and report,
    * per level, how many rows sit in sub-k groups (must-suppress
    * mass) and which level FIRST brings that mass within the 5 %
    * residual-risk budget — the audit a release pipeline runs before
    * publishing any user-keyed cut (the privacy sibling of
    * [[dpRelease]]'s noisy path).
    *
    * Each level is a strict coarsening of the previous (merging
    * groups can only move mass from sub-k to ≥ k), so
    * suppressed_rows is non-increasing down the table — asserted by
    * the spec.
    *
    * Scale shape: ONE corpus scan → two-phase agg ∝ distinct QI
    * combos (the checkpointed census); the five level audits
    * re-aggregate the census, not the corpus; the chosen-level pick
    * is a 1-row broadcast. */
  def kanonAudit(spark: SparkSession, dir: String): DataFrame = {
    val c0 = Tables.customer(spark, dir)
      .select(col("c_nationkey").cast("long").as("nat"),
        col("c_mktsegment").as("seg"),
        expr("cast(floor(c_acctbal * 100 + 0.5) as bigint) div 10000").as("b"))
      .groupBy("nat", "seg", "b").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // QI census; all five levels re-aggregate it
    def audit(level: Int, grouped: DataFrame): DataFrame =
      grouped.agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("cnt") >= KanonK, col("cnt")).otherwise(0L)).as("released_rows"),
        sum(when(col("cnt") < KanonK, col("cnt")).otherwise(0L)).as("suppressed_rows"))
        .select(lit(level.toLong).as("level"), col("n_groups"),
          col("released_rows"), col("suppressed_rows"))
    val lv = audit(0, c0)
      .unionByName(audit(1, c0.groupBy(col("nat"), col("seg"),
        expr("b div 10").as("b1")).agg(sum("cnt").as("cnt"))))
      .unionByName(audit(2, c0.groupBy("nat", "seg").agg(sum("cnt").as("cnt"))))
      .unionByName(audit(3, c0.groupBy("nat").agg(sum("cnt").as("cnt"))))
      .unionByName(audit(4, c0.groupBy().agg(sum("cnt").as("cnt"))))
    val chosen = lv
      .filter(col("suppressed_rows") * 20 <= col("released_rows") + col("suppressed_rows"))
      .agg(min("level").as("chosen_level"))
    lv.crossJoin(broadcast(chosen))
      .select(col("level"), col("n_groups"), col("released_rows"),
        col("suppressed_rows"),
        when(col("level") === col("chosen_level"), 1L).otherwise(0L).as("chosen"))
      .orderBy("level")
  }

  /** q_kl_sources: per-source unigram divergence from the corpus MIX
    * over the hashed [[DsirBuckets]] vocabulary — for each source,
    * self-entropy H(p), cross-entropy H(p, mix), and KL(p ‖ mix) in
    * e6 bits. THE data-mixing diagnostic (DoReMi/DSIR's framing): a
    * source with high KL is under-represented by the mix's code — the
    * one to up/down-weight first — and H(p, mix) − H(p) says exactly
    * how many wasted bits/token the current mix pays on that source.
    * Complements [[dsirWeights]] (per-DOC importance against an eval
    * target) with the per-SOURCE report against the mix itself.
    *
    * Semantics: add-one smoothing over the full 2¹³-bucket hashed
    * vocabulary (the DSIR kernel's hash, same md5 window), so
    * p_b = (c_b+1)/(n_s+B) sums to exactly 1 including never-seen
    * buckets — the bucket axis is therefore materialized densely
    * (B · sources rows, bounded at any corpus scale).
    *
    * Exactness: per-bucket terms quantize at e9 (one floor each, the
    * shared log2 tree over exact integer inputs), sum exactly as
    * integers, and report div 1000 to e6 — no distributed double sum.
    *
    * Scale shape: ONE token scan → the (source × bucket) two-phase
    * census; everything after rides the ≤ sources·8192-row axis with
    * broadcast mix/totals. */
  def klSources(spark: SparkSession, dir: String): DataFrame =
    klFinish(spark, klCensus(
      Tables.documents(spark, dir).select("source", "text")))

  /** The (source, hashed-bucket) token census over any `(source,
    * text)` frame — batch table or stream. Plain counts, ADDITIVE
    * across micro-batches; state ∝ sources × [[DsirBuckets]], never
    * the corpus. */
  private[graft] def klCensus(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("b",
        expr("cast(conv(substr(md5(tok), 1, 8), 16, 10) as bigint)") % DsirBuckets)
      .groupBy("source", "b").agg(count(lit(1)).as("c"))

  /** The dense-axis smoothing, per-bucket e9 floors, and exact-sum
    * divergence finish over the converged census — shared by batch
    * and stream. */
  private[graft] def klFinish(spark: SparkSession, census0: DataFrame): DataFrame = {
    val census = census0
      .localCheckpoint() // reused: mix rollup, totals, and the axis scan
    val mix = census.groupBy("b").agg(sum("c").as("ca"))
    val perSrc = census.groupBy("source").agg(sum("c").as("ns"))
    val nAll = census.agg(sum("c").as("na"))
    val axis = spark.range(DsirBuckets).select(col("id").as("b"))
      .crossJoin(broadcast(perSrc))
    axis.join(census, Seq("source", "b"), "left")
      .join(broadcast(mix), Seq("b"), "left")
      .crossJoin(broadcast(nAll))
      .select(col("source"), col("ns"),
        coalesce(col("c"), lit(0L)).as("c"),
        coalesce(col("ca"), lit(0L)).as("ca"), col("na"))
      // pd·log2(pd/qd) with pd = (c+1)/(ns+B), qd = (ca+1)/(na+B) —
      // ratios of exact integers, so every term routes through the
      // shift-and-square integer kernel (no libm log2 in either
      // engine; Spark's log2 is ln/ln, DuckDB's is libm log2 — the
      // composed-vs-direct pair is exactly the 1-ulp class that flips
      // floor boundaries data-dependently)
      .withColumn("kl_e9", expr(weightedLog2E9(
        "c + 1", s"ns + $DsirBuckets",
        Seq("c + 1", s"na + $DsirBuckets"),
        Seq(s"ns + $DsirBuckets", "ca + 1"), duck = false)))
      .withColumn("hs_e9", expr(weightedLog2E9(
        "c + 1", s"ns + $DsirBuckets",
        Seq(s"ns + $DsirBuckets"), Seq("c + 1"), duck = false)))
      .withColumn("hc_e9", expr(weightedLog2E9(
        "c + 1", s"ns + $DsirBuckets",
        Seq(s"na + $DsirBuckets"), Seq("ca + 1"), duck = false)))
      .groupBy("source")
      .agg(max("ns").as("n_tok"), sum("kl_e9").as("kl9"),
        sum("hs_e9").as("hs9"), sum("hc_e9").as("hc9"))
      .select(col("source"), col("n_tok"),
        // kl9 is ≥ 0 up to per-term quantization (< 1 e9-unit each);
        // pre-shift the e9→e6 floor onto non-negative ground so a
        // quantization-negative total can't hit the div-vs-// parity
        expr("cast((kl9 + 1000000000000000000) div 1000" +
          " - 1000000000000000 as bigint)").as("kl_e6"),
        expr("cast(hs9 div 1000 as bigint)").as("h_self_e6"),
        expr("cast(hc9 div 1000 as bigint)").as("h_cross_e6"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_kl_sources" -> (klSources(_, _)),
    "q_dp_release" -> (dpRelease(_, _)),
    "q_dp_median" -> (dpMedian(_, _)),
    "q_dp_user_stats" -> (dpUserStats(_, _)),
    "q_kanon_audit" -> (kanonAudit(_, _)),
    "q_mixture_cap" -> (mixtureCap(_, _)),
    "q_gopher_rules" -> (gopherRules(_, _)),
    "q_lexicon_flags" -> (lexiconFlags(_, _)),
    "q_code_detect" -> (codeDetect(_, _)),
    "q_chi2_grid" -> (chi2Grid(_, _)),
    "q_logodds_terms" -> (logoddsTerms(_, _)),
    "q_js_divergence" -> (jsDivergence(_, _)),
    "q_lorenz" -> (lorenz(_, _)),
    "q_bigram_entropy" -> (bigramEntropy(_, _)),
    "q_ngram_novelty" -> (ngramNovelty(_, _)),
    "q_stratified_sample" -> (stratifiedSample(_, _)),
    "q_gini_tokens" -> (giniTokens(_, _)),
    "q_ccnet_buckets" -> (ccnetBuckets(_, _)),
    "q_psi_drift" -> (psiDrift(_, _)),
    "q_snapshot_diff" -> (snapshotDiff(_, _)),
    "q_dataset_card" -> (datasetCard(_, _)),
    "q_export_shards" -> (exportShards(_, _)),
    "q_source_overlap" -> (sourceOverlap(_, _)),
    "q_kmv_setops" -> (kmvSetops(_, _)),
    "q_weighted_sample" -> (weightedSample(_, _)),
    "q_kn_bigram" -> (knBigram(_, _)),
    "q_dsir_weights" -> (dsirWeights(_, _)),
    "q_bloom_decontam" -> (bloomDecontam(_, _)),
    "q_decontaminate" -> (decontaminate(_, _)),
    "q_mixture_sample" -> (mixtureSample(_, _)),
    "q_lm_quality" -> (lmQuality(_, _)),
    "q_lm_bigram" -> (lmBigram(_, _)),
    "q_curation_funnel" -> (curationFunnel(_, _)))

  /** The q_lm_quality oracle minus its ORDER BY — shared verbatim by
    * q_ccnet_buckets, which cuts tertiles over exactly these scores
    * (the two oracles must agree on every bits_e6 or the bucket
    * boundaries drift). */
  private val LmQualityOracleCore: String =
    s"""WITH toks AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok),
      |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
      |        CAST(COUNT(*) AS BIGINT) AS v_size FROM vocab),
      |vb AS (
      |  SELECT tok,
      |    ${lmBitsE6("n_total + v_size", "cnt + 1", duck = true)} AS tok_bits_e6
      |  FROM vocab CROSS JOIN t),
      |scored AS (
      |  SELECT doc_id, lang, tok_bits_e6
      |  FROM toks JOIN vb USING (tok))
      |SELECT doc_id, lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_tok,
      |  CAST(SUM(tok_bits_e6) // COUNT(*) AS BIGINT) AS bits_e6
      |FROM scored
      |GROUP BY doc_id, lang""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // same tokenizer regex, same lexicon literals, integer doc rate
    "q_lexicon_flags" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(text, '${TextAnalysis.TokenRe}')) AS term
         |  FROM documents),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents),
         |hits AS (
         |  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |    CAST(COUNT(*) AS BIGINT) AS n_hits
         |  FROM toks
         |  WHERE term IN (${RiskLexicon.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY term)
         |SELECT term, n_docs, n_hits,
         |  CAST(n_docs * 1000000 // tot.n_total AS BIGINT) AS doc_rate_e6
         |FROM hits CROSS JOIN tot
         |ORDER BY term""".stripMargin,
    // same salted-md5 uniforms through the same Laplace inverse-CDF
    // ln-kernel, same clip/threshold literals
    "q_dp_release" ->
      s"""WITH g AS (
         |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(LEAST(len(string_split(text, ' ')), ${DpClip})) AS BIGINT) AS st
         |  FROM documents GROUP BY source, lang),
         |u AS (
         |  SELECT *,
         |    CAST(concat('0x', substr(md5('dpc' || source || ':' || lang), 1, 15)) AS BIGINT) % 1000000 - 500000 AS cc,
         |    CAST(concat('0x', substr(md5('dpt' || source || ':' || lang), 1, 15)) AS BIGINT) % 1000000 - 500000 AS ct
         |  FROM g),
         |k AS (
         |  SELECT *,
         |    CAST(floor(ln(GREATEST(1000000 - 2 * abs(cc), 1) / 1000000.0) * 1e6 + 0.5) AS BIGINT) AS lnc,
         |    CAST(floor(ln(GREATEST(1000000 - 2 * abs(ct), 1) / 1000000.0) * 1e6 + 0.5) AS BIGINT) AS lnt
         |  FROM u),
         |r AS (
         |  SELECT source, lang,
         |    CAST((CAST(n AS HUGEINT) * 1000000
         |      - 2 * (CASE WHEN cc < 0 THEN -1 ELSE 1 END) * lnc) // 1000000 AS BIGINT) AS noisy_docs,
         |    CAST((CAST(st AS HUGEINT) * 1000000
         |      - ${2 * DpClip} * (CASE WHEN ct < 0 THEN -1 ELSE 1 END) * lnt) // 1000000 AS BIGINT) AS noisy_tokens
         |  FROM k)
         |SELECT source, lang, noisy_docs, noisy_tokens FROM r
         |WHERE noisy_docs >= $DpTau ORDER BY source, lang""".stripMargin,
    // same per-user clip census, same salted Laplace ln-kernel,
    // same cap-scaled noise and threshold
    "q_dp_user_stats" ->
      s"""WITH uc AS (
         |  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM events GROUP BY 1, 2),
         |g AS (
         |  SELECT event_type,
         |    CAST(SUM(LEAST(c, $DpUserCap)) AS BIGINT) AS n
         |  FROM uc GROUP BY event_type),
         |u AS (
         |  SELECT *,
         |    CAST(concat('0x', substr(md5('dpu' || event_type), 1, 15)) AS BIGINT)
         |      % 1000000 - 500000 AS cc
         |  FROM g),
         |k AS (
         |  SELECT *,
         |    CAST(floor(ln(GREATEST(1000000 - 2 * abs(cc), 1) / 1000000.0)
         |      * 1e6 + 0.5) AS BIGINT) AS lnc
         |  FROM u),
         |r AS (
         |  SELECT event_type,
         |    CAST((CAST(n AS HUGEINT) * 1000000
         |      - ${2 * DpUserCap} * (CASE WHEN cc < 0 THEN -1 ELSE 1 END) * lnc)
         |      // 1000000 AS BIGINT) AS noisy_events
         |  FROM k)
         |SELECT event_type, noisy_events FROM r
         |WHERE noisy_events >= $DpTau ORDER BY event_type""".stripMargin,
    // same fixed bucket axis, same rank utility, same double
    // ln-kernel Gumbel and pinned noisy argmax
    "q_dp_median" ->
      s"""WITH d AS (
         |  SELECT source, LEAST(n_chars, ${DpMedClip - 1}) // $DpMedWidth AS b
         |  FROM documents),
         |c AS (SELECT source, b, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM d GROUP BY source, b),
         |axis AS (
         |  SELECT s.source, g.b FROM (SELECT DISTINCT source FROM c) s,
         |    LATERAL (SELECT unnest(generate_series(0, ${DpMedClip / DpMedWidth - 1})) AS b) g),
         |f AS (
         |  SELECT a.source, a.b, COALESCE(c.cnt, 0) AS cnt
         |  FROM axis a LEFT JOIN c ON c.source = a.source AND c.b = a.b),
         |cum AS (
         |  SELECT source, b, cnt,
         |    COALESCE(SUM(cnt) OVER (PARTITION BY source ORDER BY b
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
         |    SUM(cnt) OVER (PARTITION BY source) AS n
         |  FROM f),
         |sc AS (
         |  SELECT source, b,
         |    -abs(below - (n - below - cnt)) AS u,
         |    CAST(concat('0x', substr(md5('dpm' || source || ':'
         |      || CAST(b AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS ug
         |  FROM cum),
         |g AS (
         |  SELECT source, b, u,
         |    CAST(floor(-ln(GREATEST(
         |      CAST(floor(-ln(GREATEST(ug, 1) / 1000000.0) * 1e6 + 0.5) AS BIGINT),
         |      1) / 1000000.0) * 1e6 + 0.5) AS BIGINT) AS g_e6
         |  FROM sc),
         |rk AS (
         |  SELECT source, b, ROW_NUMBER() OVER (PARTITION BY source
         |    ORDER BY (u * 1000000) // 2 + g_e6 DESC, b) AS rn
         |  FROM g)
         |SELECT source, CAST(b AS BIGINT) AS bucket,
         |  CAST(b * $DpMedWidth + ${DpMedWidth / 2} AS BIGINT) AS dp_median_chars
         |FROM rk WHERE rn = 1 ORDER BY source""".stripMargin,
    // same sorted prefix walk, same closed-form segment pick, same
    // HUGEINT e6 share
    "q_mixture_cap" ->
      """WITH t AS (
        |  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |kt AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |  CAST(SUM(n_tokens) AS BIGINT) // 2 AS t_budget FROM t),
        |o AS (
        |  SELECT source, n_tokens,
        |    CAST(ROW_NUMBER() OVER (ORDER BY n_tokens, source) AS BIGINT) AS i,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY n_tokens, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pre
        |  FROM t),
        |seg AS (SELECT o.*, kt.k, kt.t_budget FROM o CROSS JOIN kt),
        |i0 AS (SELECT MIN(i) AS i0 FROM seg
        |  WHERE pre + (k - i + 1) * n_tokens >= t_budget),
        |cap AS (
        |  SELECT CAST((t_budget - pre) // (k - i + 1) AS BIGINT) AS cap_tokens,
        |    t_budget
        |  FROM seg, i0 WHERE i = i0.i0)
        |SELECT source, n_tokens, cap.cap_tokens,
        |  CAST(LEAST(n_tokens, cap.cap_tokens) AS BIGINT) AS alloc_tokens,
        |  CAST(CAST(LEAST(n_tokens, cap.cap_tokens) AS HUGEINT) * 1000000
        |    // t_budget AS BIGINT) AS share_e6
        |FROM t, cap ORDER BY source""".stripMargin,
    // same QI census, same monotone ladder, same 5 % budget pick
    "q_kanon_audit" ->
      s"""WITH c0 AS (
         |  SELECT CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
         |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) // 10000 AS b,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM customer GROUP BY 1, 2, 3),
         |l1 AS (SELECT nat, seg, b // 10 AS b1, CAST(SUM(cnt) AS BIGINT) AS cnt FROM c0 GROUP BY 1, 2, 3),
         |l2 AS (SELECT nat, seg, CAST(SUM(cnt) AS BIGINT) AS cnt FROM c0 GROUP BY 1, 2),
         |l3 AS (SELECT nat, CAST(SUM(cnt) AS BIGINT) AS cnt FROM c0 GROUP BY 1),
         |l4 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS cnt FROM c0),
         |lv AS (
         |  SELECT CAST(0 AS BIGINT) AS level, CAST(COUNT(*) AS BIGINT) AS n_groups,
         |    CAST(SUM(CASE WHEN cnt >= $KanonK THEN cnt ELSE 0 END) AS BIGINT) AS released_rows,
         |    CAST(SUM(CASE WHEN cnt < $KanonK THEN cnt ELSE 0 END) AS BIGINT) AS suppressed_rows FROM c0
         |  UNION ALL SELECT CAST(1 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         |    CAST(SUM(CASE WHEN cnt >= $KanonK THEN cnt ELSE 0 END) AS BIGINT),
         |    CAST(SUM(CASE WHEN cnt < $KanonK THEN cnt ELSE 0 END) AS BIGINT) FROM l1
         |  UNION ALL SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         |    CAST(SUM(CASE WHEN cnt >= $KanonK THEN cnt ELSE 0 END) AS BIGINT),
         |    CAST(SUM(CASE WHEN cnt < $KanonK THEN cnt ELSE 0 END) AS BIGINT) FROM l2
         |  UNION ALL SELECT CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         |    CAST(SUM(CASE WHEN cnt >= $KanonK THEN cnt ELSE 0 END) AS BIGINT),
         |    CAST(SUM(CASE WHEN cnt < $KanonK THEN cnt ELSE 0 END) AS BIGINT) FROM l3
         |  UNION ALL SELECT CAST(4 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         |    CAST(SUM(CASE WHEN cnt >= $KanonK THEN cnt ELSE 0 END) AS BIGINT),
         |    CAST(SUM(CASE WHEN cnt < $KanonK THEN cnt ELSE 0 END) AS BIGINT) FROM l4),
         |ch AS (SELECT MIN(level) AS chosen_level FROM lv
         |  WHERE suppressed_rows * 20 <= released_rows + suppressed_rows)
         |SELECT level, n_groups, released_rows, suppressed_rows,
         |  CAST(CASE WHEN level = chosen_level THEN 1 ELSE 0 END AS BIGINT) AS chosen
         |FROM lv, ch ORDER BY level""".stripMargin,
    // same single-scan rule battery; every ratio the same truncating
    // integer div; distinct-stop membership per literal stop word
    "q_chi2_grid" ->
      """WITH cells AS (
        |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |rows_ AS (SELECT source, CAST(SUM(o) AS BIGINT) AS r
        |          FROM cells GROUP BY source),
        |cols_ AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS c
        |          FROM cells GROUP BY lang),
        |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS ns,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS nl FROM cells),
        |sc AS (
        |  SELECT source, lang, o, r, c,
        |    CAST(CAST(r AS HUGEINT) * c * 1000 // n AS BIGINT) AS e_e3,
        |    CAST((CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * c)
        |      * (CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * c)
        |      * 1000 // (CAST(n AS HUGEINT) * r * c) AS BIGINT) AS contrib_e3,
        |    ns, nl
        |  FROM cells JOIN rows_ USING (source) JOIN cols_ USING (lang)
        |  CROSS JOIN tot)
        |SELECT source, lang, o, r, c, e_e3, contrib_e3,
        |  CAST(SUM(contrib_e3) OVER () AS BIGINT) AS chi2_e3,
        |  (ns - 1) * (nl - 1) AS dof
        |FROM sc ORDER BY source, lang""".stripMargin,
    "q_code_detect" -> {
      val kws = CodeKws.map(s => s"'$s'").mkString(", ")
      s"""WITH d AS (
         |  SELECT doc_id, text, string_split(text, chr(10)) AS ls
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
         |    CAST(len(regexp_extract_all(text, '[{}();=<>]')) * 1000000
         |      // greatest(len(text), 1) AS BIGINT) AS sym_e6,
         |    CAST(len(list_filter(ls, l -> regexp_matches(l, '^(  |\t)')))
         |      * 1000000 // len(ls) AS BIGINT) AS indent_e6,
         |    CAST(len(list_filter(ls, l -> regexp_matches(l, '[;{}]$$')))
         |      * 1000000 // len(ls) AS BIGINT) AS eol_e6,
         |    CAST(len(list_filter(string_split_regex(text, '[ \n]'),
         |      w -> list_contains([$kws], w))) AS BIGINT) AS kw_hits
         |  FROM d),
         |v AS (
         |  SELECT *, CAST((CASE WHEN sym_e6 >= 20000 THEN 1 ELSE 0 END)
         |    + (CASE WHEN indent_e6 >= 150000 THEN 1 ELSE 0 END)
         |    + (CASE WHEN eol_e6 >= 150000 THEN 1 ELSE 0 END)
         |    + (CASE WHEN kw_hits >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS votes
         |  FROM m)
         |SELECT doc_id, n_lines, sym_e6, indent_e6, eol_e6, kw_hits, votes,
         |  votes >= 2 AS is_code
         |FROM v ORDER BY doc_id""".stripMargin
    },
    "q_gopher_rules" -> {
      val stopList = GopherStops.map(s => s"'$s'").mkString(", ")
      s"""WITH d AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS ws
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(len(replace(text, ' ', '')) * 100 // len(ws) AS BIGINT)
         |      AS mean_wlen_e2,
         |    CAST((len(regexp_extract_all(text, '#')) +
         |          (len(text) - len(replace(text, '...', ''))) // 3)
         |         * 1000000 // len(ws) AS BIGINT) AS sym_e6,
         |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))
         |         * 1000000 // len(ws) AS BIGINT) AS alpha_e6,
         |    CAST(len(list_filter(ws, w -> list_contains([$stopList], lower(w))))
         |      AS BIGINT) AS stop_hits
         |  FROM d)
         |SELECT doc_id, n_words, mean_wlen_e2, sym_e6, alpha_e6, stop_hits,
         |  (n_words BETWEEN $GopherMinWords AND $GopherMaxWords)
         |  AND (mean_wlen_e2 BETWEEN $GopherMinWlenE2 AND $GopherMaxWlenE2)
         |  AND sym_e6 <= $GopherMaxSymE6
         |  AND alpha_e6 >= $GopherMinAlphaE6
         |  AND stop_hits >= $GopherMinStops AS keep
         |FROM m
         |ORDER BY doc_id""".stripMargin
    },
    // same census self-join on tok, identical IEEE ln trees, the
    // closed-form single-source ln2 remainder, truncating divs
    "q_js_divergence" ->
      s"""WITH census AS (
         |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS y
         |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
         |        FROM documents)
         |  GROUP BY source, tok),
         |totals AS (
         |  SELECT source, CAST(SUM(y) AS BIGINT) AS n
         |  FROM census GROUP BY source),
         |pairs AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |    a.y AS ya, b.y AS yb, ta.n AS na, tb.n AS nb
         |  FROM census a
         |  JOIN census b ON a.tok = b.tok AND a.source < b.source
         |  JOIN totals ta ON ta.source = a.source
         |  JOIN totals tb ON tb.source = b.source),
         |terms AS (
         |  SELECT src_a, src_b, na, nb, ya, yb,
         |    ya * CAST(floor(ln((2.0 * ya * nb)
         |      / (CAST(ya AS DOUBLE) * nb + CAST(yb AS DOUBLE) * na))
         |      * 1e6 + 0.5) AS BIGINT) AS ta,
         |    yb * CAST(floor(ln((2.0 * yb * na)
         |      / (CAST(ya AS DOUBLE) * nb + CAST(yb AS DOUBLE) * na))
         |      * 1e6 + 0.5) AS BIGINT) AS tb
         |  FROM pairs),
         |agg AS (
         |  SELECT src_a, src_b, na, nb,
         |    CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
         |    SUM(ta) AS sa, SUM(tb) AS sb,
         |    CAST(SUM(ya) AS BIGINT) AS ya_sum,
         |    CAST(SUM(yb) AS BIGINT) AS yb_sum
         |  FROM terms GROUP BY src_a, src_b, na, nb),
         |kl AS (
         |  SELECT src_a, src_b, n_shared_terms,
         |    (sa + (na - ya_sum) * $Ln2E6) // na AS kla_e6,
         |    (sb + (nb - yb_sum) * $Ln2E6) // nb AS klb_e6
         |  FROM agg)
         |SELECT src_a, src_b, n_shared_terms,
         |  CAST((kla_e6 + klb_e6) // 2 AS BIGINT) AS jsd_e6,
         |  CAST((((kla_e6 + klb_e6) // 2) * 1000000) // $Ln2E6 AS BIGINT)
         |    AS jsd_norm_e6
         |FROM kl ORDER BY src_a, src_b""".stripMargin,
    // same (source, tok) census, rest-by-subtraction, ln-kernel delta,
    // one IEEE div/sqrt tree for z, pinned rank — DuckDB lateral
    // aliases let each stage read the previous column
    "q_logodds_terms" ->
      s"""WITH toks AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |by_src AS (
         |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS y_src
         |  FROM toks GROUP BY source, tok),
         |vocab AS (
         |  SELECT tok, CAST(SUM(y_src) AS BIGINT) AS y_all
         |  FROM by_src GROUP BY tok),
         |st AS (
         |  SELECT source, CAST(SUM(y_src) AS BIGINT) AS n_src
         |  FROM by_src GROUP BY source),
         |t AS (
         |  SELECT CAST(SUM(y_all) AS BIGINT) AS n_all,
         |         CAST(COUNT(*) AS BIGINT) AS v_size FROM vocab),
         |sc AS (
         |  SELECT source, tok, y_src,
         |    y_all - y_src AS y_rest,
         |    n_all - n_src AS n_rest,
         |    CAST(floor(ln((y_src + 1.0) / (n_src + v_size - y_src - 1.0)) * 1e6 + 0.5) AS BIGINT)
         |      - CAST(floor(ln((y_all - y_src + 1.0) / (n_all - n_src + v_size - (y_all - y_src) - 1.0)) * 1e6 + 0.5) AS BIGINT)
         |      AS delta_e6
         |  FROM by_src JOIN vocab USING (tok) JOIN st USING (source) CROSS JOIN t
         |  WHERE y_src >= $LogoddsMinCount),
         |z AS (
         |  SELECT *, CAST(floor(CAST(delta_e6 AS DOUBLE) / 1e6
         |    / sqrt(1.0 / (y_src + 1) + 1.0 / (y_rest + 1)) * 1e3 + 0.5) AS BIGINT) AS z_e3
         |  FROM sc),
         |r AS (
         |  SELECT source, tok, y_src, y_rest, delta_e6, z_e3,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY z_e3 DESC, tok ASC) AS BIGINT) AS rank
         |  FROM z)
         |SELECT * FROM r WHERE rank <= $LogoddsTopK
         |ORDER BY source, rank""".stripMargin,
    // same TokenRe histogram, two cumsums, rank picks joined back
    "q_lorenz" ->
      s"""WITH h AS (
         |  SELECT source,
         |    CAST(len(regexp_extract_all(text, '${TextAnalysis.TokenRe}')) AS BIGINT) AS v,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM documents GROUP BY source, v),
         |cum AS (
         |  SELECT source, v, c,
         |    SUM(c) OVER w AS cum_docs, SUM(v * c) OVER w AS cum_toks,
         |    SUM(c) OVER (PARTITION BY source) AS n,
         |    SUM(v * c) OVER (PARTITION BY source) AS t
         |  FROM h WINDOW w AS (PARTITION BY source ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |ks AS (SELECT UNNEST(generate_series(1, 10)) AS k),
         |picks AS (
         |  SELECT source, k, MIN(v) AS v
         |  FROM cum CROSS JOIN ks
         |  WHERE t > 0 AND cum_docs >= (n * k + 9) // 10
         |  GROUP BY source, k)
         |SELECT p.source, CAST(p.k AS BIGINT) AS decile,
         |  CAST((CAST(cum_docs AS HUGEINT) * 1000000) // n AS BIGINT)
         |    AS doc_share_e6,
         |  CAST((CAST(cum_toks AS HUGEINT) * 1000000) // t AS BIGINT)
         |    AS token_share_e6
         |FROM picks p JOIN cum ON cum.source = p.source AND cum.v = p.v
         |ORDER BY p.source, decile""".stripMargin,
    // same lateral pair expansion; per-pair integer log2 ratio via the
    // shared shift-and-square kernel (lmBitsE6 — no libm log2)
    "q_bigram_entropy" ->
      s"""WITH d AS (
        |  SELECT lang, string_split(text, ' ') AS arr FROM documents),
        |pairs AS (
        |  SELECT lang, arr[i - 1] AS prev, arr[i] AS cur
        |  FROM d, LATERAL (SELECT unnest(generate_series(2, len(arr))) AS i)),
        |cb AS (SELECT lang, prev, cur, CAST(COUNT(*) AS BIGINT) AS cpc
        |  FROM pairs GROUP BY lang, prev, cur),
        |cp AS (SELECT lang, prev, CAST(SUM(cpc) AS BIGINT) AS cprev
        |  FROM cb GROUP BY lang, prev),
        |term AS (
        |  SELECT cb.lang, cb.cpc,
        |    ${lmBitsE6("cp.cprev", "cb.cpc", duck = true)} AS b
        |  FROM cb JOIN cp ON cp.lang = cb.lang AND cp.prev = cb.prev)
        |SELECT lang, CAST(SUM(cpc) AS BIGINT) AS n_pairs,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(SUM(CAST(cpc AS HUGEINT) * b) // SUM(cpc) AS BIGINT)
        |    AS h_bits_e6
        |FROM term GROUP BY lang ORDER BY lang""".stripMargin,
    // same per-doc-distinct shingles (the source_overlap CTE shape on
    // doc_id), first-occurrence min, heaps-growth decile bound
    "q_ngram_novelty" ->
      s"""WITH d AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents),
         |b AS (SELECT MAX(doc_id) + 1 AS n_ids FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id, sh FROM (
         |    SELECT doc_id, unnest(CASE WHEN len(ts) >= $DecontamK
         |      THEN [array_to_string(ts[i:i+${DecontamK - 1}], ' ')
         |            for i in range(1, len(ts) - ${DecontamK - 2})]
         |      ELSE [text] END) AS sh
         |    FROM d)),
         |nv AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel FROM (
         |    SELECT sh, MIN(doc_id) AS doc_id FROM sh GROUP BY sh)
         |  GROUP BY doc_id),
         |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
         |  FROM sh GROUP BY doc_id),
         |per AS (
         |  SELECT (t.doc_id * 10) // b.n_ids AS decile, t.n_grams,
         |    COALESCE(nv.n_novel, 0) AS n_novel
         |  FROM tot t LEFT JOIN nv USING (doc_id) CROSS JOIN b)
         |SELECT CAST(decile AS BIGINT) AS decile,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_grams) AS BIGINT) AS n_grams,
         |  CAST(SUM(n_novel) AS BIGINT) AS n_novel,
         |  CAST((CAST(SUM(n_novel) AS HUGEINT) * 1000000) // SUM(n_grams)
         |    AS BIGINT) AS novelty_e6
         |FROM per GROUP BY decile ORDER BY decile""".stripMargin,
    // Same add-one-smoothed grid; p and q are single divisions of
    // exact integers (CAST(int AS DOUBLE), never a bare decimal
    // literal — DuckDB would make those DECIMAL), each term floored to
    // e6 before the integer sum.
    "q_psi_drift" ->
      s"""WITH b AS (
         |  SELECT source, least(n_chars // $PsiWidth, ${PsiBuckets - 1}) AS bucket
         |  FROM documents),
         |sc AS (SELECT source, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
         |st AS (SELECT source, SUM(c) AS n_src FROM sc GROUP BY source),
         |cc AS (SELECT bucket, SUM(c) AS cb FROM sc GROUP BY bucket),
         |ct AS (SELECT SUM(c) AS n_all FROM sc),
         |grid AS (
         |  SELECT st.source, st.n_src, g.bucket
         |  FROM st, (SELECT unnest(generate_series(0, ${PsiBuckets - 1})) AS bucket) g),
         |terms AS (
         |  SELECT g.source, g.n_src,
         |    CAST(COALESCE(sc.c, 0) + 1 AS DOUBLE)
         |      / CAST(g.n_src + $PsiBuckets AS DOUBLE) AS p,
         |    CAST(COALESCE(cc.cb, 0) + 1 AS DOUBLE)
         |      / CAST(ct.n_all + $PsiBuckets AS DOUBLE) AS q
         |  FROM grid g
         |  LEFT JOIN sc ON sc.source = g.source AND sc.bucket = g.bucket
         |  LEFT JOIN cc ON cc.bucket = g.bucket
         |  CROSS JOIN ct)
         |SELECT source, CAST(n_src AS BIGINT) AS n_docs,
         |  CAST(SUM(CAST(floor((p - q) * ln(p / q) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS psi_e6,
         |  CAST(SUM(CAST(floor((p - q) * ln(p / q) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) > $PsiAlarmE6 AS drift
         |FROM terms GROUP BY source, n_src ORDER BY source""".stripMargin,
    // Same md5-bucket snapshot derivation, FULL OUTER on doc_id,
    // content-hash change detection, (status, lang) rollup.
    "q_snapshot_diff" ->
      s"""WITH d AS (
         |  SELECT doc_id, text, lang, n_chars,
         |    CAST(concat('0x', substr(md5(concat('$SnapSalt', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 10 AS b
         |  FROM documents),
         |old AS (SELECT doc_id, lang, text, n_chars FROM d WHERE b <> 0),
         |new AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN b = 2 THEN concat(text, ' [rev2]') ELSE text END AS text,
         |    CASE WHEN b = 2 THEN n_chars + 7 ELSE n_chars END AS n_chars
         |  FROM d WHERE b <> 1),
         |j AS (
         |  SELECT COALESCE(o.lang, n.lang) AS lang,
         |    CASE WHEN o.doc_id IS NULL THEN 'added'
         |         WHEN n.doc_id IS NULL THEN 'removed'
         |         WHEN md5(o.text) <> md5(n.text) THEN 'changed'
         |         ELSE 'unchanged' END AS status,
         |    COALESCE(o.n_chars, 0) AS co, COALESCE(n.n_chars, 0) AS cn
         |  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
         |SELECT status, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(co) AS BIGINT) AS chars_old,
         |  CAST(SUM(cn) AS BIGINT) AS chars_new,
         |  CAST(SUM(cn - co) AS BIGINT) AS chars_delta
         |FROM j GROUP BY status, lang ORDER BY status, lang""".stripMargin,
    "q_dataset_card" ->
      s"""WITH d AS (
         |  SELECT source, lang,
         |    CAST(len(regexp_extract_all(text, '${TextAnalysis.TokenRe}')) AS BIGINT) AS n_tok,
         |    CAST(len(text) AS BIGINT) AS n_chars
         |  FROM documents),
         |g AS (
         |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |    CAST(SUM(n_chars) AS BIGINT) AS n_chars
         |  FROM d GROUP BY source, lang),
         |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
         |        CAST(SUM(n_tokens) AS BIGINT) AS total_toks FROM g)
         |SELECT source, lang, n_docs, n_tokens, n_chars,
         |  CAST((n_tokens * 100) // n_docs AS BIGINT) AS mean_tok_e2,
         |  CAST((n_docs * 1000000) // total_docs AS BIGINT) AS doc_share_e6,
         |  CAST((n_tokens * 1000000) // total_toks AS BIGINT) AS tok_share_e6
         |FROM g CROSS JOIN t ORDER BY source, lang""".stripMargin,
    "q_export_shards" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |      % $NShards AS shard,
         |    CAST(len(regexp_extract_all(text, '${TextAnalysis.TokenRe}')) AS BIGINT) AS n_tok,
         |    CAST(len(text) AS BIGINT) AS n_chars,
         |    CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS fp
         |  FROM documents)
         |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         |  CAST(bit_xor(fp) AS BIGINT) AS content_fp,
         |  MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
         |FROM d GROUP BY shard ORDER BY shard""".stripMargin,
    // same md5-window hash buckets, dense axis, e9 per-bucket floors
    "q_kl_sources" ->
      s"""WITH census AS (
         |  SELECT source,
         |    CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % $DsirBuckets AS b,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |mix AS (SELECT b, CAST(SUM(c) AS BIGINT) AS ca FROM census GROUP BY b),
         |per_src AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns
         |  FROM census GROUP BY source),
         |n_all AS (SELECT CAST(SUM(c) AS BIGINT) AS na FROM census),
         |axis AS (
         |  SELECT s.source, s.ns, g.b
         |  FROM per_src s CROSS JOIN
         |    (SELECT UNNEST(generate_series(0, ${DsirBuckets - 1})) AS b) g),
         |terms AS (
         |  SELECT source, ns,
         |    ${weightedLog2E9("c + 1", s"ns + $DsirBuckets",
              Seq("c + 1", s"na + $DsirBuckets"),
              Seq(s"ns + $DsirBuckets", "ca + 1"), duck = true)} AS kl_e9,
         |    ${weightedLog2E9("c + 1", s"ns + $DsirBuckets",
              Seq(s"ns + $DsirBuckets"), Seq("c + 1"),
              duck = true)} AS hs_e9,
         |    ${weightedLog2E9("c + 1", s"ns + $DsirBuckets",
              Seq(s"na + $DsirBuckets"), Seq("ca + 1"),
              duck = true)} AS hc_e9
         |  FROM (
         |    SELECT a.source, a.ns, COALESCE(cs.c, 0) AS c,
         |      COALESCE(m.ca, 0) AS ca, na
         |    FROM axis a
         |    LEFT JOIN census cs ON cs.source = a.source AND cs.b = a.b
         |    LEFT JOIN mix m ON m.b = a.b
         |    CROSS JOIN n_all))
         |SELECT source, CAST(MAX(ns) AS BIGINT) AS n_tok,
         |  CAST((CAST(SUM(kl_e9) AS BIGINT) + 1000000000000000000) // 1000
         |    - 1000000000000000 AS BIGINT) AS kl_e6,
         |  CAST(CAST(SUM(hs_e9) AS BIGINT) // 1000 AS BIGINT) AS h_self_e6,
         |  CAST(CAST(SUM(hc_e9) AS BIGINT) // 1000 AS BIGINT) AS h_cross_e6
         |FROM terms GROUP BY source ORDER BY source""".stripMargin,
    "q_dsir_weights" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % $DsirBuckets AS b
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
         |tg AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM t
         |  WHERE doc_id % $EvalMod = $EvalRem GROUP BY b),
         |rw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM t
         |  WHERE doc_id % $EvalMod <> $EvalRem GROUP BY b),
         |model AS (
         |  SELECT COALESCE(tg.b, rw.b) AS b,
         |    COALESCE(ct, 0) AS ct, COALESCE(cr, 0) AS cr
         |  FROM tg FULL OUTER JOIN rw ON tg.b = rw.b),
         |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt,
         |  CAST(SUM(cr) AS BIGINT) AS nr FROM model),
         |mv AS MATERIALIZED (
         |  SELECT m.b,
         |    ${log2RatioSignedE6("m.ct + 1", s"tot.nr + $DsirBuckets",
              "m.cr + 1", s"tot.nt + $DsirBuckets", duck = true)} AS val_e6
         |  FROM model m CROSS JOIN tot),
         |v AS (
         |  SELECT x.doc_id, mv.val_e6
         |  FROM t x JOIN mv USING (b)
         |  WHERE x.doc_id % $EvalMod <> $EvalRem),
         |s AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
         |    CAST(SUM(val_e6) AS BIGINT) AS logratio_e6
         |  FROM v GROUP BY doc_id),
         |kk AS (SELECT GREATEST(1, COUNT(*) // 5) AS k FROM s)
         |SELECT doc_id, n_tok, logratio_e6,
         |  ROW_NUMBER() OVER (ORDER BY logratio_e6 DESC, doc_id ASC) <= kk.k AS dsir_keep
         |FROM s CROSS JOIN kk
         |ORDER BY doc_id""".stripMargin,
    // Rebuilds the identical j-position set from the same md5 hex
    // windows; "all j bits set" in the bitset is exactly "all distinct
    // positions present in the eval position set", so the LEFT JOIN
    // count compare reproduces every probe bit (false positives
    // included).
    "q_bloom_decontam" ->
      s"""WITH d AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id, sh FROM (
         |    SELECT doc_id, unnest(CASE WHEN len(ts) >= $DecontamK
         |      THEN [array_to_string(ts[i:i+${DecontamK - 1}], ' ')
         |            for i in range(1, len(ts) - ${DecontamK - 2})]
         |      ELSE [text] END) AS sh
         |    FROM d)),
         |pos3 AS (
         |  SELECT doc_id, sh,
         |    [CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) % $BloomBits,
         |     CAST(concat('0x', substr(md5(sh), 9, 8)) AS BIGINT) % $BloomBits,
         |     CAST(concat('0x', substr(md5(sh), 17, 8)) AS BIGINT) % $BloomBits] AS ps
         |  FROM sh),
         |evpos AS (
         |  SELECT DISTINCT unnest(ps) AS pos FROM pos3 WHERE doc_id % $EvalMod = $EvalRem),
         |trpd AS (
         |  SELECT DISTINCT doc_id, sh, unnest(ps) AS pos
         |  FROM pos3 WHERE doc_id % $EvalMod <> $EvalRem),
         |m AS (
         |  SELECT doc_id, sh, COUNT(*) AS np, COUNT(e.pos) AS nm
         |  FROM trpd LEFT JOIN evpos e USING (pos)
         |  GROUP BY doc_id, sh)
         |SELECT doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(SUM(CASE WHEN nm = np THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
         |  SUM(CASE WHEN nm = np THEN 1 ELSE 0 END) > 0 AS maybe_contaminated
         |FROM m GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    "q_source_overlap" ->
      s"""WITH d AS (
         |  SELECT source, text, string_split(text, ' ') AS ts FROM documents),
         |sh AS (
         |  SELECT DISTINCT source, sh FROM (
         |    SELECT source, unnest(CASE WHEN len(ts) >= $DecontamK
         |      THEN [array_to_string(ts[i:i+${DecontamK - 1}], ' ')
         |            for i in range(1, len(ts) - ${DecontamK - 2})]
         |      ELSE [text] END) AS sh
         |    FROM d)),
         |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY source),
         |pairs AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM sh a JOIN sh b USING (sh)
         |  WHERE a.source < b.source
         |  GROUP BY a.source, b.source)
         |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_shared,
         |  (n_shared * 1000000) // (sa.n + sb.n - n_shared) AS jaccard_e6
         |FROM pairs
         |JOIN sizes sa ON sa.source = src_a
         |JOIN sizes sb ON sb.source = src_b
         |ORDER BY src_a, src_b""".stripMargin,
    // same salted e6 draw, e6-floored -ln FIRST, one nonnegative
    // truncating division, same (key, doc_id) top-k
    "q_weighted_sample" ->
      s"""WITH keyed AS (
         |  SELECT doc_id, source, n_chars,
         |    CAST(concat('0x', substr(md5('ws' || CAST(doc_id AS VARCHAR)), 1, 15))
         |      AS BIGINT) % 1000000 + 1 AS u6
         |  FROM documents WHERE n_chars >= 1),
         |k2 AS (
         |  SELECT doc_id, source, n_chars,
         |    (CAST(floor(-ln(u6 / 1000000.0) * 1000000.0 + 0.5) AS BIGINT)
         |     * 1000000) // n_chars AS key_e6
         |  FROM keyed)
         |SELECT doc_id, source, n_chars, key_e6 FROM k2
         |ORDER BY key_e6, doc_id LIMIT $WsK""".stripMargin,
    // same 52-bit md5 token hashes, bottom-K per source via
    // row_number (the window equivalent of capped_sorted_ids), same
    // union-rank estimators and exact-audit self-join
    "q_kmv_setops" ->
      s"""WITH census AS (
         |  SELECT DISTINCT source,
         |    CAST(concat('0x', substr(md5(tok), 1, 13)) AS BIGINT) AS h
         |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
         |        FROM documents)),
         |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
         |          FROM census GROUP BY source),
         |sk AS (
         |  SELECT source, h FROM (
         |    SELECT source, h,
         |      row_number() OVER (PARTITION BY source ORDER BY h) AS r
         |    FROM census) WHERE r <= $KmvK),
         |names AS (SELECT DISTINCT source FROM census),
         |axis AS (
         |  SELECT x.source AS src_a, y.source AS src_b
         |  FROM names x JOIN names y ON x.source < y.source),
         |cand AS (
         |  SELECT src_a, src_b, h,
         |    MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
         |    SELECT p.src_a, p.src_b, s.h, 1 AS in_a, 0 AS in_b
         |    FROM axis p JOIN sk s ON s.source = p.src_a
         |    UNION ALL
         |    SELECT p.src_a, p.src_b, s.h, 0 AS in_a, 1 AS in_b
         |    FROM axis p JOIN sk s ON s.source = p.src_b)
         |  GROUP BY 1, 2, 3),
         |ranked AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS r,
         |    COUNT(*) OVER (PARTITION BY src_a, src_b) AS n_cand
         |  FROM cand),
         |est AS (
         |  SELECT src_a, src_b, MAX(n_cand) AS n_cand,
         |    CAST(COUNT(*) AS BIGINT) AS k_used, MAX(h) AS kmax,
         |    CAST(SUM(in_a * in_b) AS BIGINT) AS inter_in_k
         |  FROM ranked WHERE r <= $KmvK GROUP BY 1, 2),
         |est2 AS (
         |  SELECT src_a, src_b, k_used,
         |    CASE WHEN n_cand < $KmvK THEN CAST(n_cand AS BIGINT)
         |         ELSE ((${KmvK - 1} * CAST($KmvMaxH AS BIGINT)) // kmax)
         |    END AS union_est,
         |    (inter_in_k * 1000000) // k_used AS jaccard_est_e6
         |  FROM est),
         |ex AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(COUNT(*) AS BIGINT) AS inter_exact
         |  FROM census a JOIN census b USING (h)
         |  WHERE a.source < b.source GROUP BY 1, 2)
         |SELECT e.src_a, e.src_b, sa.n AS n_a, sb.n AS n_b,
         |  e.k_used, e.union_est, e.jaccard_est_e6,
         |  CAST((CAST(e.jaccard_est_e6 AS HUGEINT) * e.union_est) // 1000000
         |    AS BIGINT) AS inter_est,
         |  sa.n + sb.n - COALESCE(ex.inter_exact, 0) AS union_exact,
         |  CAST((CAST(COALESCE(ex.inter_exact, 0) AS HUGEINT) * 1000000)
         |    // (sa.n + sb.n - COALESCE(ex.inter_exact, 0)) AS BIGINT)
         |    AS jaccard_exact_e6,
         |  COALESCE(ex.inter_exact, 0) AS inter_exact,
         |  abs(e.jaccard_est_e6
         |    - CAST((CAST(COALESCE(ex.inter_exact, 0) AS HUGEINT) * 1000000)
         |        // (sa.n + sb.n - COALESCE(ex.inter_exact, 0)) AS BIGINT))
         |    AS jac_err_e6
         |FROM est2 e
         |LEFT JOIN ex ON ex.src_a = e.src_a AND ex.src_b = e.src_b
         |JOIN sizes sa ON sa.source = e.src_a
         |JOIN sizes sb ON sb.source = e.src_b
         |ORDER BY e.src_a, e.src_b""".stripMargin,
    "q_decontaminate" ->
      s"""WITH d AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id, sh FROM (
         |    SELECT doc_id, unnest(CASE WHEN len(ts) >= $DecontamK
         |      THEN [array_to_string(ts[i:i+${DecontamK - 1}], ' ')
         |            for i in range(1, len(ts) - ${DecontamK - 2})]
         |      ELSE [text] END) AS sh
         |    FROM d)),
         |ev AS (SELECT sh, doc_id AS eval_doc_id FROM sh WHERE doc_id % $EvalMod = $EvalRem),
         |tr AS (SELECT doc_id, sh FROM sh WHERE doc_id % $EvalMod <> $EvalRem)
         |SELECT tr.doc_id,
         |  CAST(COUNT(DISTINCT CASE WHEN eval_doc_id IS NOT NULL THEN tr.sh END)
         |    AS BIGINT) AS n_shared_shingles,
         |  CAST(COUNT(DISTINCT eval_doc_id) AS BIGINT) AS n_eval_docs,
         |  COUNT(DISTINCT eval_doc_id) > 0 AS contaminated
         |FROM tr LEFT JOIN ev USING (sh)
         |GROUP BY tr.doc_id
         |ORDER BY tr.doc_id""".stripMargin,
    "q_mixture_sample" ->
      s"""WITH d AS (
        |  SELECT lang,
        |    CAST(len(regexp_extract_all(text, '${TextAnalysis.TokenRe}')) AS BIGINT) AS n_tok,
        |    CAST(concat('0x', substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 1000000 AS u
        |  FROM documents),
        |c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang FROM d GROUP BY lang),
        |t AS (SELECT CAST(SUM(n_lang) AS BIGINT) AS n_total,
        |        CAST(COUNT(*) AS BIGINT) AS n_langs FROM c)
        |SELECT d.lang,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN u * n_lang * n_langs < n_total * 1000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN u * n_lang * n_langs < n_total * 1000000 THEN n_tok ELSE 0 END)
        |    AS BIGINT) AS tok_kept,
        |  CAST(least(1000000, (n_total * 1000000) // (n_langs * n_lang)) AS BIGINT) AS rate_e6
        |FROM d JOIN c USING (lang) CROSS JOIN t
        |GROUP BY d.lang, n_lang, n_total, n_langs
        |ORDER BY d.lang""".stripMargin,
    // Same vocab/add-one conventions as q_lm_quality; the pair
    // dictionary joins on (prev, cur), the context count on prev.
    "q_lm_bigram" ->
      s"""WITH d AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS arr FROM documents),
        |toks AS (SELECT unnest(arr) AS tok FROM d),
        |vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
        |        CAST(COUNT(*) AS BIGINT) AS v_size FROM vocab),
        |pairs AS (
        |  SELECT doc_id, lang, arr[i - 1] AS prev, arr[i] AS cur
        |  FROM d, LATERAL (SELECT unnest(generate_series(2, len(arr))) AS i)),
        |cb AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cbn
        |       FROM pairs GROUP BY prev, cur),
        |vb AS (
        |  SELECT tok, ${lmBitsE6("n_total + v_size", "cnt + 1", duck = true)} AS b
        |  FROM vocab CROSS JOIN t),
        |s1 AS (
        |  SELECT doc_id, lang, b
        |  FROM (SELECT doc_id, lang, arr[1] AS tok FROM d)
        |  JOIN vb USING (tok)),
        |cbb AS (
        |  SELECT cb.prev, cb.cur,
        |    ${lmBitsE6("v.cnt + t.v_size", "cb.cbn + 1", duck = true)} AS b
        |  FROM cb JOIN vocab v ON v.tok = cb.prev CROSS JOIN t),
        |s2 AS (
        |  SELECT p.doc_id, p.lang, cbb.b
        |  FROM pairs p
        |  JOIN cbb ON cbb.prev = p.prev AND cbb.cur = p.cur),
        |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
        |SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |  CAST(SUM(b) // COUNT(*) AS BIGINT) AS bits_e6
        |FROM u GROUP BY doc_id, lang
        |ORDER BY doc_id""".stripMargin,
    // same bigram dictionary, continuation/context censuses, the
    // identical KN interpolation text, and e6-floor-before-sum
    "q_kn_bigram" ->
      s"""WITH d AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS arr FROM documents),
        |vs AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v_size
        |       FROM (SELECT unnest(arr) AS tok FROM d)),
        |pairs AS (
        |  SELECT doc_id, lang, arr[i - 1] AS prev, arr[i] AS cur
        |  FROM d, LATERAL (SELECT unnest(generate_series(2, len(arr))) AS i)),
        |cb AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cbn
        |       FROM pairs GROUP BY prev, cur),
        |cv AS (SELECT prev, CAST(SUM(cbn) AS BIGINT) AS cv,
        |         CAST(COUNT(*) AS BIGINT) AS n1r FROM cb GROUP BY prev),
        |n1l AS (SELECT cur, CAST(COUNT(*) AS BIGINT) AS n1l
        |        FROM cb GROUP BY cur),
        |consts AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbb, v_size
        |           FROM cb CROSS JOIN vs GROUP BY v_size),
        |s1 AS (
        |  SELECT doc_id, lang,
        |    ${lmBitsE6("nbb + v_size", "COALESCE(n1l, 0) + 1", duck = true)} AS b
        |  FROM (SELECT doc_id, lang, arr[1] AS cur FROM d)
        |  LEFT JOIN n1l USING (cur) CROSS JOIN consts),
        |kk AS (
        |  SELECT cb.prev, cb.cur, cb.cbn, cv.cv, cv.n1r, n1l.n1l,
        |    c.nbb, c.v_size,
        |    greatest(0, (length(bin(4 * cv.cv)) - 1)
        |      + (length(bin(c.nbb + c.v_size)) - 1) + 2 - 62) AS kk
        |  FROM cb
        |  JOIN cv ON cv.prev = cb.prev
        |  JOIN n1l ON n1l.cur = cb.cur CROSS JOIN consts c),
        |cbb AS (
        |  SELECT prev, cur,
        |    ${lmBitsE6("(4 * cv) * ((nbb + v_size) >> kk)",
             "(4 * cbn - 3) * ((nbb + v_size) >> kk) + ((3 * n1r * (n1l + 1)) >> kk)",
             duck = true)} AS b
        |  FROM kk),
        |s2 AS (
        |  SELECT p.doc_id, p.lang, cbb.b
        |  FROM pairs p
        |  JOIN cbb ON cbb.prev = p.prev AND cbb.cur = p.cur),
        |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
        |SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |  CAST(SUM(b) // COUNT(*) AS BIGINT) AS bits_e6
        |FROM u GROUP BY doc_id, lang
        |ORDER BY doc_id""".stripMargin,
    "q_lm_quality" -> (LmQualityOracleCore + "\nORDER BY doc_id"),
    "q_stratified_sample" ->
      """WITH r AS (
        |  SELECT source, lang, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source, lang
        |      ORDER BY md5('strat' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rnk,
        |    CAST(COUNT(*) OVER (PARTITION BY source, lang) AS BIGINT) AS n_stratum
        |  FROM documents)
        |SELECT source, lang, doc_id, rnk, n_stratum,
        |  CAST((n_stratum + 4) // 5 AS BIGINT) AS budget
        |FROM r WHERE rnk <= (n_stratum + 4) // 5
        |ORDER BY source, lang, rnk""".stripMargin,
    "q_gini_tokens" ->
      s"""WITH d AS (
         |  SELECT source, doc_id,
         |    CAST(len(regexp_extract_all(text, '${TextAnalysis.TokenRe}')) AS BIGINT) AS n_tok
         |  FROM documents),
         |r AS (
         |  SELECT source, n_tok,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tok, doc_id)
         |      AS HUGEINT) AS i
         |  FROM d)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS tok_total,
         |  CAST(((2 * SUM(i * CAST(n_tok AS HUGEINT))
         |         - (COUNT(*) + 1) * CAST(SUM(n_tok) AS HUGEINT)) * 1000000)
         |    // (CAST(COUNT(*) AS HUGEINT) * CAST(SUM(n_tok) AS HUGEINT))
         |    AS BIGINT) AS gini_e6
         |FROM r GROUP BY source HAVING SUM(n_tok) > 0
         |ORDER BY source""".stripMargin,
    "q_ccnet_buckets" ->
      s"""WITH scored AS (SELECT * FROM ($LmQualityOracleCore)),
         |b AS (
         |  SELECT lang, n_tok, bits_e6,
         |    CAST(NTILE(3) OVER (PARTITION BY lang ORDER BY bits_e6, doc_id)
         |      AS BIGINT) AS bucket
         |  FROM scored)
         |SELECT lang, bucket,
         |  CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS band,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS tok_total,
         |  MIN(bits_e6) AS bits_min, MAX(bits_e6) AS bits_max
         |FROM b GROUP BY lang, bucket
         |ORDER BY lang, bucket""".stripMargin,
    "q_curation_funnel" ->
      s"""WITH ${graft.operators.Dedup.pairSql},
         |base AS (
         |  SELECT doc_id, lang, text,
         |    CAST(len(regexp_extract_all(text, '${TextAnalysis.TokenRe}')) AS BIGINT) AS n_tok,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
         |  FROM documents),
         |dsh AS (
         |  SELECT DISTINCT doc_id, shg FROM (
         |    SELECT doc_id, unnest(CASE WHEN len(ts) >= $DecontamK
         |      THEN [array_to_string(ts[i:i+${DecontamK - 1}], ' ')
         |            for i in range(1, len(ts) - ${DecontamK - 2})]
         |      ELSE [text] END) AS shg
         |    FROM (SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents))),
         |evsh AS (SELECT DISTINCT shg FROM dsh WHERE doc_id % $EvalMod = $EvalRem),
         |contam AS (
         |  SELECT DISTINCT d.doc_id FROM dsh d JOIN evsh USING (shg)
         |  WHERE d.doc_id % $EvalMod <> $EvalRem),
         |flags AS (
         |  SELECT doc_id, lang, n_tok,
         |    (n_tok BETWEEN $FunnelMinTok AND $FunnelMaxTok
         |      AND n_distinct * 100 >= n_ws * $FunnelDistinctPct) AS q,
         |    doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS kx,
         |    doc_id NOT IN (SELECT id_b FROM pairs) AS nd,
         |    (doc_id % $EvalMod <> $EvalRem
         |      AND doc_id NOT IN (SELECT doc_id FROM contam)) AS dc,
         |    CAST(concat('0x', substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |      % 1000000 AS u
         |  FROM base),
         |s4 AS (SELECT * FROM flags WHERE q AND kx AND nd AND dc),
         |lc AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang FROM s4 GROUP BY lang),
         |lt AS (SELECT CAST(SUM(n_lang) AS BIGINT) AS n_total,
         |         CAST(COUNT(*) AS BIGINT) AS n_langs FROM lc),
         |mxx AS (
         |  SELECT f.*,
         |    (lc.lang IS NOT NULL AND u * n_lang * n_langs < n_total * 1000000) AS mx
         |  FROM flags f LEFT JOIN lc USING (lang) CROSS JOIN lt),
         |agg AS (SELECT
         |  CAST(COUNT(*) AS BIGINT) AS d0, CAST(SUM(n_tok) AS BIGINT) AS t0,
         |  CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         |  CAST(SUM(CASE WHEN q THEN n_tok ELSE 0 END) AS BIGINT) AS t1,
         |  CAST(SUM(CASE WHEN q AND kx THEN 1 ELSE 0 END) AS BIGINT) AS d2,
         |  CAST(SUM(CASE WHEN q AND kx THEN n_tok ELSE 0 END) AS BIGINT) AS t2,
         |  CAST(SUM(CASE WHEN q AND kx AND nd THEN 1 ELSE 0 END) AS BIGINT) AS d3,
         |  CAST(SUM(CASE WHEN q AND kx AND nd THEN n_tok ELSE 0 END) AS BIGINT) AS t3,
         |  CAST(SUM(CASE WHEN q AND kx AND nd AND dc THEN 1 ELSE 0 END) AS BIGINT) AS d4,
         |  CAST(SUM(CASE WHEN q AND kx AND nd AND dc THEN n_tok ELSE 0 END) AS BIGINT) AS t4,
         |  CAST(SUM(CASE WHEN q AND kx AND nd AND dc AND mx THEN 1 ELSE 0 END) AS BIGINT) AS d5,
         |  CAST(SUM(CASE WHEN q AND kx AND nd AND dc AND mx THEN n_tok ELSE 0 END) AS BIGINT) AS t5
         |FROM mxx)
         |SELECT * FROM (
         |  SELECT CAST(0 AS BIGINT) AS stage, 'ingest' AS name, d0 AS docs, t0 AS toks FROM agg
         |  UNION ALL SELECT CAST(1 AS BIGINT), 'quality', d1, t1 FROM agg
         |  UNION ALL SELECT CAST(2 AS BIGINT), 'exact_dedup', d2, t2 FROM agg
         |  UNION ALL SELECT CAST(3 AS BIGINT), 'near_dedup', d3, t3 FROM agg
         |  UNION ALL SELECT CAST(4 AS BIGINT), 'decontam', d4, t4 FROM agg
         |  UNION ALL SELECT CAST(5 AS BIGINT), 'mixture', d5, t5 FROM agg)
         |ORDER BY stage""".stripMargin)
}
