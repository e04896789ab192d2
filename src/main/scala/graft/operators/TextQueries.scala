package graft.operators

import graft.functions.Text
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Query wrappers for the reference's text utilities (SURVEY §2 rows
  * 3-8) — each applies a `functions.Text` column function to
  * deterministic inputs built from the testdata tables, so the DuckDB
  * oracle can recompute the exact expected output.
  *
  * Every operator here is a pure map (no shuffle before the
  * presentation sort): at 100 TB these fuse into the scan's
  * whole-stage-codegen stage. Reference: um/re/utils/Utils.scala.
  */
object TextQueries {

  /** q_text_only_tokens: textOnly + Java-split tokenization over a
    * letters+digits input. Reference: Utils.scala:57-74. */
  def textOnlyTokens(spark: SparkSession, dir: String): DataFrame = {
    val inp = concat(col("lang"), lit(" "), col("text"), lit(" doc"), col("doc_id"))
    val toks = Text.tokenize(inp)
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        Text.textOnly(inp).as("clean"),
        size(toks).cast("long").as("n_tokens"),
        element_at(toks, 1).as("first_token"),
        element_at(toks, size(toks)).as("last_token"))
      .orderBy("doc_id")
  }

  /** q_shrink_string: blank-collapse + thousands-comma + control-char
    * normalization chain. Reference: Utils.scala:208-210. */
  def shrinkString(spark: SparkSession, dir: String): DataFrame = {
    val d = (floor(col("o_totalprice")).cast("long") + 10000L)
    val amt = concat((d / 1000).cast("long").cast("string"), lit(","),
      lpad((d % 1000).cast("string"), 3, "0"))
    val inp = concat(lit("total   "), amt, lit(",\tnote ,x  ,, end"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), Text.shrinkString(inp).as("shrunk"))
      .orderBy("o_orderkey")
  }

  /** Gram width for q_char_grams. */
  private val CharGramN = 3

  /** q_char_grams: exploded char [[CharGramN]]-grams with the
    * reference's quirky bounds — first char never starts a gram, last
    * gram stops one short (gram count = len-n-1).
    * Reference: Utils.scala:40-52. */
  def charGrams(spark: SparkSession, dir: String): DataFrame =
    // widen: the full char-gram explosion is the query (no-op at scale)
    Tables.widened(Tables.documents(spark, dir)
      .filter(length(col("text")) >= CharGramN + 2))
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(2), length(col("text")) - CharGramN),
          i => struct(i.cast("long").as("pos"),
            col("text").substr(i, lit(CharGramN)).as("gram")))).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.gram").as("gram"))
      .orderBy("doc_id", "pos")

  /** The synthetic URL corpus over `customer` (four URL shapes). */
  private def customerUrl: org.apache.spark.sql.Column = {
    val base = concat(lit("shop"), (col("c_custkey") % 37).cast("string"), lit(".example.com"))
    when(col("c_custkey") % 4 === 0,
        concat(lit("http://www."), base, lit("/p/"), col("c_custkey").cast("string")))
      .when(col("c_custkey") % 4 === 1, concat(lit("www."), base, lit("/q")))
      .when(col("c_custkey") % 4 === 2,
        concat(base, lit("/item/"), col("c_custkey").cast("string")))
      .otherwise(concat(lit("http:/"), base, lit("/y")))
  }

  /** q_get_domain's frequency floor and its group divisor. */
  private val DomainMinSupport = 3
  private val DomainGrpNum = 10

  /** q_get_domain: URL → domain over four URL shapes (scheme'd, bare,
    * www-bare, broken single-slash scheme) + min-support frequency
    * list + stable domain ids and mod-grouping (the reference's
    * domain→id map / domNameGrp: zipWithIndex then
    * id % (n/[[DomainGrpNum]])).
    * The id window ranks the ~|domains| aggregated rows, not raw data.
    * Reference: Utils.scala:359-375 (getDomain), 344-357 (domainsList),
    * emr/GenDMap.scala. */
  def getDomain(spark: SparkSession, dir: String): DataFrame = {
    val url = customerUrl
    // Scale-safe id assignment: dom_id is a content hash (md5 prefix →
    // bigint), not a zipWithIndex-style dense rank — no global-window
    // single-partition sort over the domain list. n_dom rides along as a
    // broadcast one-row aggregate over the frequency table; the freq
    // subtree ends in a shuffle, so Spark's exchange reuse materializes
    // it once for both consumers (no persist → nothing leaks for the
    // session lifetime).
    val freq = Tables.customer(spark, dir)
      .select(Text.getDomain(url).as("domain"))
      .groupBy("domain")
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= DomainMinSupport)
    val nDf = freq.groupBy().agg(count(lit(1)).as("n_dom"))
    freq
      .crossJoin(broadcast(nDf))
      .withColumn("dom_id",
        expr("cast(conv(substr(md5(domain), 1, 15), 16, 10) as bigint)"))
      .withColumn("grp", col("dom_id") % greatest(floor(col("n_dom") / DomainGrpNum), lit(1L)))
      .drop("n_dom")
      .orderBy("domain")
  }

  /** q_parse_price_locale: en_US leading-number parse over five input
    * shapes (n/a, currency-prefixed, suffixed, negative, bare decimal).
    * Reference: Utils.scala:123-129. */
  def parsePriceLocale(spark: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("o_totalprice") * 100 + 0.5).cast("long") + 1000000L
    val d = (cents / 100).cast("long")
    val cc = cents % 100
    val astr = concat((d / 1000).cast("long").cast("string"), lit(","),
      lpad((d % 1000).cast("string"), 3, "0"), lit("."),
      lpad(cc.cast("string"), 2, "0"))
    val s = when(col("o_orderkey") % 5 === 0, lit("N/A"))
      .when(col("o_orderkey") % 5 === 1, concat(lit("$"), astr))
      .when(col("o_orderkey") % 5 === 2, concat(astr, lit(" USD")))
      .when(col("o_orderkey") % 5 === 3, concat(lit("-"), astr))
      .otherwise(concat(lit("."), lpad(cc.cast("string"), 2, "0")))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), s.as("price_str"),
        Text.parsePriceLocale(s).as("parsed"))
      .orderBy("o_orderkey")
  }

  /** q_price_decision: the streaming price-decision status machine, with
    * its inputs DERIVED from the extraction pipeline rather than
    * synthesized: modelPrice comes from the scanner's filtered candidates
    * (argmax stand-in for model confidence; -1 when every candidate is
    * filtered out, -2 when the page's domain has no trained model),
    * updatedPrice from a literal-pattern extraction (0 when the pattern
    * misses). Six page variants exercise every path: clean page, minor
    * (+5%) and major (+50%) second marked price, renamed pattern anchor,
    * marker-free page, and pattern-only page. The model table is itself
    * data-derived: domains (customers) with ≥2 training-split pages.
    * Reference: Htmls2Cassandra.scala:183-227 (flags + status chain),
    * Utils.scala:115-122 (isTrueCandid), Utils.scala:408-432 (decide). */
  def priceDecision(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PriceCandidates.priceCandidates
    def fmt(cents: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val d = (cents / 100).cast("long")
      concat((d / 1000).cast("long").cast("string"), lit(","),
        lpad((d % 1000).cast("string"), 3, "0"), lit("."),
        lpad((cents % 100).cast("string"), 2, "0"))
    }
    val pages = Tables.widened(Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_orderkey") % 6).as("v"),
        (floor(col("o_totalprice") * 100 + 0.5).cast("long") + 1000000L).as("cents")))
      .withColumn("a_str", fmt(col("cents")))
      .withColumn("m1_str", fmt(expr("cents + cents div 20")))
      .withColumn("m2_str", fmt(expr("cents + cents div 2")))
      .withColumn("html",
        when(col("v") === 0, concat(lit("pg$<span id=\"pp\">"), col("a_str"), lit("</span> tail")))
          .when(col("v") === 1, concat(lit("pg$<span id=\"pp\">"), col("a_str"), lit("</span> also $"), col("m1_str"), lit(" sale")))
          .when(col("v") === 2, concat(lit("pg$<span id=\"pp\">"), col("a_str"), lit("</span> also $"), col("m2_str"), lit(" sale")))
          .when(col("v") === 3, concat(lit("pg$<span id=\"qq\">"), col("a_str"), lit("</span> tail")))
          .when(col("v") === 4, concat(lit("pg<span id=\"qq\">"), col("a_str"), lit("</span> tail")))
          .otherwise(concat(lit("pg<span id=\"pp\">"), col("a_str"), lit("</span> tail"))))
    // model side: scanner candidates → reference keep rules → best (max
    // parsed value, the argmax-confidence stand-in); absent group = -1
    val best = pages
      .select(col("o_orderkey"), explode(priceCandidates(col("html"))).as("c"))
      .filter(Extraction.keepRules(col("c.candidate"),
        concat(col("c.text_before"), col("c.candidate"), col("c.text_after"))))
      .groupBy("o_orderkey")
      .agg(max(Text.parsePriceLocale(col("c.candidate"))).as("best_cand"))
    // trained-model table: domains (= customers) with ≥2 training pages
    val modelTbl = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 10 < 7)
      .groupBy("o_custkey").agg(count(lit(1)).as("n_train"))
      .filter(col("n_train") >= 2)
      .select(col("o_custkey"), lit(1).as("has_model"))
    // pattern side: literal-anchor extraction ="pp"> … </span>
    val posB = locate("=\"pp\">", col("html")) // 1-based, 0 if absent
    val inner = expr("substring(html, locate('=\"pp\">', html) + 6, " +
      "locate('</span>', html, locate('=\"pp\">', html) + 6) - locate('=\"pp\">', html) - 6)")
    val withPrices = pages
      .join(best, Seq("o_orderkey"), "left")
      .join(broadcast(modelTbl), Seq("o_custkey"), "left")
      .withColumn("updated_price",
        when(posB === 0, lit(0.0))
          .otherwise(coalesce(Text.parsePriceLocale(inner), lit(0.0))))
      .withColumn("model_price",
        when(col("has_model").isNull, lit(-2.0))
          .otherwise(coalesce(col("best_cand"), lit(-1.0))))
    // the reference's flag chain, verbatim (Htmls2Cassandra.scala:192-227)
    val status = Text.decisionStatus(col("model_price"), col("updated_price"))
    withPrices
      .select(col("o_orderkey"), status.as("status"),
        col("updated_price"), col("model_price"),
        Text.decidePrice(status, col("updated_price"), col("model_price")).as("decided"))
      .orderBy("o_orderkey")
  }

  /** q_heavy_hitters: approximate top-k frequent domains via the
    * SpaceSaving TypedImperativeAggregate (functions/TopK.scala) — the
    * bounded-memory form of the domain frequency list. capacity=64
    * exceeds the true cardinality here, so counts are exact (err=0)
    * and the DuckDB oracle can value-check the sketch end-to-end. */
  /** Count-Min sketch shape (pinned — the oracle embeds them): depth
    * [[CmDepth]] independent hash rows × width [[CmWidth]] counters. */
  private[graft] val CmDepth = 4
  private[graft] val CmWidth = 256

  /** q_count_min: the Count-Min sketch (Cormode/Muthukrishnan '05) —
    * the point-frequency companion to q_hll_distinct's cardinality
    * sketch and q_heavy_hitters' SpaceSaving top-k: D×W counters
    * estimate ANY key's count with one-sided error ≤ εN, the
    * fixed-memory answer when the key space is too large to count
    * exactly. Emitted per domain: the estimate (min over the D row
    * counters), the exact count, and the overestimate — the
    * sketch-accuracy report a capacity planner reads before sizing W.
    *
    * Determinism: row hashes are md5-derived (hex prefix → bigint mod
    * W, the q_dedup_minhash permutation rule), so registers, mins and
    * errors reproduce bit-for-bit in DuckDB.
    *
    * Scale shape: register build is ONE two-phase agg on (row,
    * bucket) after a D-way explode — the sketch (D·W longs) is
    * corpus-size-independent and broadcastable; estimates join the
    * distinct-key catalog against it (catalog-sized work). The exact
    * counts exist here only to materialize the error column. */
  def countMin(spark: SparkSession, dir: String): DataFrame = {
    val keys = Tables.customer(spark, dir)
      .select(Text.getDomain(customerUrl).as("domain"))
    def bucket(j: Int, key: org.apache.spark.sql.Column) =
      expr(s"cast(conv(substr(md5(concat('cm$j', domain)), 1, 15), 16, 10) as bigint)")
        .%(CmWidth)
    val rows = keys.select(col("domain"),
      explode(array((0 until CmDepth).map(j =>
        struct(lit(j).as("j"), bucket(j, col("domain")).as("bucket"))): _*)).as("rb"))
      .select(col("domain"), col("rb.j").as("j"), col("rb.bucket").as("bucket"))
    val regs = rows.groupBy("j", "bucket").agg(count(lit(1)).as("c"))
    val exact = keys.groupBy("domain").agg(count(lit(1)).as("exact_cnt"))
    val keyBuckets = exact.select(col("domain"),
      explode(array((0 until CmDepth).map(j =>
        struct(lit(j).as("j"), bucket(j, col("domain")).as("bucket"))): _*)).as("rb"))
      .select(col("domain"), col("rb.j").as("j"), col("rb.bucket").as("bucket"))
    keyBuckets
      .join(broadcast(regs), Seq("j", "bucket"))
      .groupBy("domain").agg(min("c").as("est_cnt"))
      .join(exact, "domain")
      .select(col("domain"), col("est_cnt"), col("exact_cnt"),
        (col("est_cnt") - col("exact_cnt")).as("overestimate"))
      .orderBy("domain")
  }

  /** q_heavy_hitters' SpaceSaving counter capacity and reported top-k. */
  private val HhCapacity = 64
  private val HhTopK = 10

  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(Text.getDomain(customerUrl).as("domain"))
      .agg(graft.functions.HeavyHitters.heavyHitters(col("domain"), HhCapacity, HhTopK).as("hh"))
      .select(posexplode(col("hh")).as(Seq("pos", "h")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("h.item").as("domain"), col("h.cnt").as("cnt"), col("h.err").as("err"))
      .orderBy("rank")

  /** q_url_canon: crawl-frontier URL canonicalization + duplicate
    * collapse — the normalization every web-corpus pipeline runs before
    * URL-level dedup and fetch scheduling: lowercase the host, drop the
    * default :443 port, strip the fragment, drop tracking parameters
    * (utm_*, ref, session), sort the surviving query parameters, then
    * group raw URLs by the canonical form (hit count + distinct raw
    * variants per canonical URL).
    *
    * The synthetic raw-URL corpus rides `lineitem` (the biggest table,
    * so canonicalization is exercised at corpus scale): host case and
    * TLD case vary by order, half the rows carry an explicit :443,
    * tracking params and fragments come and go — while the canonical
    * identity is only (supplier-shard host, part path). A real frontier
    * replaces the synthesis with its fetch log.
    *
    * Scale shape: canonicalization is map-only string work fused into
    * the scan (split/filter/sort_array over the ≤ handful of params —
    * bounded per row, no explode); the only shuffle is the final
    * two-phase groupBy on the canonical string. distinct-variant
    * counting is the standard two-level agg. */
  def urlCanon(spark: SparkSession, dir: String): DataFrame = {
    val url = concat(
      lit("https://Shop"), (col("l_suppkey") % 37).cast("string"),
      lit(".Example."),
      element_at(array(lit("COM"), lit("com"), lit("Com")),
        (col("l_orderkey") % 3 + 1).cast("int")),
      when(col("l_orderkey") % 2 === 0, lit(":443")).otherwise(lit("")),
      lit("/item/"), col("l_partkey").cast("string"), lit("?"),
      when(col("l_orderkey") % 2 === 0,
        concat(lit("utm_source=s"), (col("l_orderkey") % 7).cast("string"),
          lit("&v=1")))
        .otherwise(concat(lit("v=1&ref=r"),
          (col("l_orderkey") % 5).cast("string"))),
      when(col("l_orderkey") % 4 === 0,
        concat(lit("#sec"), (col("l_orderkey") % 9).cast("string")))
        .otherwise(lit("")))
    // widened on the three projected key columns: the synthesis +
    // canonicalization string work is per-row heavy and the
    // single-row-group sandbox scan would run it on one task
    Tables.widened(Tables.lineitem(spark, dir)
        .select("l_suppkey", "l_orderkey", "l_partkey"))
      .select(url.as("url"))
      .withColumn("base",
        regexp_replace(lower(substring_index(col("url"), "?", 1)), ":443", ""))
      .withColumn("q",
        substring_index(substring_index(col("url"), "?", -1), "#", 1))
      .withColumn("kept", expr(
        "array_join(sort_array(filter(split(q, '&'), " +
          "x -> NOT (startswith(x, 'utm_') OR startswith(x, 'ref=') " +
          "OR startswith(x, 'session=')))), '&')"))
      .select(col("url"),
        concat(col("base"),
          when(col("kept") === "", lit(""))
            .otherwise(concat(lit("?"), col("kept")))).as("canon_url"))
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_hits"),
        count_distinct(col("url")).as("n_variants"))
      .orderBy("canon_url")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_url_canon" -> (urlCanon(_, _)),
    "q_heavy_hitters" -> (heavyHitters(_, _)),
    "q_count_min" -> (countMin(_, _)),
    "q_text_only_tokens" -> (textOnlyTokens(_, _)),
    "q_shrink_string" -> (shrinkString(_, _)),
    "q_char_grams" -> (charGrams(_, _)),
    "q_get_domain" -> (getDomain(_, _)),
    "q_parse_price_locale" -> (parsePriceLocale(_, _)),
    "q_price_decision" -> (priceDecision(_, _)))

  val oracleSql: Map[String, String] = Map(
    // Same synthesis, same canonicalization pipeline: lower host, drop
    // :443, strip fragment, filter tracking params, sort, rejoin.
    "q_url_canon" ->
      """WITH raw AS (
        |  SELECT concat('https://Shop', CAST(l_suppkey % 37 AS VARCHAR), '.Example.',
        |      CASE CAST(l_orderkey % 3 AS INT) WHEN 0 THEN 'COM' WHEN 1 THEN 'com' ELSE 'Com' END,
        |      CASE WHEN l_orderkey % 2 = 0 THEN ':443' ELSE '' END,
        |      '/item/', CAST(l_partkey AS VARCHAR), '?',
        |      CASE WHEN l_orderkey % 2 = 0
        |        THEN concat('utm_source=s', CAST(l_orderkey % 7 AS VARCHAR), '&v=1')
        |        ELSE concat('v=1&ref=r', CAST(l_orderkey % 5 AS VARCHAR)) END,
        |      CASE WHEN l_orderkey % 4 = 0 THEN concat('#sec', CAST(l_orderkey % 9 AS VARCHAR)) ELSE '' END
        |    ) AS url
        |  FROM lineitem),
        |parsed AS (
        |  SELECT url,
        |    replace(lower(split_part(url, '?', 1)), ':443', '') AS base,
        |    split_part(split_part(url, '?', 2), '#', 1) AS q
        |  FROM raw),
        |canon AS (
        |  SELECT url,
        |    concat(base, CASE WHEN kept = '' THEN '' ELSE concat('?', kept) END) AS canon_url
        |  FROM (
        |    SELECT url, base,
        |      list_aggregate(list_sort(list_filter(string_split(q, '&'),
        |        x -> NOT (starts_with(x, 'utm_') OR starts_with(x, 'ref=')
        |          OR starts_with(x, 'session=')))), 'string_agg', '&') AS kept
        |    FROM parsed) t)
        |SELECT canon_url, CAST(COUNT(*) AS BIGINT) AS n_hits,
        |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_variants
        |FROM canon GROUP BY canon_url ORDER BY canon_url""".stripMargin,
    // Same md5-derived row hashes, register build, min-estimate.
    "q_count_min" -> {
      val depthRows = (0 until CmDepth)
        .map(j => s"SELECT $j AS j").mkString(" UNION ALL ")
      s"""WITH keys AS (
         |  SELECT concat('shop', CAST(c_custkey % 37 AS VARCHAR), '.example.com') AS domain
         |  FROM customer),
         |depths AS ($depthRows),
         |rws AS (
         |  SELECT domain, j,
         |    CAST(concat('0x', substr(md5(concat('cm', CAST(j AS VARCHAR), domain)), 1, 15))
         |      AS BIGINT) % $CmWidth AS bucket
         |  FROM keys CROSS JOIN depths),
         |regs AS (
         |  SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM rws GROUP BY j, bucket),
         |exact AS (
         |  SELECT domain, CAST(COUNT(*) AS BIGINT) AS exact_cnt
         |  FROM keys GROUP BY domain),
         |kb AS (
         |  SELECT e.domain, d.j,
         |    CAST(concat('0x', substr(md5(concat('cm', CAST(d.j AS VARCHAR), e.domain)), 1, 15))
         |      AS BIGINT) % $CmWidth AS bucket
         |  FROM exact e CROSS JOIN depths d),
         |est AS (
         |  SELECT kb.domain, CAST(MIN(r.c) AS BIGINT) AS est_cnt
         |  FROM kb JOIN regs r USING (j, bucket)
         |  GROUP BY kb.domain)
         |SELECT e.domain, est.est_cnt, e.exact_cnt,
         |  est.est_cnt - e.exact_cnt AS overestimate
         |FROM est JOIN exact e USING (domain)
         |ORDER BY e.domain""".stripMargin
    },
    "q_heavy_hitters" ->
      s"""WITH freq AS (
         |  SELECT concat('shop', CAST(c_custkey % 37 AS VARCHAR), '.example.com') AS domain,
         |    COUNT(*) AS cnt
         |  FROM customer GROUP BY 1),
         |ranked AS (
         |  SELECT domain, cnt,
         |    ROW_NUMBER() OVER (ORDER BY cnt DESC, domain ASC) AS rank
         |  FROM freq)
         |SELECT CAST(rank AS BIGINT) AS rank, domain, cnt, CAST(0 AS BIGINT) AS err
         |FROM ranked WHERE rank <= $HhTopK
         |ORDER BY rank""".stripMargin,
    "q_text_only_tokens" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_replace(concat(lang, ' ', text, ' doc', CAST(doc_id AS VARCHAR)),
        |      '[^A-Za-z]+', ' ', 'g') AS clean
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, clean, string_split(clean, ' ') AS toks,
        |    CASE WHEN clean LIKE '% ' THEN len(string_split(clean, ' ')) - 1
        |         ELSE len(string_split(clean, ' ')) END AS n
        |  FROM t)
        |SELECT doc_id, clean, CAST(n AS BIGINT) AS n_tokens,
        |  toks[1] AS first_token, toks[n] AS last_token
        |FROM tk
        |ORDER BY doc_id""".stripMargin,
    "q_shrink_string" ->
      """WITH t AS (
        |  SELECT o_orderkey,
        |    concat('total   ',
        |      CAST((CAST(floor(o_totalprice) AS BIGINT) + 10000) // 1000 AS VARCHAR), ',',
        |      lpad(CAST((CAST(floor(o_totalprice) AS BIGINT) + 10000) % 1000 AS VARCHAR), 3, '0'),
        |      ',', chr(9), 'note ,x  ,, end') AS inp
        |  FROM orders)
        |SELECT o_orderkey,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(inp, '[ \t]{3,}', ' ', 'g'),
        |      '([0-9]),([0-9])', '\1\2', 'g'),
        |    '[\t\n\r,]', '', 'g') AS shrunk
        |FROM t
        |ORDER BY o_orderkey""".stripMargin,
    "q_char_grams" ->
      s"""SELECT doc_id, CAST(i AS BIGINT) AS pos, substr(text, CAST(i AS INT), $CharGramN) AS gram
         |FROM documents, UNNEST(range(2, len(text) - ${CharGramN - 1})) AS t(i)
         |WHERE len(text) >= ${CharGramN + 2}
         |ORDER BY doc_id, pos""".stripMargin,
    "q_get_domain" ->
      s"""WITH freq AS (
         |  SELECT concat('shop', CAST(c_custkey % 37 AS VARCHAR), '.example.com') AS domain,
         |    COUNT(*) AS freq
         |  FROM customer
         |  GROUP BY 1 HAVING COUNT(*) >= $DomainMinSupport),
         |n AS (SELECT COUNT(*) AS n_dom FROM freq)
         |SELECT domain, freq,
         |  CAST(concat('0x', substr(md5(domain), 1, 15)) AS BIGINT) AS dom_id,
         |  CAST(concat('0x', substr(md5(domain), 1, 15)) AS BIGINT)
         |    % greatest(n_dom // $DomainGrpNum, 1) AS grp
         |FROM freq, n
         |ORDER BY domain""".stripMargin,
    "q_parse_price_locale" ->
      """WITH b AS (
        |  SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + 1000000 AS cents
        |  FROM orders),
        |a AS (
        |  SELECT o_orderkey,
        |    concat(CAST(cents // 100 // 1000 AS VARCHAR), ',',
        |      lpad(CAST(cents // 100 % 1000 AS VARCHAR), 3, '0'), '.',
        |      lpad(CAST(cents % 100 AS VARCHAR), 2, '0')) AS astr,
        |    lpad(CAST(cents % 100 AS VARCHAR), 2, '0') AS ccs
        |  FROM b),
        |s AS (
        |  SELECT o_orderkey,
        |    CASE CAST(o_orderkey % 5 AS INT)
        |      WHEN 0 THEN 'N/A'
        |      WHEN 1 THEN concat('$', astr)
        |      WHEN 2 THEN concat(astr, ' USD')
        |      WHEN 3 THEN concat('-', astr)
        |      ELSE concat('.', ccs) END AS price_str
        |  FROM a),
        |m AS (
        |  SELECT o_orderkey, price_str,
        |    regexp_extract(price_str,
        |      '^-?[0-9][0-9,]*(\.[0-9]+)?|^-?\.[0-9]+', 0) AS lead
        |  FROM s)
        |SELECT o_orderkey, price_str,
        |  CASE WHEN lead = '' THEN NULL
        |       ELSE CAST(replace(lead, ',', '') AS DOUBLE) END AS parsed
        |FROM m
        |ORDER BY o_orderkey""".stripMargin,
    "q_price_decision" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_custkey, CAST(o_orderkey % 6 AS INT) AS v,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + 1000000 AS cents
        |  FROM orders),
        |s AS (
        |  SELECT o_orderkey, o_custkey, v,
        |    concat(CAST(cents // 100 // 1000 AS VARCHAR), ',',
        |      lpad(CAST(cents // 100 % 1000 AS VARCHAR), 3, '0'), '.',
        |      lpad(CAST(cents % 100 AS VARCHAR), 2, '0')) AS a_str,
        |    concat(CAST((cents + cents // 20) // 100 // 1000 AS VARCHAR), ',',
        |      lpad(CAST((cents + cents // 20) // 100 % 1000 AS VARCHAR), 3, '0'), '.',
        |      lpad(CAST((cents + cents // 20) % 100 AS VARCHAR), 2, '0')) AS m1_str,
        |    concat(CAST((cents + cents // 2) // 100 // 1000 AS VARCHAR), ',',
        |      lpad(CAST((cents + cents // 2) // 100 % 1000 AS VARCHAR), 3, '0'),  '.',
        |      lpad(CAST((cents + cents // 2) % 100 AS VARCHAR), 2, '0')) AS m2_str
        |  FROM b),
        |p AS (
        |  SELECT o_orderkey, o_custkey, v,
        |    CAST(replace(a_str, ',', '') AS DOUBLE) AS a_val,
        |    CAST(replace(m1_str, ',', '') AS DOUBLE) AS m1_val,
        |    CAST(replace(m2_str, ',', '') AS DOUBLE) AS m2_val
        |  FROM s),
        |mt AS (
        |  SELECT o_custkey FROM orders WHERE o_orderkey % 10 < 7
        |  GROUP BY o_custkey HAVING COUNT(*) >= 2),
        |m AS (
        |  SELECT p.o_orderkey,
        |    CASE WHEN v IN (3, 4) THEN 0.0 ELSE a_val END AS updated_price,
        |    CASE WHEN mt.o_custkey IS NULL THEN -2.0
        |         WHEN v = 4 OR v = 5 THEN -1.0
        |         WHEN v = 1 THEN m1_val
        |         WHEN v = 2 THEN m2_val
        |         ELSE a_val END AS model_price
        |  FROM p LEFT JOIN mt ON p.o_custkey = mt.o_custkey),
        |st AS (
        |  SELECT *,
        |    CASE
        |      WHEN model_price <> -1.0 AND model_price <> -2.0 AND CAST(floor(updated_price) AS INT) <> 0
        |           AND abs(model_price - updated_price) < 0.009 THEN 'modeledPatternEquals'
        |      WHEN model_price <> -1.0 AND model_price <> -2.0 AND CAST(floor(updated_price) AS INT) <> 0 THEN
        |        CASE WHEN abs(updated_price - model_price) / greatest(updated_price, model_price) <= 0.1
        |             THEN 'minorModelPatternConflict' ELSE 'majorModelPatternConflict' END
        |      WHEN (model_price = -1.0 OR model_price = -2.0) AND CAST(floor(updated_price) AS INT) = 0 THEN 'bothFailed'
        |      WHEN CAST(floor(updated_price) AS INT) = 0 THEN 'patternFailed'
        |      WHEN model_price = -2.0 THEN 'missingModel'
        |      ELSE 'allFalseCandids' END AS status
        |  FROM m)
        |SELECT o_orderkey, status, updated_price, model_price,
        |  CASE
        |    WHEN status IN ('modeledPatternEquals', 'minorModelPatternConflict', 'patternFailed')
        |      THEN model_price
        |    WHEN status IN ('majorModelPatternConflict', 'missingModel', 'allFalseCandids')
        |      THEN updated_price
        |    WHEN status = 'bothFailed' THEN 0.0
        |    ELSE NULL END AS decided
        |FROM st
        |ORDER BY o_orderkey""".stripMargin)
}
