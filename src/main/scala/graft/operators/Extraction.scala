package graft.operators

import graft.functions.PriceCandidates.priceCandidates
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Price-candidate extraction queries (SURVEY §2 rows 1, 2, 9) over a
  * synthetic product-page HTML built in-query from `orders` — the page
  * layout embeds one real price, one decoy price far from any currency
  * marker, and assorted numeric junk, so both the scanner and the
  * filter rules are exercised. The HTML template is shared verbatim
  * with the DuckDB oracle, which derives every expected candidate (and
  * its snippet/location) analytically from the template arithmetic.
  *
  * Scale: extraction is a single custom-expression map inside
  * whole-stage codegen (functions/Extraction.scala); the explode is
  * the only row-multiplying step and carries ~7 candidates per page.
  * Reference: um/re/utils/PriceParcer.scala:15-37.
  */
object Extraction {

  // template pieces — NO single quotes (embedded verbatim in oracle SQL)
  private val P1 = """<div id="p"""
  private val P2 = """"><b>Item """
  private val P3 = """</b><p>our great product has a very long and detailed description</p><span class="price">$"""
  private val P4 = """</span><i>some middle filler words placed here to separate the two cost fields apart</i><b>"""
  private val P5 = """</b> qty 3 rebate 1,2 save 5% end</div>"""

  /** Synthetic page: formatted price `d,ddd.cc` after a currency marker,
    * decoy price `ddd.5` >50 chars from any currency/price text. */
  private def withHtml(spark: SparkSession, dir: String): DataFrame = {
    val cents = (floor(col("o_totalprice") * 100 + 0.5).cast("long") + 1000000L).as("cents")
    val d = (col("cents") / 100).cast("long")
    val c = col("cents") % 100
    // widen the one-task sandbox scan before the regex-heavy candidate
    // explosion downstream (no-op on an already-wide production scan)
    Tables.widened(Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderkey").cast("string").as("ks"), cents))
      .withColumn("a_str",
        concat((d / 1000).cast("long").cast("string"), lit(","),
          lpad((d % 1000).cast("string"), 3, "0"), lit("."),
          lpad(c.cast("string"), 2, "0")))
      .withColumn("b_str", concat((d % 997 + 10).cast("string"), lit(".5")))
      .withColumn("html",
        concat(lit(P1), col("ks"), lit(P2), col("ks"), lit(P3),
          col("a_str"), lit(P4), col("b_str"), lit(P5)))
  }

  /** Labeled candidate rows for the ML featurization path: every
    * scanner candidate with its snippets, 0-based location, the page
    * length (for location normalization), and the page's true price
    * string — the label source (isTrueCandid analog: candidate parses
    * to the true price; Utils.scala:115-122). */
  private[graft] def labeledCandidates(spark: SparkSession, dir: String): DataFrame =
    withHtml(spark, dir)
      .withColumn("page_len", length(col("html")).cast("double"))
      // parse the page's true price ONCE per page, before the explode —
      // downstream label/filter expressions would otherwise rerun the
      // parse regex per candidate (~7x per page)
      .withColumn("a_val", graft.functions.Text.parsePriceLocale(col("a_str")))
      .select(col("o_orderkey"), col("o_custkey"), col("a_str"), col("a_val"),
        col("page_len"),
        explode(priceCandidates(col("html"))).as("c"))
      .select(
        col("o_orderkey"), col("o_custkey"), col("a_str"), col("a_val"),
        col("page_len"),
        col("c.candidate").as("candidate"),
        col("c.text_before").as("text_before"), col("c.text_after").as("text_after"),
        col("c.location").as("location"))

  /** q_price_candidates: every numeric candidate with ±50-char snippets
    * and 0-based location. */
  def priceCandidatesAll(spark: SparkSession, dir: String): DataFrame =
    withHtml(spark, dir)
      .select(col("o_orderkey"), explode(priceCandidates(col("html"))).as("c"))
      .select(
        col("o_orderkey"), col("c.candidate").as("candidate"),
        col("c.text_before").as("text_before"), col("c.text_after").as("text_after"),
        col("c.location").as("location"))
      .orderBy("o_orderkey", "location")

  /** Reference filter rules (PriceParcer.scala:22-27), declarative.
    * Shared with TextQueries.priceDecision's candidate stage. */
  private[operators] def keepRules(cand: Column, snip: Column): Column =
    (cand.contains(".") || cand.contains(",")) &&
      !(cand.contains(",,") || cand.contains(".,") ||
        cand.contains(",.") || cand.contains("..")) &&
      (snip.rlike("\\p{Sc}") || snip.rlike("(price)|(Price)|(PRICE)"))

  /** q_price_candidates_filtered: candidates surviving the junk/currency
    * rules — on this corpus, exactly the real price per page. */
  def priceCandidatesFiltered(spark: SparkSession, dir: String): DataFrame =
    priceCandidatesAll(spark, dir)
      .filter(keepRules(col("candidate"),
        concat(col("text_before"), col("candidate"), col("text_after"))))
      .orderBy("o_orderkey", "location")

  /** q_pattern_locate's anchors around the price group and its
    * snippet half-width. Neither anchor contains a single quote, so both
    * sit inside SQL string literals as they are. */
  private val LocateBefore = "\"price\">$"
  private val LocateAfter = "</span>"
  private val LocateSnippet = 12

  /** q_pattern_locate: [[LocateBefore]](.*?)[[LocateAfter]] pattern →
    * (0-based group start, extracted value, ±[[LocateSnippet]]-char
    * extended snippet). First-occurrence semantics via `locate`, fully
    * declarative.
    * Reference: um/re/utils/Utils.scala:216-249 (allPatterns /
    * extPatternLocationPair / skipSpecialCharsInPattern). */
  def patternLocate(spark: SparkSession, dir: String): DataFrame =
    withHtml(spark, dir)
      .withColumn("pos_b", expr(s"locate('$LocateBefore', html)")) // 1-based, 0 if absent
      .withColumn("g1s", col("pos_b") + LocateBefore.length - 1) // 0-based group start
      .withColumn("g1e",
        expr(s"locate('$LocateAfter', html, pos_b + ${LocateBefore.length}) - 1"))
      .filter(col("pos_b") > 0 && col("g1e") >= 0)
      .select(
        col("o_orderkey"),
        expr(s"substring(html, g1s + 1, g1e - g1s)").as("price_str"),
        col("g1s").cast("int").as("location"),
        expr(s"substring(html, greatest(g1s - $LocateSnippet, 0) + 1, " +
          s"least(g1e + $LocateSnippet, length(html)) - greatest(g1s - $LocateSnippet, 0))")
          .as("ext"))
      .orderBy("o_orderkey")

  /** q_build_patterns: derive each domain's extraction pattern from
    * candidate agreement — the pattern-building job
    * (emr/BuildCandPatterns.scala + Utils.scala:216-249 allPatterns):
    * a pattern is the (text_before suffix, text_after prefix) anchor
    * pair around a TRUE candidate (one that parses to the page's real
    * price); per domain, keep the dominant pattern with its page
    * support and coverage. Shuffles only on (domain, pattern) and
    * domain — the window partitions by domain (high cardinality at
    * scale), and the per-domain totals join broadcast. Anchors are
    * trimmed to [[PatternTrim]] chars. */
  private val PatternTrim = 12

  def buildPatterns(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = labeledCandidates(spark, dir)
      .withColumn("domain",
        concat(lit("shop"), (col("o_custkey") % 37).cast("string"), lit(".example.com")))
    val tru = cand
      .filter(graft.functions.Text.parsePriceLocale(col("candidate")) === col("a_val"))
      .select(col("domain"), col("o_orderkey"),
        expr(s"right(text_before, $PatternTrim)").as("pat_before"),
        expr(s"left(text_after, $PatternTrim)").as("pat_after"))
    val counts = tru.groupBy("domain", "pat_before", "pat_after")
      .agg(countDistinct("o_orderkey").as("n_pages"))
    // per-domain page totals come straight from orders — every page
    // yields candidates, so this equals the candidate-side distinct
    // count without re-running the extraction scan for a second branch
    val tot = Tables.orders(spark, dir)
      .select(
        concat(lit("shop"), (col("o_custkey") % 37).cast("string"), lit(".example.com")).as("domain"),
        col("o_orderkey"))
      .groupBy("domain").agg(countDistinct("o_orderkey").as("n_dom"))
    val w = Window.partitionBy("domain")
      .orderBy(col("n_pages").desc, col("pat_before"), col("pat_after"))
    counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(broadcast(tot), Seq("domain"))
      .select(col("domain"), col("pat_before"), col("pat_after"), col("n_pages"),
        (col("n_pages").cast("double") / col("n_dom")).as("coverage"))
      .orderBy("domain")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_price_candidates" -> (priceCandidatesAll(_, _)),
    "q_price_candidates_filtered" -> (priceCandidatesFiltered(_, _)),
    "q_pattern_locate" -> (patternLocate(_, _)),
    "q_build_patterns" -> (buildPatterns(_, _)))

  /** Shared SQL prelude: rebuild the page + candidate locations. */
  private val baseSql: String =
    s"""b0 AS (
       |  SELECT o_orderkey, CAST(o_orderkey AS VARCHAR) AS ks,
       |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + 1000000 AS cents
       |  FROM orders),
       |b1 AS (
       |  SELECT o_orderkey, ks, cents // 100 AS d, cents % 100 AS cc FROM b0),
       |b2 AS (
       |  SELECT o_orderkey, ks,
       |    concat(CAST(d // 1000 AS VARCHAR), ',', lpad(CAST(d % 1000 AS VARCHAR), 3, '0'),
       |      '.', lpad(CAST(cc AS VARCHAR), 2, '0')) AS a_str,
       |    concat(CAST(d % 997 + 10 AS VARCHAR), '.5') AS b_str
       |  FROM b1),
       |b3 AS (
       |  SELECT o_orderkey,
       |    '$P1' || ks || '$P2' || ks || '$P3' || a_str || '$P4' || b_str || '$P5' AS html,
       |    len(ks) AS k, len(a_str) AS a, len(b_str) AS b,
       |    ks, a_str, b_str
       |  FROM b2),
       |locs AS (
       |  SELECT o_orderkey, html,
       |    ${P1.length} AS loc1,
       |    ${P1.length + P2.length} + k AS loc2,
       |    ${P1.length + P2.length + P3.length} + 2 * k AS loc3,
       |    ${P1.length + P2.length + P3.length + P4.length} + 2 * k + a AS loc4,
       |    ${P1.length + P2.length + P3.length + P4.length} + 2 * k + a + b AS base5,
       |    ks, a_str, b_str
       |  FROM b3),
       |cands AS (
       |  SELECT o_orderkey, html, ks AS cand, loc1 AS loc FROM locs
       |  UNION ALL SELECT o_orderkey, html, ks, loc2 FROM locs
       |  UNION ALL SELECT o_orderkey, html, a_str, loc3 FROM locs
       |  UNION ALL SELECT o_orderkey, html, b_str, loc4 FROM locs
       |  UNION ALL SELECT o_orderkey, html, '3', base5 + 9 FROM locs
       |  UNION ALL SELECT o_orderkey, html, '1,2', base5 + 18 FROM locs
       |  UNION ALL SELECT o_orderkey, html, '5', base5 + 27 FROM locs),
       |snips AS (
       |  SELECT o_orderkey, cand AS candidate,
       |    substr(html, greatest(loc - 50, 0) + 1, loc - greatest(loc - 50, 0)) AS text_before,
       |    substr(html, loc + len(cand) + 1, 50) AS text_after,
       |    CAST(loc AS INT) AS location
       |  FROM cands)""".stripMargin

  private val keepSql: String =
    """(candidate LIKE '%.%' OR candidate LIKE '%,%')
      |  AND NOT (candidate LIKE '%,,%' OR candidate LIKE '%.,%'
      |    OR candidate LIKE '%,.%' OR candidate LIKE '%..%')
      |  AND (text_before || candidate || text_after LIKE '%$%'
      |    OR text_before || candidate || text_after LIKE '%price%'
      |    OR text_before || candidate || text_after LIKE '%Price%'
      |    OR text_before || candidate || text_after LIKE '%PRICE%')""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_price_candidates" ->
      s"""WITH $baseSql
         |SELECT * FROM snips
         |ORDER BY o_orderkey, location""".stripMargin,
    "q_price_candidates_filtered" ->
      s"""WITH $baseSql
         |SELECT * FROM snips
         |WHERE $keepSql
         |ORDER BY o_orderkey, location""".stripMargin,
    "q_build_patterns" ->
      s"""WITH $baseSql,
         |pats AS (
         |  SELECT s.o_orderkey, s.candidate, s.text_before, s.text_after,
         |    concat('shop', CAST(o.o_custkey % 37 AS VARCHAR), '.example.com') AS domain,
         |    l.a_str
         |  FROM snips s
         |  JOIN orders o ON s.o_orderkey = o.o_orderkey
         |  JOIN locs l ON s.o_orderkey = l.o_orderkey),
         |tru AS (
         |  SELECT domain, o_orderkey,
         |    right(text_before, $PatternTrim) AS pat_before,
         |    left(text_after, $PatternTrim) AS pat_after
         |  FROM pats
         |  WHERE CAST(replace(candidate, ',', '') AS DOUBLE)
         |      = CAST(replace(a_str, ',', '') AS DOUBLE)),
         |counts AS (
         |  SELECT domain, pat_before, pat_after, COUNT(DISTINCT o_orderkey) AS n_pages
         |  FROM tru GROUP BY domain, pat_before, pat_after),
         |tot AS (
         |  SELECT concat('shop', CAST(o_custkey % 37 AS VARCHAR), '.example.com') AS domain,
         |    COUNT(DISTINCT o_orderkey) AS n_dom
         |  FROM orders GROUP BY 1),
         |best AS (
         |  SELECT domain, pat_before, pat_after, n_pages,
         |    ROW_NUMBER() OVER (PARTITION BY domain
         |      ORDER BY n_pages DESC, pat_before, pat_after) AS rn
         |  FROM counts)
         |SELECT b.domain, b.pat_before, b.pat_after, b.n_pages,
         |  CAST(b.n_pages AS DOUBLE) / t.n_dom AS coverage
         |FROM best b JOIN tot t USING (domain)
         |WHERE rn = 1
         |ORDER BY domain""".stripMargin,
    "q_pattern_locate" ->
      s"""WITH $baseSql,
         |pat AS (
         |  SELECT o_orderkey, html,
         |    strpos(html, '$LocateBefore') AS pos_b
         |  FROM locs),
         |g AS (
         |  SELECT o_orderkey, html,
         |    pos_b + ${LocateBefore.length} - 1 AS g1s,
         |    strpos(substr(html, pos_b + ${LocateBefore.length}), '$LocateAfter') + pos_b + ${LocateBefore.length} - 2 AS g1e
         |  FROM pat WHERE pos_b > 0),
         |res AS (
         |  SELECT o_orderkey,
         |    substr(html, g1s + 1, g1e - g1s) AS price_str,
         |    CAST(g1s AS INT) AS location,
         |    substr(html, greatest(g1s - $LocateSnippet, 0) + 1,
         |      least(g1e + $LocateSnippet, len(html)) - greatest(g1s - $LocateSnippet, 0)) AS ext
         |  FROM g WHERE g1e >= 0)
         |SELECT * FROM res
         |ORDER BY o_orderkey""".stripMargin)
}
