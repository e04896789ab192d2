package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Batch analytics re-expressing the reference's ProdMetrics / DomAnalysis /
  * model-evaluation jobs (reference: um/re/analytics/ProdMetricsV6.scala,
  * um/re/analysis/DomAnalysisFull.scala, um/re/transform/Transformer.scala)
  * as declarative DataFrame plans.
  *
  * Scale notes (100 TB):
  *  - Monetary aggregates go through DecimalType — associative-safe, so
  *    map-side partial aggregation is both enabled and deterministic.
  *  - All windows partition by a high-cardinality key (order/customer/
  *    product) — no global sorts anywhere.
  *  - Dimension joins (part/supplier/nation) are explicitly broadcast.
  */
object Analytics {
  private val M = DecimalType(18, 2) // money/quantity exact-sum type

  /** Pricing summary: groupBy + algebraic aggregates only → full map-side
    * partial aggregation; one shuffle at the agg keys. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast(M)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(M)).cast("double").as("sum_base_price"),
        // exact integer-cents sum: floor(x*100+0.5) is IEEE-deterministic in
        // both Spark and DuckDB, and the bigint sum is order-independent
        (sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0 + 0.5).cast("long")) / 100.0).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Revenue per brand: fact⋈dim with the dim side broadcast — no shuffle
    * of the 100 TB fact table for the join, only for the final agg. */
  def joinEnrich(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir).select("p_partkey", "p_brand")
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy("p_brand")
      .agg(
        (sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0 + 0.5).cast("long")) / 100.0).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("p_brand")
  }

  /** Per-key price-history stats (StatCounter analog: min/max/mean/stdev).
    * Reference: um/re/analytics/UrlPositionAndVar.scala + ProdMetricsV6's
    * StatCounter usage. stdev computed from exact decimal sums so the
    * result is independent of partitioning / aggregation order. */
  def priceStats(spark: SparkSession, dir: String): DataFrame = {
    val sq = DecimalType(38, 6)
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        min("value").as("min_value"),
        max("value").as("max_value"),
        sum(col("value").cast(M)).cast("double").as("sum_value"),
        (sum(col("value").cast(M)).cast("double") / count(lit(1))).as("avg_value"),
        (floor(
          sqrt(
            (sum((col("value") * col("value")).cast(sq)).cast("double")
              - sum(col("value").cast(M)).cast("double") * sum(col("value").cast(M)).cast("double") / count(lit(1)))
              / (count(lit(1)) - 1)) * 1e6 + 0.5) / 1e6).as("stdev_value"))
      .orderBy("event_type")
  }

  /** Per-URL argmax-confidence candidate selection: the reference sorts
    * each URL group by confidence and keeps the head
    * (Transformer.scala:322-337, evaluateModelByURL). Here: pick the
    * highest-value lineitem per order via a rank window — one shuffle on
    * the partition key, no per-group driver logic. */
  def topCandidate(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_orderkey")
      .orderBy(col("l_extendedprice").desc, col("l_linenumber").asc)
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .orderBy("l_orderkey")
  }

  /** Latest vs previous price per key: delta + relative change %.
    * Reference: ProdMetricsV6.scala:75-110 (groupByKey + sorted-list scan
    * → re-expressed as lag/row_number windows; the scan-back "last change
    * date" becomes a max-over-filtered-window). */
  def priceDeltas(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val wAll = Window.partitionBy("o_custkey")
    // Scan-back (ProdMetricsV6.scala:85-95): walk back past the leading
    // run of prices equal to the latest one; `k` = rank of the first
    // older differing price, the change-date row is the one visited just
    // before it (rank k-1, floored at the head). All-equal histories fall
    // back to the oldest row (k → n), single-row histories to zeros —
    // the reference's exact loop outcomes, as change-flag windows.
    val base = Tables.orders(spark, dir)
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .withColumn("last_p", first("o_totalprice").over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("k",
        min(when(col("o_totalprice") =!= col("last_p"), col("rn"))).over(wAll))
    val prvRn = coalesce(col("k"), col("n"))
    val lcdRn = greatest(coalesce(col("k"), col("n")) - 1, lit(1L))
    base.groupBy("o_custkey")
      .agg(
        max(when(col("rn") === 1, col("o_totalprice"))).as("last_price"),
        max(when(col("rn") === 2, col("o_totalprice"))).as("prev_price"),
        max(when(col("rn") === prvRn && col("n") > 1, col("o_totalprice"))).as("prv_raw"),
        max(when(col("rn") === lcdRn, col("o_orderdate"))).as("last_change_date"))
      .select(
        col("o_custkey"), col("last_price"), col("prev_price"),
        when(col("prev_price").isNull, lit(0.0))
          .otherwise(col("last_price") - col("prev_price")).as("delta"),
        when(col("prev_price").isNull || col("prev_price") === 0.0, lit(0.0))
          .otherwise(floor((col("last_price") - col("prev_price")) / col("prev_price") * 100.0 * 1e6 + 0.5) / 1e6)
          .as("relative_change"),
        coalesce(col("prv_raw"), lit(0.0)).as("prv_price"),
        when(col("prv_raw").isNull || col("prv_raw") === 0.0, lit(0.0))
          .otherwise(floor((col("last_price") - col("prv_raw")) / col("prv_raw") * 100.0 * 1e6 + 0.5) / 1e6)
          .as("last_change_pct"),
        col("last_change_date"))
      .orderBy("o_custkey")
  }

  /** Per-product max increase / max decrease across stores.
    * Reference: ProdMetricsV6.scala:112-160 (sortedByRelativeChange head/
    * last per product → argmax/argmin windows). Key mapping: product =
    * customer, store = order priority bucket. */
  def hotspots(spark: SparkSession, dir: String): DataFrame = {
    val byKey = Window.partitionBy("o_custkey", "o_orderpriority")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val changes = Tables.orders(spark, dir)
      .select("o_custkey", "o_orderkey", "o_orderpriority", "o_orderdate", "o_totalprice")
      .withColumn("prev", lag("o_totalprice", 1).over(byKey))
      .filter(col("prev").isNotNull && col("prev") =!= 0.0)
      .withColumn("rel_change",
        floor((col("o_totalprice") - col("prev")) / col("prev") * 100.0 * 1e6 + 0.5) / 1e6)
    val maxW = Window.partitionBy("o_custkey")
      .orderBy(col("rel_change").desc, col("o_orderkey").asc)
    val minW = Window.partitionBy("o_custkey")
      .orderBy(col("rel_change").asc, col("o_orderkey").asc)
    changes
      .withColumn("rn_max", row_number().over(maxW))
      .withColumn("rn_min", row_number().over(minW))
      .filter(col("rn_max") === 1 || col("rn_min") === 1)
      .groupBy("o_custkey")
      .agg(
        max(when(col("rn_max") === 1, col("rel_change"))).as("max_increase"),
        max(when(col("rn_max") === 1, col("o_orderkey"))).as("max_increase_order"),
        min(when(col("rn_min") === 1, col("rel_change"))).as("max_decrease"),
        max(when(col("rn_min") === 1, col("o_orderkey"))).as("max_decrease_order"))
      .orderBy("o_custkey")
  }

  /** q_dom_analysis's two "hot" floors: suppliers per part, hot parts
    * per supplier. */
  private val DomMinDomains = 4
  private val DomMinProds = 10

  /** Domain-analysis chain: parts sold by ≥ [[DomMinDomains]] distinct
    * suppliers, then suppliers carrying ≥ [[DomMinProds]] such parts.
    * Reference: analysis/DomAnalysisFull.scala:18-25 (domain=supplier,
    * product=part). Semi-join keeps the fact scan single-pass; the two
    * "hot lists" are tiny and broadcast. */
  def domAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_partkey", "l_suppkey")
    val domProd = li.distinct()
    val hotParts = domProd.groupBy("l_partkey")
      .agg(countDistinct("l_suppkey").as("n_domains"))
      .filter(col("n_domains") >= DomMinDomains)
    val hotPairs = domProd.join(broadcast(hotParts), Seq("l_partkey"))
    val hotSupps = hotPairs.groupBy("l_suppkey")
      .agg(countDistinct("l_partkey").as("n_hot_parts"))
      .filter(col("n_hot_parts") >= DomMinProds)
    hotPairs.join(broadcast(hotSupps.select("l_suppkey")), Seq("l_suppkey"))
      .select("l_suppkey", "l_partkey", "n_domains")
      .orderBy("l_suppkey", "l_partkey")
  }

  /** Confusion matrix + sensitivity/specificity/precision + per-URL
    * upper/lower bounds per group, over a deterministic synthetic
    * label/prediction pair (url analog = l_orderkey).
    * Reference: Transformer.scala:306-320 (evaluateModel) — the RDD
    * filter+count-per-metric (4 jobs + a groupBy-per-bound) becomes two
    * single-pass aggregates joined on the (tiny) group key:
    *  - upper_bound = frac of urls with ≥1 (label=1 ∧ pred=1)
    *  - lower_bound = frac of urls with ≥1 tp and no (label=0 ∧ pred=1)
    *    (Transformer.scala:316-317). */
  def evalMetrics(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(
        col("l_returnflag"), col("l_orderkey"),
        (col("l_quantity") > 25.0).cast("int").as("label"),
        (col("l_discount") > 0.05).cast("int").as("pred"))
    val cm = li.groupBy("l_returnflag")
      .agg(
        sum(when(col("label") === 1 && col("pred") === 1, 1).otherwise(0)).as("tp"),
        sum(when(col("label") === 0 && col("pred") === 0, 1).otherwise(0)).as("tn"),
        sum(when(col("label") === 0 && col("pred") === 1, 1).otherwise(0)).as("fp"),
        sum(when(col("label") === 1 && col("pred") === 0, 1).otherwise(0)).as("fn"))
    val urls = li.groupBy("l_returnflag", "l_orderkey")
      .agg(
        max(when(col("label") === 1 && col("pred") === 1, 1).otherwise(0)).as("has_tp"),
        max(when(col("label") === 0 && col("pred") === 1, 1).otherwise(0)).as("has_fp"))
    val bounds = urls.groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_urls"),
        sum(col("has_tp")).as("n_ub"),
        sum(when(col("has_tp") === 1 && col("has_fp") === 0, 1).otherwise(0)).as("n_lb"))
    // floor-scale instead of round(): Spark's BigDecimal HALF_UP and
    // DuckDB's rounding diverge on the same double; floor(x*1e6+0.5) is
    // pure IEEE arithmetic, identical in both engines
    def r6(c: org.apache.spark.sql.Column) = floor(c * 1e6 + 0.5) / 1e6
    cm.join(broadcast(bounds), Seq("l_returnflag"))
      .select(
        col("l_returnflag"), col("tp"), col("tn"), col("fp"), col("fn"),
        r6(col("tp") / (col("tp") + col("fn"))).as("sensitivity"),
        r6(col("tn") / (col("fp") + col("tn"))).as("specificity"),
        r6(col("tp") / (col("tp") + col("fp"))).as("precision_"),
        r6(col("n_ub") / col("n_urls")).as("upper_bound"),
        r6(col("n_lb") / col("n_urls")).as("lower_bound"))
      .orderBy("l_returnflag")
  }

  /** Price position & variability indices per (product, store) — the
    * reference's CalcIndices varPos stage (analytics/CalcIndices.scala:
    * 145-190): rank stores by price within each product, relative place
    * = rank/n, coefficient of variation from population variance, and
    * the reference's discretized rank levels. Variance comes from exact
    * decimal window sums (order-independent); all windows partition by
    * product (high cardinality) — no global sort. */
  def priceIndex(spark: SparkSession, dir: String): DataFrame = {
    val offers = Tables.lineitem(spark, dir)
      .groupBy("l_partkey", "l_suppkey")
      .agg(min("l_extendedprice").as("price"))
    val w = Window.partitionBy("l_partkey").orderBy(col("price").asc, col("l_suppkey").asc)
    val wAll = Window.partitionBy("l_partkey")
    // cv is scale-invariant, so work in integer cents: bigint sums are
    // exact and bigint->double conversion is correctly rounded in every
    // engine, unlike DECIMAL(38,6)->DOUBLE (Java BigDecimal vs DuckDB
    // int128 diverge by ulps, which would leak into cv).
    val mean = col("sum_p") / col("n_stores")
    val variance = greatest(col("sum_sq") / col("n_stores") - mean * mean, lit(0.0))
    val cv = sqrt(variance) / mean
    val relPlace = col("pos").cast("double") / col("n_stores")
    val cvRank = when(cv <= 0.2, 1).when(cv <= 0.4, 2).when(cv <= 0.6, 3)
      .when(cv <= 0.85, 4).otherwise(5)
    val relPlaceRank = when(relPlace <= 0.05, 5).when(relPlace <= 0.1, 10)
      .when(relPlace <= 0.2, 20).when(relPlace <= 0.3, 30).when(relPlace <= 0.4, 40)
      .when(relPlace <= 0.5, 50).when(relPlace <= 0.6, 60).when(relPlace <= 0.7, 70)
      .when(relPlace <= 0.8, 80).when(relPlace <= 0.9, 90).when(relPlace <= 0.95, 95)
      .otherwise(100)
    offers
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("pc", floor(col("price") * 100 + 0.5).cast("long"))
      .withColumn("n_stores", count(lit(1)).over(wAll))
      .withColumn("sum_p", sum(col("pc")).over(wAll).cast("double"))
      .withColumn("sum_sq", sum(col("pc") * col("pc")).over(wAll).cast("double"))
      .select(col("l_partkey"), col("l_suppkey"), col("price"), col("pos"),
        col("n_stores"), relPlace.as("rel_place"), relPlaceRank.as("rel_place_rank"),
        cv.as("cv"), cvRank.as("cv_rank"))
      .orderBy("l_partkey", "l_suppkey")
  }

  /** q_prodxstore_pivot's report owner and its competitor columns. */
  private val PivotOwner = "st0"
  private val PivotCompetitors = Seq("st1", "st2", "st3", "st4")

  /** q_prodxstore_pivot: the per-user product×store comparison report —
    * the reference's Kafka2ProdXStoreReport (analytics/
    * Kafka2ProdXStoreReport.scala:79-128): rows are (condition, sku,
    * title) per product carried by the report owner's store, columns are
    * the owner's competitor list, each cell "price<<>>url" or
    * "NA<<>>NA". The reference drives one driver-side pass per user over
    * a broadcast store list and groupByKey's per product; Spark-first
    * this is ONE `groupBy().pivot(competitors).agg(min)` — the pivot
    * values are the explicit (bounded) competitor list, so there is no
    * value-discovery collect, the pivot compiles to a regular
    * aggregation with one column per competitor, and the single shuffle
    * is on (product, condition). Prices pivot as integer cents so every
    * cell is exact. Condition mapping mirrors the reference's
    * details-string sniffing (Refurbished→Refurb, Used→Used, else New). */
  def prodXStorePivot(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(
        col("l_partkey"), col("l_suppkey"),
        concat(lit("st"), (col("l_suppkey") % 7).cast("string")).as("store"),
        when(col("l_returnflag") === "R", "Refurb")
          .when(col("l_returnflag") === "A", "Used")
          .otherwise("New").as("condition_"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
    val offers = li
      .groupBy("l_partkey", "condition_", "store")
      .agg(min("cents").as("cents"))
      .withColumn("cell", concat(col("cents").cast("string"), lit("<<>>"),
        concat(lit("http://"), col("store"), lit(".example.com/p/"), col("l_partkey").cast("string"))))
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"),
        concat(lit("sku"), col("p_partkey").cast("string")).as("sku"),
        col("p_name").as("title"))
    offers
      .groupBy("l_partkey", "condition_")
      .pivot("store", PivotOwner +: PivotCompetitors)
      .agg(min("cell"))
      // the report covers only products the owner's store carries
      .filter(col(PivotOwner).isNotNull)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(Seq(col("condition_"), col("sku"), col("title")) ++
        PivotCompetitors.map(c => coalesce(col(c), lit("NA<<>>NA")).as(c)): _*)
      .orderBy("sku", "condition_")
  }

  /** Product matching between the CMS catalog and live market prices —
    * the reference's AutoMatcher (emr/AutoMatcher.scala:60-95): both
    * sides key on (store_id || product title) and an exact equi-join
    * emits the matched-products table (analyze_ind initialized to 0).
    * CMS side = the part catalog; market side = products actually
    * traded (distinct parts in lineitem). The join shuffles on the
    * composite key — the correct shape for two large catalogs (the
    * reference pre-partitions both sides with the same HashPartitioner
    * for exactly this reason). */
  def autoMatch(spark: SparkSession, dir: String): DataFrame = {
    def storeId(k: org.apache.spark.sql.Column) =
      concat(lit("st"), (k % 7).cast("string"))
    val cms = Tables.part(spark, dir)
      .select(
        storeId(col("p_partkey")).as("store_id"),
        concat(lit("sp"), col("p_partkey").cast("string")).as("store_prod_id"),
        col("p_name").as("store_prod_title"),
        concat(lit("shop"), (col("p_partkey") % 7).cast("string"), lit(".example.com")).as("store_domain"),
        concat(lit("http://shop.example.com/p/"), col("p_partkey").cast("string")).as("url"))
    val market = Tables.lineitem(spark, dir)
      .select("l_partkey").distinct()
      .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_name")),
        col("l_partkey") === col("p_partkey"))
      .select(
        storeId(col("l_partkey")).as("store_id"),
        concat(lit("sys"), col("l_partkey").cast("string")).as("sys_prod_id"),
        col("p_name").as("sys_prod_title"))
    cms.join(market,
        cms("store_id") === market("store_id") &&
          cms("store_prod_title") === market("sys_prod_title"))
      .select(cms("store_id"), col("store_prod_id"), col("store_domain"),
        lit(0).as("analyze_ind"), col("store_prod_title"),
        col("sys_prod_id"), col("sys_prod_title"), col("url"))
      .orderBy("store_prod_id")
  }

  private val SeedMinFreq = 20

  /** Seed frequency fill: emit each product with its order frequency,
    * keeping products above a minimum support — the reference pushes the
    * most-frequent product URLs to the scraper seed topic.
    * Reference: streaming/FillSeedsByProdFreq.scala,
    * emr/SeedsDistinctS3ToKafka.scala (distinct + frequency). The
    * minimum support is [[SeedMinFreq]] lineitems. */
  def seedFreq(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("freq"), countDistinct("l_orderkey").as("n_orders"))
      .filter(col("freq") >= SeedMinFreq)
      .orderBy(col("freq").desc, col("l_partkey").asc)

  /** Profile spec: (column, repr kind). Reprs are monotone, so
    * repr(min(c)) = min over repr'd values, and each is chosen for
    * bit-stable cross-engine text: ints/strings verbatim, doubles as
    * floor-scaled cents (raw double→text formatting differs between
    * engines), timestamps as ISO dates. Shared by the Spark plan and
    * the generated oracle so the two can't drift. */
  private val ProfileCols: Seq[(String, String)] = Seq(
    "l_orderkey" -> "int", "l_partkey" -> "int", "l_suppkey" -> "int",
    "l_linenumber" -> "int", "l_quantity" -> "cents",
    "l_extendedprice" -> "cents", "l_discount" -> "cents", "l_tax" -> "cents",
    "l_returnflag" -> "str", "l_linestatus" -> "str", "l_shipdate" -> "date")

  /** q_profile_table: the column profiler every ingest runs before a
    * table is trusted — per column: row count, null count, EXACT
    * distinct cardinality, and deterministic min/max representations.
    * (The reference's ad-hoc StatCounter sweeps, generalized to a
    * whole-table data-quality report.)
    *
    * Scale shape: ONE scan; the multi-count_distinct agg plans as
    * Catalyst's expand (data fans out ×|distinct-agg groups| before
    * the two-phase aggregate — the standard exact-profile cost; a
    * 100 TB profiler swaps count_distinct for approx_count_distinct's
    * HLL and the expand collapses to one pass, same report schema).
    * The projection widens via [[Tables.widened]] before the agg: the
    * ×12 expand inherits the scan's partitioning, and a table that
    * arrives as one or two unsplittable parquet files would otherwise
    * run the whole fan-out + partial aggregate on one or two threads
    * (measured 28.7 s → ~5 s at local[32]); the guard makes it a no-op
    * on an already-wide production scan, where an unconditional
    * repartition would round-robin every projected row across the
    * network. Min/max aggregate on NATIVE types (numeric order, not
    * lexical) and are repr'd after aggregation. */
  def profileTable(spark: SparkSession, dir: String): DataFrame = {
    val aggs = ProfileCols.flatMap { case (c, _) => Seq(
      count(col(c)).as(s"cnt_$c"),
      count_distinct(col(c)).as(s"nd_$c"),
      min(col(c)).as(s"min_$c"),
      max(col(c)).as(s"max_$c"))
    }
    def repr(kind: String)(c: Column): Column = kind match {
      case "int"   => c.cast("string")
      case "cents" => floor(c * 100 + 0.5).cast("long").cast("string")
      case "str"   => c
      case "date"  => c.cast("date").cast("string")
    }
    val row = Tables.widened(Tables.lineitem(spark, dir)
      .select(ProfileCols.map { case (c, _) => col(c) }: _*))
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
    val entries = array(ProfileCols.map { case (c, kind) =>
      struct(
        lit(c).as("col_name"),
        col("n_rows"),
        (col("n_rows") - col(s"cnt_$c")).as("n_nulls"),
        col(s"nd_$c").as("n_distinct"),
        repr(kind)(col(s"min_$c")).as("min_repr"),
        repr(kind)(col(s"max_$c")).as("max_repr"))
    }: _*)
    row.select(explode(entries).as("p")).select("p.*").orderBy("col_name")
  }

  /** As-of key-space + epoch mapping, pinned for the oracle: prices
    * interleave into the events' January-2024 window (base epoch +
    * ship-ms mod 30 days — the testdata has no co-epoch price feed, so
    * the observation times derive deterministically from shipdates). */
  private val AsofKeys = 100
  private val AsofBaseMs = 1704067200000L // 2024-01-01T00:00:00Z
  private val AsofSpanMs = 2592000000L    // 30 days

  /** q_asof_price: the AS-OF JOIN — for every event, the most recent
    * price observation for its key at-or-before the event time. The
    * canonical time-series enrichment Spark has no native operator for
    * (DuckDB: `ASOF JOIN`, the oracle side), composed Spark-first with
    * the union+window technique: price observations and probe events
    * UNION into one stream, one cumulative window per key carries the
    * last non-null price forward (`last(ignoreNulls)` over rows
    * unbounded-preceding..current, price rows sorted before same-ms
    * events so `<=` semantics hold), and the probe rows exit with the
    * carried price attached.
    *
    * Scale shape: ONE shuffle, by key, both sides together — no
    * range-explode, no per-event subquery, no broadcast of the big
    * side; skew follows the key histogram (salt via [[Skew.saltedJoin]]
    * machinery if a key floods). Observations are pre-deduped to one
    * row per (k, t_ms) (max price wins) so the as-of winner is unique
    * and the whole result carries a full value oracle. */
  def asofPrice(spark: SparkSession, dir: String): DataFrame = {
    val prices = Tables.lineitem(spark, dir)
      .select((col("l_partkey") % AsofKeys).as("k"),
        // NTZ → TZ is instant-preserving (session tz pinned to UTC)
        (lit(AsofBaseMs) + unix_millis(col("l_shipdate").cast("timestamp")) % AsofSpanMs).as("t_ms"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("pc"))
      .groupBy("k", "t_ms").agg(max("pc").as("price_obs"))
      .select(col("k"), col("t_ms"), lit(0).as("flag"),
        lit(null).cast("long").as("event_id"), col("price_obs"))
    val probes = Tables.events(spark, dir)
      .select((col("user_id") % AsofKeys).as("k"),
        unix_millis(col("ts")).as("t_ms"), lit(1).as("flag"),
        col("event_id"), lit(null).cast("long").as("price_obs"))
    val w = Window.partitionBy("k")
      .orderBy(col("t_ms").asc, col("flag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prices.unionByName(probes)
      .withColumn("price_cents", last(col("price_obs"), ignoreNulls = true).over(w))
      .filter(col("flag") === 1)
      .select(col("event_id"), col("k"), col("t_ms"), col("price_cents"))
      .orderBy("event_id")
  }

  /** Interval width AND bucket width for q_range_join (6 h, ms). Equal
    * by construction: an interval exactly one bucket long overlaps at
    * most two buckets, so the build side replicates ≤ 2×. */
  private[graft] val RangeWinMs = 21600000L

  /** q_range_join: keyed interval join — every purchase within
    * [[RangeWinMs]] AFTER an error by the same user (the
    * "conversion-within-window-of-incident" funnel query). Spark has no
    * native range-join operator; the naive formulation is an equi-join
    * on user followed by a time filter, which degenerates to a per-user
    * cross product (a hot user with e errors and p purchases pays e·p
    * comparisons even when no pair is close in time).
    *
    * Spark-first shape: BUCKETIZED interval join. Time is cut into
    * buckets exactly one window wide; an error's (t, t+W] interval
    * overlaps at most 2 buckets, so the error side explodes into ≤ 2
    * (user, bucket) keys while each purchase lands in exactly 1 — the
    * join becomes a plain equi-join on (user_id, bucket) with the exact
    * time predicate applied inside the bucket. Work ∝ pairs that share
    * a 6 h bucket, never e·p per user; shuffle keys are (user, bucket),
    * so even a flood of events from one user spreads over its time
    * range. Each qualifying pair matches in exactly one bucket (the
    * purchase's), so no post-join dedup is needed. Oracle: DuckDB's
    * native inequality join (IEJoin) — an independent evaluation
    * strategy for the same semantics. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("t_ms"), col("event_type"), col("value"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"),
        col("t_ms").as("err_ms"))
      .withColumn("bkt", explode(array(
        expr(s"err_ms div $RangeWinMs"), expr(s"err_ms div $RangeWinMs") + 1)))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purch_id"), col("user_id"),
        col("t_ms").as("p_ms"),
        floor(col("value") * 100 + 0.5).cast("long").as("value_cents"))
      .withColumn("bkt", expr(s"p_ms div $RangeWinMs"))
    errors.join(purchases, Seq("user_id", "bkt"))
      .filter(col("p_ms") > col("err_ms") &&
        col("p_ms") - col("err_ms") <= RangeWinMs)
      .select(col("err_id"), col("purch_id"), col("user_id"),
        (col("p_ms") - col("err_ms")).as("lag_ms"), col("value_cents"))
      .orderBy("err_id", "purch_id")
  }

  /** Trailing-window length (rows) for q_moving_stats. */
  private val MovingN = 7

  /** q_moving_stats: rolling trailing-window price statistics per
    * product series — the moving-average / volatility features a
    * time-series feature pipeline derives before modeling (the window
    * analog of ProdMetricsV6's lag deltas, reference
    * um/re/analytics/ProdMetricsV6.scala:75-140).
    *
    * All statistics live in exact integer space (cents): the window
    * emits n/Σx/Σx² and the derived mean (e6-scaled) and variance
    * NUMERATOR n·Σx² − (Σx)² — integer-exact, so the oracle compares
    * bit-for-bit with no float tolerance. Magnitudes: cents ≤ 10⁷, so
    * over a 7-row frame Σx ≤ 7·10⁷, (Σx)² ≤ 5·10¹⁵ and n·Σx² ≤ 5·10¹⁵
    * — comfortably inside Long even under ANSI overflow checks. The
    * spike flag (current > 2× trailing mean of the PRIOR frame rows) is
    * an integer cross-multiply compare. Scale shape: one shuffle by
    * series key; the frame order (ship date, orderkey, linenumber) is a
    * total order, so frames are engine-independent. */
  def movingStats(spark: SparkSession, dir: String): DataFrame = {
    val series = Tables.lineitem(spark, dir)
      .select((col("l_partkey") % 100).as("series"),
        col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
    val frame = Window.partitionBy("series")
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc,
        col("l_linenumber").asc)
      .rowsBetween(-(MovingN - 1), Window.currentRow)
    val prior = Window.partitionBy("series")
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc,
        col("l_linenumber").asc)
      .rowsBetween(-(MovingN - 1), -1)
    series
      .withColumn("n_win", count(lit(1)).over(frame))
      .withColumn("sum_cents", sum("cents").over(frame))
      .withColumn("sumsq", sum(col("cents") * col("cents")).over(frame))
      .withColumn("mean_e6",
        expr("(sum_cents * 1000000) div n_win"))
      .withColumn("var_num",
        col("n_win") * col("sumsq") - col("sum_cents") * col("sum_cents"))
      // spike: cents > 2 · mean(prior frame)  ⇔  cents·n_prior > 2·Σprior
      .withColumn("n_prior", count(lit(1)).over(prior))
      .withColumn("sum_prior", coalesce(sum("cents").over(prior), lit(0L)))
      .withColumn("spike",
        col("n_prior") > 0 &&
          col("cents") * col("n_prior") > col("sum_prior") * 2)
      .select(col("series"), col("l_orderkey"), col("l_linenumber"),
        col("cents"), col("n_win"), col("sum_cents"), col("sumsq"),
        col("mean_e6"), col("var_num"), col("spike"))
      .orderBy("series", "l_orderkey", "l_linenumber")
  }

  /** q_rollup: multi-granularity pricing report in ONE pass —
    * (returnflag, linestatus), per-returnflag subtotals, and the grand
    * total via ROLLUP (the reporting shape of the reference's
    * ProdMetrics summary tables, computed without re-scanning per
    * level). Spark expands grouping sets BEFORE the exchange, so all
    * three levels ride one shuffle with map-side partials; sums are
    * integer cents, and null group keys coalesce to 'ALL' (the data's
    * keys are never null) so the level id + labels compare exactly. */
  def rollupReport(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("cents", floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
      .withColumn("qty", col("l_quantity").cast("long"))
      .rollup("l_returnflag", "l_linestatus")
      .agg(grouping_id().cast("long").as("level_id"),
        count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"),
        sum("cents").as("sum_cents"))
      .select(col("level_id"),
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n_rows"), col("sum_qty"), col("sum_cents"))
      .orderBy("level_id", "returnflag", "linestatus")

  /** q_cube: the full CUBE over (lang, source) corpus composition —
    * all four grouping sets (cell, per-lang, per-source, grand total)
    * in ONE shuffle via grouping sets, where four separate groupBys
    * would scan the corpus four times. grouping_id disambiguates the
    * levels; NULL keys render as 'ALL' so the report is
    * self-describing. Complements q_rollup (hierarchical drill-down)
    * with the cross-dimensional version a composition dashboard
    * pivots on; exact integer counts/sums only. */
  def cubeReport(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .cube("lang", "source")
      .agg(grouping_id().cast("long").as("level_id"),
        count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .select(col("level_id"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("sum_chars"))
      .orderBy("level_id", "lang", "source")

  /** Rows kept by q_top_orders (pinned — the oracle embeds it). */
  private[graft] val TopOrdersK = 10

  /** q_top_orders: the TPC-H Q3 shape — top-[[TopOrdersK]] highest-
    * revenue open orders for one market segment — the three-table
    * join+agg+top-k every warehouse benchmark leads with, included so
    * a migrating user's bread-and-butter reporting query has a
    * certified home. Revenue is exact integer cents; the top-k
    * tie-breaks on o_orderkey so the cut is deterministic.
    *
    * Scale shape: the customer dim filters to one segment and
    * BROADCASTS into orders (no fact shuffle); lineitem joins orders
    * on the orderkey equi-join (the one real shuffle, ∝ surviving
    * lines); revenue is a two-phase agg on (orderkey, date, priority);
    * the top-k is TakeOrderedAndProject — no global sort
    * materializes. */
  def topOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val orders = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") =!= "F")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100 + 0.5)
          .cast("long").as("rev_cents"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum("rev_cents").as("revenue_cents"), count(lit(1)).as("n_lines"))
      .orderBy(col("revenue_cents").desc, col("o_orderkey").asc)
      .limit(TopOrdersK)
  }

  /** q_referential_audit: the referential-integrity screen run before
    * trusting any star-schema join — each foreign-key edge checked by
    * a LEFT ANTI join (the plan shape Spark gives NOT EXISTS), orphan
    * counts per edge plus the parent-side row count for rate context.
    * On healthy data every orphan count is 0 — the row EXISTS so the
    * report proves the check ran, not just that nothing printed.
    *
    * Scale shape: each anti-join is one equi-join where the smaller
    * side broadcasts (customer, orders' key projection); nothing wider
    * than (key) columns ever shuffles. */
  def referentialAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"))
    val ord = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(spark, dir).select(col("c_custkey"))
    def check(name: String, df: DataFrame, total: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_orphans"))
        .crossJoin(total.agg(count(lit(1)).as("n_checked")))
        .select(lit(name).as("fk_edge"), col("n_orphans"), col("n_checked"))
    check("lineitem->orders",
      li.join(broadcast(ord.select("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti"), li)
      .unionAll(check("orders->customer",
        ord.join(broadcast(cust),
          col("o_custkey") === col("c_custkey"), "left_anti"), ord))
      .unionAll(check("orders_without_lines",
        ord.join(li, col("o_orderkey") === col("l_orderkey"), "left_anti"), ord))
      .unionAll(check("customers_without_orders",
        cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti"), cust))
      .orderBy("fk_edge")
  }

  /** q_priority_returns: orders containing at least one returned line
    * (l_returnflag = 'R'), counted by order priority with e6 return
    * rates — the TPC-H Q4 shape with a LEFT SEMI join standing in for
    * EXISTS (dedup-free: an order with five returned lines counts
    * once, which a plain join+distinct would pay a shuffle to get).
    *
    * Scale shape: the returned-lines key projection semi-joins into
    * orders; the rollup is priority-catalog-sized. */
  def priorityReturns(spark: SparkSession, dir: String): DataFrame = {
    val returned = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val withReturns = ord
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n_with_returns"))
    val totals = ord.groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
    totals.join(withReturns, Seq("o_orderpriority"), "left")
      .select(col("o_orderpriority"),
        col("n_orders"),
        coalesce(col("n_with_returns"), lit(0L)).as("n_with_returns"),
        expr("(coalesce(n_with_returns, 0L) * 1000000) div n_orders")
          .as("return_rate_e6"))
      .orderBy("o_orderpriority")
  }

  /** Edit-distance cap for q_fuzzy_match (pinned — the oracle embeds
    * it). */
  private[graft] val FuzzyMaxDist = 2

  /** q_fuzzy_match: entity resolution with typos — the fuzzy upgrade
    * of q_auto_match's exact composite-key equality: catalog titles
    * arrive corrupted (deterministic tail typos synthesized by key
    * mod: dropped last char / appended char / clean), candidates pair
    * within a BLOCKING key (the title's first word — never all-pairs,
    * the Fellegi-Sunter blocking discipline), survive a
    * levenshtein ≤ [[FuzzyMaxDist]] filter, and each dirty title
    * keeps its best match (min distance, id tie-break) with the
    * candidate count for audit. Levenshtein is exact unit-cost edit
    * distance in both engines, so the whole match table is
    * hash-oracled.
    *
    * Scale shape: one equi-join on the block key (shuffle ∝ block
    * pair volume, bounded by block-size², with block sizes set by the
    * key's selectivity — the knob a deployment tunes: blocking on the
    * 64-value descriptive vocabulary measured 50 s at sf0.1 from
    * ~300-member blocks; the SKU token bounds blocks at 10 members
    * for the same recall since the typos live in the tail); a length
    * prefilter kills pairs
    * before the O(len²) distance runs (a length gap > the cap can
    * never pass it); best-match is a per-dirty-id window —
    * parallelism ∝ entities. */
  def fuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    // catalog titles get the production shape — a model/SKU token plus
    // the descriptive name ("m1234 large ring"); the testdata's bare
    // p_name is a 64-value vocabulary, which would make every block a
    // near-dup flood and the match degenerate
    val parts = Tables.part(spark, dir).select(col("p_partkey"),
      concat(lit("m"), expr("p_partkey div 10"), lit(" "), col("p_name"))
        .as("title"))
    val dirty = parts.select(
      col("p_partkey").as("dirty_id"),
      when(col("p_partkey") % 3 === 0,
        expr("substring(title, 1, length(title) - 1)"))
        .when(col("p_partkey") % 3 === 1, concat(col("title"), lit("x")))
        .otherwise(col("title")).as("dirty_title"),
      substring_index(col("title"), " ", 1).as("blk"))
    val clean = parts.select(col("p_partkey").as("clean_id"),
      col("title").as("clean_title"),
      substring_index(col("title"), " ", 1).as("blk"))
    val w = Window.partitionBy("dirty_id")
      .orderBy(col("dist").asc, col("clean_id").asc)
    dirty.join(clean, "blk")
      .filter(abs(length(col("dirty_title")) - length(col("clean_title")))
        <= FuzzyMaxDist)
      .withColumn("dist", levenshtein(col("dirty_title"), col("clean_title")))
      .filter(col("dist") <= FuzzyMaxDist)
      .withColumn("rank", row_number().over(w))
      .withColumn("n_candidates",
        count(lit(1)).over(Window.partitionBy("dirty_id")))
      .filter(col("rank") === 1)
      .select(col("dirty_id"), col("dirty_title"), col("clean_id"),
        col("clean_title"), col("dist").cast("long").as("dist"),
        col("n_candidates"))
      .orderBy("dirty_id")
  }

  /** q_seasonality: the (day-of-week × hour-of-day) activity profile —
    * event counts, purchase counts, and exact integer cents per
    * calendar cell, with each cell's e6 share of the corpus — the
    * heatmap behind staffing/campaign timing and the seasonal-naive
    * forecasting baseline. Calendar arithmetic is pure integer epoch
    * math under the fixed UTC session zone (dow = (days + 4) mod 7,
    * epoch day 0 = Thursday), so every cell is bit-identical in
    * DuckDB.
    *
    * Scale shape: ONE two-phase groupBy to a fixed ≤ 168-cell grid;
    * the share denominators ride a broadcast one-row aggregate. */
  def seasonality(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(unix_millis(col("ts")).as("t_ms"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .withColumn("dow", expr("(t_ms div 86400000 + 4) % 7"))
      .withColumn("hour", expr("(t_ms % 86400000) div 3600000"))
    val cells = ev.groupBy("dow", "hour")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        sum(when(col("event_type") === "purchase", col("cents"))
          .otherwise(0L)).as("purchase_cents"))
    val totals = cells.agg(sum("n_events").as("total_events"))
    cells.crossJoin(broadcast(totals))
      .withColumn("share_e6", expr("(n_events * 1000000) div total_events"))
      .select(col("dow"), col("hour"), col("n_events"), col("n_purchases"),
        col("purchase_cents"), col("share_e6"))
      .orderBy("dow", "hour")
  }

  /** Quintiles for q_rfm (pinned — the oracle embeds it). */
  private[graft] val RfmBins = 5L

  /** q_rfm: recency/frequency/monetary customer segmentation — per
    * purchasing user, days since last purchase, purchase count, and
    * lifetime cents, each scored into equi-depth quintiles (1 = worst,
    * 5 = best; recency inverts so recent buyers score high), and the
    * three digits concatenated into the classic "555" segment label.
    *
    * Quintile assignment is the RANK-FREE q_quantile_bins kernel:
    * bin(v) = (cum_lt · 5) div n + 1 over a value histogram — no
    * corpus-wide ntile sort, ties share a bin, pure integers in both
    * engines.
    *
    * Scale shape: one groupBy(user) collapses events to the user
    * table; every scored dimension is CARDINALITY-BOUNDED regardless
    * of user count — recency in days, frequency as counts, monetary
    * bucketed to whole dollars before scoring — so each histogram
    * (and its global cumsum window) is catalog-sized even at 10⁹
    * users, and the bin maps re-join by VALUE as broadcasts. Scoring
    * raw cents instead would make the histogram ∝ users and the
    * global window a genuine scale-killer. */
  def rfm(spark: SparkSession, dir: String): DataFrame = {
    val purchases = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_millis(col("ts")).as("t_ms"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val maxTs = purchases.agg(max("t_ms").as("corpus_max_ms"))
    val users = purchases.crossJoin(broadcast(maxTs))
      .groupBy("user_id")
      .agg(
        expr("(max(corpus_max_ms) - max(t_ms)) div 86400000").as("recency_days"),
        count(lit(1)).as("frequency"),
        sum("cents").as("monetary_cents"))
      .withColumn("monetary_dollars", expr("monetary_cents div 100"))
      .localCheckpoint() // three histogram builds + the final join read it
    def binMap(dim: String): DataFrame = {
      val w = Window.orderBy(dim)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      users.groupBy(dim).agg(count(lit(1)).as("c"))
        .withColumn("cum_le", sum("c").over(w))
        .withColumn("n", sum("c").over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col(dim),
          expr(s"(cum_le - c) * $RfmBins div n + 1").as(s"${dim}_bin"))
    }
    users
      .join(broadcast(binMap("recency_days")), "recency_days")
      .join(broadcast(binMap("frequency")), "frequency")
      .join(broadcast(binMap("monetary_dollars")), "monetary_dollars")
      // low recency = recent = good: invert that one dimension
      .withColumn("r_score", lit(RfmBins + 1) - col("recency_days_bin"))
      .withColumn("f_score", col("frequency_bin"))
      .withColumn("m_score", col("monetary_dollars_bin"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary_cents"), col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score"), col("f_score"), col("m_score")).as("segment"))
      .orderBy("user_id")
  }

  /** Percentiles for q_percentiles, as integer hundredths (50/95/99). */
  private val PctLevels = Seq(50, 95, 99)

  /** q_percentiles: EXACT distributed percentiles (p50/p95/p99 of price
    * cents per series) — the latency/price tail stats every ops report
    * needs, computed without a global sort. `percentile_approx` trades
    * accuracy for one pass; a full sort doesn't scale; the Spark-first
    * exact path is the value-histogram cumsum: two-phase count per
    * (series, cents) — map-side combine collapses duplicate prices, so
    * shuffle is ∝ DISTINCT values per series, not rows — then one
    * window cumsum per series and a min-value-≥-threshold pick per
    * level. Rank thresholds are pure integers (⌈p·n/100⌉ = (p·n+99) div
    * 100) — no float quantile-index rounding anywhere, so Spark and
    * DuckDB cannot disagree at exact-multiple boundaries. The oracle
    * selects the same ranks via direct ROW_NUMBER order statistics — an
    * independent evaluation strategy for the same definition. */
  def percentiles(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(spark, dir)
      .select((col("l_partkey") % 100).as("series"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      .groupBy("series", "cents").agg(count(lit(1)).as("c"))
    val cum = counts
      .withColumn("cum", sum("c").over(
        Window.partitionBy("series").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(Window.partitionBy("series")))
    val picks = PctLevels.map { p =>
      min(when(col("cum") >= expr(s"(n * $p + 99) div 100"), col("cents")))
        .as(s"p${p}_cents")
    }
    cum.groupBy("series")
      .agg(max("n").as("n"), picks: _*)
      .orderBy("series")
  }

  /** HDR sub-bucket precision: [[HdrBits]] significant bits per
    * octave → 16 sub-buckets, so the midpoint estimate's worst-case
    * relative error is 2⁻⁵ ≈ 3.1 % — HdrHistogram's
    * numberOfSignificantValueDigits dial, set integer-coarse so the
    * whole sketch stays engine-parity-exact. */
  private[graft] val HdrBits = 4

  /** Integer-exact HDR bucket id of a positive cents value: octave
    * e = ⌊log₂ cents⌋ computed as length(bin(cents)) − 1 — a STRING
    * length, no float log anywhere, so a boundary value can never
    * flip buckets between engines — then the top [[HdrBits]] bits
    * after the leading one select the sub-bucket. Values below 2⁴
    * are their own (exact) buckets 1..15; octave buckets start at 64,
    * so the id space is collision-free and MONOTONE in cents. */
  private[graft] def hdrBucket(cents: Column): Column = {
    val e = (length(bin(cents)) - 1).cast("long")
    // bit shifts, not division: integer-exact in both engines
    val sub = call_function("shiftright", cents, (e - HdrBits).cast("int"))
    when(e < HdrBits, cents).otherwise(e * 16 + (sub - 16))
  }

  /** Midpoint decode of an HDR bucket id back to estimated cents —
    * ((2·sub+1) << (e−4)) >> 1, exact integers throughout. */
  private[graft] def hdrDecode(bucket: Column): Column = {
    val e = call_function("shiftright", bucket, lit(4)).cast("int")
    val sub = bucket.mod(16) + 16
    when(bucket < 16, bucket)
      .otherwise(call_function("shiftright",
        call_function("shiftleft", sub * 2 + 1, e - HdrBits), lit(1)))
      .cast("long")
  }

  /** The (series, bucket) count census behind [[hdrQuantiles]] and
    * the at-ingest q_stream_hdr — one associative, commutative,
    * duplicate-composable keyed count, ≤ series × (16 per octave ×
    * 64 octaves) entries by construction: sketch-sized at ANY corpus
    * size, which is the whole point. */
  private[graft] def hdrCensus(li: DataFrame): DataFrame =
    li.select((col("l_partkey") % 100).as("series"),
        hdrBucket(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
          .as("bucket"))
      .groupBy("series", "bucket").agg(count(lit(1)).as("c"))

  /** Quantile picks + exact audit over a converged census — shared by
    * batch q_hdr_quantiles and the at-ingest q_stream_hdr. The pick
    * rule is q_percentiles' ceil-rank cut over the bucket-ordered
    * cumulative counts (bucket ids are monotone in cents), decoded at
    * the bucket midpoint; the exact columns rerun the full-data
    * percentile as the accuracy audit (batch-side — computing them is
    * what the sketch exists to avoid at scale). */
  private[graft] def hdrFinish(spark: SparkSession, dir: String,
      census: DataFrame): DataFrame = {
    val cum = census
      .withColumn("cum", sum("c").over(
        Window.partitionBy("series").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(Window.partitionBy("series")))
    val estPicks = PctLevels.map { p =>
      min(when(col("cum") >= expr(s"(n * $p + 99) div 100"),
        hdrDecode(col("bucket")))).as(s"p${p}_est_cents")
    }
    val est = cum.groupBy("series")
      .agg(max("n").as("n"),
        (count(lit(1)).as("n_buckets") +: estPicks): _*)
    val exact = percentiles(spark, dir)
      .select(col("series") +:
        PctLevels.map(p => col(s"p${p}_cents").as(s"p${p}_exact_cents")): _*)
    val errs = PctLevels.map { p =>
      expr(s"abs(p${p}_est_cents - p${p}_exact_cents) * 1000000 " +
        s"div p${p}_exact_cents").as(s"err${p}_e6")
    }
    est.join(exact, Seq("series"))
      .select(col("series") +: col("n") +: col("n_buckets") +:
        (PctLevels.flatMap(p =>
          Seq(col(s"p${p}_est_cents"), col(s"p${p}_exact_cents"))) ++ errs): _*)
      .orderBy("series")
  }

  /** q_hdr_quantiles: the HDR-HISTOGRAM quantile sketch (Tene's
    * HdrHistogram; same family as DDSketch, Masson et al. VLDB'19) —
    * per-series p50/p95/p99 from a log₂-bucketed count census, with
    * the exact percentiles joined alongside and the relative error
    * reported per level. q_percentiles is the exact baseline (one
    * full-width shuffle of every distinct value); THIS is how the
    * same tail report is planned at 100 TB: the census is ≤ 16·64
    * integer buckets per series whatever the row count, buckets merge
    * by addition (so partial aggregation, cross-shard union and
    * at-ingest maintenance are all the same operation), and the
    * guaranteed relative error is structural (2⁻⁵ at the midpoint),
    * not data-dependent.
    *
    * Engine parity by construction: the bucket id is derived from the
    * LENGTH of the binary-string rendering of integer cents — no
    * float log anywhere in index or decode, so the knBigram-class
    * libm 1-ulp risk does not exist here. The spec asserts every
    * err_e6 ≤ 32813 (2⁻⁵ + pick-rounding slack).
    *
    * Scale shape: one map-side-combinable groupBy on (series, bucket)
    * builds the sketch; everything after runs on sketch-sized rows
    * (window over ≤ 1024 buckets per series). The exact-audit join is
    * the sandbox-scale luxury; at corpus scale a user runs the sketch
    * columns alone. */
  def hdrQuantiles(spark: SparkSession, dir: String): DataFrame =
    hdrFinish(spark, dir, hdrCensus(Tables.lineitem(spark, dir)))

  /** Daily revenue census for [[binseg]] and the at-ingest
    * q_stream_binseg — (epoch day, sum cents): a keyed SUM, additive
    * across micro-batches, state bounded by the calendar. */
  private[graft] def binsegCensus(li: DataFrame): DataFrame =
    li.select(
        expr("datediff(l_shipdate, date'1970-01-01')").cast("long").as("day"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      .groupBy("day").agg(sum("cents").as("x"))

  /** Best split per segment for [[binseg]]: maximizing the
    * between-segment term S_L²/n_L + S_R²/n_R (the within-variance is
    * constant per parent segment, so the score needs ONLY cumulative
    * sums — no squares, no floats), carried as the truncating
    * decimal(38,0) value (S_L²·n_R + S_R²·n_L) div (n_L·n_R); ties →
    * earliest day. */
  private def binsegBest(seg: DataFrame): DataFrame = {
    val w = Window.partitionBy("seg_id").orderBy("day")
    val cum = seg
      .withColumn("cum", sum("x").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("seg_id")))
      .withColumn("s", sum("x").over(Window.partitionBy("seg_id")))
    val pick = Window.partitionBy("seg_id")
      .orderBy(col("score").desc, col("day").asc)
    cum.filter(col("i") < col("n"))
      // the ranking value is ONE double expression over the exact
      // integer cumulative sums — identical IEEE tree on both
      // engines, so the argmax (ties → day) is engine-exact. It is
      // NEVER emitted (its magnitude ~S²/n has no bounded integer
      // rendering: Spark's decimal `div` returns LONG and silently
      // overflows to null already at sf1 — the bug this replaced);
      // the OUTPUT statistic is the bounded mean gap.
      .withColumn("score", expr(
        """(cast(cum as double) * cum * (n - i)
          | + cast(s - cum as double) * (s - cum) * i)
          | / (cast(i as double) * (n - i))"""
          .stripMargin.replace('\n', ' ')))
      .withColumn("rk", row_number().over(pick))
      .filter(col("rk") === 1)
      .select(col("seg_id"), col("day").as("split_day"),
        col("i").as("n_left"), (col("n") - col("i")).as("n_right"),
        col("cum").as("s_left"), (col("s") - col("cum")).as("s_right"),
        expr("cum div i - (s - cum) div (n - i)").as("mean_gap_cents"))
  }

  /** q_binseg: MULTIPLE change-point detection by BINARY SEGMENTATION
    * (the binseg baseline every changepoint library ships, after
    * Scott & Knott 1974): level 1 splits the daily-revenue series at
    * the point minimizing within-segment SSE; level 2 recurses into
    * each half — up to three changepoints with their segment sums, so
    * the analyst reads WHERE the level shifted and by how much.
    * q_cusum_change detects ONE shift online at ingest; this is the
    * offline segmentation of the whole horizon.
    *
    * Exactness: minimizing SSE ≡ maximizing S_L²/n_L + S_R²/n_R, a
    * pure function of CUMULATIVE SUMS; the candidate score is ONE
    * double expression over those exact integers — the identical IEEE
    * tree on both engines, so the argmax (ties → earliest day) is
    * engine-exact — and every EMITTED column is exact integer.
    *
    * Scale shape: the day collapse is one two-phase agg (shuffle ∝
    * days touched, calendar-bounded); the candidate scan is a window
    * over the bounded day axis (the documented bounded-axis
    * exception) and the argmax is a rank window per segment. */
  def binseg(spark: SparkSession, dir: String): DataFrame =
    binsegFinish(binsegCensus(Tables.lineitem(spark, dir)))

  /** The two-level segmentation over a converged day census — shared
    * by batch and stream. */
  private[graft] def binsegFinish(census: DataFrame): DataFrame = {
    val days = census.localCheckpoint() // both levels
    val l1 = binsegBest(days.select(lit(0L).as("seg_id"), col("day"),
      col("x"))).localCheckpoint() // output + the level-2 cut read it
    val seg2 = days.crossJoin(broadcast(l1.select(col("split_day").as("t1"))))
      .select(when(col("day") <= col("t1"), 1L).otherwise(2L).as("seg_id"),
        col("day"), col("x"))
    val cols = Seq("seg_id", "split_day", "n_left", "n_right",
      "s_left", "s_right", "mean_gap_cents").map(col)
    l1.select(lit(1L).as("level") +: cols: _*)
      .unionAll(binsegBest(seg2).select(lit(2L).as("level") +: cols: _*))
      .orderBy("level", "seg_id")
  }

  /** The star-schema join edges [[joinAdvisor]] profiles:
    * (label, left table, left key, right table, right key). */
  private val JoinEdges: Seq[(String, String, String, String, String)] = Seq(
    ("lineitem-orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem-part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem-supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders-customer", "orders", "o_custkey", "customer", "c_custkey"))

  /** q_join_advisor: the JOIN-SIZE ESTIMATION audit — for every
    * star-schema join edge, the textbook uniform-containment estimate
    * |A⋈B| ≈ n_A·n_B / max(d_A, d_B) (Selinger's System-R formula,
    * still what every optimizer defaults to without histograms) side
    * by side with the EXACT join cardinality and the relative error.
    * The planning triptych: q_join_card measures per-key frequency
    * statistics for ONE key, q_skew_advisor names the key that breaks
    * a strategy, THIS scores the formula the optimizer will actually
    * use across the schema — an err_e6 spike on an edge says "collect
    * histograms there before trusting a plan".
    *
    * Integer-exact: counts and distincts are exact, the estimate is
    * one decimal-guarded truncating division, the error one more.
    *
    * Scale shape: per edge two 1-row aggregates (count + distinct —
    * the distinct is the only shuffle, ∝ keys) and one equi-join
    * count (two-phase); the 1-row frames meet in broadcast
    * crossJoins. At 100 TB the exact actual_rows column is the audit
    * luxury — the estimate columns alone cost two scans. */
  def joinAdvisor(spark: SparkSession, dir: String): DataFrame =
    JoinEdges.map { case (nm, lt, lk, rt, rk) =>
      val l = Tables.table(spark, dir, lt).select(col(lk).cast("long").as("k"))
      val r = Tables.table(spark, dir, rt).select(col(rk).cast("long").as("k"))
      val ls = l.agg(count(lit(1)).as("n_left"),
        count_distinct(col("k")).as("d_left"))
      val rs = r.agg(count(lit(1)).as("n_right"),
        count_distinct(col("k")).as("d_right"))
      val act = l.join(r, "k").agg(count(lit(1)).as("actual_rows"))
      ls.crossJoin(broadcast(rs)).crossJoin(broadcast(act))
        .select(lit(nm).as("join_name"), col("n_left"), col("d_left"),
          col("n_right"), col("d_right"), col("actual_rows"))
    }.reduce(_ unionAll _)
      .withColumn("est_rows", expr(
        "cast((cast(n_left as decimal(38,0)) * n_right) div greatest(d_left, d_right) as bigint)"))
      // the e6-scaled numerator rides decimal(38,0) like est_rows: a
      // badly-estimated edge at large SF can push |err|·10⁶ past Long
      // range, where plain BIGINT would wrap silently in Spark but
      // error in DuckDB — an engine divergence, not a degradation
      .withColumn("err_e6", expr(
        "case when actual_rows = 0 then -1L " +
          "else (abs(cast(est_rows as decimal(38,0)) - actual_rows) * 1000000) " +
          "div actual_rows end"))
      .select(col("join_name"), col("n_left"), col("d_left"),
        col("n_right"), col("d_right"), col("est_rows"),
        col("actual_rows"), col("err_e6"))
      .orderBy("join_name")

  /** AMS sketch shape: [[AmsR]] = groups × perGroup sign counters
    * (median-of-means over 8 groups of 8 — the classic AMS/Tug-of-War
    * accuracy amplification). */
  private[graft] val AmsGroups = 8
  private[graft] val AmsPerGroup = 8
  private[graft] val AmsR = AmsGroups * AmsPerGroup

  /** The [[AmsR]] sign counters behind [[amsF2]] and the at-ingest
    * q_stream_ams, as ONE keyed census row: the key's single md5
    * yields two 60-bit integers (hex chars 1–15 and 16–30); sign j is
    * bit j of the first (j < 60) or bit j−60 of the second — ONE hash
    * per row however many counters, the production AMS trick — and
    * counter j = Σ_rows ±1. All 64 sums are integer and ADDITIVE
    * across micro-batches; state = one 65-column row forever. */
  private[graft] def amsCensus(li: DataFrame): DataFrame = {
    // two 60-bit integer parses of the hex, then pure shift-and-mask
    // per sign — integer ops in codegen, not 64 string slices
    val sums = (0 until AmsR).map { j =>
      val bit =
        if (j < 60) s"(l1 >> $j) & 1" else s"(l2 >> ${j - 60}) & 1"
      sum(expr(s"case when $bit = 1 then 1L else -1L end")).as(s"c$j")
    }
    li.select(expr("md5(concat('ams', cast(l_partkey as string)))").as("h"))
      .select(
        expr("cast(conv(substr(h, 1, 15), 16, 10) as bigint)").as("l1"),
        expr("cast(conv(substr(h, 16, 15), 16, 10) as bigint)").as("l2"))
      .groupBy(lit("all").as("k"))
      .agg(count(lit(1)).as("n"), sums: _*)
  }

  /** Median-of-means F2 estimate + exact audit over a converged
    * counter row — shared by batch and stream. */
  private[graft] def amsFinish(spark: SparkSession, dir: String,
      census: DataFrame): DataFrame = {
    val means = (0 until AmsGroups).map { g =>
      val terms = (0 until AmsPerGroup)
        .map(p => s"cast(c${g * AmsPerGroup + p} as decimal(38,0)) * c${g * AmsPerGroup + p}")
        .mkString(" + ")
      struct(lit(g.toLong).as("grp"),
        expr(s"cast(($terms) div $AmsPerGroup as bigint)").as("mean_f2"))
    }
    val w = Window.orderBy(col("mean_f2").asc, col("grp").asc)
    val est = census.drop("k")
      .select(col("n"), explode(array(means: _*)).as("e"))
      .select(col("n"), col("e.grp").as("grp"), col("e.mean_f2").as("mean_f2"))
      .withColumn("rk", row_number().over(w)) // 8 rows — bounded axis
      .filter(col("rk") === (AmsGroups + 1) / 2) // lower median of 8
      .select(col("mean_f2").as("est_f2"), col("n").as("n_rows"))
    val exact = Tables.lineitem(spark, dir)
      .groupBy("l_partkey").agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * c")).as("exact_f2"))
    est.crossJoin(broadcast(exact))
      .select(col("n_rows"), col("exact_f2"), col("est_f2"),
        expr("abs(est_f2 - exact_f2) * 1000000 div exact_f2")
          .as("rel_err_e6"))
  }

  /** q_ams_f2: the AMS / Tug-of-War SECOND-MOMENT sketch (Alon,
    * Matias & Szegedy, STOC'96 — the result that started streaming
    * sketches): F₂ = Σ_k c_k² of the join-key frequency vector, i.e.
    * EXACTLY the self-join size q_join_card computes exactly —
    * estimated from [[AmsR]] integer counters instead of a per-key
    * census. Each counter is Σ ±1·(rows), E[c²] = F₂; means of
    * [[AmsPerGroup]] then the median of [[AmsGroups]] means is the
    * standard variance-then-tail amplification. The exact Σc² rides
    * along as the audit (the q_kmv_setops pattern).
    *
    * Why it earns a row next to q_join_card: the exact census is
    * state ∝ DISTINCT KEYS; the AMS sketch is 64 longs FOREVER at any
    * key cardinality — the join-size estimator a 100 TB planner can
    * afford to keep per column. Everything is integer: the 64 ±1
    * signs are the 64 BITS of one md5 per row (both engines parse the
    * same hex digits), counter sums, squares, truncating divisions;
    * the median is a rank pick, not an average.
    *
    * Scale shape: ONE hash + 64 conditional sums per row, all
    * map-side-combinable into a single 65-column row — the shuffle is
    * one partial row per partition; the finish runs on 8 rows. */
  def amsF2(spark: SparkSession, dir: String): DataFrame =
    // widened on the projected key column: the md5+conv per row runs
    // in the scan stage, which the single-row-group sandbox layout
    // serializes to one task (winnowFp's note); the stream sibling
    // keeps the raw source (widened forces a batch conversion)
    amsFinish(spark, dir, amsCensus(
      Tables.widened(Tables.lineitem(spark, dir).select("l_partkey"))))

  /** R/S window sizes for [[hurst]] — powers of two, evenly spaced in
    * ln, so the 3-point OLS slope collapses to
    * (ln RS₃₂ − ln RS₈)/(2·ln 2). */
  private val HurstScales = Seq(8L, 16L, 32L)

  /** q_hurst: the HURST EXPONENT by rescaled-range analysis (Hurst
    * 1951; Mandelbrot's R/S) over each series' daily price level —
    * the long-memory diagnostic the time-series family lacked: H ≈
    * 0.5 says the series is a random walk (q_acf/q_pacf's short-lag
    * view can look clean while long-range dependence hides), H > 0.5
    * persistent trending, H < 0.5 mean-reverting — the dial that
    * decides whether q_ses_forecast-style exponential smoothing is
    * even applicable. Per series and window size w ∈ {8,16,32}: split
    * the day-indexed series into complete windows, R = range of
    * cumulative deviations from the window mean, S = window stddev,
    * RS(w) = mean R/S; H = the log-log slope.
    *
    * Exactness discipline: deviations are scaled by w so they stay
    * INTEGER (w·cum_k − k·Σx); each window's R/S is ONE double
    * division of exact integers ((dmax−dmin)/√(w·Σx²−(Σx)²)),
    * e6-floored AT THE WINDOW so the per-scale mean is an exact
    * integer division — no float ever rides an aggregation. H's two
    * ln calls are the accepted libm-parity class (q_intrinsic_dim's
    * lnmu precedent).
    *
    * Scale shape: the (series, day) collapse is one two-phase agg;
    * windows and cumulative deviations are day-axis windows
    * partitioned by (series, w, win) — calendar-bounded frames; the
    * finish runs on series × 3 rows. */
  def hurst(spark: SparkSession, dir: String): DataFrame =
    hurstFinish(hurstCensus(Tables.lineitem(spark, dir)))

  /** The (series, day) partial-sum census behind [[hurst]] and the
    * at-ingest q_stream_hurst — sums and counts are additive across
    * micro-batches; the daily mean divides in the finish, so the
    * census converges to the batch census exactly. */
  private[graft] def hurstCensus(li: DataFrame): DataFrame =
    li.select((col("l_partkey") % 10).as("series"),
        expr("datediff(l_shipdate, date'1970-01-01')").cast("long").as("day"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      .groupBy("series", "day")
      .agg(sum("cents").as("sc"), count(lit(1)).as("nc"))

  /** The R/S windows + log-log slope over a converged census —
    * shared by batch and stream. */
  private[graft] def hurstFinish(census: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("series").orderBy("day")
    val daily = census
      .select(col("series"), col("day"), expr("sc div nc").as("x"))
      .withColumn("i", (row_number().over(wOrd) - 1).cast("long"))
    val scaled = daily.select(col("series"), col("i"), col("x"),
        explode(array(HurstScales.map(lit(_)): _*)).as("w"))
      .withColumn("win", expr("i div w"))
    val ww = Window.partitionBy("series", "w", "win")
    val wwOrd = ww.orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perWin = scaled
      .withColumn("cnt", count(lit(1)).over(ww))
      .filter(col("cnt") === col("w"))
      .withColumn("sx", sum("x").over(ww))
      .withColumn("sxx", sum(expr("x * x")).over(ww))
      .withColumn("cum", sum("x").over(wwOrd))
      .withColumn("dev", expr("w * cum - ((i % w) + 1) * sx"))
      .groupBy("series", "w", "win")
      .agg(max("dev").as("dmax"), min("dev").as("dmin"),
        max("sx").as("sx"), max("sxx").as("sxx"))
      .withColumn("rs_e6", expr(
        """case when w * sxx - sx * sx <= 0 then cast(null as bigint)
          |else cast(floor(cast(dmax - dmin as double)
          |  / sqrt(cast(w * sxx - sx * sx as double)) * 1e6 + 0.5d)
          |  as bigint) end""".stripMargin.replace('\n', ' ')))
    val rsMean = perWin.filter(col("rs_e6").isNotNull)
      .groupBy("series", "w")
      .agg(count(lit(1)).as("n_windows"),
        expr("sum(rs_e6) div count(1)").as("rs_mean_e6"))
    val h = rsMean.groupBy("series").agg(
        min(when(col("w") === 8, col("rs_mean_e6"))).as("rs8"),
        min(when(col("w") === 32, col("rs_mean_e6"))).as("rs32"))
      .select(col("series"), expr(
        """case when rs8 is null or rs32 is null or rs8 <= 0 or rs32 <= 0
          |then cast(0 as bigint)
          |else cast(floor((ln(cast(rs32 as double)) - ln(cast(rs8 as double)))
          |  / (2.0d * ln(2.0d)) * 1e6 + 0.5d) as bigint) end"""
          .stripMargin.replace('\n', ' ')).as("h_e6"))
    rsMean.join(h, Seq("series"))
      .select(col("series"), col("w"), col("n_windows"),
        col("rs_mean_e6"), col("h_e6"))
      .orderBy("series", "w")
  }

  /** The four lineitem measures [[corrMatrix]] correlates, each
    * quantized to an exact integer at the scan (name → quantizing
    * SQL), in pinned lexical order so the pair rows are
    * engine-independent. */
  private val CorrVars: Seq[(String, String)] = Seq(
    "disc_e2" -> "cast(floor(l_discount * 100 + 0.5) as bigint)",
    "price_cents" -> "cast(floor(l_extendedprice * 100 + 0.5) as bigint)",
    "qty" -> "cast(l_quantity as bigint)",
    "tax_e2" -> "cast(floor(l_tax * 100 + 0.5) as bigint)")

  /** q_corr_matrix: the pairwise Pearson CORRELATION MATRIX over the
    * lineitem measures — the first look every feature-engineering /
    * drift pipeline takes at a numeric table ("which columns are
    * redundant, which price driver is real"). q_spearman and
    * q_kendall_tau rank-correlate ONE chosen pair; this emits all
    * C(4,2) linear correlations from ONE scan.
    *
    * Exactness: each measure quantizes to an integer at the scan, all
    * 14 moments (n, 4 sums, 9 upper-triangle product sums) accumulate
    * in decimal(38,0) — order-independent exact integer sums — and
    * each correlation is ONE double expression over those exact
    * moments (both engines evaluate the identical tree on identical
    * integers), e6-floored.
    *
    * Scale shape: ONE map-side-combinable global aggregate (14
    * columns wide) over the scan — no shuffle of data rows at all,
    * just the 1-row moment vector; the pair fan-out is a 6-element
    * array explode on that single row. At 100 TB this is the optimal
    * plan: you cannot compute 6 correlations cheaper than one pass of
    * partial moments. */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame =
    corrFinish(corrCensus(Tables.lineitem(spark, dir)))

  /** The 15-moment census behind [[corrMatrix]] and the at-ingest
    * q_stream_corr — every moment an exact decimal(38,0) sum, so the
    * census is ADDITIVE across micro-batches and exactly ONE keyed
    * row forever (the purest sketch-as-stream shape there is). */
  private[graft] def corrCensus(li: DataFrame): DataFrame = {
    val names = CorrVars.map(_._1)
    val momentCols =
      names.map(n => sum(col(n).cast(DecimalType(38, 0))).as(s"s_$n")) ++
      (for { i <- names.indices; j <- i until names.length } yield
        sum((col(names(i)) * col(names(j))).cast(DecimalType(38, 0)))
          .as(s"s_${names(i)}_${names(j)}"))
    li.select(CorrVars.map { case (n, sql) => expr(sql).as(n) }: _*)
      .groupBy(lit("all").as("k"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"), momentCols: _*)
  }

  /** The per-pair one-double-division finish over a converged moment
    * census — shared by batch and stream. */
  private[graft] def corrFinish(census: DataFrame): DataFrame = {
    val names = CorrVars.map(_._1)
    val m = census.drop("k")
    val pairs = for { i <- names.indices; j <- i + 1 until names.length }
      yield {
        val (a, b) = (names(i), names(j))
        struct(lit(a).as("var_a"), lit(b).as("var_b"),
          expr(
            s"""case when (n * s_${a}_$a - s_$a * s_$a) <= 0
               |       or (n * s_${b}_$b - s_$b * s_$b) <= 0 then 0L
               |else cast(floor(
               |  cast(n * s_${a}_$b - s_$a * s_$b as double)
               |  / sqrt(cast(n * s_${a}_$a - s_$a * s_$a as double)
               |       * cast(n * s_${b}_$b - s_$b * s_$b as double))
               |  * 1e6 + 0.5) as bigint) end"""
              .stripMargin.replace('\n', ' ')).as("corr_e6"))
      }
    m.select(col("n").cast("long").as("n"),
        explode(array(pairs: _*)).as("p"))
      .select(col("p.var_a").as("var_a"), col("p.var_b").as("var_b"),
        col("n"), col("p.corr_e6").as("corr_e6"))
      .orderBy("var_a", "var_b")
  }

  /** q_grouping_sets: ANSI GROUPING SETS — the revenue report at
    * three explicit granularities ((flag, status), (flag), ()) in one
    * pass, with the standard grouping_id disambiguating "NULL because
    * aggregated away" from a NULL group value. q_rollup and q_cube
    * cover the two canonical lattices; real reporting workloads ask
    * for ARBITRARY set lists, which is exactly what the reference's
    * per-dashboard aggregation jobs hand-rolled one query at a time.
    *
    * Scale shape: Spark plans grouping sets as ONE Expand (3 rows per
    * input row, map-side) + one two-phase aggregate on the compound
    * key — one shuffle of partial aggregates total, vs three separate
    * scans for the hand-rolled union. Money stays integer cents. */
  def groupingSetsQ(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_linestatus"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq.empty[Column]),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sum("cents").as("sum_cents"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** q_srm: SAMPLE-RATIO MISMATCH — the experiment-health check that
    * runs BEFORE any effect estimate is trusted (Fabijan et al.,
    * KDD'19 diagnostics; Kohavi's "trustworthy A/B" rule one): per
    * day, the distinct users landing in each arm of the
    * q_chi2_abtest assignment (user_id parity), the 1-df χ² against
    * the designed 50/50 split — (n0−n1)²/(n0+n1), the two-cell
    * goodness-of-fit collapse — and the α=0.05 flag. A flagged day
    * means the assignment or logging pipeline is dropping one arm's
    * traffic and every downstream metric that day is garbage;
    * q_chi2_abtest answers "did the arms differ", THIS answers "can
    * you even ask".
    *
    * Integer-exact: counts are integers, χ² is one e6-scaled
    * truncating division; the critical value is the shared
    * [[Chi2CritE6]].
    *
    * Scale shape: one distinct on (day, user, arm) — shuffle ∝
    * distinct active (day, user) pairs — then a per-day two-phase
    * aggregate; day cardinality is the calendar. */
  def srm(spark: SparkSession, dir: String): DataFrame =
    srmFinish(srmAssignments(Tables.events(spark, dir)).distinct())

  /** The per-event (day, user, arm) projection behind [[srm]] and the
    * at-ingest q_stream_srm — batch distincts it, the stream dedups
    * it through the state store. */
  private[graft] def srmAssignments(ev: DataFrame): DataFrame =
    ev.select(expr("unix_millis(ts) div 86400000").as("day"),
      col("user_id"), (col("user_id") % 2).as("variant"))

  /** Per-day arm counts + two-cell χ² over a DISTINCT (day, user,
    * arm) set — shared by batch and stream. */
  private[graft] def srmFinish(asg: DataFrame): DataFrame =
    asg.groupBy("day")
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"))
      .withColumn("srm_chi2_e6", expr(
        "((n0 - n1) * (n0 - n1) * 1000000) div (n0 + n1)"))
      .select(col("day"), col("n0"), col("n1"), col("srm_chi2_e6"),
        (col("srm_chi2_e6") > Chi2CritE6).as("srm_flag"))
      .orderBy("day")

  /** The fact-table join keys [[skewAdvisor]] profiles (relation.key
    * label → table, key column). */
  private val SkewKeys: Seq[(String, String, String)] = Seq(
    ("events.user_id", "events", "user_id"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("orders.o_custkey", "orders", "o_custkey"))

  /** q_skew_advisor: the JOIN-KEY SKEW profile the physical planner
    * reads before picking a strategy — per fact-table join key: row
    * count, distinct keys, the heaviest key and its count, the
    * max/avg frequency ratio (skew_e6 — AQE's skewedPartitionFactor
    * is exactly this dial), and the recommended salt fan-out
    * ⌈max/avg⌉ for a salted-join rewrite (the q_skew_join recipe).
    * This is ANALYZE TABLE's histogram distilled into the one
    * decision a 100 TB join actually needs: broadcast / plain
    * shuffle / salt, and with how many salts.
    *
    * Scale shape: per relation ONE map-side-combinable (key, count)
    * census — shuffle ∝ distinct keys — then per-relation constants;
    * the heaviest-key lookup filters the census against its 1-row max
    * (broadcast), never sorts it. decimal(38,0) guards the
    * max_c·n_keys·10⁶ product at any scale. */
  def skewAdvisor(spark: SparkSession, dir: String): DataFrame = {
    val cen = SkewKeys.map { case (label, table, key) =>
      Tables.table(spark, dir, table)
        .groupBy(col(key).cast("long").as("k"))
        .agg(count(lit(1)).as("c"))
        .select(lit(label).as("rel"), col("k"), col("c"))
    }.reduce(_ unionAll _).localCheckpoint() // stats + top-key readers
    val stats = cen.groupBy("rel").agg(
      sum("c").as("n_rows"), count(lit(1)).as("n_keys"),
      max("c").as("max_c"))
    val top = cen
      .join(broadcast(stats.select(col("rel"), col("max_c"))), Seq("rel"))
      .filter(col("c") === col("max_c"))
      .groupBy("rel").agg(min("k").as("top_key"))
    stats.join(top, Seq("rel"))
      .select(col("rel"), col("n_rows"), col("n_keys"), col("max_c"),
        col("top_key"),
        expr("cast((cast(n_rows as decimal(38,0)) * 1000000) div n_keys as bigint)")
          .as("avg_freq_e6"),
        expr("cast((cast(max_c as decimal(38,0)) * n_keys * 1000000) div n_rows as bigint)")
          .as("skew_e6"),
        expr("cast((cast(max_c as decimal(38,0)) * n_keys + n_rows - 1) div n_rows as bigint)")
          .as("salt_buckets"))
      .orderBy("rel")
  }

  /** Session inactivity gap for q_sessionize — the SAME 5 minutes as
    * q_stream_sessions' session_window, and the same break rule (an
    * event at exactly prev + gap starts a NEW session: session_window
    * extends over [start, last + gap)), so the batch and streaming
    * sessionizations are differentially testable against each other. */
  private[graft] val SessionGapMs = 300000L

  /** q_sessionize: BATCH sessionization — per-user sessions cut at
    * [[SessionGapMs]] inactivity, the lag → break-flag → running-sum
    * window idiom (the classic distributed sessionize; the streaming
    * analog is q_stream_sessions' session_window state). One shuffle by
    * user; the (t_ms, event_id) order key is total so session numbering
    * is engine-independent; value sums stay integer cents. end_ms =
    * last event + gap, exactly session_window's extent. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("user_id")
      .orderBy(col("t_ms").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("t_ms"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .withColumn("prev", lag("t_ms", 1).over(ord))
      .withColumn("brk",
        when(col("prev").isNull ||
          col("t_ms") - col("prev") >= SessionGapMs, 1L).otherwise(0L))
      .withColumn("session_seq", sum("brk").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        min("t_ms").as("start_ms"),
        (max("t_ms") + SessionGapMs).as("end_ms"),
        sum("cents").as("sum_cents"))
      .orderBy("user_id", "session_seq")
  }

  /** Pick the value at 1-based rank `t` (an integer-expression string
    * over columns of `df`) from per-`key` value-histogram cumsums —
    * the exact-order-statistic kernel shared by q_percentiles and
    * q_anomaly_mad. `df` must carry (key, v); emits (key, n, pick). */
  private[graft] def rankPick(df: DataFrame, key: String, t: String): DataFrame = {
    val counts = df.groupBy(col(key), col("v")).agg(count(lit(1)).as("c"))
    counts
      .withColumn("cum", sum("c").over(
        Window.partitionBy(key).orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(Window.partitionBy(key)))
      .groupBy(col(key))
      .agg(max("n").as("n"),
        min(when(col("cum") >= expr(t), col("v"))).as("pick"))
  }

  /** Outlier threshold: |x − med| > MadK · MAD. */
  private val MadK = 3

  /** q_anomaly_mad: robust per-series outlier detection — median and
    * MAD (median absolute deviation) of price cents per series, and
    * the count of points beyond [[MadK]]·MAD (the Hampel / robust
    * z-score rule; mean±σ rules break exactly when outliers are
    * present, which is the case a 100 TB anomaly sweep exists for).
    *
    * Two chained EXACT medians, each the same value-histogram cumsum
    * kernel as q_percentiles (shuffle ∝ distinct values; lower median
    * = rank (n+1) div 2 — pure integers). The deviation pass re-joins
    * the per-series median by key (broadcast-sized: one row per
    * series) and everything downstream stays in integer cents, so the
    * outlier flags compare bit-for-bit. */
  def anomalyMad(spark: SparkSession, dir: String): DataFrame = {
    // the three passes (median, deviations, flags) must not re-scan the
    // source — localCheckpoint materializes the 2-column projection
    // once and auto-releases it on GC (cache() would pin it in the
    // CacheManager for the session); at 100 TB swap for a persisted
    // projection table
    // NOT widened: the two-column projection is tiny and every
    // downstream pass re-shuffles by series anyway — measured slower
    // with the extra up-front repartition
    val vals = Tables.lineitem(spark, dir)
      .select((col("l_partkey") % 100).as("series"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("v"))
      .localCheckpoint()
    val med = rankPick(vals, "series", "(n + 1) div 2")
      .select(col("series"), col("n"), col("pick").as("med_cents"))
    val dev = vals.join(broadcast(med.select("series", "med_cents")), "series")
      .select(col("series"), col("v").as("x"),
        abs(col("v") - col("med_cents")).as("v"))
    val mad = rankPick(dev.select("series", "v"), "series", "(n + 1) div 2")
      .select(col("series"), col("pick").as("mad_cents"))
    val flagged = dev
      .join(broadcast(mad), "series")
      .groupBy("series")
      .agg(sum(when(col("v") > col("mad_cents") * MadK, 1L).otherwise(0L))
        .as("n_outliers"))
    med.join(mad, "series").join(flagged, "series")
      .select(col("series"), col("n"), col("med_cents"), col("mad_cents"),
        col("n_outliers"))
      .orderBy("series")
  }

  /** Conversion window for q_funnel (24 h, ms) — shared with the
    * streaming variant so batch and stream can never disagree. */
  private[graft] val FunnelWinMs = 86400000L

  /** q_funnel: the signup → purchase conversion funnel — for every
    * user who signed up, the FIRST purchase within [[FunnelWinMs]]
    * after their first signup, the conversion flag, and the lag. The
    * per-user event-sequence query behind every product-analytics
    * dashboard, composed as two tiny aggs + one equi-join on user —
    * no ordered-sequence state machine needed for a 2-stage funnel,
    * so it scales as plain two-phase aggregation. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("t_ms"))
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("t_ms").as("signup_ms"))
    val firstPurchase = ev.filter(col("event_type") === "purchase")
      .join(signups, "user_id")
      .filter(col("t_ms") > col("signup_ms") &&
        col("t_ms") - col("signup_ms") <= FunnelWinMs)
      .groupBy("user_id").agg(min("t_ms").as("purchase_ms"))
    signups.join(firstPurchase, Seq("user_id"), "left")
      .select(col("user_id"), col("signup_ms"), col("purchase_ms"),
        col("purchase_ms").isNotNull.as("converted"),
        (col("purchase_ms") - col("signup_ms")).as("lag_ms"))
      .orderBy("user_id")
  }

  /** Per-event_type robust thresholds (exact median + MAD of value
    * cents, the q_anomaly_mad kernel keyed by type) — the batch
    * "training" half of q_stream_outliers; catalog-sized output, so
    * the stream broadcasts it. */
  private[graft] def eventMadThresholds(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables.events(spark, dir)
      .select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("v"))
      .localCheckpoint() // median + deviation passes share one scan
    val med = rankPick(vals, "event_type", "(n + 1) div 2")
      .select(col("event_type"), col("pick").as("med_cents"))
    val dev = vals.join(broadcast(med), "event_type")
      .select(col("event_type"), abs(col("v") - col("med_cents")).as("v"))
    val mad = rankPick(dev, "event_type", "(n + 1) div 2")
      .select(col("event_type"), col("pick").as("mad_cents"))
    med.join(mad, "event_type")
  }

  /** KS drift alarm (e6 scale): D > 0.05 — for the testdata sample
    * sizes (≥ 10⁴ per side) this is far beyond the α=0.001 critical
    * value c·√((n_a+n_b)/(n_a·n_b)) ≈ 0.01, so a flag is a real shift,
    * not noise. Pinned — the oracle embeds it. */
  private[graft] val KsAlarmE6 = 50000L

  /** q_ks_drift: EXACT two-sample Kolmogorov-Smirnov drift test per
    * event_type — early half vs late half of the time range, D =
    * max_x |F_a(x) − F_b(x)|. The distribution-shift monitor that
    * catches what q_psi_drift's fixed buckets smooth over (KS sees
    * every step of the empirical CDFs).
    *
    * Exactness: the CDF difference is kept as the INTEGER numerator
    * |cum_a·n_b − cum_b·n_a| over the common denominator n_a·n_b —
    * no floating CDF at any point; the e6 statistic is one integer
    * division at the end. The cross-products run in decimal(38,0):
    * past ~10⁹ rows per side Long would overflow (and THROW under
    * ANSI) — same rule as q_zipf_spectrum's slope.
    *
    * Scale shape: the same value-histogram kernel as q_percentiles —
    * shuffle ∝ distinct (event_type, cents) values, NOT rows (the
    * groupBy collapses the corpus first; cumsums ride a per-type
    * window over the histogram). The time midpoint is one bounded
    * agg broadcast back. */
  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        unix_millis(col("ts")).as("t"),
        floor(col("value") * 100 + 0.5).cast("long").as("v"))
    val mid = ev.agg(expr("(min(t) + max(t)) div 2").as("mid"))
    val hist = ev.crossJoin(broadcast(mid))
      .withColumn("is_a", (col("t") < col("mid")).cast("long"))
      .groupBy("event_type", "v")
      .agg(sum("is_a").as("ca"), sum(lit(1L) - col("is_a")).as("cb"))
    val byType = Window.partitionBy("event_type")
    val cum = byType.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cuma", sum("ca").over(cum))
      .withColumn("cumb", sum("cb").over(cum))
      .withColumn("na", sum("ca").over(byType))
      .withColumn("nb", sum("cb").over(byType))
      .withColumn("dnum", abs(
        col("cuma").cast(DecimalType(38, 0)) * col("nb") -
          col("cumb").cast(DecimalType(38, 0)) * col("na")))
      .withColumn("dmax", max("dnum").over(byType))
      .filter(col("dnum") === col("dmax"))
      .groupBy("event_type", "na", "nb", "dmax")
      .agg(min("v").as("ks_at_cents"))
      .select(col("event_type"),
        col("na").as("n_a"), col("nb").as("n_b"),
        expr("(dmax * 1000000) div (cast(na as decimal(38,0)) * nb)")
          .as("d_e6"),
        col("ks_at_cents"))
      .withColumn("drift", col("d_e6") > KsAlarmE6)
      .orderBy("event_type")
  }

  /** q_itemsets: frequent-2-itemset mining over per-user event-type
    * baskets — support and lift for every co-occurring pair, the
    * association-rule kernel (Agrawal/Srikant Apriori's first and
    * dominant level) behind "users who X also Y" reports. Lift is
    * exact e6 integers: (support·N·10⁶) div (n_a·n_b), cross-products
    * in decimal(38,0) so a 10⁹-basket run can't overflow under ANSI.
    *
    * Scale shape: baskets dedupe via one (user, type) two-phase
    * distinct; the pair expansion is a user-keyed self-join whose
    * per-user fan-out is bounded by the type-alphabet choose 2 — work
    * ∝ baskets, never baskets² — and everything after is
    * catalog-sized (≤ |alphabet|² rows), so singles and totals ride
    * broadcasts. */
  def itemsets(spark: SparkSession, dir: String): DataFrame = {
    val baskets = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct()
      .localCheckpoint() // singles + pair self-join + totals share it
    val singles = baskets.groupBy("event_type")
      .agg(count(lit(1)).as("n_single"))
    val nUsers = baskets.agg(count_distinct(col("user_id")).as("n_users"))
    val pairs = baskets.as("a")
      .join(baskets.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("support"))
    pairs
      .join(broadcast(singles.select(col("event_type").as("type_a"),
        col("n_single").as("n_a"))), "type_a")
      .join(broadcast(singles.select(col("event_type").as("type_b"),
        col("n_single").as("n_b"))), "type_b")
      .crossJoin(broadcast(nUsers))
      .withColumn("lift_e6", expr(
        "(cast(support as decimal(38,0)) * n_users * 1000000) div (cast(n_a as decimal(38,0)) * n_b)"))
      .select(col("type_a"), col("type_b"), col("support"),
        col("n_a"), col("n_b"), col("lift_e6"))
      .orderBy("type_a", "type_b")
  }

  /** q_transitions: the event-type Markov transition matrix — for
    * each user's time-ordered event sequence, count src→dst steps and
    * the e6 transition probability (n div row-total). The
    * session-path / next-action report, and the input to any
    * sequence-model baseline. Ordering is pinned by (t_ms, event_id)
    * so concurrent-timestamp ties are deterministic in both engines.
    *
    * Scale shape: one shuffle by user for the lead() window (the
    * sequence is per-user state, exactly how it parallelizes on a
    * cluster), then a catalog-sized (src, dst) two-phase agg; row
    * totals ride a window over that catalog, not the corpus. */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val wSeq = Window.partitionBy("user_id")
      .orderBy(col("t_ms").asc, col("event_id").asc)
    val counts = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("t_ms"))
      .withColumn("dst", lead("event_type", 1).over(wSeq))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
    transFinish(counts)
  }

  /** Shared finish over catalog-sized (src, dst, n) counts — one
    * definition for batch [[transitions]] and the streaming variant
    * (whose sink owns the counts), the psiFinish pattern. */
  private[graft] def transFinish(counts: DataFrame): DataFrame =
    counts
      .withColumn("row_total",
        sum("n").over(Window.partitionBy("src")))
      .withColumn("p_e6", expr("(n * 1000000) div row_total"))
      .select(col("src"), col("dst"), col("n"), col("row_total"), col("p_e6"))
      .orderBy("src", "dst")

  /** Leaders kept per hour window by q_window_topk (pinned — the
    * oracle embeds it). */
  private[graft] val WindowTopK = 3

  /** q_window_topk: the per-hour top-[[WindowTopK]] domain leaderboard
    * — q_stream_topk's corpus-lifetime ranking sliced by time, the
    * "what was hot at 3pm" drill-down every traffic dashboard pairs
    * with the global view. Tumbling windows by integer epoch-ms
    * division (no session-tz dependence), same shop-shard domain
    * synthesis as q_heavy_hitters/q_stream_topk.
    *
    * Scale shape: one two-phase groupBy on (window, domain) — the
    * corpus collapses to the catalog × windows grid before any window
    * function; the per-window rank partitions on win_ms, so ranking
    * parallelism GROWS with history length instead of bottlenecking
    * on a global sort. */
  def windowTopK(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .select((expr("unix_millis(ts) div 3600000") * 3600000L).as("win_ms"),
        concat(lit("shop"), (col("user_id") % 37).cast("string"),
          lit(".example.com")).as("domain"))
      .groupBy("win_ms", "domain").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("win_ms")
      .orderBy(col("cnt").desc, col("domain").asc)
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= WindowTopK)
      .select(col("win_ms"), col("rank"), col("domain"), col("cnt"))
      .orderBy("win_ms", "rank")
  }

  /** q_retention: the cohort retention matrix — users grouped by
    * first-seen day, fraction still active N days later (the
    * triangle chart product analytics reads first). Day arithmetic is
    * integer epoch division; the rate is e6 integer division, so every
    * cell is bit-exact in DuckDB.
    *
    * Scale shape: per-user first day is one groupBy(user) agg; daily
    * activity dedupes via a (user, day) two-phase distinct; they meet
    * on a user-keyed equi-join (shuffle ∝ active user-days); the
    * matrix itself is cohort × offset — card-sized, so cohort totals
    * ride a broadcast back over it. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"))
    val firstDay = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    val active = ev.distinct()
    val cells = active.join(firstDay, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset_days"))
      .agg(count_distinct(col("user_id")).as("n_active"))
    val sizes = firstDay.groupBy("cohort_day")
      .agg(count(lit(1)).as("cohort_size"))
    cells.join(broadcast(sizes), "cohort_day")
      .withColumn("rate_e6", expr("(n_active * 1000000) div cohort_size"))
      .select(col("cohort_day"), col("offset_days"), col("n_active"),
        col("cohort_size"), col("rate_e6"))
      .orderBy("cohort_day", "offset_days")
  }

  /** χ²(df=1) critical value at α=0.05, e6-scaled (3.841459) — pinned,
    * the oracle embeds it. */
  private[graft] val Chi2CritE6 = 3841459L

  /** q_chi2_abtest: the two-proportion χ² test per outcome event_type
    * — users split into A/B by id parity, "does variant B reach
    * outcome t at a different rate" for every t, the experiment
    * readout behind any feature-flag dashboard. χ² for the 2×2 table
    * is the exact rational N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)), so
    * the whole statistic is INTEGER cross-products floored once by the
    * final e6 integer division — no float anywhere, every cell and
    * verdict bit-identical in DuckDB. Products run in decimal(38,0):
    * exact to ~10⁹ users per arm (beyond that the numerator crosses
    * 10³⁸ — swap the e6 scale for e3, or fold N into the denominator).
    *
    * Scale shape: one (user, type) two-phase distinct, then everything
    * is catalog-sized — per-type conversion counts and the two arm
    * totals (a broadcast) feed pure column arithmetic. */
  def chi2Abtest(spark: SparkSession, dir: String): DataFrame = {
    val flags = Tables.events(spark, dir)
      .select((col("user_id") % 2).as("variant"), col("user_id"),
        col("event_type")).distinct()
      .localCheckpoint() // conv counts + arm totals share it
    val arms = flags.select("variant", "user_id").distinct()
      .groupBy().pivot("variant", Seq(0, 1)).count()
      .select(col("0").as("n0"), col("1").as("n1"))
    val conv = flags.groupBy("event_type")
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("conv0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("conv1"))
    conv.crossJoin(broadcast(arms))
      .withColumn("a", col("conv0"))
      .withColumn("b", col("n0") - col("conv0"))
      .withColumn("c", col("conv1"))
      .withColumn("d", col("n1") - col("conv1"))
      // a degenerate margin (everyone or no one reaches the outcome)
      // leaves χ² undefined — report 0, "no evidence of difference"
      .withColumn("chi2_e6", expr(
        """case when a + c = 0 or b + d = 0 then 0L else
          |((cast(n0 as decimal(38,0)) + n1)
          |  * (cast(a as decimal(38,0)) * d - cast(b as decimal(38,0)) * c)
          |  * (cast(a as decimal(38,0)) * d - cast(b as decimal(38,0)) * c)
          |  * 1000000)
          | div (cast(n0 as decimal(38,0)) * n1
          |      * (cast(a as decimal(38,0)) + c) * (cast(b as decimal(38,0)) + d))
          |end""".stripMargin.replace('\n', ' ')))
      .select(col("event_type"), col("a"), col("b"), col("c"), col("d"),
        col("chi2_e6"), (col("chi2_e6") > Chi2CritE6).as("significant"))
      .orderBy("event_type")
  }

  /** q_hhi: per-brand supplier concentration — the Herfindahl–
    * Hirschman index over each supplier's revenue share of the brand,
    * plus the top supplier's share. The reference's ProdMetrics family
    * (reference analytics/ProdMetricsV7.scala) rolls prices up
    * per-product-per-store; the HHI is the canonical next rollup the
    * pricing team asks of exactly that table ("is this brand's supply
    * single-sourced?"). HHI = Σ shareᵢ², reported in e6 (10000 ≈ the
    * US DOJ "highly concentrated" 0.25 threshold ↦ 250000).
    *
    * Scale shape: broadcast the part dim onto the lineitem scan, then
    * two chained aggregates — (brand, supplier) partial sums shuffle
    * once on a well-distributed compound key, the brand-level finish
    * touches #suppliers rows. The share squares run in decimal(38,0)
    * (total² overflows bigint already at ~10⁵ line items per brand);
    * DuckDB mirrors with HUGEINT. All inputs are exact integer cents,
    * so both engines agree bit-for-bit. */
  def hhi(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(
      col("l_partkey"), col("l_suppkey"),
      floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
    val brands = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))
    li.join(broadcast(brands), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("l_suppkey"))
      .agg(sum("cents").as("supp_cents"))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_suppliers"),
        sum("supp_cents").as("total_cents"),
        sum(col("supp_cents").cast("decimal(38,0)") * col("supp_cents")).as("sumsq"),
        max("supp_cents").as("top_cents"))
      .withColumn("hhi_e6", expr(
        "cast((sumsq * 1000000) div (cast(total_cents as decimal(38,0)) * total_cents) as bigint)"))
      .withColumn("top_share_e6", expr(
        "cast((cast(top_cents as decimal(38,0)) * 1000000) div total_cents as bigint)"))
      .select("p_brand", "n_suppliers", "total_cents", "hhi_e6", "top_share_e6")
      .orderBy("p_brand")
  }

  /** q_elasticity: per-brand price elasticity of demand — the log-log
    * OLS slope over (unit price, units sold) points, one point per
    * part of the brand. The pricing follow-up to the ProdMetrics
    * rollup ("how demand-sensitive is this brand?"); slope ≈ −1 is
    * unit-elastic. Uses the q_zipf_spectrum integer least-squares
    * kernel: each point's logs floored to e3 integers, then exact
    * integer Σx/Σy/Σxy/Σx² per brand, slope arithmetic in
    * decimal(38,0) (n·Σxy crosses 2⁶³ near 10⁶ points — ANSI-throw
    * territory), only the bounded slope_e6 returns to Long.
    *
    * Scale shape: one broadcast dim join, a (brand, part) partial agg,
    * then a brand-sized finish — no window, no sort. unit_cents is an
    * integer div of exact integers, so the log inputs (and the fit)
    * agree across engines. Brands with a degenerate design matrix
    * (< 2 distinct prices: Σ²x = n·Σxx) report no slope and are
    * filtered — elasticity is undefined without price variation. */
  def elasticity(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(
      col("l_partkey"),
      floor(col("l_quantity") + 0.5).cast("long").as("units"),
      floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
    val brands = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))
    li.join(broadcast(brands), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("l_partkey"))
      .agg(sum("units").as("units"), sum("cents").as("cents"))
      .filter(col("units") > 0)
      .select(col("p_brand"),
        expr("cents div units").as("unit_cents"),
        col("units"))
      .filter(col("unit_cents") > 0)
      .select(col("p_brand"),
        floor(log(col("unit_cents").cast("double")) * 1e3 + 0.5).cast("long").as("x"),
        floor(log(col("units").cast("double")) * 1e3 + 0.5).cast("long").as("y"))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_parts"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(expr(
        "cast(n_parts as decimal(38,0)) * sxx <> cast(sx as decimal(38,0)) * sx"))
      .withColumn("elasticity_e6", expr(
        """((CAST(n_parts AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)
          |  * 1000000)
          | div (CAST(n_parts AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
          |""".stripMargin.replace('\n', ' ')))
      .select("p_brand", "n_parts", "elasticity_e6")
      .orderBy("p_brand")
  }

  /** q_winsorized_mean: robust per-type mean — values clamped to the
    * [p5, p95] band before averaging, the outlier-resistant KPI the
    * raw mean can't give (one fat-finger order shifts a daily mean;
    * the winsorized mean shrugs). Composes the [[percentiles]]
    * value-histogram kernel: ONE (type, cents) histogram aggregate,
    * cumsum picks the p5/p95 cut cents, and — because clamping is
    * constant within a histogram cell — the winsorized sum is computed
    * FROM THE HISTOGRAM (Σ clamp(cents)·count), never a second scan of
    * the raw data. Integer cents end-to-end, so both engines agree
    * exactly.
    *
    * Scale shape: shuffle ∝ distinct (type, value) pairs — the
    * histogram IS the state, the classic two-phase trick; the window
    * runs over histogram cells, not rows. Means are integer div. */
  def winsorizedMean(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.events(spark, dir)
      .select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .groupBy("event_type", "cents").agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum", sum("c").over(
        Window.partitionBy("event_type").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(Window.partitionBy("event_type")))
    val cuts = cum.groupBy("event_type")
      .agg(
        max("n").as("n"),
        min(when(col("cum") >= expr("(n * 5 + 99) div 100"), col("cents"))).as("p5_cents"),
        min(when(col("cum") >= expr("(n * 95 + 99) div 100"), col("cents"))).as("p95_cents"))
    hist.join(broadcast(cuts), "event_type")
      .groupBy("event_type")
      .agg(
        max("n").as("n"),
        max("p5_cents").as("p5_cents"),
        max("p95_cents").as("p95_cents"),
        expr("cast(sum(cast(cents as decimal(38,0)) * c) div max(n) as bigint)")
          .as("mean_cents"),
        expr("""cast(sum(cast(greatest(p5_cents, least(p95_cents, cents))
          | as decimal(38,0)) * c) div max(n) as bigint)"""
          .stripMargin.replace('\n', ' '))
          .as("win_mean_cents"))
      .orderBy("event_type")
  }

  /** q_burstiness: per-user inter-arrival burstiness — CV² of the
    * microsecond gaps between consecutive events (CV² ≈ 1 is Poisson,
    * ≫ 1 is bursty, ≪ 1 is machine-regular), the behavioral signature
    * that separates humans from cron jobs in an event feed. CV² =
    * n·Σg²/(Σg)² − 1 needs NO square root, so it stays exact integer
    * arithmetic: gaps are integer µs diffs over the pinned
    * (t_us, event_id) order, Σg² runs in decimal(38,0) (a day-long gap
    * squares to 10²² — past bigint), and cv2_e6 is one integral
    * division at the end. Users with < 2 gaps are filtered (variance
    * undefined).
    *
    * Scale shape: one lag window per user (the q_sessionize shuffle,
    * state O(1) per row), then a per-user aggregate — no global sort,
    * no second scan. */
  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("user_id")
      .orderBy(col("t_us").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t_us"))
      .withColumn("gap", col("t_us") - lag("t_us", 1).over(ord))
      .filter(col("gap").isNotNull)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_gaps"),
        sum("gap").as("gap_total_us"),
        sum(col("gap").cast("decimal(38,0)") * col("gap")).as("gsq"))
      .filter(col("n_gaps") >= 2 && col("gap_total_us") > 0)
      .withColumn("mean_gap_us", expr("gap_total_us div n_gaps"))
      .withColumn("cv2_e6", expr(
        """cast((cast(n_gaps as decimal(38,0)) * gsq * 1000000)
          | div (cast(gap_total_us as decimal(38,0)) * gap_total_us)
          | as bigint) - 1000000""".stripMargin.replace('\n', ' ')))
      .select("user_id", "n_gaps", "mean_gap_us", "cv2_e6")
      .orderBy("user_id")
  }

  /** q_props_parse: typed extraction from the semi-structured event
    * payload — the `props` JSON column parsed with a JSON-path
    * projection and profiled per event type (count/min/max/sum/
    * distinct of the extracted field, plus how many rows parsed). The
    * events-stream analog of the reference's JSON ingestion (its whois
    * documents, sources/WhoisJson here): every telemetry pipeline
    * carries exactly such a stringly-typed payload column, and the
    * first production query against it is always "parse the field,
    * profile it per type".
    *
    * Scale shape: `get_json_object` is a map-side codegen'd projection
    * fused into the scan — no UDF, no shuffle to parse; the profile is
    * one two-phase aggregate. count(DISTINCT k) expands per key — fine
    * while the payload domain is bounded (here: ~100 values); the
    * unbounded-domain path is the documented approx_count_distinct /
    * HLL swap (q_hll_distinct). Malformed or missing JSON parses to
    * NULL and is surfaced by n_events − n_parsed, never an error. */
  def propsParse(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        count(col("k")).as("n_parsed"),
        min("k").as("k_min"),
        max("k").as("k_max"),
        sum("k").as("k_sum"),
        countDistinct(col("k")).as("k_distinct"))
      .orderBy("event_type")

  /** q_copurchase: item-item co-purchase recommendations — "orders
    * containing X also contain Y", the classic implicit-feedback
    * similarity join. For every part, the top-3 co-ordered parts by
    * squared cosine over order-basket co-occurrence (cos² =
    * n_ab²/(n_a·n_b) — monotone with cosine, so the ranking is
    * identical while staying EXACT integer arithmetic, no sqrt).
    * Ranks are totally ordered by (cos², n_ab, part id), so top-3 is
    * engine-independent.
    *
    * Scale shape: the pair fan-out is Σ basket² — baskets are order
    * line counts (bounded by how many lines an order has, single
    * digits in any order system), so the self-join per order is a
    * bounded local expansion, never all-pairs over the catalog; pair
    * counts and part frequencies are two-phase aggregates; the part
    * frequency table is catalog-sized and broadcast; the top-3 window
    * partitions on part_a (catalog cardinality — parallelism grows
    * with the catalog). The shape ALS would replace only when
    * latent-factor generalization is needed. */
  def copurchase(spark: SparkSession, dir: String): DataFrame = {
    // per-order part sets collect ONCE (collect_set dedups map-side);
    // the ≤ basket² canonical pair fan-out expands inside a per-row
    // array expression — vs the previous distinct → self-join →
    // pair-agg chain this drops two exchanges and the join while
    // producing the identical (order, pair) occurrence multiset
    val sets = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy("l_orderkey")
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
      .localCheckpoint() // two readers: part frequencies + pair counts
    val freq = sets.select(explode(col("ps")).as("l_partkey"))
      .groupBy("l_partkey").agg(count(lit(1)).as("n_solo"))
    val pairs = sets.filter(size(col("ps")) > 1)
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps) - i - 1), y ->
          |    struct(x AS part_a, y AS part_b))))"""
          .stripMargin.replace('\n', ' '))).as("e"))
      .groupBy(col("e.part_a").as("part_a"), col("e.part_b").as("part_b"))
      .agg(count(lit(1)).as("n_ab"))
    // map-side mirror (2 rows per canonical pair) — a union of two
    // reads of the pair aggregate would run its final agg twice
    val sym = pairs.select(explode(array(
        struct(col("part_a"), col("part_b"), col("n_ab")),
        struct(col("part_b").as("part_a"), col("part_a").as("part_b"),
          col("n_ab")))).as("e"))
      .select(col("e.part_a").as("part_a"), col("e.part_b").as("part_b"),
        col("e.n_ab").as("n_ab"))
    val w = Window.partitionBy("part_a")
      .orderBy(col("cos2_e6").desc, col("n_ab").desc, col("part_b").asc)
    sym
      .join(broadcast(freq.select(col("l_partkey").as("part_a"),
        col("n_solo").as("n_a"))), "part_a")
      .join(broadcast(freq.select(col("l_partkey").as("part_b"),
        col("n_solo").as("n_b"))), "part_b")
      .withColumn("cos2_e6", expr(
        """cast((cast(n_ab as decimal(38,0)) * n_ab * 1000000)
          | div (cast(n_a as decimal(38,0)) * n_b) as bigint)"""
          .stripMargin.replace('\n', ' ')))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select("part_a", "rnk", "part_b", "n_ab", "n_a", "n_b", "cos2_e6")
      .orderBy("part_a", "rnk")
  }

  /** q_session_path: top user journeys — the first three event types
    * of every session (the [[sessionize]] 5-minute-gap sessions,
    * re-derived with the same [[SessionGapMs]] and the same pinned
    * (t_ms, event_id) order) concatenated into a path string, counted,
    * and given e6 shares. The "how do sessions start?" report every
    * product-analytics suite ships; path space is bounded by the
    * event-type alphabet cubed, so the final rollup is tiny however
    * large the corpus.
    *
    * Scale shape: the same one-shuffle-per-user window stack as
    * q_sessionize (lag → break → running sum), one more rank inside
    * the session, then a catalog-sized aggregate; the in-session
    * prefix is assembled by sorting the ≤ 3 collected (rank, type)
    * structs — never a collect_list order assumption. */
  def sessionPath(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("user_id")
      .orderBy(col("t_ms").asc, col("event_id").asc)
    val sessOrd = Window.partitionBy("user_id", "session_seq")
      .orderBy(col("t_ms").asc, col("event_id").asc)
    val paths = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("t_ms"))
      .withColumn("prev", lag("t_ms", 1).over(ord))
      .withColumn("brk",
        when(col("prev").isNull ||
          col("t_ms") - col("prev") >= SessionGapMs, 1L).otherwise(0L))
      .withColumn("session_seq", sum("brk").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rnk", row_number().over(sessOrd))
      .filter(col("rnk") <= 3)
      .groupBy("user_id", "session_seq")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rnk"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
    val total = paths.agg(count(lit(1)).as("n_total"))
    paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .crossJoin(broadcast(total))
      .withColumn("share_e6", expr("(n_sessions * 1000000) div n_total"))
      .select("path", "n_sessions", "share_e6")
      .orderBy(col("n_sessions").desc, col("path").asc)
  }

  /** Coverage interval width: each event opens a 5-minute activity
    * window (the q_sessionize gap constant, reused as a dwell). */
  private val CovWinUs = 300L * 1000000L

  /** q_interval_coverage: per-user ACTIVE TIME — the measure of the
    * union of per-event [t, t+5min) intervals, via the classic one-pass
    * sweep: sort a user's events, carry the running max interval end in
    * a window, and each event contributes max(0, end − max(start,
    * prev_max_end)) — overlap never double-counted, all exact integer
    * microseconds. The engagement metric session counting under-reports
    * (two overlapping half-sessions are 7 minutes of activity, not 10).
    *
    * Scale shape: ONE shuffle by user_id (the window partition), a
    * running-max window (no self-join interval union), then the
    * per-user agg rides the same partitioning. The e6 share arithmetic
    * runs in decimal(38,0) — covered_us · 10⁶ crosses 2⁶³ after ~3
    * user-days of coverage, ANSI-throw territory at corpus scale. */
  def intervalCoverage(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("t_us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t_us"))
      .withColumn("e", col("t_us") + lit(CovWinUs))
      .withColumn("prev_end", max("e").over(w))
      .withColumn("contrib", greatest(lit(0L),
        col("e") - greatest(col("t_us"), coalesce(col("prev_end"), col("t_us")))))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("prev_end").isNull || col("prev_end") < col("t_us"), 1L)
          .otherwise(0L)).as("n_blocks"),
        sum("contrib").as("covered_us"),
        min("t_us").as("t0"), max("e").as("t1"))
      .withColumn("active_pct_e6", expr(
        "cast((cast(covered_us as decimal(38,0)) * 1000000) div (t1 - t0) as bigint)"))
      .select("user_id", "n_events", "n_blocks", "covered_us", "active_pct_e6")
      .orderBy("user_id")
  }

  /** ACF lag range (days 1..7 — the weekly structure probe). */
  private val AcfMaxLag = 7

  /** q_acf: autocorrelation of the DAILY event-count series at lags
    * 1..[[AcfMaxLag]] — the seasonality detector that tells a capacity
    * planner whether traffic has weekly structure (acf spikes at lag
    * 7) before any forecasting model is fit. Gap days count as zero
    * (the series is the true calendar axis, not just observed days).
    * Exact integers end-to-end: with n days and S = Σx, each centered
    * term is c_t = n·x_t − S (scaling by n instead of dividing by it),
    * acf_e6 = (Σ c_t·c_{t+k}) · 10⁶ div Σ c_t² — numerator and
    * denominator share the n² scale, so it cancels without ever
    * leaving integer space; products run in decimal(38,0)/HUGEINT.
    *
    * Scale shape: the corpus-sized work is ONE two-phase groupBy(day);
    * everything after runs on the day axis (time-bounded — thousands
    * of rows at ANY data scale): a sequence/explode densification, a
    * broadcast of the 1-row stats, a 7-way explode + equi-join on
    * day+k (shuffle ∝ 7·days), and a 7-row finish. */
  def acf(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("x"))
    val axis = counts.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val daily = axis.join(counts, Seq("day"), "left")
      .select(col("day"), coalesce(col("x"), lit(0L)).as("x"))
    val stats = daily.agg(count(lit(1)).as("n"), sum("x").as("s"))
    val cent = daily.crossJoin(broadcast(stats))
      .select(col("day"), (col("x") * col("n") - col("s")).as("c"))
      .localCheckpoint() // reused: Q, plus both sides of the lag join
    val q = cent.agg(sum(expr("cast(c as decimal(38,0)) * c")).as("q"))
    cent
      .withColumn("k", explode(array((1 to AcfMaxLag).map(i => lit(i.toLong)): _*)))
      .withColumn("day2", col("day") + col("k")).as("a")
      .join(cent.as("b"), col("day2") === col("b.day"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("cast(a.c as decimal(38,0)) * b.c")).as("num"))
      .crossJoin(broadcast(q))
      .filter(col("q") =!= lit(0))
      .select(col("k").as("lag"), col("n_pairs"),
        expr("cast((num * 1000000) div q as bigint)").as("acf_e6"))
      .orderBy("lag")
  }

  /** The Durbin–Levinson recursion unrolled to [[AcfMaxLag]] as
    * dialect-parameterized expression strings — ONE tree shape emitted
    * for both engines (`duck` toggles only the double-literal
    * spelling), so the IEEE arithmetic is bit-identical by
    * construction. Returns (column name, expression) pairs in
    * definition order: each expression references only r1..rK and
    * previously defined φ columns, so both sides evaluate it as a
    * linear chain of projections (withColumn / chained CTE stages) —
    * never an exponential textual expansion. */
  private def pacfPhiExprs(duck: Boolean): Seq[(String, String)] = {
    def dbl(x: String) = if (duck) s"CAST($x AS DOUBLE)" else s"${x}d"
    val one = dbl("1.0")
    val zero = dbl("0.0")
    val nullD = if (duck) "CAST(NULL AS DOUBLE)" else "cast(null as double)"
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    out += (("p_1_1", "r1"))
    for (k <- 2 to AcfMaxLag) {
      // reflection fold order pinned: j = 1..k−1, left-associated
      val num = (1 until k).map(j => s"p_${k - 1}_$j * r${k - j}").mkString(" + ")
      val den = (1 until k).map(j => s"p_${k - 1}_$j * r$j").mkString(" + ")
      out += ((s"p_${k}_$k",
        s"case when $one - ($den) = $zero then $nullD " +
          s"else (r$k - ($num)) / ($one - ($den)) end"))
      for (j <- 1 until k)
        out += ((s"p_${k}_$j", s"p_${k - 1}_$j - p_${k}_$k * p_${k - 1}_${k - j}"))
    }
    out.toSeq
  }

  /** Degenerate-denominator sentinel for [[pacf]]: |pacf| ≤ 1 so a
    * real value is within ±10⁶ after e6 quantization — the sentinel
    * is unreachable. (A NULL would split the parquet/pandas dtype to
    * float and break the driver's hash compare.) */
  private val PacfSentinel = -10000000L

  /** q_pacf: PARTIAL autocorrelation of the daily event-count series
    * at lags 1..[[AcfMaxLag]] via the Durbin–Levinson recursion
    * (Box-Jenkins' AR-order selector): φ_kk is lag-k correlation with
    * lags 1..k−1 regressed out, so an AR(p) series cuts off after lag
    * p where the raw ACF only decays — THE diagnostic that picks p
    * before any AR fit, the natural next step after [[acf]] flags
    * structure.
    *
    * Exactness: the recursion's INPUT is the e6-quantized exact-integer
    * ACF (identical on both engines by [[acf]]'s integer argument), and
    * the recursion itself is a FIXED unrolled expression chain emitted
    * once for both engines by [[pacfPhiExprs]] — same tree, same IEEE
    * doubles, one floor per lag at the end. A degenerate denominator
    * (|φ| hit 1, the series is perfectly predictable) pins
    * [[PacfSentinel]] from that lag on.
    *
    * Scale shape: everything downstream of [[acf]]'s one corpus scan
    * is constant work — a 7-row pivot to one row, ~30 scalar
    * projections Catalyst collapses into one, and a 7-row unpivot.
    * The recursion is sequential by nature but over 7 numbers; at
    * 10¹² events it is STILL 7 numbers. */
  def pacf(spark: SparkSession, dir: String): DataFrame = {
    var row = acf(spark, dir).agg(
      max(when(col("lag") === 1, col("acf_e6"))).as("a1"),
      (2 to AcfMaxLag).map(k =>
        max(when(col("lag") === k, col("acf_e6"))).as(s"a$k")): _*)
    for (k <- 1 to AcfMaxLag)
      row = row.withColumn(s"r$k", expr(s"cast(a$k as double) / 1000000.0d"))
    for ((name, e) <- pacfPhiExprs(duck = false))
      row = row.withColumn(name, expr(e))
    val stackArgs = (1 to AcfMaxLag).map(k =>
      s"cast($k as bigint), case when p_${k}_$k is null then cast($PacfSentinel as bigint) " +
        s"else cast(floor(1000000.0d * p_${k}_$k + 0.5d) as bigint) end").mkString(", ")
    row.select(expr(s"stack($AcfMaxLag, $stackArgs) as (lag, pacf_e6)"))
      .orderBy("lag")
  }

  /** Association-rule minimum pair support (same constant in the
    * oracle; rules below it are noise at every SF). */
  private val ArMinSup = 3L

  /** q_assoc_rules: brand-level association rules from order baskets —
    * for each directed brand pair (ante → cons) co-occurring in ≥
    * [[ArMinSup]] orders, exact-e6 confidence n_ab/n_a and lift
    * n_ab·N/(n_a·n_b). The market-basket classic, one level up from
    * q_copurchase's part-level cosine (brands are catalog-sized, so
    * the rule table is bounded at any data scale) and distinct from
    * q_itemsets' user×event-type substrate.
    *
    * Scale shape: one broadcast dim join + a distinct (order, brand)
    * projection (shuffle ∝ order-lines), a per-order self-join whose
    * fan-out is bounded by brands-per-order² (≤ lines-per-order², a
    * TPC-H constant), then a brand²-sized agg; singles/total join back
    * as broadcasts. Ratio arithmetic in decimal(38,0) — n_ab·N·10⁶
    * overflows Long at corpus scale. */
  def assocRules(spark: SparkSession, dir: String): DataFrame = {
    val baskets = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey")
      .join(broadcast(Tables.part(spark, dir).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand"))
      .distinct()
      .localCheckpoint() // reused: singles, pairs, and the order count
    val singles = baskets.groupBy("p_brand").agg(count(lit(1)).as("n"))
    val total = baskets.agg(countDistinct("l_orderkey").as("n_orders"))
    baskets.as("a").join(baskets.as("b"), "l_orderkey")
      .filter(col("a.p_brand") =!= col("b.p_brand"))
      .groupBy(col("a.p_brand").as("ante"), col("b.p_brand").as("cons"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= ArMinSup)
      .join(broadcast(singles.select(col("p_brand").as("ante"), col("n").as("n_a"))), "ante")
      .join(broadcast(singles.select(col("p_brand").as("cons"), col("n").as("n_b"))), "cons")
      .crossJoin(broadcast(total))
      .select(col("ante"), col("cons"), col("n_ab"), col("n_a"), col("n_b"),
        expr("cast((cast(n_ab as decimal(38,0)) * 1000000) div n_a as bigint)")
          .as("conf_e6"),
        expr("""cast((cast(n_ab as decimal(38,0)) * n_orders * 1000000)
          | div (cast(n_a as decimal(38,0)) * n_b) as bigint)"""
          .stripMargin.replace('\n', ' ')).as("lift_e6"))
      .orderBy("ante", "cons")
  }

  /** MAU window: a user counts toward "monthly active" for 30 days
    * after each active day (exclusive interval end = day + 30). */
  private val MauDays = 30L

  /** q_stickiness: the DAU/MAU product-engagement ratio per calendar
    * day, EXACT at any scale — the naive "distinct users in a 30-day
    * sliding window per day" is a 30× self-join or a giant sliding
    * distinct; instead each user's active days merge into activity
    * BLOCKS ([day, day+30) interval union — the q_interval_coverage
    * sweep at day granularity), every block emits +1 at its start and
    * −1 at its end, and MAU(d) is the running sum of deltas over the
    * day axis. Exactly the sweep-line census, distributed.
    *
    * Scale shape: distinct (user, day) is one two-phase agg (the only
    * corpus-sized shuffle); the block merge is one window keyed by
    * user over user-day rows; deltas collapse to the day axis
    * (time-bounded — thousands of rows at ANY data scale), where the
    * single-partition cumsum window is legal by construction. DAU·10⁶
    * stays in Long until ~9·10¹² daily actives. */
  def stickiness(spark: SparkSession, dir: String): DataFrame = {
    val userDay = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
      .localCheckpoint() // reused: DAU, block merge, and the axis span
    val dau = userDay.groupBy("day").agg(count(lit(1)).as("dau"))
    val prevW = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cumW = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    val blocks = userDay
      .withColumn("e", col("day") + lit(MauDays))
      .withColumn("prev_end", max("e").over(prevW))
      .withColumn("nb", when(col("prev_end").isNull || col("prev_end") < col("day"), 1L)
        .otherwise(0L))
      .withColumn("block_id", sum("nb").over(cumW))
      .groupBy("user_id", "block_id")
      .agg(min("day").as("s"), max("e").as("e"))
    val deltas = blocks.select(col("s").as("day"), lit(1L).as("d"))
      .union(blocks.select(col("e").as("day"), lit(-1L).as("d")))
      .groupBy("day").agg(sum("d").as("delta"))
    val axis = userDay.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val mauW = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    axis.join(deltas, Seq("day"), "left")
      .withColumn("mau", sum(coalesce(col("delta"), lit(0L))).over(mauW))
      .join(dau, Seq("day"), "left")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"), col("mau"))
      // a global inactivity gap longer than MauDays closes every block
      // before the axis day, so MAU can legitimately hit 0; Spark's
      // non-ANSI div would yield NULL while DuckDB's // need not agree —
      // pin the undefined ratio to the -1 sentinel (the q_growth_accounting
      // quick_e6 convention) on both engines instead
      .withColumn("stickiness_e6",
        expr("if(mau = 0, cast(-1 as bigint), (dau * 1000000) div mau)"))
      .orderBy("day")
  }

  /** q_price_volatility: per-part price risk over the shipment-ordered
    * unit-price series — dispersion as the sqrt-free CV² (the
    * q_burstiness kernel on cents) plus MAX DRAWDOWN, the largest
    * peak-to-trough drop (absolute cents and e6 relative to the
    * running peak) — the pricing-stability screen a repricer runs
    * before trusting a part's history. Order pinned by (ship time,
    * orderkey, linenumber) so ties can't flap the running peak.
    *
    * Scale shape: ONE shuffle by part key (the window partition); the
    * running max is a total-order frame; everything else is the
    * two-phase per-part agg riding the same partitioning. Σx² and the
    * relative-drawdown scale-up run in decimal(38,0)/HUGEINT. */
  def priceVolatility(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("l_partkey")
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc,
        col("l_linenumber").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      .withColumn("peak", max("cents").over(ord))
      .withColumn("dd", col("peak") - col("cents"))
      .withColumn("dd_e6", expr(
        "cast((cast(dd as decimal(38,0)) * 1000000) div peak as bigint)"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_points"),
        sum("cents").as("sum_cents"),
        sum(expr("cast(cents as decimal(38,0)) * cents")).as("sq"),
        max("dd").as("mdd_cents"), max("dd_e6").as("mdd_e6"))
      .filter(col("n_points") >= 5)
      .withColumn("mean_cents", expr("sum_cents div n_points"))
      .withColumn("cv2_e6", expr(
        """cast((cast(n_points as decimal(38,0)) * sq * 1000000)
          | div (cast(sum_cents as decimal(38,0)) * sum_cents)
          | as bigint) - 1000000""".stripMargin.replace('\n', ' ')))
      .select("l_partkey", "n_points", "mean_cents", "cv2_e6",
        "mdd_cents", "mdd_e6")
      .orderBy("l_partkey")
  }

  /** q_mann_whitney: the NONPARAMETRIC A/B test on purchase value —
    * Mann–Whitney U between the two user-parity arms (the
    * q_chi2_abtest split), the test to run when revenue-per-purchase
    * is skewed and a t-test's mean is a lie. Computed RANK-FREE: the
    * textbook method sorts the combined sample (a corpus-wide global
    * rank — the anti-pattern), but U counts cross-arm win/tie pairs,
    * so it reduces to the VALUE histogram: U_A = Σ_v nA(v)·cumB(<v) +
    * nA(v)·nB(v)/2, carried as 2U to stay integer. Also reports the
    * effect size everyone actually wants: AUC = U/(nA·nB) ∈ [0,1]
    * (the probability a random A purchase beats a random B one), e6.
    *
    * Scale shape: ONE two-phase agg onto the cents histogram — the
    * value axis is RANGE-bounded (prices live in a fixed band), so
    * the cumulative window runs over a bounded axis, the blessed
    * value-histogram pattern; the final reduce is a 1-row aggregate.
    * Exact integers end-to-end (decimal(38,0) pair counts). */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select((col("user_id") % 2).as("variant"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .groupBy("cents")
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("nb"))
    val before = Window.orderBy("cents") // range-bounded cents axis
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("cum_b", coalesce(sum("nb").over(before), lit(0L)))
      .agg(sum("na").as("n_a"), sum("nb").as("n_b"),
        sum(expr(
          "cast(2 * na as decimal(38,0)) * cum_b + cast(na as decimal(38,0)) * nb"))
          .as("u2d"))
      .select(col("n_a"), col("n_b"),
        col("u2d").cast("long").as("u2_a"),
        expr("""cast(if(n_a * n_b = 0, -1,
          (u2d * 1000000) div (2 * cast(n_a as decimal(38,0)) * n_b))
          as bigint)""").as("auc_e6"))
  }

  /** q_lateness: the WATERMARK-SLACK audit — before any streaming
    * pipeline picks `withWatermark(...)`, someone must measure how
    * late events actually arrive: per user (the stream's key), each
    * event's event-time is compared with the running high-water mark
    * of everything that ARRIVED before it (event_id = ingest
    * sequence), and the out-of-order mass is reported as a log₂
    * lateness histogram (bin −1 = in-order) with per-bin extremes.
    * Read the top occupied bin ≈ the watermark you need; the in-order
    * row ≈ how much state a tighter watermark would sacrifice. The
    * exact audit behind q_stream_* watermark choices.
    *
    * Scale shape: ONE window partitioned by user_id (high-cardinality
    * key, bounded rows per user) ordered by the ingest sequence —
    * never a global sort; then a two-phase agg onto the ≤ ~40-bin
    * histogram. Integer end-to-end (millis, exact log₂ via binary
    * string length — the q_degree_dist rule). */
  def lateness(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("t"))
      .withColumn("hwm", max("t").over(w))
      .withColumn("late_ms",
        when(col("hwm") > col("t"), col("hwm") - col("t")).otherwise(0L))
      .withColumn("bin",
        when(col("late_ms") === 0, lit(-1L))
          .otherwise((length(bin(col("late_ms"))) - 1).cast("long")))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_events"),
        min("late_ms").as("min_late_ms"),
        max("late_ms").as("max_late_ms"))
      .orderBy("bin")
  }

  /** q_cuped: variance-reduced A/B effect — CUPED (Deng, Xu, Kohavi
    * & Walker, WSDM'13), the technique every mature experimentation
    * platform runs: adjust each user's outcome by their PRE-period
    * behavior (Y′ = Y − θ(X − X̄), θ = cov(X,Y)/var(X)) so
    * between-user spend variance stops drowning the treatment signal.
    * Pre/post split at the corpus midpoint day; X = pre-period
    * purchase cents, Y = post-period; arms = user parity (the
    * q_chi2_abtest split). The report: raw arm difference, θ, the
    * CUPED-adjusted difference, and the variance-reduction factor
    * corr²(X,Y) — how much narrower the CI got for free.
    *
    * Exactness: every moment is an exact integer sum (decimal(38,0)
    * products); θ, the arm means, and corr² are div-staged e6 ratios
    * (θ_e6 FIRST, then everything consumes θ_e6 — squaring raw
    * covariance numerators would breach 10³⁸ at corpus scale).
    *
    * Scale shape: ONE per-user two-phase agg (conditional pre/post
    * sums) over the purchase scan, then a 1-row moment reduce —
    * nothing else. */
  def cuped(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val ev = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr(s"unix_micros(ts) div $dayUs").as("day"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val mid = ev.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    val per = ev.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(sum(when(col("day") < col("mid"), col("cents"))
        .otherwise(0L)).as("x"),
        sum(when(col("day") >= col("mid"), col("cents"))
          .otherwise(0L)).as("y"))
      .select((col("user_id") % 2).as("arm"), col("x"), col("y"))
    def d(c: String) = expr(s"cast($c as decimal(38,0))")
    per
      .agg(count(lit(1)).as("n"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(when(col("arm") === 0, col("x")).otherwise(0L)).as("sx0"),
        sum(when(col("arm") === 1, col("x")).otherwise(0L)).as("sx1"),
        sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("sy0"),
        sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("sy1"),
        sum(d("x") * col("x")).as("sxx"),
        sum(d("y") * col("y")).as("syy"),
        sum(d("x") * col("y")).as("sxy"))
      .withColumn("theta_e6", expr(
        """cast(if(n * sxx - cast(sx as decimal(38,0)) * sx = 0, 0,
          | ((n * sxy - cast(sx as decimal(38,0)) * sy) * 1000000)
          | div (n * sxx - cast(sx as decimal(38,0)) * sx)) as bigint)"""
          .stripMargin.replace('\n', ' ')))
      .withColumn("raw_diff_e6", expr(
        """(cast(sy1 as decimal(38,0)) * 1000000) div n1
          | - (cast(sy0 as decimal(38,0)) * 1000000) div n0"""
          .stripMargin.replace('\n', ' ')))
      .withColumn("x_diff_e6", expr(
        """(cast(sx1 as decimal(38,0)) * 1000000) div n1
          | - (cast(sx0 as decimal(38,0)) * 1000000) div n0"""
          .stripMargin.replace('\n', ' ')))
      .withColumn("adj_diff_e6", expr(
        "raw_diff_e6 - (cast(theta_e6 as decimal(38,0)) * x_diff_e6) div 1000000"))
      .withColumn("var_reduction_e6", expr(
        """cast(if(n * syy - cast(sy as decimal(38,0)) * sy = 0, 0,
          | (cast(theta_e6 as decimal(38,0))
          |  * (((n * sxy - cast(sx as decimal(38,0)) * sy) * 1000000)
          |     div (n * syy - cast(sy as decimal(38,0)) * sy)))
          | div 1000000) as bigint)""".stripMargin.replace('\n', ' ')))
      .select(col("n"), col("n0"), col("n1"), col("theta_e6"),
        col("raw_diff_e6").cast("long").as("raw_diff_e6"),
        col("adj_diff_e6").cast("long").as("adj_diff_e6"),
        col("var_reduction_e6"))
  }

  /** Bootstrap replicate count (pinned; the 2.5%/97.5% percentile
    * ranks 2 and 63 below assume exactly 64). */
  private[graft] val BootB = 64

  /** Poisson(1) CDF breakpoints ×10⁶ for k = 0..4 — precomputed HERE
    * and inlined as the SAME literals into both engines (exp is not
    * correctly rounded, so neither engine may compute them). */
  private[graft] val PoissonCdfE6: Seq[Long] = {
    val e1 = math.exp(-1.0)
    Seq(1.0, 2.0, 2.5, 2.6666666666666665, 2.708333333333333)
      .map(s => math.floor(e1 * s * 1e6 + 0.5).toLong)
  }

  /** q_bootstrap_ci: a DISTRIBUTED bootstrap confidence interval for
    * mean purchase value — the Poisson bootstrap (Chamandy et al.,
    * Google 2012: resampling-with-replacement is impossible without
    * global coordination, but per-(row, replicate) Poisson(1) weights
    * are iid-correct and embarrassingly parallel). Weights are
    * DETERMINISTIC: a salted md5 uniform per (event, replicate)
    * inverted through the inlined Poisson CDF breakpoints, so the
    * "randomness" is a pure function both engines reproduce
    * bit-for-bit and the CI is hash-oracled — uncertainty
    * quantification without sacrificing the exactness contract.
    * CI = percentile method over the [[BootB]] replicate means
    * (ranks 2 and 63 = 2.5%/97.5% at B=64).
    *
    * Scale shape: one map-side ×[[BootB]] replicate explode fused
    * into the scan (no shuffle grows — the weight is computed
    * in-task), ONE two-phase agg on the 64-key replicate axis, and a
    * 64-row rank window. */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame =
    // widened on the two projected columns: the ×65 replicate explode
    // computes one md5 per (event, replicate) in the scan stage, which
    // the single-row-group sandbox layout serializes to one task (the
    // winnowFp note); the stream sibling keeps its raw source
    bootFinish(bootCensus(Tables.widened(Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents")))))

  /** The replicate census over any (event_id, cents) frame — one row
    * per replicate with (Σw, Σw·cents), ADDITIVE across micro-batches
    * (the weights are a pure function of (event, replicate)), so the
    * streaming twin (q_stream_boot) upserts exactly this. Replicate
    * −1 is the unweighted sentinel carrying the point estimate. */
  private[graft] def bootCensus(p: DataFrame): DataFrame = {
    val cdf = PoissonCdfE6
    p.select(col("event_id"), col("cents"),
        explode(expr(s"sequence(-1, ${BootB - 1})")).as("r"))
      .withColumn("u", expr(
        "cast(conv(substr(md5(concat('boot', cast(event_id as string), ':', cast(r as string))), 1, 15), 16, 10) as bigint) % 1000000"))
      .withColumn("w",
        when(col("r") === -1, 1L)
          .when(col("u") < cdf(0), 0L).when(col("u") < cdf(1), 1L)
          .when(col("u") < cdf(2), 2L).when(col("u") < cdf(3), 3L)
          .when(col("u") < cdf(4), 4L).otherwise(5L))
      .groupBy("r")
      .agg(sum("w").as("sw"),
        sum(expr("cast(w as decimal(38,0)) * cents")).as("swc"))
  }

  /** The percentile finish over a converged replicate census — SHARED
    * by batch and stream so they cannot disagree and share one
    * oracle. */
  private[graft] def bootFinish(census: DataFrame): DataFrame = {
    val ranked = census.filter(col("r") >= 0)
      .withColumn("mean_r",
        expr("cast(if(sw = 0, -1, swc div sw) as bigint)"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("mean_r").asc, col("r").asc))) // 64 rows
    census.filter(col("r") === -1)
      .select(col("sw").as("n_rows"),
        expr("cast(swc div sw as bigint)").as("point_cents"))
      .crossJoin(broadcast(ranked.filter(col("rk") === 2)
        .select(col("mean_r").as("ci_lo_cents"))))
      .crossJoin(broadcast(ranked.filter(col("rk") === BootB - 1)
        .select(col("mean_r").as("ci_hi_cents"))))
      .select(col("n_rows"), lit(BootB.toLong).as("b"),
        col("point_cents"), col("ci_lo_cents"), col("ci_hi_cents"))
  }

  /** q_logrank: the TWO-ARM survival comparison completing
    * [[kaplanMeier]] — the log-rank test (Mantel 1966) between the
    * user-parity arms: does variant 1 convert FASTER, accounting for
    * censoring, not just more often (q_chi2_abtest) or at higher
    * value (q_mann_whitney)? At each conversion day the observed arm-0
    * conversions are compared with the hypergeometric expectation
    * E₀ = d·n₀/n given the arms' risk sets, and χ² = (Σ(O−E))²/ΣV.
    * Everything is div-staged integers: per-day E and V floor to e6
    * (the products run in decimal(38,0)), the final χ² is one
    * truncating div — deterministic cross-engine, no float sums.
    *
    * Scale shape: the same ONE per-user agg as [[kaplanMeier]], a
    * life table keyed by the BOUNDED duration-day axis with per-arm
    * depletion cumsums (the blessed day-axis windows), and a 1-row
    * reduce. */
  def logrank(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val per = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr(s"unix_micros(ts) div $dayUs").as("day"))
      .groupBy("user_id")
      .agg(min("day").as("d0"),
        min(when(col("event_type") === "purchase", col("day"))).as("dp"),
        max("day").as("dl"))
      .select((col("user_id") % 2).as("arm"),
        when(col("dp").isNotNull, col("dp") - col("d0"))
          .otherwise(col("dl") - col("d0")).as("t"),
        col("dp").isNotNull.as("event"))
    val byT = per.groupBy("t").agg(
      sum(when(col("event") && col("arm") === 0, 1L).otherwise(0L)).as("e0"),
      sum(when(!col("event") && col("arm") === 0, 1L).otherwise(0L)).as("c0"),
      sum(when(col("event") && col("arm") === 1, 1L).otherwise(0L)).as("e1"),
      sum(when(!col("event") && col("arm") === 1, 1L).otherwise(0L)).as("c1"))
    val totals = per.groupBy().agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("t0"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("t1"))
    val before = Window.orderBy("t") // bounded duration-day axis
      .rowsBetween(Window.unboundedPreceding, -1)
    byT
      .crossJoin(broadcast(totals))
      .withColumn("n0",
        col("t0") - coalesce(sum(col("e0") + col("c0")).over(before), lit(0L)))
      .withColumn("n1",
        col("t1") - coalesce(sum(col("e1") + col("c1")).over(before), lit(0L)))
      .withColumn("d", col("e0") + col("e1"))
      .withColumn("n", col("n0") + col("n1"))
      // per-day hypergeometric moments, e6-floored via truncating div
      .withColumn("exp0_e6", expr(
        "cast((cast(d as decimal(38,0)) * n0 * 1000000) div n as bigint)"))
      .withColumn("v_e6", expr(
        """cast(if(n <= 1, 0, (cast(d as decimal(38,0)) * n0 * n1 * (n - d)
          | * 1000000) div (cast(n as decimal(38,0)) * n * (n - 1)))
          | as bigint)""".stripMargin.replace('\n', ' ')))
      .filter(col("d") > 0)
      .agg(max("t0").as("n_arm0"), max("t1").as("n_arm1"),
        sum("e0").as("events0"), sum("e1").as("events1"),
        sum(expr("e0 * 1000000 - exp0_e6")).as("sum_ome_e6"),
        sum("v_e6").as("sum_v_e6"))
      // (Σ(O−E)·10⁶)² / (ΣV·10⁶) = χ²·10⁶ — the e6 scales compose to
      // exactly the e6-scaled statistic, no intermediate rescale
      .withColumn("chi2_e6", expr(
        """cast(if(sum_v_e6 = 0, -1,
          | (cast(sum_ome_e6 as decimal(38,0)) * sum_ome_e6)
          | div sum_v_e6) as bigint)""".stripMargin.replace('\n', ' ')))
      .select("n_arm0", "n_arm1", "events0", "events1",
        "sum_ome_e6", "sum_v_e6", "chi2_e6")
  }

  /** ln-survival sentinel for a day where the whole risk set
    * converts: S(t) = 0, and e^(−99) ≈ 0 keeps the column integer
    * instead of −∞ (pinned — the oracle inlines it). */
  private[graft] val KmZeroE6 = -99000000L

  /** q_kaplan_meier: the signup→purchase SURVIVAL CURVE with right
    * censoring (Kaplan & Meier 1958) — the time-to-convert analytic
    * q_time_to_purchase's percentiles cannot give, because users who
    * never purchased are not missing data, they are CENSORED at their
    * last observed day, and dropping them biases conversion speed
    * optimistic (only converters would count). Each user contributes
    * a duration t = (first purchase − first event) days if converted,
    * else (last event − first event) censored. The curve is carried
    * in LOG space so it stays integer-exact: ln S(t) =
    * Σ_{event days ≤ t} ln((n_risk − d)/n_risk), each term one
    * ln-kernel e6 floor, the running sum a window cumsum — a
    * multiplicative float product would be order-dependent and
    * engine-splitting. A day consuming its whole risk set pins to
    * [[KmZeroE6]] instead of −∞.
    *
    * Scale shape: ONE per-user two-phase agg (first/purchase/last
    * day) over the corpus scan; the life table is a second agg on the
    * BOUNDED duration-day axis; both windows (risk-set depletion,
    * log-survival cumsum) order that bounded axis — the blessed
    * day-axis pattern, never a corpus-sized sort. */
  def kaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val per = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr(s"unix_micros(ts) div $dayUs").as("day"))
      .groupBy("user_id")
      .agg(min("day").as("d0"),
        min(when(col("event_type") === "purchase", col("day"))).as("dp"),
        max("day").as("dl"))
      .select(
        when(col("dp").isNotNull, col("dp") - col("d0"))
          .otherwise(col("dl") - col("d0")).as("t"),
        col("dp").isNotNull.as("event"))
    val byT = per.groupBy("t").agg(
      sum(when(col("event"), 1L).otherwise(0L)).as("n_events"),
      sum(when(!col("event"), 1L).otherwise(0L)).as("n_censored"))
    val before = Window.orderBy("t") // bounded duration-day axis
      .rowsBetween(Window.unboundedPreceding, -1)
    val upTo = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, 0)
    byT
      .crossJoin(broadcast(per.agg(count(lit(1)).as("n_total"))))
      .withColumn("n_risk", col("n_total") - coalesce(
        sum(col("n_events") + col("n_censored")).over(before), lit(0L)))
      .withColumn("ln_term_e6",
        when(col("n_events") === 0, lit(0L))
          .when(col("n_events") === col("n_risk"), lit(KmZeroE6))
          .otherwise(expr(
            """cast(floor(ln((cast(n_risk as double) - n_events) / n_risk)
              | * 1e6 + 0.5) as bigint)""".stripMargin.replace('\n', ' '))))
      .withColumn("ln_surv_e6", sum("ln_term_e6").over(upTo))
      .select("t", "n_risk", "n_events", "n_censored", "ln_surv_e6")
      .orderBy("t")
  }

  /** Minimum distinct price days for the Theil–Sen trend fit. */
  private[graft] val TheilSenMinDays = 5L

  /** q_theil_sen: ROBUST per-part price trend — the Theil–Sen
    * estimator (median of all pairwise slopes, Sen 1968): one rogue
    * price (a decoy scrape, a currency glitch) drags an OLS slope
    * arbitrarily far but moves the pairwise-slope median by one rank,
    * so this is the trend line a pricing monitor can actually alarm
    * on (~29% breakdown point vs OLS's zero; the robust cousin of
    * q_elasticity's log-log OLS). Slopes are exact integers
    * (Δcents·10⁶ div Δdays); the median is pinned — rank by
    * (slope, d1, d2), take the middle rank(s), average the even case
    * with a truncating div — so both engines select the identical
    * pair(s).
    *
    * Scale shape: the series collapses to one point per (part, day)
    * FIRST (two-phase agg), then each part's whole median computes
    * INSIDE one projection over its collected (day, cents) series —
    * the pairwise expansion (fan-out ≈ days²/2 per part, never
    * corpus²) lives in a per-row array expression bounded by the
    * calendar axis (a catalog constant), so the plan is two
    * aggregations and zero joins/windows: no pair row ever shuffles
    * and the series shuffle is ∝ distinct (part, day) points. The
    * median rank math is unchanged from the windowed formulation —
    * rank by (slope, d1, d2), middle rank(s), truncating-div average
    * — and slopes alone sort identically for the selected VALUES
    * (tie-broken ranks permute only equal slopes). */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
          .as("day"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      .groupBy("l_partkey", "day")
      .agg(min("cents").as("cents")) // pinned per-day representative
    pts.groupBy("l_partkey")
      // day is unique per part, so the struct sort orders by day
      .agg(array_sort(collect_list(struct(col("day"), col("cents"))))
        .as("ds"))
      .filter(size(col("ds")) >= TheilSenMinDays)
      .withColumn("slopes", expr(
        """array_sort(flatten(transform(ds, (a, i) ->
          |  transform(slice(ds, i + 2, size(ds) - i - 1), b ->
          |    ((b.cents - a.cents) * 1000000) div (b.day - a.day)))))"""
          .stripMargin.replace('\n', ' ')))
      .select(col("l_partkey"),
        size(col("ds")).cast("long").as("n_days"),
        size(col("slopes")).cast("long").as("n_pairs"),
        // middle rank(s): odd n → (2s) div 2 = s exactly; even n →
        // (s1+s2) div 2, the windowed sum-div-count semantics verbatim
        expr("""(element_at(slopes, cast((size(slopes) + 1) div 2 as int))
          | + element_at(slopes, cast((size(slopes) + 2) div 2 as int)))
          | div 2""".stripMargin.replace('\n', ' ')).as("ts_slope_e6"))
      .orderBy("l_partkey")
  }

  /** SAX geometry for [[saxMotifs]]: 8 PAA segments, 4 symbols, and
    * the minimum distinct price days for a meaningful shape. */
  private[graft] val SaxSegments = 8
  private[graft] val SaxAlphabet = 4
  private[graft] val SaxMinDays = 16L

  /** q_sax_motifs: time-series SHAPE motifs over the per-part price
    * series — SAX-style symbolization (Lin/Keogh et al., DMKD'03:
    * piecewise aggregate approximation + small-alphabet symbols) with
    * equal-FREQUENCY per-series discretization instead of the paper's
    * Gaussian breakpoints, so the word is an exact integer object: a
    * part's price-day sequence collapses to [[SaxSegments]] rank-axis
    * segments, each segment to its integer mean, segments to symbols
    * by within-part rank (the shape, independent of the part's price
    * LEVEL and SCALE — the z-normalization's exact-arithmetic stand-in),
    * symbols to an 8-char word. Equal words = parts whose prices moved
    * the same way: the motif census ("how many parts rise-then-fall?")
    * is the indexing primitive similarity search over 10⁹ series
    * builds on — word-bucket equality replaces curve comparison, the
    * SAX trick.
    *
    * Scale shape: the (part, day) collapse is the q_theil_sen census;
    * rank/segment/symbol are per-part windows (frames = price days
    * per part, a catalog constant); the word builds in ONE per-part
    * agg (sort_array of ≤ [[SaxSegments]] structs); the census is a
    * word-keyed two-phase agg. No global sort anywhere. */
  def saxMotifs(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
          .as("day"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      .groupBy("l_partkey", "day")
      .agg(min("cents").as("cents"))
    val sized = pts
      .withColumn("n_days", count(lit(1)).over(
        Window.partitionBy("l_partkey")))
      .filter(col("n_days") >= SaxMinDays)
      .withColumn("rnk", row_number().over(
        Window.partitionBy("l_partkey").orderBy("day")))
      .withColumn("seg", expr(s"((rnk - 1) * $SaxSegments) div n_days"))
    val segs = sized.groupBy("l_partkey", "seg")
      .agg(expr("sum(cents) div count(1)").as("m"))
      .withColumn("sym", expr(
        s"""(cast(row_number() over (partition by l_partkey
           |  order by m, seg) as bigint) - 1)
           |  div ${SaxSegments / SaxAlphabet}"""
          .stripMargin.replace('\n', ' ')))
    segs.groupBy("l_partkey")
      .agg(expr(
        """array_join(transform(array_sort(collect_list(struct(seg, sym))),
          |  x -> cast(x.sym as string)), '')""".stripMargin.replace('\n', ' '))
        .as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n_parts"), min("l_partkey").as("sample_part"))
      .orderBy(col("n_parts").desc, col("word").asc)
  }

  /** Window-funnel horizon: all steps must land within 1 h of step 1. */
  private val StepWinMs = 3600000L

  /** q_window_funnel: the ClickHouse-style windowFunnel — how deep
    * into signup → view → purchase each user gets with ALL steps
    * inside [[StepWinMs]] of the signup, reported as a depth census
    * with e6 shares of the signup cohort. The time-constrained
    * generalization of q_funnel (which checks one step against a
    * fixed lag): step k counts only if STRICTLY after step k−1 and
    * within the window — equal-millisecond events don't advance the
    * funnel, so the depth is engine-independent without an intra-ms
    * order oracle.
    *
    * Scale shape: the step-k time is a per-user min-agg conditioned on
    * step k−1, so the whole funnel is three filtered two-phase aggs
    * chained by user-keyed equi-joins (each join input already
    * user-partitioned — AQE reuses the partitioning); the census is a
    * ≤3-row agg with the cohort size broadcast. No windows, no
    * per-user event sorting. */
  def windowFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("t"))
      .localCheckpoint() // reused by all three step scans
    val t1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("t").as("t1"))
    val t2 = ev.filter(col("event_type") === "view")
      .join(t1, "user_id")
      .filter(col("t") > col("t1") && col("t") <= col("t1") + StepWinMs)
      .groupBy("user_id").agg(min("t").as("t2"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t1, "user_id").join(t2, "user_id")
      .filter(col("t") > col("t2") && col("t") <= col("t1") + StepWinMs)
      .groupBy("user_id").agg(min("t").as("t3"))
    val depths = t1.join(t2, Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .select(col("user_id"),
        (lit(1L) + when(col("t2").isNotNull, 1L).otherwise(0L)
          + when(col("t3").isNotNull, 1L).otherwise(0L)).as("depth"))
    val cohort = depths.agg(count(lit(1)).as("n_signup"))
    depths.groupBy("depth").agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(cohort))
      .withColumn("share_e6", expr("(n_users * 1000000) div n_signup"))
      .select("depth", "n_users", "share_e6")
      .orderBy("depth")
  }

  /** q_order_latency: order-to-first-shipment latency distribution per
    * order priority — exact p50/p90/p99 days via the q_percentiles
    * value-histogram kernel (latency is day-granular and bounded, so
    * the histogram is tiny at any scale), plus exact e3 mean and max.
    * The fulfillment-SLA report: does URGENT actually ship faster?
    *
    * Scale shape: ONE fact-fact equi-join on orderkey (both sides
    * shuffle — in production both tables are bucketed on orderkey and
    * this becomes a zero-shuffle sort-merge); lineitem pre-aggregates
    * to its min ship day BEFORE the join (join input ∝ orders, not
    * line items); then a (priority × distinct-latency)-sized histogram
    * cumsum picks the rank statistics. */
  def orderLatency(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val shipped = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        expr(s"unix_micros(cast(l_shipdate as timestamp)) div $dayUs").as("sd"))
      .groupBy("l_orderkey").agg(min("sd").as("ship_day"))
    val lat = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr(s"unix_micros(cast(o_orderdate as timestamp)) div $dayUs").as("od"))
      .join(shipped, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"), (col("ship_day") - col("od")).as("lat"))
    val counts = lat.groupBy("o_orderpriority", "lat")
      .agg(count(lit(1)).as("c"))
    val cum = counts
      .withColumn("cum", sum("c").over(
        Window.partitionBy("o_orderpriority").orderBy("lat")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(Window.partitionBy("o_orderpriority")))
    val picks = Seq(50, 90, 99).map { p =>
      min(when(col("cum") >= expr(s"(n * $p + 99) div 100"), col("lat")))
        .as(s"p${p}_days")
    }
    cum.groupBy("o_orderpriority")
      .agg(max("n").as("n_orders"),
        (picks :+ expr(
          "cast((cast(sum(lat * c) as decimal(38,0)) * 1000) div max(n) as bigint)")
          .as("mean_days_e3")
          :+ max("lat").as("max_days")): _*)
      .orderBy("o_orderpriority")
  }

  /** q_scd2: slowly-changing-dimension TYPE-2 history build — collapse
    * each part's daily observed price (min unit cents per ship day)
    * into versioned validity ranges [from_day, to_day), open versions
    * marked to_day = −1. The warehouse-ETL classic: turn an event
    * stream of observations into an as-was dimension a point-in-time
    * join (q_asof_price) can consume.
    *
    * Scale shape: one two-phase (part, day) agg, then two windows on
    * the SAME part-key shuffle (lag for change flags + running sum for
    * version ids, lead for the range close) and a (part, version) agg
    * — the sessionize idiom applied to attribute change detection.
    * Unit cents is an integer div of exact integers (the q_elasticity
    * rule), so version boundaries agree across engines. */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val daily = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        expr(s"unix_micros(cast(l_shipdate as timestamp)) div $dayUs").as("day"),
        expr("""floor(l_extendedprice * 100 + 0.5)
          | div cast(floor(l_quantity + 0.5) as bigint)"""
          .stripMargin.replace('\n', ' ')).as("price"))
      .groupBy("l_partkey", "day").agg(min("price").as("price_cents"))
    val ord = Window.partitionBy("l_partkey").orderBy("day")
    val versions = daily
      .withColumn("prev", lag("price_cents", 1).over(ord))
      .withColumn("chg", when(col("prev").isNull ||
        col("prev") =!= col("price_cents"), 1L).otherwise(0L))
      .withColumn("version", sum("chg").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("l_partkey", "version")
      .agg(min("price_cents").as("price_cents"),
        min("day").as("from_day"), count(lit(1)).as("n_days"))
    versions
      .withColumn("to_day", coalesce(
        lead("from_day", 1).over(
          Window.partitionBy("l_partkey").orderBy("version")),
        lit(-1L)))
      .select("l_partkey", "version", "price_cents", "from_day", "to_day",
        "n_days")
      .orderBy("l_partkey", "version")
  }

  /** q_cdc_merge: apply a change-data-capture log to a snapshot — the
    * lakehouse MERGE INTO (Debezium consumer) contract: base =
    * customer profiles, log = the event stream as CDC rows (key =
    * user_id shifted so the log STRADDLES the snapshot boundary —
    * offset = max(custkey) − max(user_id)/2, scale-free: the lower
    * half of the log keys exercise UPDATE/DELETE, the upper half
    * INSERT and tombstone-no-op; seq = event_id — the log's total
    * order, op = DELETE for 'error' rows else UPSERT carrying the
    * full new value). LAST-WRITER-WINS per key by seq: the key's
    * final op decides existence, its value the new row; untouched
    * base rows pass through; a DELETE of a never-present key is a
    * no-op tombstone. Output is the merged table itself (src =
    * base/insert/update), the artifact every downstream query reads —
    * [[scd2]] keeps the history, this builds the CURRENT view.
    *
    * Scale shape: the last-op-per-key reduction is max_by — a real
    * AGGREGATE (map-side partials, shuffle ∝ distinct keys), never a
    * per-key window sort over the log; the merge itself is one
    * full-outer hash join on the key. At 10¹² log rows the shuffle
    * carries one row per touched key. */
  def cdcMerge(spark: SparkSession, dir: String): DataFrame = {
    val (base, ofs) = cdcBase(spark, dir)
    cdcApply(base,
      cdcLastOp(Tables.events(spark, dir), ofs))
  }

  /** The snapshot side of [[cdcMerge]] plus the scale-free key offset
    * (see there) — shared by batch and stream. */
  private[graft] def cdcBase(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"),
        floor(col("c_acctbal") * 100 + 0.5).cast("long").as("base_cents"))
    val ofs = base.agg(max("user_id").as("mxc"))
      .crossJoin(Tables.events(spark, dir).agg(max("user_id").as("mxu")))
      .select(expr("mxc - mxu div 2").as("o"))
    (base, ofs)
  }

  /** The last-op-per-key reduction over any `events`-shaped frame —
    * batch table or stream. max_by over the seq total order is a real
    * aggregate: map-side partials in batch, ≤touched-keys rows of
    * Update-mode state in a stream — and because the per-key maximum
    * is associative/commutative, the reduction is exactly MERGEABLE
    * across micro-batches (the keyed sink converges to the batch
    * answer however the log is split). */
  private[graft] def cdcLastOp(events: DataFrame, ofs: DataFrame): DataFrame =
    events
      .crossJoin(broadcast(ofs))
      .select((col("user_id") + col("o")).as("user_id"),
        col("event_id").as("seq"),
        when(col("event_type") === "error", lit("delete"))
          .otherwise(lit("upsert")).as("op"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .groupBy("user_id")
      .agg(max_by(col("op"), col("seq")).as("op"),
        max_by(col("cents"), col("seq")).as("cents"))

  /** The merge itself over a converged last-op view — one full-outer
    * hash join, shared by batch and stream (one oracle). */
  private[graft] def cdcApply(base: DataFrame, last: DataFrame): DataFrame =
    base.join(last, Seq("user_id"), "full_outer")
      .filter(col("op").isNull || col("op") === "upsert")
      .select(col("user_id"),
        when(col("op").isNull, "base")
          .when(col("base_cents").isNull, "insert")
          .otherwise("update").as("src"),
        when(col("op").isNull, col("base_cents"))
          .otherwise(col("cents")).as("value_cents"))
      .orderBy("user_id")

  /** q_period_growth: week-over-week revenue growth per brand — the
    * reporting staple behind every trend dashboard: revenue per
    * (brand, epoch-week), WoW delta in e6 (lag over the brand's
    * observed weeks), and the brand's e6 share of that week's total.
    * First observed week has no predecessor and is not reported (the
    * q_burstiness convention — a sentinel would poison downstream
    * sorts).
    *
    * Scale shape: one broadcast dim join + ONE two-phase (brand, week)
    * agg over the corpus; both windows (brand-keyed lag, week-keyed
    * share total) run on the catalog×weeks rollup — bounded at any
    * data scale. Ratio scale-ups in decimal(38,0). */
  def periodGrowth(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val weekly = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        expr(s"unix_micros(cast(l_shipdate as timestamp)) div ${dayUs * 7}")
          .as("week"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      .join(broadcast(Tables.part(spark, dir).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "week").agg(sum("cents").as("rev_cents"))
    weekly
      .withColumn("prev", lag("rev_cents", 1).over(
        Window.partitionBy("p_brand").orderBy("week")))
      .withColumn("week_total", sum("rev_cents").over(
        Window.partitionBy("week")))
      .filter(col("prev").isNotNull)
      .select(col("p_brand"), col("week"), col("rev_cents"),
        expr("""cast((cast(rev_cents - prev as decimal(38,0)) * 1000000)
          | div prev as bigint)""".stripMargin.replace('\n', ' ')).as("wow_e6"),
        expr("""cast((cast(rev_cents as decimal(38,0)) * 1000000)
          | div week_total as bigint)""".stripMargin.replace('\n', ' '))
          .as("share_e6"))
      .orderBy("p_brand", "week")
  }

  /** Growth-accounting month: fixed 30-day epoch buckets (exact
    * integer math; calendar months would need tz/locale rules). */
  private val GaMonthDays = 30L

  /** q_growth_accounting: the new/retained/resurrected/churned user
    * ledger per 30-day period (the Reforge/a16z growth-accounting
    * identity: active(m) = new + retained + resurrected, churned(m) =
    * active(m−1) − retained(m)) plus the quick ratio
    * (new+resurrected)/churned in e6 (−1 while nothing has churned).
    * The engagement decomposition q_stickiness summarizes into one
    * number.
    *
    * Scale shape: distinct (user, month) is the only corpus-sized
    * shuffle; classification is two lag/lead window columns on the
    * user's own month sequence (rows ∝ user-months); the ledger is a
    * month-axis-sized rollup. Churn is counted by LEAD — a user whose
    * next active month isn't m+1 churns at m+1 — so no anti-join
    * against the next period is needed; the final observed month
    * cannot yet churn anyone and reports churned = 0 by construction.
    * The ledger axis is the FULL min..max observed month range (the
    * q_stickiness sequence/explode pattern), so a fully-inactive
    * period still reports its row — zero actives WITH the churn that
    * landed there — keeping churned(m) = active(m−1) − retained(m)
    * true across gaps. */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val um = Tables.events(spark, dir)
      .select(col("user_id"),
        expr(s"unix_micros(ts) div ${dayUs * GaMonthDays}").as("m"))
      .distinct()
      .localCheckpoint() // reused: classification + churn emission
    val ord = Window.partitionBy("user_id").orderBy("m")
    val classified = um
      .withColumn("first_m", min("m").over(
        ord.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("prev_m", lag("m", 1).over(ord))
      .select(col("m"),
        when(col("m") === col("first_m"), 1L).otherwise(0L).as("is_new"),
        when(col("prev_m") === col("m") - 1, 1L).otherwise(0L).as("is_retained"),
        when(col("prev_m").isNotNull && col("prev_m") < col("m") - 1, 1L)
          .otherwise(0L).as("is_resurrected"))
      .groupBy("m")
      .agg(count(lit(1)).as("n_active"), sum("is_new").as("n_new"),
        sum("is_retained").as("n_retained"),
        sum("is_resurrected").as("n_resurrected"))
    val lastM = um.agg(max("m").as("last_m"))
    val churned = um
      .withColumn("next_m", lead("m", 1).over(ord))
      .crossJoin(broadcast(lastM))
      .filter((col("next_m").isNull || col("next_m") > col("m") + 1) &&
        col("m") < col("last_m"))
      .select((col("m") + 1).as("m"))
      .groupBy("m").agg(count(lit(1)).as("n_churned"))
    val axis = um.agg(min("m").as("m0"), max("m").as("m1"))
      .select(explode(sequence(col("m0"), col("m1"))).as("m"))
    axis.join(classified, Seq("m"), "left")
      .join(churned, Seq("m"), "left")
      .na.fill(0L, Seq("n_active", "n_new", "n_retained", "n_resurrected",
        "n_churned"))
      .withColumn("quick_e6", expr(
        """if(n_churned = 0, -1,
          | ((n_new + n_resurrected) * 1000000) div n_churned)"""
          .stripMargin.replace('\n', ' ')))
      .select(col("m").as("month"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"), col("n_churned"),
        col("quick_e6"))
      .orderBy("month")
  }

  /** Attribution lookback: a purchase credits its last preceding
    * non-purchase touch within 1 h; beyond that it is "direct".
    * Shared with the streaming scorer (q_stream_attribution). */
  private[graft] val AttrWinMs = 3600000L

  /** q_attribution: last-touch marketing attribution — each purchase
    * credits the user's most recent NON-purchase event (click / view /
    * signup / error) within [[AttrWinMs]], else counts as "direct";
    * rolled up to conversions, exact revenue cents, and e6 share per
    * channel. The campaign-reporting classic.
    *
    * Scale shape: ONE shuffle by user (the window partition); the
    * carried touch is two IGNORE-NULLS last_value frames over the
    * pinned (t_ms, event_id) order — both read the same last matching
    * row, so type and time can't split; the rollup is an
    * alphabet-sized agg with the total broadcast. The per-channel
    * finish is [[attrFinish]], SHARED with q_stream_attribution so
    * batch and stream can never disagree. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("t_ms").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    val touchT = when(col("event_type") =!= "purchase", col("t_ms"))
    val conv = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("t_ms"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .withColumn("src_type", last(touch, ignoreNulls = true).over(w))
      .withColumn("src_t", last(touchT, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        when(col("src_t").isNotNull &&
          col("t_ms") - col("src_t") <= AttrWinMs, col("src_type"))
          .otherwise(lit("direct")).as("channel"),
        col("cents"))
    attrFinish(conv)
  }

  /** Channel rollup over (channel, cents) conversion rows — the
    * shared batch/stream finish of the attribution pair. */
  private[graft] def attrFinish(conv: DataFrame): DataFrame = {
    val total = conv.agg(count(lit(1)).as("n_total"))
    conv.groupBy("channel")
      .agg(count(lit(1)).as("n_conversions"), sum("cents").as("rev_cents"))
      .crossJoin(broadcast(total))
      .withColumn("share_e6", expr("(n_conversions * 1000000) div n_total"))
      .select("channel", "n_conversions", "rev_cents", "share_e6")
      .orderBy("channel")
  }

  /** Benford expected first-digit shares, e6-floored — precomputed
    * constants (⌊log₁₀(1+1/d)·10⁶+0.5⌋) inlined into BOTH engines so
    * no runtime float touches the oracle. */
  private val BenfordE6 = Map(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
    4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L,
    9 -> 45757L)

  /** q_benford: the first-significant-digit Benford screen over line
    * revenue cents — the classic forensic-accounting test (synthetic
    * or manipulated amounts drift from log₁₀(1+1/d)): per digit 1-9,
    * observed count, e6 observed share, the expected Benford e6 share,
    * and the signed deviation. Digit extraction is string-based
    * (first char of the exact integer cents) — no float log at
    * runtime anywhere, so the report is bit-exact.
    *
    * Scale shape: map-only digit column fused into the scan, ONE
    * 9-key two-phase agg, total broadcast. */
  def benford(spark: SparkSession, dir: String): DataFrame =
    benfordFinish(
      benfordDigits(Tables.lineitem(spark, dir))
        .groupBy("digit").agg(count(lit(1)).as("n")))

  /** Map-only digit extraction from a lineitem frame — shared with
    * the streaming monitor (q_stream_benford). */
  private[graft] def benfordDigits(lineitem: DataFrame): DataFrame =
    lineitem
      .select(floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      .filter(col("cents") > 0)
      .select(expr("cast(substring(cast(cents as string), 1, 1) as bigint)")
        .as("digit"))

  /** Shares/expectation/deviation over a (digit, n) count store —
    * the shared batch/stream finish of the Benford pair. */
  private[graft] def benfordFinish(digits: DataFrame): DataFrame = {
    val expected = BenfordE6.toSeq.sortBy(_._1)
      .map { case (d, e) => s"WHEN $d THEN ${e}L" }
      .mkString("CASE digit ", " ", " END")
    val total = digits.agg(sum("n").as("n_total"))
    digits.crossJoin(broadcast(total))
      .withColumn("share_e6", expr(
        "cast((cast(n as decimal(38,0)) * 1000000) div n_total as bigint)"))
      .withColumn("benford_e6", expr(expected))
      .withColumn("dev_e6", col("share_e6") - col("benford_e6"))
      .select("digit", "n", "share_e6", "benford_e6", "dev_e6")
      .orderBy("digit")
  }

  /** z and z² for [[wilsonRates]] at 95% (z = 1.96) — precomputed
    * and inlined as the SAME literals into both engines (the Benford
    * constants rule). */
  private val WilsonZ = 1.96
  private val WilsonZ2 = 3.8416

  /** q_wilson_rates: the error-rate leaderboard ranked by the WILSON
    * SCORE LOWER BOUND instead of the raw rate — the classic
    * small-sample correction (Wilson 1927; the standard
    * "sort by lower confidence bound" ranking rule): a shop with 2
    * errors in 3 events stops outranking one with 200 in 1000,
    * because the bound prices in how little evidence n=3 carries.
    * The monitoring twin of q_chi2_abtest for per-entity rates.
    *
    * Exactness: the bound is pure arithmetic over the two integer
    * counts — division and sqrt are correctly-rounded IEEE ops, so
    * the IDENTICAL expression tree (z/z² inlined as shared literals,
    * doubles forced via 2.0/4.0 factors) is bit-equal across
    * engines, then e6-floored. Rank pinned (bound DESC, domain ASC).
    *
    * Scale shape: map-only failure flag fused into the scan, ONE
    * two-phase agg on the bounded domain alphabet, rank window over
    * alphabet-sized rows. */
  def wilsonRates(spark: SparkSession, dir: String): DataFrame =
    wilsonFinish(wilsonCensus(Tables.events(spark, dir)))

  /** Map-only per-domain (trials, failures) census — shared with the
    * streaming variant (q_stream_wilson), whose Update-mode state is
    * exactly this alphabet-sized census. */
  private[graft] def wilsonCensus(events: DataFrame): DataFrame =
    events
      .select(concat(lit("shop"), (col("user_id") % 37).cast("string"),
        lit(".example.com")).as("domain"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("fail"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_events"), sum("fail").as("n_errors"))

  /** The bound-and-rank finish over a (domain, n_events, n_errors)
    * census — SHARED by batch and stream so they cannot disagree and
    * share one oracle. */
  private[graft] def wilsonFinish(census: DataFrame): DataFrame = {
    val wilson = expr(
      s"""cast(floor(((n_errors/n_events + $WilsonZ2/(2.0*n_events))
         | - $WilsonZ * sqrt(n_errors/n_events*(1 - n_errors/n_events)/n_events
         |   + $WilsonZ2/(4.0*n_events*n_events)))
         | / (1 + $WilsonZ2/n_events) * 1e6 + 0.5) as bigint)"""
        .stripMargin.replace('\n', ' '))
    val w = Window.orderBy(col("wilson_e6").desc, col("domain").asc)
    census
      .withColumn("rate_e6", expr("n_errors * 1000000 div n_events"))
      .withColumn("wilson_e6", wilson)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select("rank", "domain", "n_events", "n_errors", "rate_e6", "wilson_e6")
      .orderBy("rank")
  }

  /** q_decayed_topk: the FRESHNESS-WEIGHTED leaderboard — every event
    * contributes weight 2^(−age) with a one-day half-life, so a domain
    * hot last week but dead today sinks below one warming up now (the
    * trending-vs-total cut every live dashboard wants; q_stream_topk
    * is the undecayed twin). EXACT at any scale by construction: age
    * quantizes to whole days behind the corpus watermark and the
    * weight is the integer right-shift 10⁶ >> age — no float pow
    * anywhere (IEEE pow is NOT correctly rounded, so a float decay
    * could split engines; the shift cannot), weights vanish naturally
    * past age 19 (10⁶ >> 20 = 0).
    *
    * Scale shape: map-only (domain, day) projection, watermark day
    * broadcast from a 1-row agg, ONE two-phase agg on the bounded
    * domain alphabet, rank window over alphabet-sized rows. */
  def decayedTopK(spark: SparkSession, dir: String): DataFrame =
    decayedFinish(decayedDayCounts(Tables.events(spark, dir)))

  /** Map-only (domain, day) census input — shared with the streaming
    * variant (q_stream_decayed), whose Update-mode state is exactly
    * this census (alphabet × day-horizon, sketch-sized). */
  private[graft] def decayedDayCounts(events: DataFrame): DataFrame =
    events
      .select(concat(lit("shop"), (col("user_id") % 37).cast("string"),
        lit(".example.com")).as("domain"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("domain", "day").agg(count(lit(1)).as("cnt"))

  /** The decay-weight-and-rank finish over a (domain, day, cnt)
    * census — SHARED by batch and stream so they cannot disagree and
    * share one oracle. */
  private[graft] def decayedFinish(dayCounts: DataFrame): DataFrame = {
    val maxDay = dayCounts.agg(max("day").as("max_day"))
    val w = Window.orderBy(col("decayed_e6").desc, col("domain").asc)
    dayCounts.crossJoin(broadcast(maxDay))
      .withColumn("w_e6", expr(
        "cast(shiftright(1000000, cast(least(max_day - day, 62) as int)) as bigint)"))
      .groupBy("domain")
      .agg(sum("cnt").as("n_events"),
        min(expr("max_day - day")).as("freshest_age"),
        sum(expr("cnt * w_e6")).as("decayed_e6"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .select("rank", "domain", "n_events", "freshest_age", "decayed_e6")
      .orderBy("rank")
  }

  /** q_brand_loyalty: how concentrated is each customer's spend on
    * their top brand — per customer the share of their (order, brand)
    * baskets owned by the single most-bought brand, rolled into ten
    * e6-share buckets. The loyalty-vs-promiscuity histogram a CRM
    * reads before segment-targeted promotion.
    *
    * Scale shape: orderkey equi-join to reach the customer (orders
    * side pre-projected), brand dim broadcast, distinct (customer,
    * order, brand) baskets, then two chained two-phase aggs —
    * (customer, brand) counts, then per-customer max vs sum (no
    * argmax, no window: only the max COUNT matters, not which brand
    * holds it); final ≤10-bucket rollup. */
  def brandLoyalty(spark: SparkSession, dir: String): DataFrame = {
    val baskets = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey")
      .join(broadcast(Tables.part(spark, dir).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_orderkey"), col("p_brand"))
      .distinct()
    val perBrand = baskets.groupBy("o_custkey", "p_brand")
      .agg(count(lit(1)).as("nb"))
    perBrand.groupBy("o_custkey")
      .agg(max("nb").as("top"), sum("nb").as("tot"))
      .withColumn("share_e6", expr(
        "cast((cast(top as decimal(38,0)) * 1000000) div tot as bigint)"))
      .withColumn("bucket", expr("least(share_e6 div 100000, 9)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_customers"),
        expr("sum(share_e6) div count(1)").as("mean_share_e6"))
      .orderBy("bucket")
  }

  /** q_repeat_interval: inter-order gap distribution per market
    * segment — days between each customer's consecutive orders, exact
    * p50/p90 and e3 mean via the q_percentiles histogram-cumsum kernel
    * (gaps are day-granular and bounded). The repurchase-cycle stat
    * replenishment forecasting and churn-risk scoring both start from.
    *
    * Scale shape: orders alone (no fact-fact join): one shuffle by
    * customer for the lag window, segment dim broadcast, then the
    * (segment × distinct-gap) histogram carries the rank statistics —
    * never a global sort of raw gaps. */
  def repeatInterval(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val gaps = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        expr(s"unix_micros(cast(o_orderdate as timestamp)) div $dayUs").as("d"),
        col("o_orderkey"))
      .withColumn("gap", col("d") - lag("d", 1).over(
        Window.partitionBy("o_custkey")
          .orderBy(col("d").asc, col("o_orderkey").asc)))
      .filter(col("gap").isNotNull)
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
    val counts = gaps.groupBy("c_mktsegment", "gap")
      .agg(count(lit(1)).as("c"))
    val cum = counts
      .withColumn("cum", sum("c").over(
        Window.partitionBy("c_mktsegment").orderBy("gap")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(Window.partitionBy("c_mktsegment")))
    cum.groupBy("c_mktsegment")
      .agg(max("n").as("n_gaps"),
        min(when(col("cum") >= expr("(n * 50 + 99) div 100"), col("gap")))
          .as("p50_days"),
        min(when(col("cum") >= expr("(n * 90 + 99) div 100"), col("gap")))
          .as("p90_days"),
        expr("cast((cast(sum(gap * c) as decimal(38,0)) * 1000) div max(n) as bigint)")
          .as("mean_days_e3"))
      .orderBy("c_mktsegment")
  }

  /** q_cart_abandon: session-level conversion audit — of each day's
    * browsing sessions (the EXACT q_sessionize sessions: same gap,
    * same pinned order), how many contained a view or click but no
    * purchase, with the abandonment rate in e6. The
    * revenue-leak report a checkout team watches daily.
    *
    * Scale shape: the sessionize window (ONE user shuffle) plus a
    * per-session any-flag agg riding the same partitioning, then a
    * day-axis rollup. Browsing sessions only — pure error/signup
    * sessions are not carts and are excluded from the denominator. */
  def cartAbandon(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("user_id")
      .orderBy(col("t_ms").asc, col("event_id").asc)
    val sessions = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("t_ms"))
      .withColumn("prev", lag("t_ms", 1).over(ord))
      .withColumn("brk", when(col("prev").isNull ||
        col("t_ms") - col("prev") >= SessionGapMs, 1L).otherwise(0L))
      .withColumn("session_seq", sum("brk").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(min("t_ms").as("start_ms"),
        max(when(col("event_type").isin("view", "click"), 1L).otherwise(0L))
          .as("browsed"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchased"))
      .filter(col("browsed") === 1L)
    sessions
      .withColumn("day", expr("start_ms div 86400000"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("purchased") === 0L, 1L).otherwise(0L)).as("n_abandoned"))
      .withColumn("abandon_e6", expr("(n_abandoned * 1000000) div n_sessions"))
      .orderBy("day")
  }

  /** q_price_gap: supplier undercut analysis per part — each part's
    * cheapest and second-cheapest supplier offer (exact integer unit
    * cents, div-of-sums per the q_elasticity rule), the absolute and
    * e6-relative gap between them, and the supplier count. The
    * procurement report behind "how contested is this part's price":
    * a wide gap means the best offer is an outlier to re-verify, a
    * zero gap a commodity.
    *
    * Scale shape: one (part, supplier) two-phase agg, then a rank
    * window per part whose partition is bounded by suppliers-per-part
    * (a TPC-H catalog constant) — never a global sort; the two ranked
    * rows fold back via a conditional agg, not a self-join. Parts
    * with one supplier have no gap and are excluded. */
  def priceGap(spark: SparkSession, dir: String): DataFrame = {
    val offers = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"),
        floor(col("l_quantity") + 0.5).cast("long").as("units"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum("cents").as("cents"), sum("units").as("units"))
      .filter(col("units") > 0)
      .select(col("l_partkey"), col("l_suppkey"),
        expr("cents div units").as("unit_cents"))
    offers
      .withColumn("rk", row_number().over(Window.partitionBy("l_partkey")
        .orderBy(col("unit_cents").asc, col("l_suppkey").asc)))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_suppliers"),
        max(when(col("rk") === 1, col("unit_cents"))).as("best_cents"),
        max(when(col("rk") === 2, col("unit_cents"))).as("second_cents"))
      .filter(col("n_suppliers") >= 2)
      .withColumn("gap_cents", col("second_cents") - col("best_cents"))
      .withColumn("gap_e6", expr(
        "cast((cast(gap_cents as decimal(38,0)) * 1000000) div best_cents as bigint)"))
      .orderBy("l_partkey")
  }

  /** q_time_to_purchase: signup-to-first-purchase latency distribution
    * — per epoch-week signup cohort, how many signed-up users ever
    * purchased after signup and the exact p50/p90 conversion lag in
    * minutes (histogram-cumsum kernel on minute-granular lags). The
    * activation funnel's FULL distribution, where q_funnel reports
    * only the fixed 24 h flag.
    *
    * Scale shape: two filtered per-user min-aggs chained by one
    * user-keyed equi-join (the q_window_funnel shape), then the
    * (cohort × distinct-lag-minutes) histogram carries the rank
    * statistics. */
  def timeToPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("t"))
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("t").as("t0"))
    val lag = ev.filter(col("event_type") === "purchase")
      .join(signup, "user_id")
      .filter(col("t") >= col("t0"))
      .groupBy("user_id").agg(min("t").as("tp"), min("t0").as("t0"))
      .select(col("user_id"),
        expr("t0 div 604800000").as("cohort_week"),
        expr("(tp - t0) div 60000").as("lag_min"))
    val counts = lag.groupBy("cohort_week", "lag_min")
      .agg(count(lit(1)).as("c"))
    val cum = counts
      .withColumn("cum", sum("c").over(
        Window.partitionBy("cohort_week").orderBy("lag_min")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(Window.partitionBy("cohort_week")))
    cum.groupBy("cohort_week")
      .agg(max("n").as("n_converted"),
        min(when(col("cum") >= expr("(n * 50 + 99) div 100"), col("lag_min")))
          .as("p50_min"),
        min(when(col("cum") >= expr("(n * 90 + 99) div 100"), col("lag_min")))
          .as("p90_min"))
      .orderBy("cohort_week")
  }

  /** q_nation_flows: the customer-nation × supplier-nation trade
    * matrix (the TPC-H Q7 "volume shipping" shape, all pairs instead
    * of two named nations): revenue cents and line counts per flow,
    * plus each flow's e6 share of its customer nation's imports.
    * Rounds out the reference-shape TPC-H family (Q1 q1_agg, Q3
    * q_top_orders, Q4 q_priority_returns).
    *
    * Scale shape: lineitem⋈orders is the one fact-fact shuffle (both
    * bucketed on orderkey in production → zero-shuffle SMJ);
    * orders⋈customer and lineitem⋈supplier are keyed dim joins that
    * co-partition on their keys (customer/supplier grow with the
    * corpus — NEVER broadcast); the 25-row nation dim broadcasts
    * twice for names; the matrix is ≤ nations² rows and the share
    * window runs on it. */
  def nationFlows(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
    val withCust = li
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
    val nation = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    withCust
      .groupBy(col("c_nationkey"), col("s_nationkey"))
      .agg(count(lit(1)).as("n_lines"), sum("cents").as("rev_cents"))
      .join(broadcast(nation.select(col("n_nationkey").as("c_nationkey"),
        col("n_name").as("cust_nation"))), "c_nationkey")
      .join(broadcast(nation.select(col("n_nationkey").as("s_nationkey"),
        col("n_name").as("supp_nation"))), "s_nationkey")
      .withColumn("import_total", sum("rev_cents").over(
        Window.partitionBy("cust_nation")))
      .select(col("cust_nation"), col("supp_nation"), col("n_lines"),
        col("rev_cents"),
        expr("""cast((cast(rev_cents as decimal(38,0)) * 1000000)
          | div import_total as bigint)""".stripMargin.replace('\n', ' '))
          .as("share_e6"))
      .orderBy("cust_nation", "supp_nation")
  }

  /** q_discount_effect: the discount-band revenue report (the TPC-H
    * Q6 family generalized from one band to the full curve): per
    * discount percent, line count, gross and net revenue in EXACT
    * integer cents (net = cents·(100−pct) div 100 per line — no float
    * money), total units and e3 mean units per line. Reads as "does a
    * deeper discount actually move volume".
    *
    * Scale shape: map-only band/net columns fused into the scan, one
    * ≤11-key two-phase agg. */
  def discountEffect(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        floor(col("l_discount") * 100 + 0.5).cast("long").as("disc_pct"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"),
        floor(col("l_quantity") + 0.5).cast("long").as("units"))
      .withColumn("net_cents", expr("(cents * (100 - disc_pct)) div 100"))
      .groupBy("disc_pct")
      .agg(count(lit(1)).as("n_lines"),
        sum("cents").as("gross_cents"), sum("net_cents").as("net_cents"),
        sum("units").as("units"),
        expr("cast((cast(sum(units) as decimal(38,0)) * 1000) div count(1) as bigint)")
          .as("mean_units_e3"))
      .orderBy("disc_pct")

  /** q_supplier_reliability: per-supplier return-rate screen — lines,
    * returned lines (returnflag R), exact e6 return rate, and a
    * watch flag for suppliers running over 2× the global rate with
    * enough volume to mean something (≥ 20 lines — a rate of 1/2 is
    * noise, 30/60 is a problem). The vendor-quality report behind
    * every procurement review.
    *
    * Scale shape: ONE two-phase agg on the supplier key + a 1-row
    * global broadcast; no joins, no windows. */
  def supplierReliability(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_lines"), sum("ret").as("n_returned"))
      .withColumn("rate_e6", expr(
        "cast((cast(n_returned as decimal(38,0)) * 1000000) div n_lines as bigint)"))
    val global = per.agg(
      expr("""cast((cast(sum(n_returned) as decimal(38,0)) * 1000000)
        | div sum(n_lines) as bigint)""".stripMargin.replace('\n', ' '))
        .as("global_e6"))
    per.crossJoin(broadcast(global))
      .withColumn("watch",
        col("n_lines") >= 20L && col("rate_e6") > col("global_e6") * 2)
      .select("l_suppkey", "n_lines", "n_returned", "rate_e6", "global_e6",
        "watch")
      .orderBy("l_suppkey")
  }

  /** q_region_trade: the [[nationFlows]] matrix rolled up to the
    * region level (customer region × supplier region) with an
    * intra-region flag and e6 world-trade shares — the 25-row table a
    * logistics planner actually reads (nation² is diagnostics, region²
    * is policy). Puts the region dim to work: nation⋈region is the
    * catalog-on-catalog join that stays entirely broadcast.
    *
    * Scale shape: identical to q_nation_flows through the fact chain
    * (one fact-fact shuffle, keyed customer/supplier joins); the
    * nation→region map (≤ nations rows) broadcasts twice; the matrix
    * is ≤ regions² rows with a 1-row world total broadcast. */
  def regionTrade(spark: SparkSession, dir: String): DataFrame = {
    val n2r = Tables.nation(spark, dir)
      .join(Tables.region(spark, dir),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("r_name"))
    val flows = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n2r.select(col("n_nationkey").as("c_nationkey"),
        col("r_name").as("cust_region"))), "c_nationkey")
      .join(broadcast(n2r.select(col("n_nationkey").as("s_nationkey"),
        col("r_name").as("supp_region"))), "s_nationkey")
      .groupBy("cust_region", "supp_region")
      .agg(count(lit(1)).as("n_lines"), sum("cents").as("rev_cents"))
    val world = flows.agg(sum("rev_cents").as("world_cents"))
    flows.crossJoin(broadcast(world))
      .select(col("cust_region"), col("supp_region"),
        (col("cust_region") === col("supp_region")).as("intra"),
        col("n_lines"), col("rev_cents"),
        expr("""cast((cast(rev_cents as decimal(38,0)) * 1000000)
          | div world_cents as bigint)""".stripMargin.replace('\n', ' '))
          .as("share_e6"))
      .orderBy("cust_region", "supp_region")
  }

  /** q_acctbal_profile: customer account-balance health per market
    * segment — customer count, debtors (negative balance), exact
    * p50/p90 balance cents via the histogram-cumsum kernel (negative
    * values order correctly — the histogram axis is just cents), and
    * the exact mean. The credit-exposure read of the customer book,
    * and the query that puts c_acctbal to work.
    *
    * Scale shape: one (segment, cents) two-phase histogram agg (cents
    * near-unique per customer, so the histogram ≈ customer-sized —
    * fine: it is ∝ the DIM table, not the fact table), cumsum per
    * segment, bounded finish. */
  def acctbalProfile(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.customer(spark, dir)
      .select(col("c_mktsegment"),
        floor(col("c_acctbal") * 100 + 0.5).cast("long").as("cents"))
      .groupBy("c_mktsegment", "cents").agg(count(lit(1)).as("c"))
    val cum = counts
      .withColumn("cum", sum("c").over(
        Window.partitionBy("c_mktsegment").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(Window.partitionBy("c_mktsegment")))
    cum.groupBy("c_mktsegment")
      .agg(max("n").as("n_customers"),
        sum(when(col("cents") < 0, col("c")).otherwise(0L)).as("n_debtors"),
        min(when(col("cum") >= expr("(n * 50 + 99) div 100"), col("cents")))
          .as("p50_cents"),
        min(when(col("cum") >= expr("(n * 90 + 99) div 100"), col("cents")))
          .as("p90_cents"),
        expr("""cast(cast(sum(cents * c) as decimal(38,0)) div max(n)
          | as bigint)""".stripMargin.replace('\n', ' ')).as("mean_cents"))
      .orderBy("c_mktsegment")
  }

  /** q_part_catalog: the catalog composition report per part type —
    * part count, exact p50/p90 of p_size via the histogram-cumsum
    * kernel, and the exact mean retail cents. The assortment overview
    * a merchandiser reads before range planning; completes schema
    * coverage for p_type / p_size.
    *
    * Scale shape: dim-table-only — one (type, size) histogram agg +
    * bounded cumsum + type-alphabet finish. */
  def partCatalog(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.part(spark, dir)
      .select(col("p_type"), col("p_size").cast("long").as("sz"),
        floor(col("p_retailprice") * 100 + 0.5).cast("long").as("cents"))
      .groupBy("p_type", "sz")
      .agg(count(lit(1)).as("c"), sum("cents").as("cents"))
    val cum = counts
      .withColumn("cum", sum("c").over(
        Window.partitionBy("p_type").orderBy("sz")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(Window.partitionBy("p_type")))
    cum.groupBy("p_type")
      .agg(max("n").as("n_parts"),
        min(when(col("cum") >= expr("(n * 50 + 99) div 100"), col("sz")))
          .as("p50_size"),
        min(when(col("cum") >= expr("(n * 90 + 99) div 100"), col("sz")))
          .as("p90_size"),
        expr("cast(cast(sum(cents) as decimal(38,0)) div max(n) as bigint)")
          .as("mean_retail_cents"))
      .orderBy("p_type")
  }

  /** q_encoding_advisor: the columnar ENCODING advisor — for each
    * audited lineitem column, the statistics a writer needs to pick
    * its physical encoding (parquet's dictionary/RLE decision, made
    * visible): distinct count → dictionary width in bits
    * (ceil log₂ d, computed EXACTLY as the binary-string length of
    * d−1, no float log), adjacency runs within the natural write unit
    * (runs counted per order under one fixed write order — the full
    * (linenumber, pk, qty, day, rf, ls) key, a total order up to
    * fully-identical rows, so counts are engine-independent; bounded
    * frames, never a global sort) → the RLE
    * compression ratio rows/runs, and the pinned verdict: rle when a
    * run covers ≥2 rows on average, dict when the dictionary fits
    * 16 bits, plain otherwise. At 100 TB the encoding choice is a
    * 2-10× storage/scan multiplier per column — this row is the
    * measurement that decision should come from (the q_zorder_layout
    * companion: that row places rows, this one packs them).
    *
    * Scale shape: one scan → 5 lag-comparisons over ONE
    * order-partitioned window (frames ≤ lines-per-order) → a single
    * global agg (counts + 5 distincts) → a 5-row stack. */
  def encodingAdvisor(spark: SparkSession, dir: String): DataFrame = {
    // (orderkey, linenumber) is NOT unique in the corpus; ordering by
    // every audited column makes the within-order ordering a total
    // order UP TO fully-identical rows — and identical rows merge into
    // the same runs wherever they land, so run counts are well-defined
    // and engine-independent
    val w = Window.partitionBy("l_orderkey")
      .orderBy("l_linenumber", "pk", "qty", "day", "rf", "ls")
    val base = Tables.lineitem(spark, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
      floor(col("l_quantity")).cast("long").as("qty"),
      col("l_partkey").as("pk"),
      expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
        .as("day"))
    val chg = Seq("rf", "ls", "qty", "pk", "day").foldLeft(base) { (df, c) =>
      df.withColumn(s"chg_$c",
        when(lag(col(c), 1).over(w).isNull ||
          col(c) =!= lag(col(c), 1).over(w), 1L).otherwise(0L))
    }
    val agg = chg.agg(
      count(lit(1)).as("n_rows"),
      count_distinct(col("rf")).as("d_rf"), sum("chg_rf").as("r_rf"),
      count_distinct(col("ls")).as("d_ls"), sum("chg_ls").as("r_ls"),
      count_distinct(col("qty")).as("d_qty"), sum("chg_qty").as("r_qty"),
      count_distinct(col("pk")).as("d_pk"), sum("chg_pk").as("r_pk"),
      count_distinct(col("day")).as("d_day"), sum("chg_day").as("r_day"))
    agg.select(expr(
      """stack(5,
        |  'l_linestatus',  d_ls,  r_ls,
        |  'l_partkey',     d_pk,  r_pk,
        |  'l_quantity',    d_qty, r_qty,
        |  'l_returnflag',  d_rf,  r_rf,
        |  'l_shipday',     d_day, r_day) AS (column_name, n_distinct, n_runs)"""
        .stripMargin.replace('\n', ' ')), col("n_rows"))
      .select(col("column_name"), col("n_rows"), col("n_distinct"),
        col("n_runs"))
      .withColumn("rle_ratio_e6", expr("(n_rows * 1000000) div n_runs"))
      .withColumn("dict_bits", expr(
        "cast(if(n_distinct <= 1, 0, length(bin(n_distinct - 1))) as bigint)"))
      .withColumn("suggested", expr(
        """CASE WHEN (n_rows * 1000000) div n_runs >= 2000000 THEN 'rle'
          |     WHEN if(n_distinct <= 1, 0, length(bin(n_distinct - 1))) <= 16
          |     THEN 'dict' ELSE 'plain' END""".stripMargin.replace('\n', ' ')))
      .orderBy("column_name")
  }

  /** Heavy-hitter histogram width for [[joinCard]], pinned (the
    * oracle embeds it). */
  private[graft] val JcTopH = 32

  /** q_join_card: the optimizer's join-cardinality estimate, made
    * MEASURED — the number CBO gets wrong is the number that picks
    * the wrong join order at 100 TB. For the l_partkey self-join
    * (output = Σ_k c(k)², the classic skew amplifier) it reports the
    * EXACT size next to two estimators: the all-uniform guess
    * n²/d (what a stats-less planner assumes) and the end-biased
    * histogram (Ioannidis/Christodoulakis: top-[[JcTopH]] keys kept
    * exactly, uniform tail for the rest — the ANALYZE TABLE shape),
    * with e6 relative errors for both. The row demonstrates WHY
    * per-column histograms exist: under skew the uniform guess is
    * off by the skew factor, the histogram by ~nothing.
    *
    * Scale shape: one (key) census (two-phase agg, shuffle ∝ distinct
    * keys) → exact Σc² + totals in ONE agg over the census → top-H by
    * (count, key) via TakeOrderedAndProject (per-partition heaps, no
    * global sort) → tail moments by SUBTRACTION (total − top), never
    * an anti-join. Sums run in decimal(38,0): Σc² crosses 2⁶³ once a
    * key holds ~3·10⁹ rows — inside the 100 TB range. */
  /** The per-key count census — a plain keyed count, so the same
    * aggregation is the batch reduction AND a streaming Update-mode
    * state (cumulative per key; state ∝ distinct keys, the
    * q_stream_eb table-sized precedent). */
  private[graft] def jcCensus(li: DataFrame): DataFrame =
    li.groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("c"))

  def joinCard(spark: SparkSession, dir: String): DataFrame =
    jcFinish(jcCensus(Tables.lineitem(spark, dir)))

  /** Totals/exact/top-H/estimates over a converged census — shared by
    * batch q_join_card and the at-ingest q_stream_join_card. */
  private[graft] def jcFinish(censusIn: DataFrame): DataFrame = {
    val census = censusIn
      .localCheckpoint() // three readers: totals, exact, top-H
    val totals = census.agg(
      sum(col("c").cast(DecimalType(38, 0))).as("n_rows"),
      count(lit(1)).as("n_distinct"),
      sum((col("c") * col("c")).cast(DecimalType(38, 0))).as("exact_pairs"))
    val top = census.orderBy(col("c").desc, col("k").asc).limit(JcTopH)
      .agg(sum(col("c").cast(DecimalType(38, 0))).as("top_sum"),
        sum((col("c") * col("c")).cast(DecimalType(38, 0))).as("top_pairs"),
        count(lit(1)).as("top_n"))
    totals.crossJoin(broadcast(top))
      .withColumn("est_uniform", expr("(n_rows * n_rows) div n_distinct"))
      .withColumn("est_hist", expr(
        """top_pairs + if(n_distinct - top_n = 0, cast(0 as decimal(38,0)),
          |((n_rows - top_sum) * (n_rows - top_sum)) div (n_distinct - top_n))"""
          .stripMargin.replace('\n', ' ')))
      .select(
        col("n_rows").cast("long").as("n_rows"),
        col("n_distinct"),
        col("exact_pairs").cast("long").as("exact_pairs"),
        col("est_uniform").cast("long").as("est_uniform"),
        col("est_hist").cast("long").as("est_hist"),
        expr("cast((abs(est_uniform - exact_pairs) * 1000000) div exact_pairs as bigint)")
          .as("err_uniform_e6"),
        expr("cast((abs(est_hist - exact_pairs) * 1000000) div exact_pairs as bigint)")
          .as("err_hist_e6"))
  }

  /** Z-order geometry for [[zorderLayout]]: 8 bits per dimension
    * (256-cell grid), 32 files, 16 probe slices per dimension —
    * pinned because the oracle re-derives the interleave. */
  private[graft] val ZBits = 8
  private[graft] val ZFiles = 32
  private[graft] val ZSlices = 16

  /** The Hilbert xy→d transform as [[ZBits]] unrolled integer stages
    * (the textbook loop: quadrant digit (3·rx) xor ry at weight s²,
    * then reflect-and-swap — xor spelled as a 4-case CASE so neither
    * engine needs a bitwise operator). Returns the per-stage
    * (x, y, d) update expressions over the previous stage's columns
    * `$px/$py/$pd`; both engines chain the identical text modulo the
    * div spelling. */
  private def hilbertStage(s: Int, px: String, py: String, pd: String,
      div: String): (String, String, String) = {
    val n1 = (1 << ZBits) - 1
    val rx = s"(($px $div $s) % 2)"
    val ry = s"(($py $div $s) % 2)"
    val digit = s"(CASE WHEN $rx = 0 AND $ry = 0 THEN 0" +
      s" WHEN $rx = 0 THEN 1 WHEN $ry = 0 THEN 3 ELSE 2 END)"
    val xNew = s"(CASE WHEN $ry = 0 THEN" +
      s" (CASE WHEN $rx = 1 THEN $n1 - $py ELSE $py END) ELSE $px END)"
    val yNew = s"(CASE WHEN $ry = 0 THEN" +
      s" (CASE WHEN $rx = 1 THEN $n1 - $px ELSE $px END) ELSE $py END)"
    (xNew, yNew, s"($pd + ${s.toLong * s} * $digit)")
  }

  /** The bit-interleave as a plain integer expression (shared text
    * for both engines modulo the div spelling): bit b of each scaled
    * coordinate lands at position 2b+1 / 2b. */
  private def zInterleave(sx: String, sy: String, div: String): String =
    (0 until ZBits).map { b =>
      s"(($sx $div ${1 << b}) % 2) * ${1L << (2 * b + 1)}" +
        s" + (($sy $div ${1 << b}) % 2) * ${1L << (2 * b)}"
    }.mkString(" + ")

  /** q_zorder_layout: the data-LAYOUT advisor — would space-filling
    * clustering of this fact table beat a linear sort for file
    * skipping, and which curve? Scales (l_partkey, l_suppkey) onto a
    * 2⁸×2⁸ grid, assigns each row to one of [[ZFiles]] files three
    * ways (partkey-linear ranges, Morton/Z-value ranges, Hilbert-value
    * ranges), computes the per-file min/max zone maps a lakehouse
    * keeps anyway, and probes them with [[ZSlices]] equal-width
    * single-dimension predicates per dimension: the reported scan
    * fraction is exactly the fraction of files a min/max-pruning
    * reader must open. The point the numbers make: linear layout
    * prunes perfectly on its sort key and NOT AT ALL on the other
    * dimension; both curves prune BOTH dimensions at ~√F cost — the
    * reason Delta/Iceberg OPTIMIZE ZORDER BY exists — and Hilbert
    * edges Z because it never takes Z's diagonal jumps (every Hilbert
    * step is unit distance, so file ranges are tighter rectangles).
    * At 100 TB this decision is the difference between reading 3%
    * and 100% of a petabyte per dashboard filter.
    *
    * The Z-value is the textbook Morton interleave, unrolled to 16
    * integer terms; the Hilbert value is the textbook reflect-and-swap
    * loop, unrolled to [[ZBits]] pure-integer stages (xor spelled as a
    * 4-case CASE — no bitwise ops, so both engines chain identical
    * text). File assignment is by fixed value ranges (contiguous,
    * sort-free: one pass computes the layout verdict; an actual
    * rewrite would range-partition by the same key).
    *
    * Scale shape: one min/max agg (1-row broadcast) → map-only
    * scale+interleave+assign → per-file min/max agg (≤ 2·[[ZFiles]]
    * rows) → slice-overlap counting on a files×slices×dims grid of
    * catalog size. */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(
      col("l_partkey").as("x"), col("l_suppkey").as("y"))
    val mm = li.agg(min("x").as("mnx"), max("x").as("mxx"),
      min("y").as("mny"), max("y").as("mxy"))
    val grid = 1 << ZBits
    val scaled = li.crossJoin(broadcast(mm)).select(
      expr(s"((x - mnx) * $grid) div (mxx - mnx + 1)").as("sx"),
      expr(s"((y - mny) * $grid) div (mxy - mny + 1)").as("sy"))
    val cellsPerFile = (grid.toLong * grid) / ZFiles
    // Hilbert index: ZBits unrolled reflect-and-swap stages chained
    // through named columns (hx/hy/hd), identical text in the oracle
    val hilberted = (0 until ZBits).foldLeft(
      scaled.withColumn("hx", col("sx")).withColumn("hy", col("sy"))
        .withColumn("hd", lit(0L))) { (df, i) =>
      val s = 1 << (ZBits - 1 - i)
      val (xN, yN, dN) = hilbertStage(s, "hx", "hy", "hd", "div")
      df.withColumn("hx2", expr(xN)).withColumn("hy2", expr(yN))
        .withColumn("hd", expr(dN))
        .drop("hx", "hy")
        .withColumnRenamed("hx2", "hx").withColumnRenamed("hy2", "hy")
    }
    val assigned = hilberted.select(col("sx"), col("sy"),
      expr(s"(${zInterleave("sx", "sy", "div")}) div $cellsPerFile").as("zfile"),
      expr(s"sx div ${grid / ZFiles}").as("linfile"),
      expr(s"hd div $cellsPerFile").as("hfile"))
    def zones(fileCol: String, layout: String) = assigned
      .groupBy(col(fileCol).as("f"))
      .agg(min("sx").as("mnx"), max("sx").as("mxx"),
        min("sy").as("mny"), max("sy").as("mxy"))
      .withColumn("layout", lit(layout))
    val zoneMaps = zones("zfile", "zorder").unionByName(zones("linfile", "linear"))
      .unionByName(zones("hfile", "hilbert"))
      .localCheckpoint() // probed once per dimension
    val sliceW = grid / ZSlices
    val slices = spark.range(ZSlices).select(
      (col("id") * sliceW).as("lo"), (col("id") * sliceW + sliceW - 1).as("hi"))
    def probe(dim: String, mn: String, mx: String) = zoneMaps
      .crossJoin(broadcast(slices))
      .groupBy("layout")
      .agg(count_distinct(col("f")).as("n_files"),
        sum(when(col(mn) <= col("hi") && col(mx) >= col("lo"), 1L)
          .otherwise(0L)).as("files_scanned"))
      .withColumn("dim", lit(dim))
    probe("part", "mnx", "mxx").unionByName(probe("supp", "mny", "mxy"))
      .select(col("layout"), col("dim"), col("n_files"), col("files_scanned"),
        expr(s"(files_scanned * 1000000) div (n_files * $ZSlices)")
          .as("scan_frac_e6"))
      .orderBy("layout", "dim")
  }

  /** Bloom geometry for [[bloomJoin]] — the q_bloom_decontam
    * conventions (m = 2¹⁶ bits, j = 3 disjoint 8-hex md5 windows) so
    * the oracle can re-derive the exact position set. */
  private[graft] val BjBits = 1 << 16
  private[graft] val BjHashes = 3
  private[graft] val BjSegment = "BUILDING"
  private def bjPositions(key: Column): Seq[Column] =
    (0 until BjHashes).map { i =>
      conv(substring(md5(concat(lit("bj"), key.cast("string"))),
        i * 8 + 1, 8), 16, 10).cast("long") % BjBits
    }

  /** q_bloom_join: the runtime-filter semi-join audit — build a Bloom
    * bitset over one market segment's customer keys, probe every
    * order's o_custkey against it BEFORE any join, and report the
    * measured reduction: rows the filter admits, exact semi-join
    * truth, false positives among true negatives, and the shuffle
    * fraction the filter saved. This is the dimension-to-fact runtime
    * filtering that decides 100 TB join cost (Spark's own
    * InjectRuntimeFilter / bloom_filter_agg does exactly this
    * invisibly): a fact row that fails the filter never enters the
    * join shuffle, so the shuffle shrinks from |fact| to
    * |semi-join| · (1 + fp). The row makes the technique and its
    * accuracy MEASURED rather than assumed.
    *
    * Semantics are one-sided by construction (no false negatives:
    * n_kept ≥ n_exact always), so composing it before an inner join
    * is lossless. Bitset build is distributed (j (word, mask) pairs →
    * map-side partial bit_or → ≤ m/64 longs collected, the
    * q_bloom_decontam bounded-collect convention); the probe is a
    * map-only codegen'd pass over orders — the fact table never
    * shuffles to learn its fate.
    *
    * Fully value-oracled: DuckDB rebuilds the identical j-position
    * sets, and "all j bits set" equals "all j positions present" (the
    * set-bit set IS the position set). */
  /** The build side's key set (one market segment's customers). */
  private[graft] def bjKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === BjSegment)
      .select(col("c_custkey").as("k"))

  /** Distributed bitset build as (word, bits) rows — bit_or is
    * associative, commutative and duplicate-insensitive, so the same
    * aggregation is the batch build AND the streaming Update-mode
    * state (the HLL/KMV sketch-as-stream argument, third instance). */
  private[graft] def bjWordRows(keys: DataFrame): DataFrame =
    keys.select(explode(array(bjPositions(col("k")): _*)).as("pos"))
      .select(shiftright(col("pos"), 6).as("w"),
        call_function("shiftleft", lit(1L), (col("pos") % 64).cast("int")).as("m"))
      .groupBy("w").agg(expr("bit_or(m)").as("bits"))

  /** Probe + audit over a materialized bitset — shared by batch
    * q_bloom_join and the at-ingest q_stream_bloom. */
  private[graft] def bjFinish(spark: SparkSession, dir: String,
      words: Array[Long]): DataFrame = {
    val keys = bjKeys(spark, dir)
    val bits = typedlit(words.toSeq)
    val hit = bjPositions(col("o_custkey")).map { p =>
      call_function("shiftright",
        element_at(bits, shiftright(p, 6).cast("int") + 1),
        (p % 64).cast("int")).bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
    val probed = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .withColumn("kept", hit)
      .join(broadcast(keys.withColumn("is_exact", lit(1L))),
        col("o_custkey") === col("k"), "left")
      .na.fill(0L, Seq("is_exact"))
    probed.agg(
        count(lit(1)).as("n_probe"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum("is_exact").as("n_exact"),
        sum(when(col("kept") && col("is_exact") === 0L, 1L).otherwise(0L))
          .as("false_pos"))
      .crossJoin(broadcast(keys.agg(count(lit(1)).as("build_keys"))))
      .select(col("build_keys"), col("n_probe"), col("n_kept"),
        col("n_exact"), col("false_pos"),
        // -1 sentinel when there are no true negatives to rate
        // (the q_growth_accounting zero-denominator convention)
        expr("if(n_probe = n_exact, -1L, (false_pos * 1000000) div (n_probe - n_exact))")
          .as("fp_e6"),
        expr("((n_probe - n_kept) * 1000000) div n_probe")
          .as("shuffle_saved_e6"))
  }

  def bloomJoin(spark: SparkSession, dir: String): DataFrame = {
    // distributed build: ≤ m/64 (word, bits) rows ever reach the
    // driver (the q_bloom_decontam bounded-collect convention)
    val packed = bjWordRows(bjKeys(spark, dir)).collect()
    val words = new Array[Long](BjBits / 64)
    packed.foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    bjFinish(spark, dir, words)
  }

  /** q_skyline: the Pareto frontier of the part catalog — every part
    * not dominated on (retail price ↓, size ↑): no other part is both
    * no-more-expensive AND no-smaller with at least one strict. The
    * classic skyline operator (Börzsönyi et al., ICDE'01) — "show me
    * the parts where paying more is the only way to get bigger" — that
    * no relational builtin expresses directly.
    *
    * Algorithm (the sort-free two-phase census form): collapse to the
    * per-price max-size census (shuffle ∝ distinct price points, a
    * cents-quantized catalog alphabet, NOT ∝ parts), then one running
    * max over the ascending price axis: a price point survives iff its
    * max size strictly exceeds every strictly-cheaper point's max
    * size; a part sits on the frontier iff its (price, size) equals a
    * surviving point (ties at a frontier point don't dominate each
    * other — no strict coordinate — so all tied parts are emitted).
    * The price-axis window is one of the bounded-axis global windows
    * (the q_part_catalog histogram convention): its input is the
    * price-point census, never the part table.
    *
    * Scale shape: one dim scan → (price, size)-census agg → bounded
    * axis window → hash-join back to parts on (price, size). At fact
    * scale the same shape holds: the census IS the reduction. */
  /** The (price, size) value points of the catalog — shared scan for
    * the census and the frontier join-back. */
  private[graft] def skyPoints(parts: DataFrame): DataFrame =
    parts.select(col("p_partkey"), col("p_brand"),
      floor(col("p_retailprice") * 100 + 0.5).cast("long").as("price_cents"),
      col("p_size").cast("long").as("p_size"))

  /** Per-price max-size census — a per-key MAX, so it is associative,
    * commutative and duplicate-insensitive: the same aggregation is
    * the batch reduction AND a streaming Update-mode state (state ∝
    * distinct price points, a catalog alphabet). */
  private[graft] def skyCensus(pts: DataFrame): DataFrame =
    pts.groupBy("price_cents").agg(max("p_size").as("smax"))

  /** Frontier cut + part join-back over a converged census — shared
    * by batch q_skyline and the at-ingest q_stream_skyline. */
  private[graft] def skyFinish(pts: DataFrame, census: DataFrame): DataFrame = {
    val frontier = census
      .withColumn("before_max", max("smax").over(
        Window.orderBy("price_cents")
          .rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("before_max").isNull || col("smax") > col("before_max"))
      .select(col("price_cents"), col("smax").as("p_size"))
    pts.join(broadcast(frontier), Seq("price_cents", "p_size"))
      .select(col("p_partkey"), col("p_brand"), col("price_cents"),
        col("p_size"))
      .orderBy("price_cents", "p_partkey")
  }

  def skyline(spark: SparkSession, dir: String): DataFrame = {
    val pts = skyPoints(Tables.part(spark, dir))
    skyFinish(pts, skyCensus(pts))
  }

  /** q_supplier_balance: supplier credit posture per nation — count,
    * debtors (negative balance), exact truncating mean of s_acctbal
    * cents, and the richest supplier's name (argmax pinned by
    * (balance desc, suppkey asc)). Completes schema coverage for
    * s_acctbal / s_name.
    *
    * Scale shape: dim-table-only — one nation-keyed agg + one
    * bounded-partition argmax window + the 25-row nation broadcast. */
  def supplierBalance(spark: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        floor(col("s_acctbal") * 100 + 0.5).cast("long").as("cents"))
    val top = sup
      .withColumn("rn", row_number().over(Window.partitionBy("s_nationkey")
        .orderBy(col("cents").desc, col("s_suppkey").asc)))
      .filter(col("rn") === 1)
      .select(col("s_nationkey"), col("s_name").as("top_supplier"),
        col("cents").as("top_cents"))
    sup.groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_suppliers"),
        sum(when(col("cents") < 0, 1L).otherwise(0L)).as("n_debtors"),
        expr("cast(cast(sum(cents) as decimal(38,0)) div count(1) as bigint)")
          .as("mean_cents"))
      .join(top, "s_nationkey")
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name").as("nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("nation", "n_suppliers", "n_debtors", "mean_cents",
        "top_supplier", "top_cents")
      .orderBy("nation")
  }

  /** q_gap_fill: the time-series GAP-FILL imputation audit — per
    * part, the monthly price series is completed over its own
    * min..max month axis and holes are filled by LOCF (last
    * observation carried forward, the imputation every rolling
    * statistic / as-of join silently assumes): per part the audit
    * reports axis length, observed vs imputed months, the LONGEST
    * imputation run (how stale the carried value got — the number a
    * data-quality SLA is written against), and the carried final
    * price. The longest run needs no gaps-and-islands pass: the
    * running last-OBSERVED month makes gap = m − last_obs_m, and its
    * max is the longest run.
    *
    * Exactness: observed month value pinned to MIN cents; months are
    * 30-day integer buckets (the q_growth_accounting convention);
    * LOCF = last(ignoreNulls) ↔ DuckDB last_value(IGNORE NULLS);
    * final value by max_by on the unique month axis.
    *
    * Scale shape: ONE (part, month) two-phase agg over the scan; the
    * axis explode is ∝ parts × calendar months (the bounded day-axis
    * family); every window PARTITIONS by part over ≤ months rows; the
    * report agg is two-phase. */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val monthUs = 86400000000L * 30
    val obs = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        expr(s"unix_micros(cast(l_shipdate as timestamp)) div $monthUs").as("m"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      .groupBy("l_partkey", "m").agg(min("cents").as("obs_cents"))
      .localCheckpoint() // reused: per-part axis bounds + the fill join
    val axis = obs.groupBy("l_partkey").agg(min("m").as("m0"), max("m").as("m1"))
      .select(col("l_partkey"), explode(sequence(col("m0"), col("m1"))).as("m"))
    val w = Window.partitionBy("l_partkey").orderBy("m")
      .rowsBetween(Window.unboundedPreceding, 0)
    axis.join(obs, Seq("l_partkey", "m"), "left")
      .withColumn("fill_cents", last("obs_cents", ignoreNulls = true).over(w))
      .withColumn("last_obs_m",
        last(when(col("obs_cents").isNotNull, col("m")), ignoreNulls = true).over(w))
      .withColumn("gap", col("m") - col("last_obs_m"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_months"),
        sum(when(col("obs_cents").isNotNull, 1L).otherwise(0L)).as("n_observed"),
        sum(when(col("obs_cents").isNull, 1L).otherwise(0L)).as("n_imputed"),
        max("gap").as("longest_gap"),
        expr("max_by(fill_cents, m)").as("last_cents"))
      .orderBy("l_partkey")
  }

  /** q_cohort_ltv: the LTV TRIANGLE — users cohorted by first-seen
    * month, revenue accounted by month-age since that cohort: per
    * (cohort, age) the active users, the age's purchase revenue, the
    * cumulative revenue, and LTV = cumulative revenue per cohort
    * member (div-exact cents). The canonical lifetime-value artifact
    * every growth team reads next to q_retention's activity triangle
    * and q_growth_accounting's ledger — same cohort axis, money
    * instead of presence.
    *
    * Scale shape: ONE per-user first-month agg; the cohort-size table
    * is month-axis bounded and BROADCASTS back; the triangle is one
    * (cohort, age) two-phase agg (distinct-user count included); the
    * cumulative window partitions by cohort over ≤ months rows. The
    * user-keyed join is the one required fact-fact shuffle (both
    * sides hash by user_id). */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val monthUs = 86400000000L * 30
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        expr(s"unix_micros(ts) div $monthUs").as("m"),
        when(col("event_type") === "purchase",
          floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L).as("cents"))
    val first = ev.groupBy("user_id").agg(min("m").as("cohort_m"))
    val sizes = first.groupBy("cohort_m").agg(count(lit(1)).as("n_users"))
    ev.join(first, "user_id")
      .withColumn("age", col("m") - col("cohort_m"))
      .groupBy("cohort_m", "age")
      .agg(sum("cents").as("rev_cents"),
        countDistinct("user_id").as("n_active"))
      .join(broadcast(sizes), "cohort_m")
      .withColumn("cum_rev_cents", sum("rev_cents").over(
        Window.partitionBy("cohort_m").orderBy("age")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("ltv_cents", expr("cum_rev_cents div n_users"))
      .select("cohort_m", "age", "n_users", "n_active", "rev_cents",
        "cum_rev_cents", "ltv_cents")
      .orderBy("cohort_m", "age")
  }

  /** q_conformal: a SPLIT-CONFORMAL prediction interval for purchase
    * value (Vovk's conformal prediction; the Lei et al. 2018 split
    * recipe) — the DISTRIBUTION-FREE guarantee the bootstrap
    * (q_bootstrap_ci) can't give: calibrate |residual| on the even
    * event_ids against the calibration-mean predictor, take the
    * ⌈(n+1)(1−α)⌉-th smallest residual as q̂ (α = 0.1), and report
    * the interval's MEASURED coverage on the held-out odd slice —
    * ≥ 90 % by exchangeability, now verified rather than assumed.
    *
    * Exactness: μ and q̂ are integer order/ratio statistics; the
    * conformal rank is the exact ceil identity ((n+1)·9+9) div 10;
    * the quantile comes off the residual HISTOGRAM (the
    * q_mann_whitney value-histogram trick — never a corpus sort);
    * coverage scales through decimal(38,0).
    *
    * Scale shape: two passes over the purchase slice (calibration
    * agg + residual histogram, then the test coverage reduce); the
    * only window rides the range-bounded residual axis; μ/k/q̂ are
    * 1-row broadcasts. */
  def conformal(spark: SparkSession, dir: String): DataFrame =
    confFinish(confCensus(Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))))

  /** The (parity, cents) value histogram over the purchase slice —
    * plain counts, ADDITIVE across micro-batches, so the streaming
    * twin (q_stream_conformal) upserts exactly this and shares
    * [[confFinish]] and the batch oracle. State is bounded by the
    * VALUE DOMAIN (distinct cents), not the corpus — the
    * q_mann_whitney histogram argument. */
  private[graft] def confCensus(p: DataFrame): DataFrame =
    p.select((col("event_id") % 2).as("parity"), col("cents"))
      .groupBy("parity", "cents").agg(count(lit(1)).as("cnt"))

  /** The conformal calibration + coverage finish over a converged
    * histogram census — SHARED by batch and stream so they cannot
    * disagree and share one oracle. */
  private[graft] def confFinish(census: DataFrame): DataFrame = {
    val cal = census.filter(col("parity") === 0)
    val head = cal.agg(sum("cnt").as("n_cal"),
        expr("sum(cast(cents as decimal(38,0)) * cnt) div sum(cnt)")
          .cast("long").as("mu_cents"))
      .withColumn("k", expr("least(((n_cal + 1) * 9 + 9) div 10, n_cal)"))
    val qhat = cal.crossJoin(broadcast(head))
      .select(abs(col("cents") - col("mu_cents")).as("r"), col("cnt"), col("k"))
      .groupBy("r").agg(sum("cnt").as("cnt"), max("k").as("k"))
      .withColumn("cum", sum("cnt").over(Window.orderBy("r")
        .rowsBetween(Window.unboundedPreceding, 0))) // bounded cents axis
      .filter(col("cum") >= col("k"))
      .agg(min("r").as("qhat_cents"))
    census.filter(col("parity") === 1)
      .crossJoin(broadcast(head.select("n_cal", "mu_cents")))
      .crossJoin(broadcast(qhat))
      .groupBy("n_cal", "mu_cents", "qhat_cents")
      .agg(sum("cnt").as("n_test"),
        sum(when(abs(col("cents") - col("mu_cents")) <= col("qhat_cents"),
          col("cnt")).otherwise(0L)).as("n_covered"))
      .withColumn("coverage_e6", expr(
        "cast((cast(n_covered as decimal(38,0)) * 1000000) div n_test as bigint)"))
      .withColumn("target_e6", lit(900000L))
      .select("n_cal", "n_test", "mu_cents", "qhat_cents", "n_covered",
        "coverage_e6", "target_e6")
  }

  /** q_ses_forecast: simple-exponential-smoothing one-step forecasts
    * of per-nation monthly order revenue — the level-tracking
    * forecaster (Brown/Holt SES, α = 1/2) that q_acf's weekly-
    * structure probe and q_theil_sen's trend fit lead up to. Per
    * nation the trailing-24-month revenue series (zero-filled over
    * the shared global month window, so "no orders" is a 0
    * observation, not a hole) is smoothed by the recurrence
    * s_t = (y_t + s_{t-1}) / 2 with s_0 = y_0, and each month
    * reports the level, the forecast the PREVIOUS level made for it,
    * and the absolute one-step error — the walk-forward evaluation a
    * forecast is actually judged by.
    *
    * Exactness: α = 1/2 makes the recurrence DYADIC — the closed
    * form is 2ᵗ·s_t = y_0 + Σ_{j=1..t} y_j·2^{j−1}, so the level is
    * one cumulative integer sum and one floored power-of-two
    * division, bit-identical in DuckDB (HUGEINT / `<<` / `//`). The
    * 24-month restart bounds the 2ᵗ weights at 2²³, keeping the
    * numerator inside decimal(38,0) to ~10¹⁴ monthly cents; the
    * dropped history carries weight ≤ 2⁻²⁴ — below one cent at any
    * revenue scale (that approximation is the DEFINED semantics,
    * verified by the spec's exact recurrence recompute).
    *
    * Scale shape: one orders×customer hash join (both sides keyed by
    * custkey — the one required fact-dim shuffle; nation broadcasts),
    * ONE (nation, month) two-phase agg, and everything after rides
    * the nations × 24-month axis: the zero-fill explode, the
    * cumulative window (partitioned by nation over ≤ 24 rows), and
    * the lag are all catalog-sized. */
  def sesForecast(spark: SparkSession, dir: String): DataFrame = {
    val monthUs = 86400000000L * 30
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"))
    val monthly = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        expr(s"unix_micros(cast(o_orderdate as timestamp)) div $monthUs").as("m"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey", "m").agg(sum("cents").as("y_cents"))
    val mx = monthly.agg(max("m").as("m1")).select(
      (col("m1") - 23).as("m0"), col("m1"))
    val axis = monthly.select("c_nationkey").distinct()
      .crossJoin(broadcast(mx))
      .select(col("c_nationkey"), explode(sequence(col("m0"), col("m1"))).as("m"),
        col("m0"))
    val w = Window.partitionBy("c_nationkey").orderBy("m")
      .rowsBetween(Window.unboundedPreceding, 0)
    axis.join(monthly, Seq("c_nationkey", "m"), "left")
      .withColumn("y_cents", coalesce(col("y_cents"), lit(0L)))
      .withColumn("j", col("m") - col("m0"))
      .withColumn("term", expr(
        "cast(y_cents as decimal(38,0)) * shiftleft(1L, cast(greatest(j - 1, 0L) as int))"))
      .withColumn("num", sum("term").over(w))
      .withColumn("level_cents", expr(
        "cast(num div shiftleft(1L, cast(j as int)) as bigint)"))
      .withColumn("forecast_cents",
        lag("level_cents", 1).over(Window.partitionBy("c_nationkey").orderBy("m")))
      .withColumn("abs_err_cents", abs(col("y_cents") - col("forecast_cents")))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select("n_name", "m", "j", "y_cents", "level_cents",
        "forecast_cents", "abs_err_cents")
      .orderBy("n_name", "m")
  }

  /** Trailing window for [[holtForecast]] — the same 24 months as
    * [[sesForecast]], so the two forecasters are directly
    * comparable. */
  private val HoltMonths = 24

  /** The Holt (α = β = ½) recursion unrolled over the bounded month
    * axis as EXACT INTEGERS — one generator emits the identical
    * expression chain for both engines (`castInt` spells the
    * wide-integer cast: decimal(38,0) in Spark, HUGEINT in DuckDB).
    *
    * Derivation: with L_t = 4ᵗ·l_t and B_t = 4ᵗ·b_t, the recurrences
    * l_t = (y_t + l_{t−1} + b_{t−1})/2 and b_t = (l_t − l_{t−1} +
    * b_{t−1})/2 become INTEGER updates
    *   L_t = 2^{2t−1}·y_t + 2·L_{t−1} + 2·B_{t−1}
    *   B_t = 2^{2t−2}·y_t −   L_{t−1} + 3·B_{t−1}
    * (init l₁ = y₁, b₁ = 0 → L₁ = 4·y₁, B₁ = 0), so the whole
    * coupled recursion is division-free until the final 4ᵗ floor —
    * the dyadic-SES trick extended to a 2-state model. The largest
    * literal is 2^{2·24−1} = 2⁴⁷; numerators stay inside
    * decimal(38,0) to ~10¹⁵ monthly cents. */
  private def holtExprs(castInt: String => String): Seq[(String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    out += (("l1", s"${castInt("y1")} * 4"))
    out += (("b1", castInt("0")))
    for (t <- 2 to HoltMonths) {
      out += ((s"l$t",
        s"${castInt(s"y$t")} * ${1L << (2 * t - 1)} + 2 * l${t - 1} + 2 * b${t - 1}"))
      out += ((s"b$t",
        s"${castInt(s"y$t")} * ${1L << (2 * t - 2)} - l${t - 1} + 3 * b${t - 1}"))
    }
    out.toSeq
  }

  /** The per-nation trailing-[[HoltMonths]]-month revenue series
    * pivoted to one row per nation (y1..y24, zero-filled by the
    * conditional sums) — the shared substrate of [[holtForecast]] and
    * [[forecastEval]]: one orders×customer hash join, ONE (nation,
    * month) two-phase agg, then a nations-row conditional-sum agg. */
  /** The (nation, month) revenue census over any `orders`-shaped
    * frame — batch table or stream. Plain integer-cent sums, ADDITIVE
    * across micro-batches; the customer dim broadcasts (stream-static
    * join, stateless). State ∝ nations × months, never the corpus. */
  private[graft] def holtCensus(orders: DataFrame, cust: DataFrame): DataFrame = {
    val monthUs = 86400000000L * 30
    orders
      .select(col("o_custkey"),
        expr(s"unix_micros(cast(o_orderdate as timestamp)) div $monthUs").as("m"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      .join(broadcast(cust.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey", "m").agg(sum("cents").as("y_cents"))
  }

  /** The y1..y24 trailing-window pivot over a converged census —
    * shared by batch and stream. */
  private[graft] def holtPivotOf(census: DataFrame): DataFrame = {
    val mx = census.agg((max("m") - (HoltMonths - 1)).as("m0"))
    census.crossJoin(broadcast(mx))
      .groupBy("c_nationkey")
      .agg(sum(when(col("m") === col("m0"), col("y_cents")).otherwise(0L)).as("y1"),
        (2 to HoltMonths).map(t =>
          sum(when(col("m") === col("m0") + (t - 1), col("y_cents"))
            .otherwise(0L)).as(s"y$t")): _*)
  }

  private def holtPivot(spark: SparkSession, dir: String): DataFrame =
    holtPivotOf(holtCensus(Tables.orders(spark, dir),
      Tables.customer(spark, dir)))

  /** The unrolled-recursion finish over a converged census — shared
    * by batch and stream (one oracle). */
  private[graft] def holtFinish(spark: SparkSession, dir: String,
      census: DataFrame): DataFrame = {
    val nat = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"))
    var row = holtPivotOf(census)
    for ((name, e) <- holtExprs(s => s"cast($s as decimal(38,0))"))
      row = row.withColumn(name, expr(e))
    val h = HoltMonths
    val s24 = 1L << (2 * h)       // 4^24
    val s23 = 1L << (2 * (h - 1)) // 4^23
    row.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        expr(s"cast(l$h div $s24 as bigint)").as("level_cents"),
        expr(s"cast(b$h div $s24 as bigint)").as("trend_cents"),
        expr(s"cast((l$h + b$h) div $s24 as bigint)").as("forecast_cents"),
        expr(s"cast((l${h - 1} + b${h - 1}) div $s23 as bigint)").as("bt_forecast_cents"),
        col(s"y$h").as("y_last_cents"),
        expr(s"abs(y$h - cast((l${h - 1} + b${h - 1}) div $s23 as bigint))")
          .as("bt_abs_err_cents"))
      .orderBy("n_name")
  }

  /** q_holt_forecast: Holt double-exponential smoothing (α = β = ½)
    * of per-nation monthly order revenue — the LEVEL+TREND forecaster
    * [[sesForecast]] leads up to: SES's flat forecast lags any
    * trending series by design; Holt carries an explicit trend state
    * and forecasts l + b, so a steadily growing nation stops being a
    * permanent under-forecast. Per nation: final level and trend, the
    * next-month forecast, and the walk-forward backtest of the LAST
    * month (forecast from the t−1 state vs the actual) — the one-step
    * error a forecaster is judged by.
    *
    * Exactness: the coupled recursion is unrolled by [[holtExprs]]
    * into division-free integer updates scaled by 4ᵗ (see there), so
    * level/trend/forecasts are exact integer numerators with ONE
    * truncating 4ᵗ division each at the very end — no IEEE anywhere,
    * bit-identical in DuckDB by construction (negative trends ride
    * the q_qini-verified div ≡ // agreement).
    *
    * Scale shape: the same orders×customer hash join and ONE
    * (nation, month) two-phase agg as SES; the pivot is a
    * nations-row conditional-sum agg and the 47-column recursion is
    * constant scalar work per nation — at 10¹² orders it is STILL 25
    * rows × 47 integer columns. */
  def holtForecast(spark: SparkSession, dir: String): DataFrame =
    holtFinish(spark, dir, holtCensus(Tables.orders(spark, dir),
      Tables.customer(spark, dir)))

  /** The walk-forward error chain for [[forecastEval]], emitted once
    * for both engines (`castInt` as in [[holtExprs]]; `divOp` is
    * `div` in Spark, `//` in DuckDB — both truncate toward zero on
    * these non-negative numerators). Assumes the [[holtExprs]]
    * columns are already defined; adds the dyadic SES numerators
    * (sn_t = 2^{t−1}·s_t, the [[sesForecast]] closed form 1-indexed),
    * the per-step absolute one-step errors of all three forecasters
    * over t = 2..[[HoltMonths]], and their exact integer sums. */
  private def forecastEvalExprs(castInt: String => String,
      divOp: String): Seq[(String, String)] = {
    val h = HoltMonths
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    // closed form (no chaining): sn_t = y1 + Σ_{k=2..t} y_k·2^{k−2}
    for (t <- 1 to h)
      out += ((s"sn$t", (Seq(castInt("y1")) ++ (2 to t).map(k =>
        s"${castInt(s"y$k")} * ${1L << (k - 2)}")).mkString(" + ")))
    for (t <- 2 to h) {
      out += ((s"en$t", s"abs(${castInt(s"y$t")} - ${castInt(s"y${t - 1}")})"))
      out += ((s"es$t",
        s"abs(${castInt(s"y$t")} - (sn${t - 1} $divOp ${1L << (t - 2)}))"))
      out += ((s"eh$t",
        s"abs(${castInt(s"y$t")} - ((l${t - 1} + b${t - 1}) $divOp ${1L << (2 * (t - 1))}))"))
    }
    out += (("se_naive", (2 to h).map(t => s"en$t").mkString(" + ")))
    out += (("se_ses", (2 to h).map(t => s"es$t").mkString(" + ")))
    out += (("se_holt", (2 to h).map(t => s"eh$t").mkString(" + ")))
    out.toSeq
  }

  /** q_forecast_eval: the walk-forward shoot-out of the three
    * forecasters over the SAME per-nation 24-month window — naive
    * (ŷ_t = y_{t−1}), SES ([[sesForecast]]'s α = ½ level), and Holt
    * ([[holtForecast]]'s level+trend): per nation the one-step MAE of
    * each, plus MASE (Hyndman & Koehler 2006 — each model's MAE over
    * the naive MAE, THE scale-free "did the model beat doing
    * nothing?" number a forecast is promoted on; < 10⁶ means yes).
    * Completes the forecasting arc: q_acf/q_pacf find structure, SES/
    * Holt model it, this row says which model earned deployment.
    *
    * Exactness: every forecast is the exact integer state the model
    * queries own (dyadic SES numerators, 4ᵗ-scaled Holt pairs — the
    * SAME generator chains), every error an integer |y − ŷ|, every
    * summary one truncating division; no IEEE anywhere. An all-flat
    * nation (naive MAE 0) pins MASE −1.
    *
    * Scale shape: identical to [[holtForecast]] — the one
    * (nation, month) two-phase agg, then constant per-nation scalar
    * work (≈ 120 integer columns Catalyst keeps as a linear
    * projection chain). */
  def forecastEval(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"))
    val castDec = (s: String) => s"cast($s as decimal(38,0))"
    // localCheckpoint cuts the ~190-column integer chain into two
    // whole-stage-codegen units: one giant unit costs Janino ~20 s of
    // COMPILE time (constant, data-independent — but paid per plan);
    // the split compiles in ~1 s and materializes only nations × 71
    // integer columns
    var row = holtPivot(spark, dir)
    for ((name, e) <- holtExprs(castDec)) row = row.withColumn(name, expr(e))
    row = row.localCheckpoint()
    for ((name, e) <- forecastEvalExprs(castDec, "div"))
      row = row.withColumn(name, expr(e))
    val n = HoltMonths - 1
    row.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), lit(n.toLong).as("n_eval"),
        expr(s"cast(se_naive div $n as bigint)").as("mae_naive_cents"),
        expr(s"cast(se_ses div $n as bigint)").as("mae_ses_cents"),
        expr(s"cast(se_holt div $n as bigint)").as("mae_holt_cents"),
        expr("""case when se_naive = 0 then cast(-1 as bigint)
          |else cast((se_ses * 1000000) div se_naive as bigint) end"""
          .stripMargin.replace('\n', ' ')).as("mase_ses_e6"),
        expr("""case when se_naive = 0 then cast(-1 as bigint)
          |else cast((se_holt * 1000000) div se_naive as bigint) end"""
          .stripMargin.replace('\n', ' ')).as("mase_holt_e6"))
      .orderBy("n_name")
  }

  /** q_cusum_change: CUSUM changepoint detection on the daily
    * purchase-revenue series — "did the level shift, and when?", the
    * monitoring question behind every deploy/pricing-incident
    * retro (Page 1954). The day series is zero-filled over the
    * global min..max day axis; the cumulative sum of deviations from
    * the series mean peaks in magnitude AT the changepoint, so the
    * report carries each day's CUSUM, the flagged argmax day (ties →
    * earliest), and the pre/post-change mean levels whose gap is the
    * detected shift.
    *
    * Exactness: n-scaled centering (the q_acf trick) keeps the whole
    * statistic integer — dev_t = n·y_t − S needs no division, so
    * cusum_t = n·prefix_t − t·S is exact in decimal(38,0)/HUGEINT;
    * the only divisions are the final pre/post means, floored
    * identically in both engines.
    *
    * Scale shape: ONE two-phase day agg over the purchase scan;
    * everything after (axis explode, the cumulative window, the
    * argmax, the means) rides the bounded day axis — the global
    * ORDER BY window is over calendar days, not the corpus. Shared
    * census/finish split so the streaming twin (q_stream_cusum)
    * upserts the ADDITIVE day census and cannot disagree with the
    * batch answer. */
  def cusumChange(spark: SparkSession, dir: String): DataFrame =
    cusumFinish(cusumCensus(Tables.events(spark, dir)))

  /** The per-day purchase-cents census — plain sums, ADDITIVE across
    * micro-batches; state ∝ the day axis, not the corpus. */
  private[graft] def cusumCensus(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "purchase")
      .select(expr("unix_micros(ts) div 86400000000").as("d"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .groupBy("d").agg(sum("cents").as("cents"))

  /** The CUSUM finish over a converged day census — SHARED by batch
    * and stream so they share one oracle. */
  private[graft] def cusumFinish(census: DataFrame): DataFrame = {
    val bounds = census.agg(min("d").as("d0"), max("d").as("d1"))
    val axis = bounds.select(explode(sequence(col("d0"), col("d1"))).as("d"),
      col("d0"))
    val days = axis.join(census, Seq("d"), "left")
      .withColumn("y_cents", coalesce(col("cents"), lit(0L)))
      .withColumn("idx", col("d") - col("d0") + 1)
    val tot = days.agg(count(lit(1)).as("n"), sum("y_cents").as("s"))
    val cu = days.crossJoin(broadcast(tot))
      .withColumn("prefix", sum("y_cents").over(Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0))) // bounded day axis
      .withColumn("cusum", expr(
        "cast(n as decimal(38,0)) * prefix - cast(idx as decimal(38,0)) * s"))
      .localCheckpoint() // reused: argmax + means + final projection
    val cpDay = cu.crossJoin(broadcast(
        cu.agg(max(abs(col("cusum"))).as("mxabs"))))
      .filter(abs(col("cusum")) === col("mxabs"))
      .agg(min("d").as("cp_d"))
    val summary = cu.crossJoin(broadcast(cpDay))
      .groupBy("cp_d")
      .agg(sum(when(col("d") <= col("cp_d"), col("y_cents"))).as("pre_s"),
        sum(when(col("d") <= col("cp_d"), 1L).otherwise(0L)).as("pre_n"),
        sum(when(col("d") > col("cp_d"), col("y_cents"))).as("post_s"),
        sum(when(col("d") > col("cp_d"), 1L).otherwise(0L)).as("post_n"))
      .select(col("cp_d"),
        expr("pre_s div pre_n").as("pre_mean_cents"),
        expr("case when post_n = 0 then cast(-1 as bigint) "
          + "else post_s div post_n end").as("post_mean_cents"))
    cu.crossJoin(broadcast(summary))
      .select(col("d"), col("y_cents"),
        col("cusum").cast("long").as("cusum_ns"),
        (col("d") === col("cp_d")).as("is_cp"),
        col("cp_d"), col("pre_mean_cents"), col("post_mean_cents"))
      .orderBy("d")
  }

  /** q_eb_shrink: empirical-Bayes beta-binomial shrinkage of the
    * per-part return rate — the small-sample fix every rate
    * leaderboard needs (a part with 1 return out of 2 lineitems is
    * NOT a 50%-return part): fit a Beta prior to the observed
    * per-part rate distribution by method of moments (Robbins 1956 /
    * the Efron–Morris batting-average recipe), then report each
    * part's posterior-mean rate (x + μν) / (n + ν) — low-n parts
    * collapse to the corpus prior, high-n parts keep their data.
    *
    * Exactness: everything is integer — rates in e6 (floored once),
    * the prior moments as exact sums s1 = Σr, s2 = Σr², the variance
    * numerator k·s2 − s1² (the n-scaled trick, no division), and the
    * prior strength ν = ⌊μ(1−μ)·k² / var_num⌋ − 1 clamped to
    * [1, 10⁹] (a degenerate zero-variance corpus pins to the cap —
    * "ignore the data" is the correct limit). Products stay inside
    * decimal(38,0)/HUGEINT to ~10⁷ parts.
    *
    * Scale shape: ONE (part) two-phase agg over the lineitem scan;
    * the prior is a catalog-sized 1-row agg broadcast back; the
    * posterior is pure column arithmetic. No window anywhere. */
  def ebShrink(spark: SparkSession, dir: String): DataFrame =
    ebFinish(ebCensus(Tables.lineitem(spark, dir)))

  /** The per-part (n, x) counting census — plain counts, ADDITIVE
    * across micro-batches; the streaming twin (q_stream_eb) upserts
    * exactly this through the durable keyed [[graft.streaming
    * .TableSink]] (part-keyed state is TABLE-sized, not sketch-sized
    * — the reference's Cassandra-sink contract, never a driver map)
    * and shares [[ebFinish]] and the batch oracle. */
  private[graft] def ebCensus(li: DataFrame): DataFrame =
    li.groupBy("l_partkey")
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("x"))

  /** The moments fit + posterior projection over a converged census —
    * SHARED by batch and stream so they share one oracle. */
  private[graft] def ebFinish(census: DataFrame): DataFrame = {
    val rates = census
      .withColumn("raw_e6", expr("x * 1000000 div n"))
      .localCheckpoint() // reused: prior moments + posterior projection
    val prior = rates.agg(count(lit(1)).as("k"),
        sum("raw_e6").as("s1"),
        sum(expr("cast(raw_e6 as decimal(38,0)) * raw_e6")).as("s2"))
      .withColumn("mu_e6", expr("s1 div k"))
      .withColumn("var_num", expr(
        "cast(k as decimal(38,0)) * s2 - cast(s1 as decimal(38,0)) * s1"))
      .withColumn("nu", expr(
        """cast(case when var_num = 0 then 1000000000 else
          | least(greatest((cast(mu_e6 as decimal(38,0)) * (1000000 - mu_e6)
          |   * k * k) div var_num - 1, 1), 1000000000) end as bigint)"""
          .stripMargin.replace('\n', ' ')))
      .select("k", "mu_e6", "nu")
    rates.crossJoin(broadcast(prior))
      .withColumn("shrunk_e6", expr(
        """cast((cast(x as decimal(38,0)) * 1000000 + cast(mu_e6 as decimal(38,0)) * nu)
          | div (n + nu) as bigint)""".stripMargin.replace('\n', ' ')))
      .select("l_partkey", "n", "x", "raw_e6", "mu_e6", "nu", "shrunk_e6")
      .orderBy("l_partkey")
  }

  /** q_power_mde: the minimal-detectable-effect audit of the A/B
    * split — for every outcome event_type, given the CURRENT arm
    * sizes and pooled conversion rate, the smallest absolute (and
    * relative) rate difference a two-proportion z-test would detect
    * at α = 0.05 / power = 0.80: MDE = (z_{α/2} + z_β) ·
    * √(p̂(1−p̂)(1/n₀+1/n₁)). The pre-experiment sanity check the
    * χ²/CUPED/log-rank family assumes was done — "is this test even
    * capable of seeing the effect size we care about?". The exposure
    * unit is the user-DAY (a user active on a day either reached the
    * outcome that day or didn't) — lifetime user-level conversion
    * saturates to 1 on any long horizon and has no detectable margin
    * left (exactly what this audit would report: MDE = 0).
    *
    * Exactness: the q_wilson_rates IEEE contract — both engines build
    * the IDENTICAL double expression tree (literal z constants, one
    * division per factor, one sqrt), so every bit matches and the
    * final e6 floor is engine-independent. Counts stay integer until
    * the last step.
    *
    * Scale shape: one (user, type) two-phase distinct (shared shape
    * with q_chi2_abtest), then everything is catalog-sized — per-type
    * conversions and the broadcast 1-row arm totals feed pure column
    * arithmetic. */
  /** z_{α/2} + z_β for α=.05, power=.80 — summed ONCE here so the
    * engine expr and the oracle literal are the same double bits. */
  private[graft] val MdeZ: Double = 1.959963984540054 + 0.8416212335729143

  def powerMde(spark: SparkSession, dir: String): DataFrame = {
    val z = MdeZ
    val flags = Tables.events(spark, dir)
      .select((col("user_id") % 2).as("variant"), col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("d"),
        col("event_type")).distinct()
      .localCheckpoint() // conv counts + arm totals share it
    val arms = flags.select("variant", "user_id", "d").distinct()
      .groupBy().pivot("variant", Seq(0, 1)).count()
      .select(col("0").as("n0"), col("1").as("n1"))
    flags.groupBy("event_type")
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("conv0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("conv1"))
      .crossJoin(broadcast(arms))
      .withColumn("p_hat", expr(
        "cast(conv0 + conv1 as double) / cast(n0 + n1 as double)"))
      .withColumn("mde", expr(
        s"$z * sqrt(p_hat * (1.0d - p_hat) " +
          "* (1.0d / cast(n0 as double) + 1.0d / cast(n1 as double)))"))
      .withColumn("p_e6", floor(col("p_hat") * 1e6).cast("long"))
      .withColumn("mde_e6", floor(col("mde") * 1e6).cast("long"))
      .withColumn("mde_rel_e6", expr(
        """case when p_hat = 0.0d then cast(-1 as bigint)
          | else cast(floor(mde / p_hat * 1000000.0d) as bigint) end"""
          .stripMargin.replace('\n', ' ')))
      .select("event_type", "n0", "n1", "conv0", "conv1", "p_e6",
        "mde_e6", "mde_rel_e6")
      .orderBy("event_type")
  }

  /** q_user_recs: per-customer top-3 part recommendations — the
    * SERVING step over q_copurchase's item-item cosine neighbors
    * ("customers who bought X also bought Y", scored per customer):
    * each customer's owned parts vote for their top-3 co-purchase
    * neighbors, votes sum by candidate (cos²-e6 weights), owned
    * parts are excluded (you don't recommend what the customer
    * already has), and the top-3 by (score, vote count, part id) —
    * a total order, so the board is engine-independent.
    *
    * Scale shape: the neighbor table is catalog×3 and joins the
    * ownership table BY PART (hash equi-join — at 10⁸ parts neither
    * side broadcasts, both hash by part); ownership itself is the one
    * required fact-fact shuffle (orders⋈lineitem co-keyed on
    * orderkey); candidate fan-out is owned×3, collapsed by a
    * (customer, candidate) two-phase agg; the anti-join and the
    * top-3 window partition by customer. */
  def userRecs(spark: SparkSession, dir: String): DataFrame = {
    val nbrs = copurchase(spark, dir)
      .select(col("part_a"), col("part_b"), col("cos2_e6"))
    val owned = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey").as("part")).distinct()
      .localCheckpoint() // reused: candidate votes + the owned exclusion
    val cand = owned.join(nbrs, col("part") === col("part_a"))
      .groupBy(col("o_custkey"), col("part_b"))
      .agg(sum("cos2_e6").as("score_e6"), count(lit(1)).as("n_src"))
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("score_e6").desc, col("n_src").desc, col("part_b").asc)
    cand.join(owned,
        cand("o_custkey") === owned("o_custkey") &&
          cand("part_b") === owned("part"), "left_anti")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("rnk"), col("part_b").as("rec_part"),
        col("score_e6"), col("n_src"))
      .orderBy("o_custkey", "rnk")
  }

  /** q_seq_patterns: sequential-pattern mining over the event stream
    * (the PrefixSpan support core, Pei et al. 2001, specialized to
    * the bounded event-type alphabet): for every ordered pair a→b
    * and triple a→b→c of DISTINCT types, the number of users whose
    * history contains the pattern as a (strict-time) subsequence,
    * with e6 user share. Existence is decided by the leftmost-greedy
    * walk — earliest a, then earliest b after it, then any c after
    * that — which is the exact subsequence test (greedy is optimal:
    * taking the earliest occurrence only ever leaves more room).
    *
    * Scale shape: per-user (type) min/max timestamps are ONE
    * two-phase agg; the only corpus-sized expansion is the
    * b-after-a staging join — events × alphabet, collapsed
    * immediately by a (user, a, b) min-agg, all keyed by user (one
    * shuffle family); pattern support is a ≤ alphabet³-sized agg and
    * the report is catalog-bounded (≤ 80 rows at 5 types). */
  def seqPatterns(spark: SparkSession, dir: String): DataFrame =
    seqPatternsFrom(Tables.events(spark, dir)
      .select(col("user_id"), col("event_type").as("t"),
        expr("unix_micros(ts)").as("us")))

  /** The pattern-support kernel over a (user_id, t, us) history —
    * factored so the spec can drive it with a synthetic
    * non-saturated corpus. */
  private[graft] def seqPatternsFrom(ev: DataFrame): DataFrame = {
    val firstA = ev.groupBy(col("user_id"), col("t").as("a"))
      .agg(min("us").as("ta"))
    val maxC = ev.groupBy(col("user_id"), col("t").as("c"))
      .agg(max("us").as("tc"))
    val nU = ev.agg(countDistinct("user_id").as("n_users"))
    val pairs = firstA.join(maxC, "user_id")
      .filter(col("a") =!= col("c") && col("ta") < col("tc"))
      .groupBy("a", "c").agg(count(lit(1)).as("support"))
      .select(lit(2L).as("len"),
        concat(col("a"), lit(">"), col("c")).as("pattern"), col("support"))
    val bAfterA = ev.join(firstA, "user_id")
      .filter(col("t") =!= col("a") && col("us") > col("ta"))
      .groupBy(col("user_id"), col("a"), col("t").as("b"))
      .agg(min("us").as("tb"))
    val triples = bAfterA.join(maxC, "user_id")
      .filter(col("c") =!= col("a") && col("c") =!= col("b") &&
        col("tc") > col("tb"))
      .groupBy("a", "b", "c").agg(count(lit(1)).as("support"))
      .select(lit(3L).as("len"),
        concat(col("a"), lit(">"), col("b"), lit(">"), col("c")).as("pattern"),
        col("support"))
    pairs.unionByName(triples)
      .crossJoin(broadcast(nU))
      .withColumn("share_e6", expr("support * 1000000 div n_users"))
      .select("len", "pattern", "support", "share_e6")
      .orderBy(col("support").desc, col("pattern").asc)
  }

  /** q_ts_decompose: classical additive decomposition of the daily
    * purchase-revenue series — y = trend + seasonal + remainder
    * (the moving-average decomposition every STL variant refines;
    * Kendall's "classical" method): trend is the centered 7-day
    * moving average (partial at the edges — sum÷count over the
    * available window), the seasonal index is the per-day-of-week
    * mean of the detrended series re-centered to sum ≈ 0, and the
    * remainder is what's left — the input q_anomaly_mad should be
    * run on, and the structure q_acf detects made explicit.
    *
    * Exactness: all integer cents with truncating divisions —
    * trending/seasonal means floor toward zero IDENTICALLY in both
    * engines (verified: Spark `div` and DuckDB `//` both truncate on
    * negatives), so detrended (and thus seasonal) values may be
    * negative yet stay bit-exact.
    *
    * Scale shape: ONE two-phase day agg over the purchase scan; the
    * axis zero-fill, the centered window, the 7-row seasonal table
    * (broadcast back), and the projection all ride the bounded day
    * axis. */
  def tsDecompose(spark: SparkSession, dir: String): DataFrame = {
    val census = cusumCensus(Tables.events(spark, dir)) // per-day cents
    val axis = census.agg(min("d").as("d0"), max("d").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("d"))
    val wc = Window.orderBy("d").rowsBetween(-3, 3) // bounded day axis
    val days = axis.join(census, Seq("d"), "left")
      .withColumn("y_cents", coalesce(col("cents"), lit(0L)))
      .withColumn("tsum", sum("y_cents").over(wc))
      .withColumn("tcnt", count(lit(1)).over(wc))
      .withColumn("trend_cents", expr("tsum div tcnt"))
      .withColumn("dow", col("d") % 7)
      .withColumn("detr", col("y_cents") - col("trend_cents"))
      .localCheckpoint() // reused: seasonal fit + final projection
    val seas = days.groupBy("dow")
      .agg(expr("sum(detr) div count(1)").as("seas_raw"))
    val seasC = seas.crossJoin(broadcast(
        seas.agg(expr("sum(seas_raw) div 7").as("seas_mu"))))
      .select(col("dow"), (col("seas_raw") - col("seas_mu")).as("seasonal_cents"))
    days.join(broadcast(seasC), "dow")
      .withColumn("remainder_cents",
        col("y_cents") - col("trend_cents") - col("seasonal_cents"))
      .select("d", "dow", "y_cents", "trend_cents", "seasonal_cents",
        "remainder_cents")
      .orderBy("d")
  }

  /** q_ols_price: closed-form two-regressor OLS of line price on
    * quantity and discount — price_cents ~ b0 + b1·qty + b2·disc_e2,
    * the one-pass distributed linear regression (exact sufficient
    * moments + Cramer's rule on the 3×3 normal equations) that
    * MLlib's iterative solvers replace only when features stop
    * fitting in a closed form. Reports the coefficients (e2 cents),
    * R², and n — the pricing team's "does discount actually move
    * revenue per line?" answer with effect sizes, where
    * q_discount_effect only bins.
    *
    * Exactness: the ten sufficient statistics are EXACT
    * decimal(38,0)/HUGEINT sums from ONE corpus pass; the solve is
    * the q_wilson_rates IEEE contract — both engines evaluate the
    * textually identical double tree (explicit cofactor expansion,
    * one division per coefficient), so every e2/e6 floor is
    * bit-stable. Singular normal equations → the −9999999 sentinel.
    *
    * Scale shape: ONE 1-row two-phase aggregate over the scan —
    * map-side partials do all the work; the solve is constant-time
    * column arithmetic on the broadcastable 1-row result. The
    * moments are ADDITIVE across micro-batches, so the streaming
    * twin (q_stream_ols) upserts exactly this census and shares
    * [[olsFinish]] and the batch oracle. */
  def olsPrice(spark: SparkSession, dir: String): DataFrame =
    olsFinish(olsCensus(Tables.lineitem(spark, dir)))

  /** The pinned channel→bit alphabet of the Shapley attribution
    * (the generator's non-purchase event types; a production run
    * derives it from a catalog scan — the oracle embeds it). */
  private[graft] val ShapChannels =
    Seq(("click", 1L), ("error", 2L), ("signup", 4L), ("view", 8L))

  /** q_shapley_attr: Shapley-value channel attribution — the
    * cooperative-game credit split (Shapley 1953; the "data-driven
    * attribution" model) that q_attribution's last-touch rule
    * approximates: the characteristic function v(S) = observed
    * conversion rate of users exposed to exactly channel-set S, and
    * each channel's credit is its average marginal contribution
    * φᵢ = Σ_{S⊆N\{i}} |S|!(n−1−S|)!/n! · (v(S∪i) − v(S)) over all
    * 2³ sub-coalitions (unobserved coalitions contribute v = 0, the
    * standard empirical convention). Last-touch gives the closer
    * 100% of the credit; Shapley pays the assist channels — the
    * budget-allocation answer marketing actually wants.
    *
    * Exactness: exposure masks and conversions are exact integers;
    * v is an e6 integer rate; with n = 4 the Shapley weights are
    * 3/12, 1/12, 1/12, 3/12, so φ_e6 = Σ mult·Δv_e6 div 12 is ONE
    * truncating division on a possibly-negative sum (Spark div ≡
    * DuckDB // on negatives, verified at q_ts_decompose).
    *
    * Scale shape: ONE (user) two-phase agg over the event scan —
    * the only corpus-sized stage; the mask table is ≤ 2⁴ rows, and
    * the channel × sub-coalition grid (4 × 8) with its two
    * broadcast lookups is constant work. At 100 TB nothing after
    * the user agg grows. */
  def shapleyAttr(spark: SparkSession, dir: String): DataFrame = {
    val u = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(ShapChannels.map { case (c, b) =>
          max(when(col("event_type") === c, b).otherwise(0L))
        }.reduce(_ + _).as("mask"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
    val vt = u.groupBy("mask")
      .agg(count(lit(1)).as("users"), sum("conv").as("convs"))
      .withColumn("v_e6", expr("convs * 1000000 div users"))
      .localCheckpoint() // ≤ 16 rows; grid + exposure reuse it
    val ch = { import spark.implicits._; ShapChannels.toDF("channel", "bit") }
    val subsets = spark.range(0, 1L << ShapChannels.size)
      .select(col("id").as("s"))
    val grid = broadcast(ch).crossJoin(broadcast(subsets))
      .filter(expr("(s & bit) = 0"))
      .withColumn("s1", expr("s | bit"))
      .join(broadcast(vt.select(col("mask").as("s"), col("v_e6").as("v0"))),
        Seq("s"), "left")
      .join(broadcast(vt.select(col("mask").as("s1"), col("v_e6").as("v1"))),
        Seq("s1"), "left")
      .withColumn("mult", expr(
        "case bit_count(s) when 0 then 3L when 3 then 3L else 1L end"))
    val phi = grid.groupBy("channel")
      .agg(sum(expr("mult * (coalesce(v1, 0L) - coalesce(v0, 0L))"))
        .as("msum"))
      .withColumn("phi_e6", expr("msum div 12"))
    val exposed = broadcast(ch).crossJoin(broadcast(vt))
      .filter(expr("(mask & bit) != 0"))
      .groupBy("channel").agg(sum("users").as("n_exposed"),
        sum("convs").as("n_conv_exposed"))
    phi.join(exposed, Seq("channel"), "left")
      .select(col("channel"),
        coalesce(col("n_exposed"), lit(0L)).as("n_exposed"),
        coalesce(col("n_conv_exposed"), lit(0L)).as("n_conv_exposed"),
        col("phi_e6"))
      .orderBy("channel")
  }

  /** Score deciles in the uplift report (pinned — the oracle embeds
    * it). */
  private[graft] val QiniBins = 10L

  /** q_qini: uplift-by-decile evaluation of a targeting score with
    * the Qini curve — the "who should we TREAT?" report that
    * q_chi2_abtest's single average effect can't answer. Users are
    * ranked by an engagement score (non-purchase event count — the
    * observable proxy a targeting model would replace), cut into
    * [[QiniBins]] deciles (best-scored = decile 1), and each decile
    * reports its treatment-vs-control conversion uplift plus the
    * cumulative Qini value Q(k) = cumConvₜ − cumConv_c·cumNₜ/cumN_c —
    * excess conversions bought by treating the top k deciles. A
    * targeting score is worth deploying iff Q rises fast then
    * flattens; anti-targeting shows up as negative early uplift.
    *
    * Exactness: conversions/counts are exact integers; decile cuts
    * use the q_quantile_bins whole-bin formula on the score
    * HISTOGRAM (ties land together, no row_number lottery);
    * uplift_e6 and qini_e6 are integer div floors — no IEEE anywhere.
    *
    * Scale shape: one (user) two-phase agg over the event scan, a
    * bounded score histogram (≤ distinct engagement counts) with a
    * bounded-axis cumulative, decile assignment as a BROADCAST map
    * join back onto users (users never reshuffle on score), then a
    * 10-row finish with bounded-axis cumulatives. */
  def qini(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"),
        sum(when(col("event_type") =!= "purchase", 1L).otherwise(0L))
          .as("score"))
      .withColumn("variant", col("user_id") % 2)
    val deciles = users.groupBy("score").agg(count(lit(1)).as("c"))
      .withColumn("cum_le", sum("c").over(
        Window.orderBy(col("score").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(Window.partitionBy()))
      .select(col("score"),
        expr(s"(cum_le - c) * $QiniBins div n + 1").as("decile"))
    val grid = users.join(broadcast(deciles), "score")
      .groupBy("decile")
      .agg(sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("variant") === 1, col("conv")).otherwise(0L))
          .as("conv_t"),
        sum(when(col("variant") === 0, col("conv")).otherwise(0L))
          .as("conv_c"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("uplift_e6", expr(
        """case when n_t = 0 or n_c = 0 then cast(0 as bigint)
          |else conv_t * 1000000 div n_t - conv_c * 1000000 div n_c
          |end""".stripMargin.replace('\n', ' ')))
      .withColumn("cnt", sum("n_t").over(w))
      .withColumn("cnc", sum("n_c").over(w))
      .withColumn("cct", sum("conv_t").over(w))
      .withColumn("ccc", sum("conv_c").over(w))
      .withColumn("qini_e6", expr(
        """case when cnc = 0 then cast(0 as bigint)
          |else (cct * cnc - ccc * cnt) * 1000000 div cnc
          |end""".stripMargin.replace('\n', ' ')))
      .select("decile", "n_t", "n_c", "conv_t", "conv_c",
        "uplift_e6", "qini_e6")
      .orderBy("decile")
  }

  /** q_spearman: tie-aware Spearman rank correlation between the
    * three bounded lineitem measures (quantity 1..50, discount
    * 0..10 %, tax 0..8 %) — the monotone-association audit OLS can't
    * give (q_ols_price fits a LINE; ρ_s answers "does more quantity
    * move discount AT ALL, monotonically?", robust to any monotone
    * transform and to the heavy price tails). One row per pair.
    *
    * Exactness: every value is mapped to its DOUBLED mid-rank
    * (2·rank keeps half-integer tie averages integral), then CENTERED
    * by 2·mean = n+1 — so Σ c·R′ = 0 exactly by the rank-sum identity
    * and ρ needs only the three cross moments Σ c·R′ₐR′ᵦ, Σ c·R′ₐ²,
    * Σ c·R′ᵦ², each an exact decimal(38,0)/HUGEINT sum bounded by n³
    * (safe past 10¹² rows — the UNcentered n·s formulation overflows
    * at n ≈ 10⁹·⁵, which is WHY the centering is load-bearing). The
    * final ρ = s₁₂/(√s₁₁·√s₂₂) is the shared IEEE contract: both
    * engines evaluate the textually identical double tree, one floor.
    *
    * Scale shape: ONE corpus scan builds the ≤50·11·9-cell joint
    * census (two-phase, map-side partials do everything); the three
    * pairs, their marginal mid-rank maps (window over a ≤50-value
    * bounded axis), and the moment finishes all run on that
    * broadcast-sized census — constant work after the scan. */
  def spearman(spark: SparkSession, dir: String): DataFrame = {
    val census = Tables.lineitem(spark, dir)
      .select(floor(col("l_quantity") + 0.5).cast("long").as("q"),
        floor(col("l_discount") * 100 + 0.5).cast("long").as("d"),
        floor(col("l_tax") * 100 + 0.5).cast("long").as("t"))
      .groupBy("q", "d", "t").agg(count(lit(1)).as("c"))
      .localCheckpoint() // ≤ 4950 cells; three pairs reuse it
    val ntot = census.agg(sum("c").as("n_rows"))
    def pair(a: String, b: String, label: String): DataFrame = {
      val cells = census.groupBy(col(a).as("va"), col(b).as("vb"))
        .agg(sum("c").as("c"))
      def rankMap(key: String, out: String): DataFrame =
        cells.groupBy(col(key).as("v")).agg(sum("c").as("cnt"))
          .crossJoin(broadcast(ntot))
          // centered doubled mid-rank: 2·cum_below + cnt + 1 − (n+1)
          .withColumn("cumb", coalesce(sum("cnt").over(
            Window.orderBy("v")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("v").as(key),
            (col("cumb") * 2 + col("cnt") + 1 - (col("n_rows") + 1)).as(out))
      cells.join(broadcast(rankMap("va", "ra")), "va")
        .join(broadcast(rankMap("vb", "rb")), "vb")
        .agg(sum("c").as("n"),
          sum(expr("cast(c as decimal(38,0)) * ra * rb")).as("s12"),
          sum(expr("cast(c as decimal(38,0)) * ra * ra")).as("s11"),
          sum(expr("cast(c as decimal(38,0)) * rb * rb")).as("s22"))
        .select(lit(label).as("pair"), col("n"),
          // a constant measure has no ranks to correlate — report 0
          expr("""case when s11 = 0 or s22 = 0 then cast(0 as bigint)
            |else cast(floor(1000000.0d * cast(s12 as double)
            |  / sqrt(cast(s11 as double)) / sqrt(cast(s22 as double)))
            |  as bigint) end""".stripMargin.replace('\n', ' ')).as("rho_e6"))
    }
    pair("q", "d", "quantity~discount")
      .unionAll(pair("q", "t", "quantity~tax"))
      .unionAll(pair("d", "t", "discount~tax"))
      .orderBy("pair")
  }

  /** q_kendall_tau: tie-corrected Kendall τ-b over the same three
    * lineitem measure pairs as q_spearman — the PAIRWISE-concordance
    * view of monotone association (Kendall 1938). Spearman asks "do
    * the rank sequences correlate?"; τ-b asks "of all row pairs, how
    * many agree in direction?" — a different functional that is the
    * standard cross-check when ties are heavy (here every measure is
    * massively tied), with τ-b's explicit tie corrections
    * n₁ = Σ tₐ(tₐ−1)/2, n₂ = Σ t_b(t_b−1)/2.
    *
    * Exactness: concordant/discordant masses and tie corrections are
    * exact decimal(38,0)/HUGEINT sums of c·c′ products over the
    * bounded joint census — never over rows (n_c alone is ~n²/4 ≈
    * 10²³ at 10¹² rows, why the decimals). Doubled denominators keep
    * everything integral: τ = 2(n_c−n_d)/(√(n(n−1)−2n₁)·√(n(n−1)−2n₂)),
    * one shared IEEE tree, one floor.
    *
    * Scale shape: ONE corpus scan builds the same ≤50·11·9 census as
    * q_spearman; each pair's concordance is a broadcast nested-loop
    * self-join of its ≤550-cell marginal census (≤ 550² bounded
    * products — constant work after the scan, NOT an O(n²) pair
    * enumeration), and every finish is a 1-row aggregate. */
  def kendallTau(spark: SparkSession, dir: String): DataFrame = {
    val census = Tables.lineitem(spark, dir)
      .select(floor(col("l_quantity") + 0.5).cast("long").as("q"),
        floor(col("l_discount") * 100 + 0.5).cast("long").as("d"),
        floor(col("l_tax") * 100 + 0.5).cast("long").as("t"))
      .groupBy("q", "d", "t").agg(count(lit(1)).as("c"))
      .localCheckpoint() // ≤ 4950 cells; three pairs reuse it
    val ntot = census.agg(sum("c").as("n_rows"))
    def pair(a: String, b: String, label: String): DataFrame = {
      val cells = census.groupBy(col(a).as("va"), col(b).as("vb"))
        .agg(sum("c").as("c"))
        .localCheckpoint() // ≤ 550 cells; self-join + two marginals
      val y = cells.select(col("va").as("wa"), col("vb").as("wb"),
        col("c").as("cy"))
      val cd = cells.join(broadcast(y), col("va") < col("wa"))
        .agg(
          coalesce(sum(expr(
            "case when vb < wb then cast(c as decimal(38,0)) * cy end")),
            expr("cast(0 as decimal(38,0))")).as("nc"),
          coalesce(sum(expr(
            "case when vb > wb then cast(c as decimal(38,0)) * cy end")),
            expr("cast(0 as decimal(38,0))")).as("nd"))
      val ta = cells.groupBy("va").agg(sum("c").as("cnt"))
        .agg(sum(expr("cast(cnt as decimal(38,0)) * (cnt - 1)")).as("t2a"))
      val tb = cells.groupBy("vb").agg(sum("c").as("cnt"))
        .agg(sum(expr("cast(cnt as decimal(38,0)) * (cnt - 1)")).as("t2b"))
      cd.crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
        .crossJoin(broadcast(ntot))
        .withColumn("d1", expr(
          "cast(n_rows as decimal(38,0)) * (n_rows - 1) - t2a"))
        .withColumn("d2", expr(
          "cast(n_rows as decimal(38,0)) * (n_rows - 1) - t2b"))
        .select(lit(label).as("pair"), col("n_rows").as("n"),
          // a constant measure has no pairs to order — report 0
          expr("""case when d1 = 0 or d2 = 0 then cast(0 as bigint)
            |else cast(floor(1000000.0d * 2 * cast(nc - nd as double)
            |  / sqrt(cast(d1 as double)) / sqrt(cast(d2 as double)))
            |  as bigint) end""".stripMargin.replace('\n', ' ')).as("tau_e6"))
    }
    pair("q", "d", "quantity~discount")
      .unionAll(pair("q", "t", "quantity~tax"))
      .unionAll(pair("d", "t", "discount~tax"))
      .orderBy("pair")
  }

  /** q_rank_sum_pairs: tie-corrected Mann-Whitney U (Wilcoxon
    * rank-sum) between each PAIR of return-flag populations on
    * quantity — the k-group pairwise extension of the two-arm
    * [[mannWhitney]] (q_mann_whitney tests the A/B user-parity split
    * on purchase value; this sweeps all flag pairs with the full tie
    * correction and normal z), with the rank-biserial effect size the
    * p-value-only report omits.
    *
    * Exactness: from the bounded (flag, quantity) census, the DOUBLED
    * U statistic 2U = Σ_v cx(v)·(2·cumy(v) + cy(v)) counts wins twice
    * and ties once — integral, exact in decimal(38,0)/HUGEINT (2U ≤
    * 2n₁n₂ ≈ n²/2 overflows bigint past ~10⁹·⁵ rows, why the
    * decimals). The tie-corrected normal z uses Var(U) =
    * n₁n₂·A/(12n(n−1)) with A = (n+1)n(n−1) − Σ_t t(t−1)(t+1) — all
    * exact integers; z = (2U − n₁n₂)·√(3n(n−1))/(√(n₁n₂)·√A) is one
    * shared IEEE tree, one floor. The rank-biserial r = (2U − n₁n₂)
    * / n₁n₂ is a single truncating integer division (Spark div ≡
    * DuckDB // on negatives, verified by q_qini).
    *
    * Scale shape: ONE corpus scan → the ≤3·50-cell census (two-phase,
    * map-side partials); each pair's cumulative is a window over the
    * ≤50-value bounded axis and every finish is a 1-row aggregate —
    * constant work after the scan. */
  def rankSumPairs(spark: SparkSession, dir: String): DataFrame = {
    val census = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("g"),
        floor(col("l_quantity") + 0.5).cast("long").as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("c"))
      .localCheckpoint() // ≤ 150 cells; three pairs reuse it
    def pair(ga: String, gb: String): DataFrame = {
      val wv = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      census.filter(col("g").isin(ga, gb))
        .groupBy("v").agg(
          sum(when(col("g") === ga, col("c")).otherwise(0L)).as("cx"),
          sum(when(col("g") === gb, col("c")).otherwise(0L)).as("cy"))
        .withColumn("cumy", coalesce(sum("cy").over(wv), lit(0L)))
        .agg(sum("cx").as("n1"), sum("cy").as("n2"),
          sum(expr("cast(cx as decimal(38,0)) * (2 * cumy + cy)")).as("u2"),
          sum(expr("cast(cx + cy as decimal(38,0)) * (cx + cy - 1) * (cx + cy + 1)"))
            .as("tt"))
        .withColumn("nn", expr("cast(n1 as decimal(38,0)) * n2"))
        .withColumn("aa", expr(
          "cast(n1 + n2 as decimal(38,0)) * (n1 + n2 - 1) * (n1 + n2 + 1) - tt"))
        .select(lit(s"$ga~$gb").as("pair"), col("n1"), col("n2"),
          expr("""case when nn = 0 then cast(0 as bigint)
            |else cast((u2 - nn) * 1000000 div nn as bigint) end"""
            .stripMargin.replace('\n', ' ')).as("rb_e6"),
          expr("""case when nn = 0 or aa <= 0 then cast(0 as bigint)
            |else cast(floor(1000000.0d * cast(u2 - nn as double)
            |  * sqrt(3.0d * (n1 + n2) * (n1 + n2 - 1))
            |  / sqrt(cast(nn as double)) / sqrt(cast(aa as double)))
            |  as bigint) end""".stripMargin.replace('\n', ' ')).as("z_e6"))
    }
    pair("A", "N").unionAll(pair("A", "R")).unionAll(pair("N", "R"))
      .orderBy("pair")
  }

  /** The five TPC-H market segments, pinned: q_anova's group axis is
    * a literal alphabet so its between-group fold needs no runtime
    * ordering at all. */
  private[graft] val AnovaSegments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** q_anova: one-way ANOVA of account balance (cents) across the
    * five market segments — the k-group mean-difference screen
    * (q_mann_whitney compares two distributions; F asks "do ANY of
    * the k segment means differ beyond noise?"), with η² = SSB/SST
    * as the effect size. One row: k, n, f_e6, eta2_e6.
    *
    * Exactness: per-segment n/Σy/Σy² are exact decimal(38,0)/HUGEINT
    * conditional sums over the PINNED [[AnovaSegments]] alphabet —
    * the between-group term Σ s_g²/n_g is then a LITERAL 5-term
    * double tree in segment order (no data-dependent fold order
    * anywhere, which is what makes a distributed double sum
    * hash-safe); rows outside the pinned alphabet are counted and
    * excluded so a new segment value can never silently skew F.
    *
    * Scale shape: ONE scan → a 1-row conditional-sum aggregate
    * (two-phase, map-side partials); the finish is constant work. */
  def anova(spark: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("c_acctbal") * 100 + 0.5).cast("long")
    val aggCols = count(lit(1)).as("n_all") +:
      AnovaSegments.zipWithIndex.flatMap { case (s, i) => Seq(
        sum(when(col("g") === s, 1L).otherwise(0L)).as(s"n$i"),
        sum(expr(s"case when g = '$s' then cast(y as decimal(38,0)) else cast(0 as decimal(38,0)) end")).as(s"s$i"),
        sum(expr(s"case when g = '$s' then cast(y as decimal(38,0)) * y else cast(0 as decimal(38,0)) end")).as(s"ss$i"))
      }
    val sums = Tables.customer(spark, dir)
      .select(col("c_mktsegment").as("g"), cents.as("y"))
      .agg(aggCols.head, aggCols.tail: _*)
    val k = AnovaSegments.size
    val idx = AnovaSegments.indices
    val nSum = idx.map(i => s"n$i").mkString(" + ")
    val sSum = idx.map(i => s"s$i").mkString(" + ")
    val ssSum = idx.map(i => s"ss$i").mkString(" + ")
    // literal 5-term fold, in segment order on both engines
    val ssbTerms = idx.map(i =>
      s"cast(s$i as double) * cast(s$i as double) / n$i").mkString(" + ")
    sums
      .withColumn("n", expr(nSum))
      .withColumn("n_other", expr(s"n_all - ($nSum)"))
      .withColumn("minn", expr(s"least(${idx.map(i => s"n$i").mkString(", ")})"))
      .withColumn("gm", expr(
        s"cast($sSum as double) * cast($sSum as double) / n"))
      .withColumn("ssb", expr(s"$ssbTerms - gm"))
      .withColumn("sst", expr(s"cast($ssSum as double) - gm"))
      .select(lit(k.toLong).as("k"), col("n"), col("n_other"),
        expr(s"""case when minn = 0 or sst - ssb <= 0.0d or n <= $k
          |then cast(-1 as bigint)
          |else cast(floor(1000000.0d * (ssb / ${k - 1}.0d)
          |  / ((sst - ssb) / (n - $k))) as bigint) end"""
          .stripMargin.replace('\n', ' ')).as("f_e6"),
        expr("""case when minn = 0 or sst <= 0.0d then cast(-1 as bigint)
          |else cast(floor(1000000.0d * ssb / sst) as bigint) end"""
          .stripMargin.replace('\n', ' ')).as("eta2_e6"))
  }

  /** The 1-row exact moment census over any lineitem-shaped frame. */
  private[graft] def olsCensus(li: DataFrame): DataFrame =
    li.select(floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("y"),
        floor(col("l_quantity") + 0.5).cast("long").as("x1"),
        floor(col("l_discount") * 100 + 0.5).cast("long").as("x2"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(x1 as decimal(38,0))")).as("s1"),
        sum(expr("cast(x2 as decimal(38,0))")).as("s2"),
        sum(expr("cast(y as decimal(38,0))")).as("sy"),
        sum(expr("cast(x1 as decimal(38,0)) * x1")).as("s11"),
        sum(expr("cast(x2 as decimal(38,0)) * x2")).as("s22"),
        sum(expr("cast(x1 as decimal(38,0)) * x2")).as("s12"),
        sum(expr("cast(x1 as decimal(38,0)) * y")).as("s1y"),
        sum(expr("cast(x2 as decimal(38,0)) * y")).as("s2y"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("syy"))

  /** The Cramer solve + fit report over a converged census — SHARED
    * by batch and stream so they share one oracle. */
  private[graft] def olsFinish(census: DataFrame): DataFrame =
    census
      .withColumn("dn", expr("cast(n as double)"))
      .withColumn("d1", expr("cast(s1 as double)"))
      .withColumn("d2", expr("cast(s2 as double)"))
      .withColumn("dy", expr("cast(sy as double)"))
      .withColumn("d11", expr("cast(s11 as double)"))
      .withColumn("d22", expr("cast(s22 as double)"))
      .withColumn("d12", expr("cast(s12 as double)"))
      .withColumn("d1y", expr("cast(s1y as double)"))
      .withColumn("d2y", expr("cast(s2y as double)"))
      .withColumn("dyy", expr("cast(syy as double)"))
      .withColumn("det", expr(
        "dn * (d11 * d22 - d12 * d12) - d1 * (d1 * d22 - d12 * d2)" +
          " + d2 * (d1 * d12 - d11 * d2)"))
      .withColumn("det0", expr(
        "dy * (d11 * d22 - d12 * d12) - d1 * (d1y * d22 - d12 * d2y)" +
          " + d2 * (d1y * d12 - d11 * d2y)"))
      .withColumn("det1", expr(
        "dn * (d1y * d22 - d12 * d2y) - dy * (d1 * d22 - d12 * d2)" +
          " + d2 * (d1 * d2y - d1y * d2)"))
      .withColumn("det2", expr(
        "dn * (d11 * d2y - d1y * d12) - d1 * (d1 * d2y - d1y * d2)" +
          " + dy * (d1 * d12 - d11 * d2)"))
      .withColumn("b0", expr("det0 / det"))
      .withColumn("b1", expr("det1 / det"))
      .withColumn("b2", expr("det2 / det"))
      .withColumn("sse", expr("dyy - b0 * dy - b1 * d1y - b2 * d2y"))
      .withColumn("sst", expr("dyy - dy * dy / dn"))
      .select(col("n"),
        expr("case when det = 0.0d then cast(-9999999 as bigint)" +
          " else cast(floor(b0 * 100.0d) as bigint) end").as("b0_c2"),
        expr("case when det = 0.0d then cast(-9999999 as bigint)" +
          " else cast(floor(b1 * 100.0d) as bigint) end").as("b1_c2"),
        expr("case when det = 0.0d then cast(-9999999 as bigint)" +
          " else cast(floor(b2 * 100.0d) as bigint) end").as("b2_c2"),
        expr("case when det = 0.0d or sst = 0.0d then cast(-9999999 as bigint)" +
          " else cast(floor((1.0d - sse / sst) * 1000000.0d) as bigint) end")
          .as("r2_e6"))

  /** q_markov_eval: held-out evaluation of the transition model —
    * train the q_transitions Markov matrix on EVEN users, predict
    * each ODD user's next event as the per-state argmax, and report
    * per-state accuracy: the "is the funnel actually predictive?"
    * audit that turns the transition matrix from a descriptive
    * report into a scored model (the q_nb_langid even/odd protocol
    * applied to sequences). Prediction ties break (count desc, type
    * asc) — pinned, so the model is engine-independent; states the
    * training split never saw predict the '?' sentinel and score 0.
    *
    * Scale shape: the step extraction is the SAME one-shuffle-per-
    * user lead window as q_transitions; the model is alphabet²-sized
    * (argmax over ≤ |types| rows per state, broadcast back); the
    * eval is one (state) two-phase agg over the odd-user steps. */
  def markovEval(spark: SparkSession, dir: String): DataFrame = {
    val wSeq = Window.partitionBy("user_id")
      .orderBy(col("t_ms").asc, col("event_id").asc)
    val steps = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("t_ms"))
      .withColumn("dst", lead("event_type", 1).over(wSeq))
      .filter(col("dst").isNotNull)
      .select((col("user_id") % 2 === 0).as("is_train"),
        col("event_type").as("src"), col("dst"))
      .localCheckpoint() // reused: model fit + held-out eval
    val wArg = Window.partitionBy("src")
      .orderBy(col("n").desc, col("dst").asc)
    val model = steps.filter(col("is_train"))
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(wArg))
      .filter(col("rnk") === 1)
      .select(col("src"), col("dst").as("dst_pred"), col("n").as("train_n"))
    steps.filter(!col("is_train"))
      .join(broadcast(model), Seq("src"), "left")
      .withColumn("dst_pred", coalesce(col("dst_pred"), lit("?")))
      .withColumn("train_n", coalesce(col("train_n"), lit(0L)))
      .groupBy("src", "dst_pred", "train_n")
      .agg(count(lit(1)).as("test_steps"),
        sum(when(col("dst") === col("dst_pred"), 1L).otherwise(0L))
          .as("test_correct"))
      .withColumn("acc_e6", expr("test_correct * 1000000 div test_steps"))
      .select("src", "dst_pred", "train_n", "test_steps", "test_correct",
        "acc_e6")
      .orderBy("src")
  }

  /** q_recs_eval: held-out hit-rate evaluation of the co-purchase
    * recommender — train the q_user_recs pipeline on EVEN orders
    * only, then ask: of the NEW (customer, part) purchases that only
    * appear in ODD orders, how many were in that customer's top-3
    * recommendations? HitRate@3, the standard offline recommender
    * metric (the q_markov_eval protocol applied to baskets instead
    * of sequences — split by ORDER so every customer can appear on
    * both sides and the model never sees a test basket).
    *
    * Scale shape: identical to q_user_recs with the parity filter
    * pushed into the basket scan (half the co-occurrence work); the
    * test set is one orderkey-co-keyed join + an anti-join against
    * train ownership; the verdict is two 1-row aggregates broadcast
    * together. Ranks share q_copurchase's pinned total order. */
  def recsEval(spark: SparkSession, dir: String): DataFrame = {
    // per-order part sets collect ONCE (the q_copurchase shape): the
    // distinct → self-join → pair-agg chain becomes one agg + map-side
    // canonical expansion; train/test split filters the SETS frame
    val sets = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy("l_orderkey")
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
      .localCheckpoint() // train neighbors + ownership + test share it
    val ords = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    val setsT = sets.filter(col("l_orderkey") % 2 === 0)
    val freq = setsT.select(explode(col("ps")).as("l_partkey"))
      .groupBy("l_partkey").agg(count(lit(1)).as("n_solo"))
    val pairs = setsT.filter(size(col("ps")) > 1)
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps) - i - 1), y ->
          |    struct(x AS part_a, y AS part_b))))"""
          .stripMargin.replace('\n', ' '))).as("e"))
      .groupBy(col("e.part_a").as("part_a"), col("e.part_b").as("part_b"))
      .agg(count(lit(1)).as("n_ab"))
    // map-side mirror (2 rows per canonical pair) — a union of two
    // reads of the pair aggregate would run its final agg twice
    val sym = pairs.select(explode(array(
        struct(col("part_a"), col("part_b"), col("n_ab")),
        struct(col("part_b").as("part_a"), col("part_a").as("part_b"),
          col("n_ab")))).as("e"))
      .select(col("e.part_a").as("part_a"), col("e.part_b").as("part_b"),
        col("e.n_ab").as("n_ab"))
    val wNb = Window.partitionBy("part_a")
      .orderBy(col("cos2_e6").desc, col("n_ab").desc, col("part_b").asc)
    val nbrs = sym
      .join(broadcast(freq.select(col("l_partkey").as("part_a"),
        col("n_solo").as("n_a"))), "part_a")
      .join(broadcast(freq.select(col("l_partkey").as("part_b"),
        col("n_solo").as("n_b"))), "part_b")
      .withColumn("cos2_e6", expr(
        """cast((cast(n_ab as decimal(38,0)) * n_ab * 1000000)
          | div (cast(n_a as decimal(38,0)) * n_b) as bigint)"""
          .stripMargin.replace('\n', ' ')))
      .withColumn("rnk", row_number().over(wNb))
      .filter(col("rnk") <= 3)
      .select("part_a", "part_b", "cos2_e6")
    val ownedT = ords.join(
        setsT.select(col("l_orderkey"), explode(col("ps")).as("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey").as("part")).distinct()
      .localCheckpoint() // votes + exclusion + test anti-join share it
    val cand = ownedT.join(nbrs, col("part") === col("part_a"))
      .groupBy(col("o_custkey"), col("part_b"))
      .agg(sum("cos2_e6").as("score_e6"), count(lit(1)).as("n_src"))
    val wRec = Window.partitionBy("o_custkey")
      .orderBy(col("score_e6").desc, col("n_src").desc, col("part_b").asc)
    val recs = cand.join(ownedT,
        cand("o_custkey") === ownedT("o_custkey") &&
          cand("part_b") === ownedT("part"), "left_anti")
      .withColumn("rnk", row_number().over(wRec))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("part_b").as("part"))
    val testPairs = ords.filter(col("o_orderkey") % 2 === 1)
      .join(sets.filter(col("l_orderkey") % 2 === 1)
          .select(col("l_orderkey"), explode(col("ps")).as("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey").as("part")).distinct()
      .join(ownedT, Seq("o_custkey", "part"), "left_anti")
      .localCheckpoint() // totals + hits share it
    val totals = testPairs.agg(count(lit(1)).as("n_test_pairs"),
      countDistinct("o_custkey").as("n_test_users"))
    val hits = testPairs.join(recs, Seq("o_custkey", "part"))
      .agg(count(lit(1)).as("n_hits"),
        countDistinct("o_custkey").as("n_users_hit"))
    totals.crossJoin(broadcast(hits))
      .withColumn("hitrate_e6", expr(
        "case when n_test_pairs = 0 then cast(-1 as bigint)" +
          " else n_hits * 1000000 div n_test_pairs end"))
      .select("n_test_pairs", "n_test_users", "n_hits", "n_users_hit",
        "hitrate_e6")
  }

  /** AQP sampling modulus: keep 1 row in [[AqpMod]] (deterministic). */
  private[graft] val AqpMod = 64L

  /** q_aqp_sum: approximate-query-processing revenue estimate WITH
    * its error audit — scan a deterministic 1/64 hash sample (salted
    * md5 on the line identity, the q_bootstrap_ci uniform — NOT
    * rand(), so the sample is shuffle-order-proof and cross-engine
    * identical), scale the sample sum by 64, and report the estimate
    * against the exact answer with the measured relative error and
    * the 3σ CLT bound the estimator promised. At 100 TB this is the
    * "answer in 1/64th the scan" mode every interactive dashboard
    * runs in — this operator is the audit that the speed-for-error
    * trade is honest (|est − exact| ≤ 3σ̂).
    *
    * Exactness: sums and counts are exact integers on BOTH the
    * sample and full scan; σ̂ (and only σ̂) uses the shared IEEE
    * double tree; membership is a pure function of the row identity.
    *
    * Scale shape: ONE scan computing both branches as conditional
    * aggregates (the sample adds no second pass), 1-row output. The
    * sample predicate is sargable to nothing — by design it reads
    * everything HERE to have the exact side to audit against; the
    * production estimate-only query reads the 1/64 sample alone. */
  def aqpSum(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"),
        expr("cast(conv(substr(md5(concat('aqp', cast(l_orderkey as string)," +
          " ':', cast(l_linenumber as string))), 1, 15), 16, 10) as bigint)" +
          s" % $AqpMod").as("bucket"))
      .withColumn("in_s", col("bucket") === 0L)
    li.agg(count(lit(1)).as("n_total"),
        sum("cents").as("exact_cents"),
        sum(when(col("in_s"), 1L).otherwise(0L)).as("n_sample"),
        sum(when(col("in_s"), col("cents"))).as("sample_cents"),
        sum(when(col("in_s"),
          expr("cast(cents as decimal(38,0)) * cents"))).as("sample_sq"))
      .withColumn("est_cents", expr(s"sample_cents * $AqpMod"))
      .withColumn("err_e6", expr(
        "abs(est_cents - exact_cents) * 1000000 div exact_cents"))
      .withColumn("sigma", expr(
        s"""cast($AqpMod as double) * sqrt(cast(n_sample as double)
          | * (cast(sample_sq as double) / cast(n_sample as double)
          |    - (cast(sample_cents as double) / cast(n_sample as double))
          |      * (cast(sample_cents as double) / cast(n_sample as double))))"""
          .stripMargin.replace('\n', ' ')))
      .withColumn("within_3sigma", expr(
        "cast(abs(est_cents - exact_cents) as double) <= 3.0d * sigma"))
      .select(col("n_total"), col("n_sample"), col("exact_cents"),
        col("est_cents"), col("err_e6"),
        expr("cast(floor(sigma) as bigint)").as("sigma_cents"),
        col("within_3sigma"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_binseg" -> (binseg(_, _)),
    "q_hurst" -> (hurst(_, _)),
    "q_ams_f2" -> (amsF2(_, _)),
    "q_join_advisor" -> (joinAdvisor(_, _)),
    "q_hdr_quantiles" -> (hdrQuantiles(_, _)),
    "q_corr_matrix" -> (corrMatrix(_, _)),
    "q_grouping_sets" -> (groupingSetsQ(_, _)),
    "q_srm" -> (srm(_, _)),
    "q_skew_advisor" -> (skewAdvisor(_, _)),
    "q_aqp_sum" -> (aqpSum(_, _)),
    "q_recs_eval" -> (recsEval(_, _)),
    "q_markov_eval" -> (markovEval(_, _)),
    "q_ols_price" -> (olsPrice(_, _)),
    "q_spearman" -> (spearman(_, _)),
    "q_qini" -> (qini(_, _)),
    "q_kendall_tau" -> (kendallTau(_, _)),
    "q_rank_sum_pairs" -> (rankSumPairs(_, _)),
    "q_anova" -> (anova(_, _)),
    "q_shapley_attr" -> (shapleyAttr(_, _)),
    "q_ts_decompose" -> (tsDecompose(_, _)),
    "q_user_recs" -> (userRecs(_, _)),
    "q_seq_patterns" -> (seqPatterns(_, _)),
    "q_eb_shrink" -> (ebShrink(_, _)),
    "q_power_mde" -> (powerMde(_, _)),
    "q_ses_forecast" -> (sesForecast(_, _)),
    "q_holt_forecast" -> (holtForecast(_, _)),
    "q_forecast_eval" -> (forecastEval(_, _)),
    "q_cusum_change" -> (cusumChange(_, _)),
    "q_conformal" -> (conformal(_, _)),
    "q_gap_fill" -> (gapFill(_, _)),
    "q_cohort_ltv" -> (cohortLtv(_, _)),
    "q_part_catalog" -> (partCatalog(_, _)),
    "q_skyline" -> (skyline(_, _)),
    "q_bloom_join" -> (bloomJoin(_, _)),
    "q_zorder_layout" -> (zorderLayout(_, _)),
    "q_join_card" -> (joinCard(_, _)),
    "q_encoding_advisor" -> (encodingAdvisor(_, _)),
    "q_sax_motifs" -> (saxMotifs(_, _)),
    "q_supplier_balance" -> (supplierBalance(_, _)),
    "q_region_trade" -> (regionTrade(_, _)),
    "q_acctbal_profile" -> (acctbalProfile(_, _)),
    "q_discount_effect" -> (discountEffect(_, _)),
    "q_supplier_reliability" -> (supplierReliability(_, _)),
    "q_nation_flows" -> (nationFlows(_, _)),
    "q_price_gap" -> (priceGap(_, _)),
    "q_time_to_purchase" -> (timeToPurchase(_, _)),
    "q_repeat_interval" -> (repeatInterval(_, _)),
    "q_cart_abandon" -> (cartAbandon(_, _)),
    "q_benford" -> (benford(_, _)),
    "q_wilson_rates" -> (wilsonRates(_, _)),
    "q_decayed_topk" -> (decayedTopK(_, _)),
    "q_brand_loyalty" -> (brandLoyalty(_, _)),
    "q_attribution" -> (attribution(_, _)),
    "q_period_growth" -> (periodGrowth(_, _)),
    "q_growth_accounting" -> (growthAccounting(_, _)),
    "q_window_funnel" -> (windowFunnel(_, _)),
    "q_order_latency" -> (orderLatency(_, _)),
    "q_scd2" -> (scd2(_, _)),
    "q_cdc_merge" -> (cdcMerge(_, _)),
    "q_stickiness" -> (stickiness(_, _)),
    "q_price_volatility" -> (priceVolatility(_, _)),
    "q_theil_sen" -> (theilSen(_, _)),
    "q_kaplan_meier" -> (kaplanMeier(_, _)),
    "q_mann_whitney" -> (mannWhitney(_, _)),
    "q_logrank" -> (logrank(_, _)),
    "q_bootstrap_ci" -> (bootstrapCi(_, _)),
    "q_cuped" -> (cuped(_, _)),
    "q_lateness" -> (lateness(_, _)),
    "q_interval_coverage" -> (intervalCoverage(_, _)),
    "q_acf" -> (acf(_, _)),
    "q_pacf" -> (pacf(_, _)),
    "q_assoc_rules" -> (assocRules(_, _)),
    "q_hhi" -> (hhi(_, _)),
    "q_copurchase" -> (copurchase(_, _)),
    "q_session_path" -> (sessionPath(_, _)),
    "q_props_parse" -> (propsParse(_, _)),
    "q_elasticity" -> (elasticity(_, _)),
    "q_winsorized_mean" -> (winsorizedMean(_, _)),
    "q_burstiness" -> (burstiness(_, _)),
    "q_ks_drift" -> (ksDrift(_, _)),
    "q_chi2_abtest" -> (chi2Abtest(_, _)),
    "q_itemsets" -> (itemsets(_, _)),
    "q_transitions" -> (transitions(_, _)),
    "q_window_topk" -> (windowTopK(_, _)),
    "q_retention" -> (retention(_, _)),
    "q_anomaly_mad" -> (anomalyMad(_, _)),
    "q_funnel" -> (funnel(_, _)),
    "q_sessionize" -> (sessionize(_, _)),
    "q_percentiles" -> (percentiles(_, _)),
    "q_range_join" -> (rangeJoin(_, _)),
    "q_moving_stats" -> (movingStats(_, _)),
    "q_rollup" -> (rollupReport(_, _)),
    "q_cube" -> (cubeReport(_, _)),
    "q_top_orders" -> (topOrders(_, _)),
    "q_referential_audit" -> (referentialAudit(_, _)),
    "q_priority_returns" -> (priorityReturns(_, _)),
    "q_fuzzy_match" -> (fuzzyMatch(_, _)),
    "q_rfm" -> (rfm(_, _)),
    "q_seasonality" -> (seasonality(_, _)),
    "q_asof_price" -> (asofPrice(_, _)),
    "q_profile_table" -> (profileTable(_, _)),
    "q1_agg" -> (q1Agg(_, _)),
    "q_join_enrich" -> (joinEnrich(_, _)),
    "q_price_stats" -> (priceStats(_, _)),
    "q_top_candidate" -> (topCandidate(_, _)),
    "q_price_deltas" -> (priceDeltas(_, _)),
    "q_hotspots" -> (hotspots(_, _)),
    "q_dom_analysis" -> (domAnalysis(_, _)),
    "q_eval_metrics" -> (evalMetrics(_, _)),
    "q_price_index" -> (priceIndex(_, _)),
    "q_auto_match" -> (autoMatch(_, _)),
    "q_seed_freq" -> (seedFreq(_, _)),
    "q_prodxstore_pivot" -> (prodXStorePivot(_, _)))

  /** One UNION ALL block per profiled column, reprs generated from
    * the same [[ProfileCols]] spec the Spark plan uses. */
  private val profileOracle: String = ProfileCols.map { case (c, kind) =>
    def repr(e: String): String = kind match {
      case "int"   => s"CAST($e AS VARCHAR)"
      case "cents" => s"CAST(CAST(floor($e * 100 + 0.5) AS BIGINT) AS VARCHAR)"
      case "str"   => e
      case "date"  => s"CAST(CAST($e AS DATE) AS VARCHAR)"
    }
    s"""SELECT '$c' AS col_name,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
       |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
       |  ${repr(s"MIN($c)")} AS min_repr,
       |  ${repr(s"MAX($c)")} AS max_repr
       |FROM lineitem""".stripMargin
  }.mkString("\nUNION ALL\n")

  /** One Kendall pair as a suffixed CTE block over the shared joint
    * census — same bounded-cell self-join concordance, HUGEINT tie
    * corrections, and doubled-denominator IEEE τ tree as
    * [[kendallTau]]. */
  private def kendallPairSql(a: String, b: String, label: String,
      sfx: String): String =
    s"""kcells_$sfx AS (
       |  SELECT $a AS va, $b AS vb, CAST(SUM(c) AS BIGINT) AS c
       |  FROM census GROUP BY 1, 2),
       |kcd_$sfx AS (
       |  SELECT
       |    COALESCE(SUM(CASE WHEN x.vb < y.vb
       |      THEN CAST(x.c AS HUGEINT) * y.c END), 0) AS nc,
       |    COALESCE(SUM(CASE WHEN x.vb > y.vb
       |      THEN CAST(x.c AS HUGEINT) * y.c END), 0) AS nd
       |  FROM kcells_$sfx x JOIN kcells_$sfx y ON x.va < y.va),
       |kta_$sfx AS (
       |  SELECT SUM(CAST(cnt AS HUGEINT) * (cnt - 1)) AS t2a
       |  FROM (SELECT CAST(SUM(c) AS BIGINT) AS cnt
       |        FROM kcells_$sfx GROUP BY va)),
       |ktb_$sfx AS (
       |  SELECT SUM(CAST(cnt AS HUGEINT) * (cnt - 1)) AS t2b
       |  FROM (SELECT CAST(SUM(c) AS BIGINT) AS cnt
       |        FROM kcells_$sfx GROUP BY vb)),
       |kr_$sfx AS (
       |  SELECT '$label' AS pair, n,
       |    CASE WHEN CAST(n AS HUGEINT) * (n - 1) - t2a = 0
       |           OR CAST(n AS HUGEINT) * (n - 1) - t2b = 0
       |         THEN CAST(0 AS BIGINT)
       |         ELSE CAST(floor(1000000.0 * 2 * CAST(nc - nd AS DOUBLE)
       |           / sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) - t2a AS DOUBLE))
       |           / sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) - t2b AS DOUBLE)))
       |           AS BIGINT) END AS tau_e6
       |  FROM kcd_$sfx, kta_$sfx, ktb_$sfx, ktot)""".stripMargin

  /** One Spearman pair as a suffixed CTE block over the shared joint
    * census — same centered doubled mid-ranks, same exact HUGEINT
    * moments, same IEEE ρ tree as [[spearman]]. */
  private def spearmanPairSql(a: String, b: String, label: String,
      sfx: String): String =
    s"""cells_$sfx AS (
       |  SELECT $a AS va, $b AS vb, CAST(SUM(c) AS BIGINT) AS c
       |  FROM census GROUP BY 1, 2),
       |ra_$sfx AS (
       |  SELECT va, 2 * COALESCE(CAST(SUM(cnt) OVER (ORDER BY va
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |    + cnt + 1 - (SUM(cnt) OVER () + 1) AS ra
       |  FROM (SELECT va, CAST(SUM(c) AS BIGINT) AS cnt
       |        FROM cells_$sfx GROUP BY va)),
       |rb_$sfx AS (
       |  SELECT vb, 2 * COALESCE(CAST(SUM(cnt) OVER (ORDER BY vb
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |    + cnt + 1 - (SUM(cnt) OVER () + 1) AS rb
       |  FROM (SELECT vb, CAST(SUM(c) AS BIGINT) AS cnt
       |        FROM cells_$sfx GROUP BY vb)),
       |m_$sfx AS (
       |  SELECT CAST(SUM(c) AS BIGINT) AS n,
       |    SUM(CAST(c AS HUGEINT) * ra * rb) AS s12,
       |    SUM(CAST(c AS HUGEINT) * ra * ra) AS s11,
       |    SUM(CAST(c AS HUGEINT) * rb * rb) AS s22
       |  FROM cells_$sfx JOIN ra_$sfx USING (va) JOIN rb_$sfx USING (vb)),
       |r_$sfx AS (
       |  SELECT '$label' AS pair, n,
       |    CASE WHEN s11 = 0 OR s22 = 0 THEN CAST(0 AS BIGINT)
       |         ELSE CAST(floor(1000000.0 * CAST(s12 AS DOUBLE)
       |           / sqrt(CAST(s11 AS DOUBLE)) / sqrt(CAST(s22 AS DOUBLE)))
       |           AS BIGINT) END AS rho_e6
       |  FROM m_$sfx)""".stripMargin

  /** One rank-sum pair over the shared (flag, quantity) census —
    * identical doubled-U, tie-correction, and z tree as
    * [[rankSumPairs]]. */
  private def rankSumPairSql(ga: String, gb: String, sfx: String): String =
    s"""cells_$sfx AS (
       |  SELECT v,
       |    CAST(SUM(CASE WHEN g = '$ga' THEN c ELSE 0 END) AS BIGINT) AS cx,
       |    CAST(SUM(CASE WHEN g = '$gb' THEN c ELSE 0 END) AS BIGINT) AS cy
       |  FROM census WHERE g IN ('$ga', '$gb') GROUP BY v),
       |m_$sfx AS (
       |  SELECT CAST(SUM(cx) AS BIGINT) AS n1, CAST(SUM(cy) AS BIGINT) AS n2,
       |    SUM(CAST(cx AS HUGEINT) * (2 * cumy + cy)) AS u2,
       |    SUM(CAST(cx + cy AS HUGEINT) * (cx + cy - 1) * (cx + cy + 1)) AS tt
       |  FROM (SELECT v, cx, cy,
       |      COALESCE(CAST(SUM(cy) OVER (ORDER BY v
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cumy
       |    FROM cells_$sfx)),
       |r_$sfx AS (
       |  SELECT '$ga~$gb' AS pair, n1, n2,
       |    CASE WHEN nn = 0 THEN CAST(0 AS BIGINT)
       |         ELSE CAST((u2 - nn) * 1000000 // nn AS BIGINT) END AS rb_e6,
       |    CASE WHEN nn = 0 OR aa <= 0 THEN CAST(0 AS BIGINT)
       |         ELSE CAST(floor(1000000.0 * CAST(u2 - nn AS DOUBLE)
       |           * sqrt(3.0 * (n1 + n2) * (n1 + n2 - 1))
       |           / sqrt(CAST(nn AS DOUBLE)) / sqrt(CAST(aa AS DOUBLE)))
       |           AS BIGINT) END AS z_e6
       |  FROM (SELECT n1, n2, u2, tt,
       |      CAST(n1 AS HUGEINT) * n2 AS nn,
       |      CAST(n1 + n2 AS HUGEINT) * (n1 + n2 - 1) * (n1 + n2 + 1) - tt AS aa
       |    FROM m_$sfx))""".stripMargin

  /** The acf oracle's WITH-body, ending at `acf_t(lag, n_pairs,
    * acf_e6)` — shared by the q_acf and q_pacf oracles so the PACF's
    * input ACF cannot drift from the audited one. */
  private def acfCoreSql: String =
    s"""counts AS (
       |  SELECT epoch_ns(ts) // 86400000000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1),
       |axis AS (
       |  SELECT UNNEST(generate_series(d0, d1)) AS day
       |  FROM (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM counts)),
       |daily AS (
       |  SELECT a.day, COALESCE(c.x, 0) AS x
       |  FROM axis a LEFT JOIN counts c USING (day)),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
       |  FROM daily),
       |cent AS (SELECT day, x * n - s AS c FROM daily CROSS JOIN st),
       |qq AS (SELECT SUM(CAST(c AS HUGEINT) * c) AS q FROM cent),
       |ks AS (SELECT UNNEST(generate_series(1, $AcfMaxLag)) AS k),
       |num AS (
       |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |    SUM(CAST(a.c AS HUGEINT) * b.c) AS num
       |  FROM cent a JOIN ks ON TRUE JOIN cent b ON b.day = a.day + k
       |  GROUP BY k),
       |acf_t AS (
       |  SELECT CAST(k AS BIGINT) AS lag, n_pairs,
       |    CAST((num * 1000000) // q AS BIGINT) AS acf_e6
       |  FROM num CROSS JOIN qq WHERE q <> 0)""".stripMargin

  /** The q_pacf oracle: [[acfCoreSql]] → a MATERIALIZED 1-row pivot →
    * one chained CTE stage per [[pacfPhiExprs]] column (each stage
    * adds exactly one φ, referencing only prior stages — linear, never
    * exponential under inlining) → the 7-row unpivot with the same
    * one-floor quantization and [[PacfSentinel]] pin as the engine. */
  private def pacfOracleSql: String = {
    val pivots = (1 to AcfMaxLag).map(k =>
      s"MAX(CASE WHEN lag = $k THEN acf_e6 END) AS a$k").mkString(",\n       |    ")
    val rs = (1 to AcfMaxLag).map(k =>
      s"CAST(a$k AS DOUBLE) / CAST(1000000.0 AS DOUBLE) AS r$k").mkString(",\n       |    ")
    val phis = pacfPhiExprs(duck = true)
    val stageSql = phis.zipWithIndex.map { case ((name, e), i) =>
      val prev = if (i == 0) "r" else s"s$i"
      val mat = if (i == phis.size - 1) " MATERIALIZED" else ""
      s"s${i + 1} AS$mat (SELECT *, $e AS $name FROM $prev)"
    }.mkString(",\n       |")
    val last = s"s${phis.size}"
    val rows = (1 to AcfMaxLag).map(k =>
      s"""SELECT CAST($k AS BIGINT) AS lag,
         |  CASE WHEN p_${k}_$k IS NULL THEN CAST($PacfSentinel AS BIGINT)
         |       ELSE CAST(floor(CAST(1000000.0 AS DOUBLE) * p_${k}_$k
         |         + CAST(0.5 AS DOUBLE)) AS BIGINT) END AS pacf_e6
         |FROM $last""".stripMargin).mkString("\n       |UNION ALL\n       |")
    s"""WITH $acfCoreSql,
       |pv AS MATERIALIZED (
       |  SELECT
       |    $pivots
       |  FROM acf_t),
       |r AS (
       |  SELECT *,
       |    $rs
       |  FROM pv),
       |$stageSql
       |$rows
       |ORDER BY lag""".stripMargin
  }

  /** The q_holt_forecast oracle: the SES monthly frame, a MATERIALIZED
    * nation pivot, then one MATERIALIZED CTE stage per month adding
    * that month's (l, b) integer pair from [[holtExprs]] — the same
    * expression chain the engine runs, HUGEINT-cast; materialization
    * pins DuckDB's CTE inlining, which would otherwise expand the
    * coupled recursion exponentially (the q_hits lesson). */
  private def holtCoreSql: String = {
    val pivots = (1 to HoltMonths).map { t =>
      val cond = if (t == 1) "m = m0" else s"m = m0 + ${t - 1}"
      s"CAST(SUM(CASE WHEN $cond THEN y_cents ELSE 0 END) AS BIGINT) AS y$t"
    }.mkString(",\n        |    ")
    val phis = holtExprs(s => s"CAST($s AS HUGEINT)")
    val stageSql = phis.grouped(2).zipWithIndex.map { case (pair, i) =>
      val prev = if (i == 0) "pv" else s"h$i"
      val cols = pair.map { case (n, e) => s"$e AS $n" }.mkString(", ")
      s"h${i + 1} AS MATERIALIZED (SELECT *, $cols FROM $prev)"
    }.mkString(",\n        |")
    s"""monthly AS (
        |  SELECT c_nationkey, epoch_ns(o_orderdate) // 1000 // (86400000000 * 30) AS m,
        |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS y_cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |mx AS (SELECT MAX(m) - ${HoltMonths - 1} AS m0 FROM monthly),
        |pv AS MATERIALIZED (
        |  SELECT c_nationkey,
        |    $pivots
        |  FROM monthly CROSS JOIN mx GROUP BY c_nationkey),
        |$stageSql""".stripMargin
  }

  private def holtOracleSql: String = {
    val h = HoltMonths
    val s24 = 1L << (2 * h)
    val s23 = 1L << (2 * (h - 1))
    s"""WITH $holtCoreSql
        |SELECT n_name,
        |  CAST(l$h // $s24 AS BIGINT) AS level_cents,
        |  CAST(b$h // $s24 AS BIGINT) AS trend_cents,
        |  CAST((l$h + b$h) // $s24 AS BIGINT) AS forecast_cents,
        |  CAST((l${h - 1} + b${h - 1}) // $s23 AS BIGINT) AS bt_forecast_cents,
        |  y$h AS y_last_cents,
        |  abs(y$h - CAST((l${h - 1} + b${h - 1}) // $s23 AS BIGINT))
        |    AS bt_abs_err_cents
        |FROM h$h JOIN nation ON n_nationkey = c_nationkey
        |ORDER BY n_name""".stripMargin
  }

  /** The q_forecast_eval oracle: [[holtCoreSql]]'s chain, then the
    * SAME [[forecastEvalExprs]] error chain (HUGEINT, `//`) in three
    * MATERIALIZED stages (SES numerators are closed-form sums over
    * the y pivot, errors reference only defined columns, sums fold
    * the errors) and the identical MAE/MASE finish. */
  private def forecastEvalOracleSql: String = {
    val h = HoltMonths
    val fe = forecastEvalExprs(s => s"CAST($s AS HUGEINT)", "//")
    val (sns, rest) = fe.partition(_._1.startsWith("sn"))
    val (sums, errs) = rest.partition(_._1.startsWith("se_"))
    def stage(name: String, prev: String, cols: Seq[(String, String)]) =
      s"$name AS MATERIALIZED (SELECT *, " +
        cols.map { case (n, e) => s"$e AS $n" }.mkString(", ") + s" FROM $prev)"
    val n = h - 1
    s"""WITH $holtCoreSql,
        |${stage("f1", s"h$h", sns)},
        |${stage("f2", "f1", errs)},
        |${stage("f3", "f2", sums)}
        |SELECT n_name, CAST($n AS BIGINT) AS n_eval,
        |  CAST(se_naive // $n AS BIGINT) AS mae_naive_cents,
        |  CAST(se_ses // $n AS BIGINT) AS mae_ses_cents,
        |  CAST(se_holt // $n AS BIGINT) AS mae_holt_cents,
        |  CASE WHEN se_naive = 0 THEN CAST(-1 AS BIGINT)
        |       ELSE CAST((se_ses * 1000000) // se_naive AS BIGINT) END
        |    AS mase_ses_e6,
        |  CASE WHEN se_naive = 0 THEN CAST(-1 AS BIGINT)
        |       ELSE CAST((se_holt * 1000000) // se_naive AS BIGINT) END
        |    AS mase_holt_e6
        |FROM f3 JOIN nation ON n_nationkey = c_nationkey
        |ORDER BY n_name""".stripMargin
  }

  /** The same pinned-alphabet conditional sums and literal 5-term
    * double fold as [[anova]]. */
  private def anovaOracleSql: String = {
    val idx = AnovaSegments.indices
    val condSums = AnovaSegments.zipWithIndex.map { case (s, i) =>
      s"""    CAST(SUM(CASE WHEN g = '$s' THEN 1 ELSE 0 END) AS BIGINT) AS n$i,
         |    SUM(CASE WHEN g = '$s' THEN CAST(y AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS s$i,
         |    SUM(CASE WHEN g = '$s' THEN CAST(y AS HUGEINT) * y ELSE CAST(0 AS HUGEINT) END) AS ss$i""".stripMargin
    }.mkString(",\n")
    val k = AnovaSegments.size
    val nSum = idx.map(i => s"n$i").mkString(" + ")
    val sSum = idx.map(i => s"s$i").mkString(" + ")
    val ssSum = idx.map(i => s"ss$i").mkString(" + ")
    val minn = s"least(${idx.map(i => s"n$i").mkString(", ")})"
    val ssbTerms = idx.map(i =>
      s"CAST(s$i AS DOUBLE) * CAST(s$i AS DOUBLE) / n$i").mkString(" + ")
    s"""WITH src AS (
       |  SELECT c_mktsegment AS g,
       |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS y
       |  FROM customer),
       |m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
       |$condSums
       |  FROM src),
       |d AS (
       |  SELECT n_all, $nSum AS n, n_all - ($nSum) AS n_other,
       |    $minn AS minn,
       |    CAST($sSum AS DOUBLE) * CAST($sSum AS DOUBLE) / ($nSum) AS gm,
       |    $ssbTerms AS ssb_raw,
       |    CAST($ssSum AS DOUBLE) AS sst_raw
       |  FROM m),
       |e AS (
       |  SELECT n, n_other, minn, ssb_raw - gm AS ssb, sst_raw - gm AS sst
       |  FROM d)
       |SELECT CAST($k AS BIGINT) AS k, n, n_other,
       |  CASE WHEN minn = 0 OR sst - ssb <= 0.0 OR n <= $k
       |       THEN CAST(-1 AS BIGINT)
       |       ELSE CAST(floor(1000000.0 * (ssb / ${k - 1}.0)
       |         / ((sst - ssb) / (n - $k))) AS BIGINT) END AS f_e6,
       |  CASE WHEN minn = 0 OR sst <= 0.0 THEN CAST(-1 AS BIGINT)
       |       ELSE CAST(floor(1000000.0 * ssb / sst) AS BIGINT) END AS eta2_e6
       |FROM e""".stripMargin
  }

  /** Best-split SQL block for the binseg oracle — the identical
    * cumulative-sum score, truncating division, (score DESC, day ASC)
    * argmax; HUGEINT window sums cast back to BIGINT at the edges. */
  private def binsegBestSql(src: String, out: String): String =
    s"""${out}c AS (
       |  SELECT seg_id, day, x,
       |    SUM(x) OVER (PARTITION BY seg_id ORDER BY day) AS cum,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY seg_id ORDER BY day) AS BIGINT) AS i,
       |    COUNT(*) OVER (PARTITION BY seg_id) AS n,
       |    SUM(x) OVER (PARTITION BY seg_id) AS s
       |  FROM $src),
       |${out}s AS (
       |  SELECT seg_id, day, i, n, cum, s,
       |    (CAST(cum AS DOUBLE) * cum * (n - i)
       |      + CAST(s - cum AS DOUBLE) * (s - cum) * i)
       |      / (CAST(i AS DOUBLE) * (n - i)) AS score
       |  FROM ${out}c WHERE i < n),
       |$out AS (
       |  SELECT seg_id, day AS split_day, i AS n_left,
       |    CAST(n - i AS BIGINT) AS n_right, CAST(cum AS BIGINT) AS s_left,
       |    CAST(s - cum AS BIGINT) AS s_right,
       |    CAST(cum // i - (s - cum) // (n - i) AS BIGINT) AS mean_gap_cents
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY seg_id
       |      ORDER BY score DESC, day ASC) AS rk FROM ${out}s)
       |  WHERE rk = 1)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // same exact counts/distincts, same uniform-containment estimate
    // and truncating error per edge
    "q_join_advisor" -> {
      val branches = JoinEdges.map { case (nm, lt, lk, rt, rk) =>
        s"""SELECT '$nm' AS join_name, a.n_left, a.d_left, b.n_right,
           |  b.d_right, c.actual_rows
           |FROM
           |  (SELECT CAST(COUNT(*) AS BIGINT) AS n_left,
           |     CAST(COUNT(DISTINCT $lk) AS BIGINT) AS d_left FROM $lt) a,
           |  (SELECT CAST(COUNT(*) AS BIGINT) AS n_right,
           |     CAST(COUNT(DISTINCT $rk) AS BIGINT) AS d_right FROM $rt) b,
           |  (SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows
           |   FROM $lt JOIN $rt ON $lk = $rk) c""".stripMargin
      }
      s"""WITH e AS (
         |${branches.mkString("\nUNION ALL\n")})
         |SELECT join_name, n_left, d_left, n_right, d_right,
         |  CAST((CAST(n_left AS HUGEINT) * n_right)
         |    // greatest(d_left, d_right) AS BIGINT) AS est_rows,
         |  actual_rows,
         |  CASE WHEN actual_rows = 0 THEN CAST(-1 AS BIGINT)
         |    ELSE CAST(abs(CAST((CAST(n_left AS HUGEINT) * n_right)
         |      // greatest(d_left, d_right) AS HUGEINT) - actual_rows)
         |      * 1000000 // actual_rows AS BIGINT) END AS err_e6
         |FROM e ORDER BY join_name""".stripMargin
    },
    // the identical one-md5-per-row bit signs, 64 conditional counter
    // sums, group means and the lower-median rank pick
    "q_ams_f2" -> {
      val sums = (0 until AmsR).map { j =>
        val bit =
          if (j < 60) s"(l1 >> $j) & 1" else s"(l2 >> ${j - 60}) & 1"
        s"CAST(SUM(CASE WHEN $bit = 1 THEN 1 ELSE -1 END) AS BIGINT) AS c$j"
      }
      val meanRows = (0 until AmsGroups).map { g =>
        val terms = (0 until AmsPerGroup)
          .map(p => s"CAST(c${g * AmsPerGroup + p} AS HUGEINT) * c${g * AmsPerGroup + p}")
          .mkString(" + ")
        s"SELECT CAST($g AS BIGINT) AS grp, CAST(($terms) // $AmsPerGroup AS BIGINT) AS mean_f2, n FROM cnt"
      }
      s"""WITH hs AS (
         |  SELECT
         |    CAST(concat('0x', substr(md5(concat('ams', CAST(l_partkey AS VARCHAR))), 1, 15)) AS BIGINT) AS l1,
         |    CAST(concat('0x', substr(md5(concat('ams', CAST(l_partkey AS VARCHAR))), 16, 15)) AS BIGINT) AS l2
         |  FROM lineitem),
         |cnt AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    ${sums.mkString(",\n    ")}
         |  FROM hs),
         |means AS (
         |  ${meanRows.mkString("\n  UNION ALL ")}),
         |est AS (
         |  SELECT mean_f2 AS est_f2, n AS n_rows FROM (
         |    SELECT *, ROW_NUMBER() OVER (ORDER BY mean_f2 ASC, grp ASC) AS rk
         |    FROM means)
         |  WHERE rk = ${(AmsGroups + 1) / 2}),
         |ex AS (
         |  SELECT CAST(SUM(c * c) AS BIGINT) AS exact_f2 FROM (
         |    SELECT CAST(COUNT(*) AS BIGINT) AS c FROM lineitem
         |    GROUP BY l_partkey))
         |SELECT n_rows, exact_f2, est_f2,
         |  abs(est_f2 - exact_f2) * 1000000 // exact_f2 AS rel_err_e6
         |FROM est, ex""".stripMargin
    },
    // same integer-scaled deviations, per-window e6 floor before the
    // integer mean, same evenly-spaced two-point log-log slope
    "q_hurst" ->
      """WITH daily AS (
        |  SELECT l_partkey % 10 AS series,
        |    CAST(datediff('day', DATE '1970-01-01', l_shipdate) AS BIGINT) AS day,
        |    CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |      // COUNT(*) AS BIGINT) AS x
        |  FROM lineitem GROUP BY 1, 2),
        |idx AS (
        |  SELECT series, x,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY series ORDER BY day) - 1
        |      AS BIGINT) AS i
        |  FROM daily),
        |sc AS (
        |  SELECT series, i, x, w, i // w AS win
        |  FROM idx, (SELECT unnest([CAST(8 AS BIGINT), 16, 32]) AS w)),
        |g AS (
        |  SELECT series, w, win, i, x,
        |    COUNT(*) OVER (PARTITION BY series, w, win) AS cnt,
        |    SUM(x) OVER (PARTITION BY series, w, win) AS sx,
        |    SUM(x * x) OVER (PARTITION BY series, w, win) AS sxx,
        |    SUM(x) OVER (PARTITION BY series, w, win ORDER BY i) AS cum
        |  FROM sc),
        |pw AS (
        |  SELECT series, w, win,
        |    MAX(w * cum - ((i % w) + 1) * sx) AS dmax,
        |    MIN(w * cum - ((i % w) + 1) * sx) AS dmin,
        |    MAX(sx) AS sx, MAX(sxx) AS sxx
        |  FROM g WHERE cnt = w GROUP BY series, w, win),
        |rsw AS (
        |  SELECT series, w, win,
        |    CASE WHEN w * sxx - sx * sx <= 0 THEN NULL
        |    ELSE CAST(floor(CAST(dmax - dmin AS DOUBLE)
        |      / sqrt(CAST(w * sxx - sx * sx AS DOUBLE)) * 1e6 + 0.5)
        |      AS BIGINT) END AS rs_e6
        |  FROM pw),
        |rsm AS (
        |  SELECT series, w, CAST(COUNT(*) AS BIGINT) AS n_windows,
        |    CAST(SUM(rs_e6) // COUNT(*) AS BIGINT) AS rs_mean_e6
        |  FROM rsw WHERE rs_e6 IS NOT NULL GROUP BY series, w),
        |h AS (
        |  SELECT series,
        |    MIN(CASE WHEN w = 8 THEN rs_mean_e6 END) AS rs8,
        |    MIN(CASE WHEN w = 32 THEN rs_mean_e6 END) AS rs32
        |  FROM rsm GROUP BY series),
        |he AS (
        |  SELECT series,
        |    CASE WHEN rs8 IS NULL OR rs32 IS NULL OR rs8 <= 0 OR rs32 <= 0
        |    THEN CAST(0 AS BIGINT)
        |    ELSE CAST(floor((ln(CAST(rs32 AS DOUBLE)) - ln(CAST(rs8 AS DOUBLE)))
        |      / (2.0 * ln(2.0)) * 1e6 + 0.5) AS BIGINT) END AS h_e6
        |  FROM h)
        |SELECT rsm.series, rsm.w, rsm.n_windows, rsm.rs_mean_e6, he.h_e6
        |FROM rsm JOIN he USING (series)
        |ORDER BY series, w""".stripMargin,
    // same day collapse, cumulative-sum-only exact scoring, and the
    // two unrolled recursion levels
    "q_binseg" ->
      s"""WITH days AS (
         |  SELECT CAST(datediff('day', DATE '1970-01-01', l_shipdate) AS BIGINT) AS day,
         |    CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
         |  FROM lineitem GROUP BY 1),
         |c0 AS (SELECT CAST(0 AS BIGINT) AS seg_id, day, x FROM days),
         |${binsegBestSql("c0", "b1")},
         |c2 AS (
         |  SELECT CASE WHEN d.day <= b1.split_day THEN CAST(1 AS BIGINT)
         |              ELSE CAST(2 AS BIGINT) END AS seg_id, d.day, d.x
         |  FROM days d, b1),
         |${binsegBestSql("c2", "b2")}
         |SELECT CAST(1 AS BIGINT) AS level, seg_id, split_day, n_left,
         |  n_right, s_left, s_right, mean_gap_cents FROM b1
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), seg_id, split_day, n_left, n_right,
         |  s_left, s_right, mean_gap_cents FROM b2
         |ORDER BY level, seg_id""".stripMargin,
    // the identical string-length log2 bucketing (no float log), the
    // same ceil-rank picks over the bucket census, the same exact
    // percentile audit columns
    "q_hdr_quantiles" ->
      s"""WITH s AS (
         |  SELECT l_partkey % 100 AS series,
         |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
         |  FROM lineitem),
         |bk AS (
         |  SELECT series,
         |    CASE WHEN length(bin(cents)) - 1 < $HdrBits THEN cents
         |         ELSE CAST(length(bin(cents)) - 1 AS BIGINT) * 16
         |              + ((cents >> (length(bin(cents)) - 1 - $HdrBits)) - 16)
         |    END AS bucket
         |  FROM s),
         |cen AS (SELECT series, bucket, COUNT(*) AS c FROM bk GROUP BY series, bucket),
         |cum AS (
         |  SELECT series, bucket, c,
         |    SUM(c) OVER (PARTITION BY series ORDER BY bucket) AS cum,
         |    SUM(c) OVER (PARTITION BY series) AS n
         |  FROM cen),
         |dc AS (
         |  SELECT series, cum, n,
         |    CASE WHEN bucket < 16 THEN bucket
         |         ELSE ((((bucket % 16) + 16) * 2 + 1)
         |               << ((bucket // 16) - $HdrBits)) >> 1
         |    END AS rep
         |  FROM cum),
         |est AS (
         |  SELECT series, CAST(MAX(n) AS BIGINT) AS n,
         |    CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |    ${PctLevels.map(p =>
              s"MIN(CASE WHEN cum >= (n * $p + 99) // 100 THEN rep END) AS p${p}_est_cents")
              .mkString(",\n    ")}
         |  FROM dc GROUP BY series),
         |r AS (
         |  SELECT series, cents,
         |    ROW_NUMBER() OVER (PARTITION BY series ORDER BY cents) AS rn,
         |    COUNT(*) OVER (PARTITION BY series) AS nn
         |  FROM s),
         |ex AS (
         |  SELECT series,
         |    ${PctLevels.map(p =>
              s"MAX(CASE WHEN rn = (nn * $p + 99) // 100 THEN cents END) AS p${p}_exact_cents")
              .mkString(",\n    ")}
         |  FROM r GROUP BY series)
         |SELECT est.series, n, n_buckets,
         |  ${PctLevels.map(p => s"p${p}_est_cents, p${p}_exact_cents").mkString(",\n  ")},
         |  ${PctLevels.map(p =>
              s"abs(p${p}_est_cents - p${p}_exact_cents) * 1000000 // p${p}_exact_cents AS err${p}_e6")
              .mkString(",\n  ")}
         |FROM est JOIN ex USING (series)
         |ORDER BY est.series""".stripMargin,
    // the same 14 exact HUGEINT moments from one scan, the identical
    // one-double-division tree per pair
    "q_corr_matrix" -> {
      val names = CorrVars.map(_._1)
      val moments =
        names.map(n => s"SUM(CAST($n AS HUGEINT)) AS s_$n") ++
        (for { i <- names.indices; j <- i until names.length } yield
          s"SUM(CAST(${names(i)} AS HUGEINT) * ${names(j)}) AS s_${names(i)}_${names(j)}")
      val rows = for { i <- names.indices; j <- i + 1 until names.length }
        yield {
          val (a, b) = (names(i), names(j))
          s"""SELECT '$a' AS var_a, '$b' AS var_b, CAST(n AS BIGINT) AS n,
             |  CASE WHEN (n * s_${a}_$a - s_$a * s_$a) <= 0
             |         OR (n * s_${b}_$b - s_$b * s_$b) <= 0 THEN CAST(0 AS BIGINT)
             |  ELSE CAST(floor(
             |    CAST(n * s_${a}_$b - s_$a * s_$b AS DOUBLE)
             |    / sqrt(CAST(n * s_${a}_$a - s_$a * s_$a AS DOUBLE)
             |         * CAST(n * s_${b}_$b - s_$b * s_$b AS DOUBLE))
             |    * 1e6 + 0.5) AS BIGINT) END AS corr_e6
             |FROM m""".stripMargin
        }
      s"""WITH q AS (
         |  SELECT ${CorrVars.map { case (n, sql) => s"$sql AS $n" }.mkString(",\n    ")}
         |  FROM lineitem),
         |m AS (
         |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         |    ${moments.mkString(",\n    ")}
         |  FROM q)
         |${rows.mkString("\nUNION ALL\n")}
         |ORDER BY var_a, var_b""".stripMargin
    },
    // native GROUPING SETS with the standard grouping-id bitmask
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    // same distinct (day, user, arm) census and two-cell chi-square
    "q_srm" ->
      s"""WITH u AS (
         |  SELECT DISTINCT epoch_ns(ts) // 1000000 // 86400000 AS day,
         |    user_id, user_id % 2 AS variant
         |  FROM events),
         |a AS (
         |  SELECT day,
         |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
         |  FROM u GROUP BY day)
         |SELECT day, n0, n1,
         |  ((n0 - n1) * (n0 - n1) * 1000000) // (n0 + n1) AS srm_chi2_e6,
         |  ((n0 - n1) * (n0 - n1) * 1000000) // (n0 + n1) > $Chi2CritE6 AS srm_flag
         |FROM a ORDER BY day""".stripMargin,
    // same per-relation key census, max-frequency key (min id on
    // ties), and exact integer ratio columns
    "q_skew_advisor" ->
      """WITH cen AS (
        |  SELECT 'events.user_id' AS rel, CAST(user_id AS BIGINT) AS k, COUNT(*) AS c
        |  FROM events GROUP BY user_id
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey', CAST(l_partkey AS BIGINT), COUNT(*)
        |  FROM lineitem GROUP BY l_partkey
        |  UNION ALL
        |  SELECT 'lineitem.l_suppkey', CAST(l_suppkey AS BIGINT), COUNT(*)
        |  FROM lineitem GROUP BY l_suppkey
        |  UNION ALL
        |  SELECT 'orders.o_custkey', CAST(o_custkey AS BIGINT), COUNT(*)
        |  FROM orders GROUP BY o_custkey),
        |st AS (
        |  SELECT rel, CAST(SUM(c) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys, CAST(MAX(c) AS BIGINT) AS max_c
        |  FROM cen GROUP BY rel),
        |tp AS (
        |  SELECT cen.rel, MIN(k) AS top_key
        |  FROM cen JOIN st ON st.rel = cen.rel AND cen.c = st.max_c
        |  GROUP BY cen.rel)
        |SELECT st.rel AS rel, n_rows, n_keys, max_c, top_key,
        |  CAST((CAST(n_rows AS HUGEINT) * 1000000) // n_keys AS BIGINT) AS avg_freq_e6,
        |  CAST((CAST(max_c AS HUGEINT) * n_keys * 1000000) // n_rows AS BIGINT) AS skew_e6,
        |  CAST((CAST(max_c AS HUGEINT) * n_keys + n_rows - 1) // n_rows AS BIGINT) AS salt_buckets
        |FROM st JOIN tp ON tp.rel = st.rel
        |ORDER BY st.rel""".stripMargin,
    // the same bounded (flag, quantity) census, doubled-U window sum,
    // exact tie correction, and one shared IEEE z tree per pair
    "q_rank_sum_pairs" ->
      s"""WITH census AS (
         |  SELECT l_returnflag AS g,
         |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS v,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM lineitem GROUP BY 1, 2),
         |${rankSumPairSql("A", "N", "an")},
         |${rankSumPairSql("A", "R", "ar")},
         |${rankSumPairSql("N", "R", "nr")}
         |SELECT * FROM r_an UNION ALL
         |SELECT * FROM r_ar UNION ALL
         |SELECT * FROM r_nr
         |ORDER BY pair""".stripMargin,
    // pinned segment alphabet, exact conditional moments, literal
    // 5-term between-group fold in segment order
    "q_anova" -> anovaOracleSql,
    // same per-user exposure masks, observed-coalition v table, the
    // identical 4-channel Shapley weight grid, and one // floor
    "q_shapley_attr" -> {
      val maskTerms = ShapChannels.map { case (c, b) =>
        s"MAX(CASE WHEN event_type = '$c' THEN $b ELSE 0 END)"
      }.mkString("\n         |       + ")
      val chRows = ShapChannels.map { case (c, b) => s"('$c', $b)" }
        .mkString(", ")
      s"""WITH u AS (
         |  SELECT user_id,
         |    CAST($maskTerms AS BIGINT) AS mask,
         |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS conv
         |  FROM events GROUP BY user_id),
         |vt AS (
         |  SELECT mask, users, convs, convs * 1000000 // users AS v_e6
         |  FROM (SELECT mask, CAST(COUNT(*) AS BIGINT) AS users,
         |          CAST(SUM(conv) AS BIGINT) AS convs
         |        FROM u GROUP BY mask)),
         |ch AS (SELECT * FROM (VALUES $chRows) AS t(channel, bit)),
         |subsets AS (
         |  SELECT CAST(unnest(generate_series(0,
         |    ${(1L << ShapChannels.size) - 1})) AS BIGINT) AS s),
         |grid AS (
         |  SELECT channel,
         |    COALESCE(v0.v_e6, 0) AS v0, COALESCE(v1.v_e6, 0) AS v1,
         |    CASE bit_count(s) WHEN 0 THEN 3 WHEN ${ShapChannels.size - 1}
         |      THEN 3 ELSE 1 END AS mult
         |  FROM (SELECT channel, s, s | bit AS s1 FROM ch, subsets
         |        WHERE (s & bit) = 0) g
         |  LEFT JOIN vt v0 ON v0.mask = g.s
         |  LEFT JOIN vt v1 ON v1.mask = g.s1),
         |phi AS (
         |  SELECT channel, CAST(SUM(mult * (v1 - v0)) AS BIGINT) AS msum
         |  FROM grid GROUP BY channel),
         |exposed AS (
         |  SELECT channel, CAST(SUM(users) AS BIGINT) AS n_exposed,
         |    CAST(SUM(convs) AS BIGINT) AS n_conv_exposed
         |  FROM ch JOIN vt ON (vt.mask & ch.bit) != 0 GROUP BY channel)
         |SELECT p.channel,
         |  COALESCE(n_exposed, CAST(0 AS BIGINT)) AS n_exposed,
         |  COALESCE(n_conv_exposed, CAST(0 AS BIGINT)) AS n_conv_exposed,
         |  CAST(msum // 12 AS BIGINT) AS phi_e6
         |FROM phi p LEFT JOIN exposed USING (channel)
         |ORDER BY channel""".stripMargin
    },
    // same per-user census, histogram whole-bin deciles (desc), and
    // the identical integer uplift/Qini floors
    "q_qini" ->
      s"""WITH u AS (
         |  SELECT user_id,
         |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS conv,
         |    CAST(SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS score,
         |    user_id % 2 AS variant
         |  FROM events GROUP BY user_id),
         |hist AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM u GROUP BY score),
         |dec AS (
         |  SELECT score, CAST((SUM(c) OVER (ORDER BY score DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)
         |    * $QiniBins // SUM(c) OVER () + 1 AS BIGINT) AS decile
         |  FROM hist),
         |grid AS (
         |  SELECT decile,
         |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_t,
         |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_c,
         |    CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT)
         |      AS conv_t,
         |    CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT)
         |      AS conv_c
         |  FROM u JOIN dec USING (score) GROUP BY decile),
         |cum AS (
         |  SELECT *,
         |    CAST(SUM(n_t) OVER w AS BIGINT) AS cnt,
         |    CAST(SUM(n_c) OVER w AS BIGINT) AS cnc,
         |    CAST(SUM(conv_t) OVER w AS BIGINT) AS cct,
         |    CAST(SUM(conv_c) OVER w AS BIGINT) AS ccc
         |  FROM grid WINDOW w AS (ORDER BY decile
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT decile, n_t, n_c, conv_t, conv_c,
         |  CASE WHEN n_t = 0 OR n_c = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(conv_t * 1000000 // n_t - conv_c * 1000000 // n_c
         |                 AS BIGINT) END AS uplift_e6,
         |  CASE WHEN cnc = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST((cct * cnc - ccc * cnt) * 1000000 // cnc AS BIGINT)
         |  END AS qini_e6
         |FROM cum ORDER BY decile""".stripMargin,
    // same joint census, bounded-cell concordance self-join, HUGEINT
    // tie corrections, and the doubled-denominator IEEE τ tree
    "q_kendall_tau" ->
      s"""WITH li AS (
         |  SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
         |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
         |    CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS t
         |  FROM lineitem),
         |census AS (SELECT q, d, t, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM li GROUP BY q, d, t),
         |ktot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM census),
         |${kendallPairSql("q", "d", "quantity~discount", "qd")},
         |${kendallPairSql("q", "t", "quantity~tax", "qt")},
         |${kendallPairSql("d", "t", "discount~tax", "dt")}
         |SELECT * FROM kr_qd UNION ALL SELECT * FROM kr_qt
         |UNION ALL SELECT * FROM kr_dt ORDER BY pair""".stripMargin,
    // same joint census, centered doubled mid-ranks (Σ c·R′ = 0 by
    // the rank-sum identity), exact HUGEINT moments, one IEEE floor
    "q_spearman" ->
      s"""WITH li AS (
         |  SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
         |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
         |    CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS t
         |  FROM lineitem),
         |census AS (SELECT q, d, t, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM li GROUP BY q, d, t),
         |${spearmanPairSql("q", "d", "quantity~discount", "qd")},
         |${spearmanPairSql("q", "t", "quantity~tax", "qt")},
         |${spearmanPairSql("d", "t", "discount~tax", "dt")}
         |SELECT * FROM r_qd UNION ALL SELECT * FROM r_qt
         |UNION ALL SELECT * FROM r_dt ORDER BY pair""".stripMargin,
    // same salted-md5 bucket membership, exact integer sums on both
    // branches, the same IEEE sigma tree and 3-sigma verdict
    "q_aqp_sum" ->
      s"""WITH li AS (
         |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         |    CAST(concat('0x', substr(md5('aqp' || CAST(l_orderkey AS VARCHAR)
         |      || ':' || CAST(l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT)
         |      % $AqpMod = 0 AS in_s
         |  FROM lineitem),
         |m AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
         |    CAST(SUM(cents) AS BIGINT) AS exact_cents,
         |    CAST(SUM(CASE WHEN in_s THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
         |    CAST(SUM(CASE WHEN in_s THEN cents END) AS BIGINT) AS sample_cents,
         |    SUM(CASE WHEN in_s THEN CAST(cents AS HUGEINT) * cents END)
         |      AS sample_sq
         |  FROM li),
         |e AS (
         |  SELECT *, sample_cents * $AqpMod AS est_cents,
         |    CAST($AqpMod AS DOUBLE) * sqrt(CAST(n_sample AS DOUBLE)
         |      * (CAST(sample_sq AS DOUBLE) / CAST(n_sample AS DOUBLE)
         |         - (CAST(sample_cents AS DOUBLE) / CAST(n_sample AS DOUBLE))
         |           * (CAST(sample_cents AS DOUBLE) / CAST(n_sample AS DOUBLE))))
         |      AS sigma
         |  FROM m)
         |SELECT n_total, n_sample, exact_cents, est_cents,
         |  CAST(abs(est_cents - exact_cents) * 1000000 // exact_cents AS BIGINT)
         |    AS err_e6,
         |  CAST(floor(sigma) AS BIGINT) AS sigma_cents,
         |  CAST(abs(est_cents - exact_cents) AS DOUBLE) <= 3.0 * sigma
         |    AS within_3sigma
         |FROM e""".stripMargin,
    // the q_user_recs chain with the parity filter pushed into the
    // basket scan, then the same anti-joined test set and 1-row verdict
    "q_recs_eval" ->
      """WITH bp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |bpt AS (SELECT * FROM bp WHERE l_orderkey % 2 = 0),
        |f AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_solo
        |      FROM bpt GROUP BY l_partkey),
        |pr AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM bpt a JOIN bpt b USING (l_orderkey)
        |  WHERE a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |sym AS (SELECT part_a, part_b, n_ab FROM pr
        |        UNION ALL SELECT part_b, part_a, n_ab FROM pr),
        |sc AS (
        |  SELECT part_a, part_b, n_ab,
        |    CAST((CAST(n_ab AS HUGEINT) * n_ab * 1000000)
        |      // (CAST(fa.n_solo AS HUGEINT) * fb.n_solo) AS BIGINT) AS cos2_e6
        |  FROM sym
        |  JOIN f fa ON fa.l_partkey = part_a
        |  JOIN f fb ON fb.l_partkey = part_b),
        |nb AS (SELECT part_a, part_b, cos2_e6 FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY part_a
        |      ORDER BY cos2_e6 DESC, n_ab DESC, part_b) AS rnk
        |    FROM sc) WHERE rnk <= 3),
        |ownedt AS (SELECT DISTINCT o_custkey, l_partkey AS part
        |  FROM orders JOIN bpt ON o_orderkey = l_orderkey),
        |cand AS (
        |  SELECT o.o_custkey, nb.part_b,
        |    CAST(SUM(nb.cos2_e6) AS BIGINT) AS score_e6,
        |    CAST(COUNT(*) AS BIGINT) AS n_src
        |  FROM ownedt o JOIN nb ON o.part = nb.part_a
        |  GROUP BY 1, 2),
        |ex AS (
        |  SELECT c.* FROM cand c LEFT JOIN ownedt w
        |    ON c.o_custkey = w.o_custkey AND c.part_b = w.part
        |  WHERE w.part IS NULL),
        |recs AS (SELECT o_custkey, part_b AS part FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY score_e6 DESC, n_src DESC, part_b) AS rnk
        |    FROM ex) WHERE rnk <= 3),
        |testp AS (
        |  SELECT t.o_custkey, t.part FROM (
        |    SELECT DISTINCT o_custkey, l_partkey AS part
        |    FROM orders JOIN bp ON o_orderkey = l_orderkey
        |    WHERE o_orderkey % 2 = 1 AND l_orderkey % 2 = 1) t
        |  LEFT JOIN ownedt w ON t.o_custkey = w.o_custkey AND t.part = w.part
        |  WHERE w.part IS NULL),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_test_pairs,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_test_users FROM testp),
        |h AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
        |  CAST(COUNT(DISTINCT t.o_custkey) AS BIGINT) AS n_users_hit
        |  FROM testp t JOIN recs r ON t.o_custkey = r.o_custkey
        |    AND t.part = r.part)
        |SELECT n_test_pairs, n_test_users, n_hits, n_users_hit,
        |  CASE WHEN n_test_pairs = 0 THEN CAST(-1 AS BIGINT)
        |    ELSE n_hits * 1000000 // n_test_pairs END AS hitrate_e6
        |FROM tot CROSS JOIN h""".stripMargin,
    // same (t_ms, event_id) step order, same pinned argmax tie-break,
    // same '?' unseen-state sentinel and e6 accuracy floor
    "q_markov_eval" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) // 1000000 AS t_ms
        |  FROM events),
        |st AS (
        |  SELECT user_id % 2 = 0 AS is_train, event_type AS src,
        |    LEAD(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY t_ms, event_id) AS dst
        |  FROM e),
        |steps AS (SELECT * FROM st WHERE dst IS NOT NULL),
        |model AS (
        |  SELECT src, dst AS dst_pred, n AS train_n FROM (
        |    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n,
        |      ROW_NUMBER() OVER (PARTITION BY src
        |        ORDER BY COUNT(*) DESC, dst) AS rnk
        |    FROM steps WHERE is_train GROUP BY src, dst)
        |  WHERE rnk = 1)
        |SELECT s.src, COALESCE(m.dst_pred, '?') AS dst_pred,
        |  COALESCE(m.train_n, 0) AS train_n,
        |  CAST(COUNT(*) AS BIGINT) AS test_steps,
        |  CAST(SUM(CASE WHEN s.dst = COALESCE(m.dst_pred, '?')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS test_correct,
        |  CAST(SUM(CASE WHEN s.dst = COALESCE(m.dst_pred, '?')
        |    THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS acc_e6
        |FROM steps s LEFT JOIN model m USING (src)
        |WHERE NOT s.is_train
        |GROUP BY 1, 2, 3 ORDER BY s.src""".stripMargin,
    // same exact HUGEINT moments, same textual cofactor expansion and
    // IEEE divisions, same sentinels and e2/e6 floors
    "q_ols_price" ->
      """WITH c AS (
        |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y,
        |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS x1,
        |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2
        |  FROM lineitem),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(x1 AS HUGEINT)) AS s1, SUM(CAST(x2 AS HUGEINT)) AS s2,
        |    SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x1 AS HUGEINT) * x1) AS s11,
        |    SUM(CAST(x2 AS HUGEINT) * x2) AS s22,
        |    SUM(CAST(x1 AS HUGEINT) * x2) AS s12,
        |    SUM(CAST(x1 AS HUGEINT) * y) AS s1y,
        |    SUM(CAST(x2 AS HUGEINT) * y) AS s2y,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM c),
        |d AS (
        |  SELECT n, CAST(n AS DOUBLE) AS dn, CAST(s1 AS DOUBLE) AS d1,
        |    CAST(s2 AS DOUBLE) AS d2, CAST(sy AS DOUBLE) AS dy,
        |    CAST(s11 AS DOUBLE) AS d11, CAST(s22 AS DOUBLE) AS d22,
        |    CAST(s12 AS DOUBLE) AS d12, CAST(s1y AS DOUBLE) AS d1y,
        |    CAST(s2y AS DOUBLE) AS d2y, CAST(syy AS DOUBLE) AS dyy
        |  FROM m),
        |k AS (
        |  SELECT *,
        |    dn * (d11 * d22 - d12 * d12) - d1 * (d1 * d22 - d12 * d2)
        |      + d2 * (d1 * d12 - d11 * d2) AS det,
        |    dy * (d11 * d22 - d12 * d12) - d1 * (d1y * d22 - d12 * d2y)
        |      + d2 * (d1y * d12 - d11 * d2y) AS det0,
        |    dn * (d1y * d22 - d12 * d2y) - dy * (d1 * d22 - d12 * d2)
        |      + d2 * (d1 * d2y - d1y * d2) AS det1,
        |    dn * (d11 * d2y - d1y * d12) - d1 * (d1 * d2y - d1y * d2)
        |      + dy * (d1 * d12 - d11 * d2) AS det2
        |  FROM d),
        |b AS (
        |  SELECT *, det0 / det AS b0, det1 / det AS b1, det2 / det AS b2
        |  FROM k),
        |f AS (
        |  SELECT *, dyy - b0 * dy - b1 * d1y - b2 * d2y AS sse,
        |    dyy - dy * dy / dn AS sst
        |  FROM b)
        |SELECT n,
        |  CASE WHEN det = 0.0 THEN CAST(-9999999 AS BIGINT)
        |    ELSE CAST(floor(b0 * 100.0) AS BIGINT) END AS b0_c2,
        |  CASE WHEN det = 0.0 THEN CAST(-9999999 AS BIGINT)
        |    ELSE CAST(floor(b1 * 100.0) AS BIGINT) END AS b1_c2,
        |  CASE WHEN det = 0.0 THEN CAST(-9999999 AS BIGINT)
        |    ELSE CAST(floor(b2 * 100.0) AS BIGINT) END AS b2_c2,
        |  CASE WHEN det = 0.0 OR sst = 0.0 THEN CAST(-9999999 AS BIGINT)
        |    ELSE CAST(floor((1.0 - sse / sst) * 1000000.0) AS BIGINT) END AS r2_e6
        |FROM f""".stripMargin,
    // same centered 7-day window with edge-partial sum//count trend,
    // same dow seasonal re-centering, same truncating divisions
    "q_ts_decompose" ->
      """WITH census AS (
        |  SELECT epoch_ns(ts) // 1000 // 86400000000 AS d,
        |    CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |axis AS (SELECT unnest(generate_series(MIN(d), MAX(d))) AS d FROM census),
        |days AS (
        |  SELECT a.d, COALESCE(c.cents, 0) AS y_cents,
        |    CAST(SUM(COALESCE(c.cents, 0)) OVER w
        |      // COUNT(*) OVER w AS BIGINT) AS trend_cents,
        |    a.d % 7 AS dow
        |  FROM axis a LEFT JOIN census c USING (d)
        |  WINDOW w AS (ORDER BY a.d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |dd AS (SELECT *, y_cents - trend_cents AS detr FROM days),
        |seas AS (
        |  SELECT dow, CAST(SUM(detr) // COUNT(*) AS BIGINT) AS seas_raw
        |  FROM dd GROUP BY dow),
        |sc AS (
        |  SELECT dow, CAST(seas_raw
        |    - (SELECT CAST(SUM(seas_raw) AS BIGINT) // 7 FROM seas) AS BIGINT)
        |    AS seasonal_cents
        |  FROM seas)
        |SELECT dd.d, CAST(dd.dow AS BIGINT) AS dow, dd.y_cents, dd.trend_cents,
        |  sc.seasonal_cents,
        |  dd.y_cents - dd.trend_cents - sc.seasonal_cents AS remainder_cents
        |FROM dd JOIN sc USING (dow) ORDER BY dd.d""".stripMargin,
    // the q_copurchase neighbor CTEs verbatim, then the same vote sum,
    // owned exclusion, and totally-ordered top-3
    "q_user_recs" ->
      """WITH bp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |f AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_solo
        |      FROM bp GROUP BY l_partkey),
        |pr AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM bp a JOIN bp b USING (l_orderkey)
        |  WHERE a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |sym AS (SELECT part_a, part_b, n_ab FROM pr
        |        UNION ALL SELECT part_b, part_a, n_ab FROM pr),
        |sc AS (
        |  SELECT part_a, part_b, n_ab,
        |    CAST((CAST(n_ab AS HUGEINT) * n_ab * 1000000)
        |      // (CAST(fa.n_solo AS HUGEINT) * fb.n_solo) AS BIGINT) AS cos2_e6
        |  FROM sym
        |  JOIN f fa ON fa.l_partkey = part_a
        |  JOIN f fb ON fb.l_partkey = part_b),
        |nb AS (SELECT * FROM (
        |    SELECT part_a, part_b, cos2_e6,
        |      ROW_NUMBER() OVER (PARTITION BY part_a
        |        ORDER BY cos2_e6 DESC, n_ab DESC, part_b) AS rnk
        |    FROM sc) WHERE rnk <= 3),
        |owned AS (SELECT DISTINCT o_custkey, l_partkey AS part
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |cand AS (
        |  SELECT o.o_custkey, nb.part_b,
        |    CAST(SUM(nb.cos2_e6) AS BIGINT) AS score_e6,
        |    CAST(COUNT(*) AS BIGINT) AS n_src
        |  FROM owned o JOIN nb ON o.part = nb.part_a
        |  GROUP BY 1, 2),
        |ex AS (
        |  SELECT c.* FROM cand c LEFT JOIN owned w
        |    ON c.o_custkey = w.o_custkey AND c.part_b = w.part
        |  WHERE w.part IS NULL),
        |rr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY score_e6 DESC, n_src DESC, part_b) AS BIGINT) AS rnk
        |  FROM ex)
        |SELECT o_custkey, rnk, part_b AS rec_part, score_e6, n_src
        |FROM rr WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,
    // same leftmost-greedy subsequence test: first-a, min-b-after-a,
    // max-c; strict time inequalities, distinct types, e6 user share
    "q_seq_patterns" ->
      """WITH ev AS (
        |  SELECT user_id, event_type AS t, epoch_ns(ts) // 1000 AS us
        |  FROM events),
        |fa AS (SELECT user_id, t AS a, MIN(us) AS ta FROM ev GROUP BY 1, 2),
        |mc AS (SELECT user_id, t AS c, MAX(us) AS tc FROM ev GROUP BY 1, 2),
        |nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM ev),
        |p2 AS (
        |  SELECT CAST(2 AS BIGINT) AS len, a || '>' || c AS pattern,
        |    CAST(COUNT(*) AS BIGINT) AS support
        |  FROM fa JOIN mc USING (user_id)
        |  WHERE a <> c AND ta < tc GROUP BY 2),
        |ba AS (
        |  SELECT e.user_id, f.a, e.t AS b, MIN(e.us) AS tb
        |  FROM ev e JOIN fa f USING (user_id)
        |  WHERE e.t <> f.a AND e.us > f.ta
        |  GROUP BY 1, 2, 3),
        |p3 AS (
        |  SELECT CAST(3 AS BIGINT) AS len,
        |    a || '>' || b || '>' || c AS pattern,
        |    CAST(COUNT(*) AS BIGINT) AS support
        |  FROM ba JOIN mc USING (user_id)
        |  WHERE c <> a AND c <> b AND tc > tb GROUP BY 2)
        |SELECT len, pattern, support, support * 1000000 // n_users AS share_e6
        |FROM (SELECT * FROM p2 UNION ALL SELECT * FROM p3) CROSS JOIN nu
        |ORDER BY support DESC, pattern""".stripMargin,
    // same e6 rate floor, same n-scaled variance numerator, same
    // clamped method-of-moments nu and posterior-mean staging
    "q_eb_shrink" ->
      """WITH rates AS (
        |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS x
        |  FROM lineitem GROUP BY l_partkey),
        |r2 AS (SELECT *, x * 1000000 // n AS raw_e6 FROM rates),
        |prior AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(raw_e6) AS BIGINT) AS s1,
        |    SUM(CAST(raw_e6 AS HUGEINT) * raw_e6) AS s2
        |  FROM r2),
        |p2 AS (
        |  SELECT k, s1 // k AS mu_e6,
        |    CAST(k AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS var_num
        |  FROM prior),
        |p3 AS (
        |  SELECT k, mu_e6, CAST(CASE WHEN var_num = 0 THEN 1000000000 ELSE
        |    least(greatest((CAST(mu_e6 AS HUGEINT) * (1000000 - mu_e6)
        |      * k * k) // var_num - 1, 1), 1000000000) END AS BIGINT) AS nu
        |  FROM p2)
        |SELECT l_partkey, n, x, raw_e6, mu_e6, nu,
        |  CAST((CAST(x AS HUGEINT) * 1000000 + CAST(mu_e6 AS HUGEINT) * nu)
        |    // (n + nu) AS BIGINT) AS shrunk_e6
        |FROM r2 CROSS JOIN p3 ORDER BY l_partkey""".stripMargin,
    // same IEEE double tree (literal z sum, per-factor divisions, one
    // sqrt) and the same final e6 floors
    "q_power_mde" ->
      s"""WITH flags AS (
        |  SELECT DISTINCT user_id % 2 AS variant, user_id,
        |    epoch_ns(ts) // 1000 // 86400000000 AS d, event_type
        |  FROM events),
        |arms AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        |  FROM (SELECT DISTINCT variant, user_id, d FROM flags)),
        |conv AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS conv0,
        |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS conv1
        |  FROM flags GROUP BY event_type),
        |m AS (
        |  SELECT event_type, n0, n1, conv0, conv1,
        |    CAST(conv0 + conv1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE) AS p_hat
        |  FROM conv CROSS JOIN arms),
        |m2 AS (
        |  SELECT *, $MdeZ * sqrt(p_hat * (1.0 - p_hat)
        |    * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))) AS mde
        |  FROM m)
        |SELECT event_type, n0, n1, conv0, conv1,
        |  CAST(floor(p_hat * 1000000.0) AS BIGINT) AS p_e6,
        |  CAST(floor(mde * 1000000.0) AS BIGINT) AS mde_e6,
        |  CASE WHEN p_hat = 0.0 THEN CAST(-1 AS BIGINT)
        |    ELSE CAST(floor(mde / p_hat * 1000000.0) AS BIGINT) END AS mde_rel_e6
        |FROM m2 ORDER BY event_type""".stripMargin,
    // same dyadic closed form: 2^t * level = y_0 + sum y_j 2^(j-1),
    // HUGEINT cumulative numerator, `<<` weights, floored `//`
    "q_ses_forecast" ->
      """WITH monthly AS (
        |  SELECT c_nationkey, epoch_ns(o_orderdate) // 1000 // (86400000000 * 30) AS m,
        |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS y_cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |mx AS (SELECT MAX(m) - 23 AS m0, MAX(m) AS m1 FROM monthly),
        |axis AS (
        |  SELECT c_nationkey, unnest(generate_series(m0, m1)) AS m, m0
        |  FROM (SELECT DISTINCT c_nationkey FROM monthly) CROSS JOIN mx),
        |f AS (
        |  SELECT a.c_nationkey, a.m, a.m - a.m0 AS j,
        |    COALESCE(mo.y_cents, 0) AS y_cents
        |  FROM axis a LEFT JOIN monthly mo USING (c_nationkey, m)),
        |lv AS (
        |  SELECT *, CAST(
        |      SUM(CAST(y_cents AS HUGEINT)
        |          * (CAST(1 AS BIGINT) << CAST(greatest(j - 1, 0) AS INT))) OVER w
        |      // (CAST(1 AS BIGINT) << CAST(j AS INT)) AS BIGINT) AS level_cents
        |  FROM f WINDOW w AS (PARTITION BY c_nationkey ORDER BY m
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT n_name, m, CAST(j AS BIGINT) AS j, y_cents, level_cents,
        |  LAG(level_cents) OVER v AS forecast_cents,
        |  abs(y_cents - LAG(level_cents) OVER v) AS abs_err_cents
        |FROM lv JOIN nation ON n_nationkey = c_nationkey
        |WINDOW v AS (PARTITION BY c_nationkey ORDER BY m)
        |ORDER BY n_name, m""".stripMargin,
    // same n-scaled centering (cusum = n*prefix - idx*S, no division),
    // same earliest-argmax tie-break and floored pre/post means
    "q_cusum_change" ->
      """WITH census AS (
        |  SELECT epoch_ns(ts) // 1000 // 86400000000 AS d,
        |    CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |bounds AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM census),
        |axis AS (SELECT unnest(generate_series(d0, d1)) AS d, d0 FROM bounds),
        |days AS (
        |  SELECT a.d, COALESCE(c.cents, 0) AS y_cents, a.d - a.d0 + 1 AS idx
        |  FROM axis a LEFT JOIN census c USING (d)),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |               CAST(SUM(y_cents) AS BIGINT) AS s FROM days),
        |cu AS (
        |  SELECT d, y_cents,
        |    CAST(n AS HUGEINT) * SUM(y_cents) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - CAST(idx AS HUGEINT) * s AS cusum
        |  FROM days CROSS JOIN tot),
        |cp AS (SELECT MIN(d) AS cp_d FROM cu
        |       WHERE abs(cusum) = (SELECT MAX(abs(cusum)) FROM cu)),
        |summ AS (
        |  SELECT cp_d,
        |    CAST(SUM(CASE WHEN d <= cp_d THEN y_cents END)
        |      // SUM(CASE WHEN d <= cp_d THEN 1 ELSE 0 END) AS BIGINT)
        |      AS pre_mean_cents,
        |    CAST(CASE WHEN SUM(CASE WHEN d > cp_d THEN 1 ELSE 0 END) = 0 THEN -1
        |      ELSE SUM(CASE WHEN d > cp_d THEN y_cents END)
        |        // SUM(CASE WHEN d > cp_d THEN 1 ELSE 0 END) END AS BIGINT)
        |      AS post_mean_cents
        |  FROM cu CROSS JOIN cp GROUP BY cp_d)
        |SELECT cu.d, cu.y_cents, CAST(cu.cusum AS BIGINT) AS cusum_ns,
        |  cu.d = s.cp_d AS is_cp, s.cp_d, s.pre_mean_cents, s.post_mean_cents
        |FROM cu CROSS JOIN summ s ORDER BY cu.d""".stripMargin,
    // same even/odd split, same exact conformal rank identity and
    // histogram quantile, same HUGEINT coverage scale-up
    "q_conformal" ->
      """WITH p AS (
        |  SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |cal AS (SELECT * FROM p WHERE event_id % 2 = 0),
        |h AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
        |  CAST(SUM(cents) // COUNT(*) AS BIGINT) AS mu_cents,
        |  LEAST(((COUNT(*) + 1) * 9 + 9) // 10, COUNT(*)) AS k FROM cal),
        |rh AS (
        |  SELECT abs(cents - h.mu_cents) AS r, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    MAX(h.k) AS k
        |  FROM cal, h GROUP BY 1),
        |cum AS (
        |  SELECT r, k, SUM(cnt) OVER (ORDER BY r
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM rh),
        |q AS (SELECT CAST(MIN(r) AS BIGINT) AS qhat_cents FROM cum WHERE cum >= k),
        |tst AS (SELECT cents FROM p WHERE event_id % 2 = 1)
        |SELECT h.n_cal, CAST(COUNT(*) AS BIGINT) AS n_test, h.mu_cents,
        |  q.qhat_cents,
        |  CAST(SUM(CASE WHEN abs(cents - h.mu_cents) <= q.qhat_cents
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
        |  CAST(CAST(SUM(CASE WHEN abs(cents - h.mu_cents) <= q.qhat_cents
        |      THEN 1 ELSE 0 END) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
        |    AS coverage_e6,
        |  CAST(900000 AS BIGINT) AS target_e6
        |FROM tst, h, q GROUP BY h.n_cal, h.mu_cents, q.qhat_cents""".stripMargin,
    // same MIN-pinned monthly census, same per-part axis + LOCF
    // windows, same running last-observed-month gap
    "q_gap_fill" ->
      """WITH obs AS (
        |  SELECT l_partkey, epoch_ns(l_shipdate) // (86400000000000 * 30) AS m,
        |    MIN(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS obs_cents
        |  FROM lineitem GROUP BY 1, 2),
        |axis AS (
        |  SELECT l_partkey, unnest(generate_series(MIN(m), MAX(m))) AS m
        |  FROM obs GROUP BY l_partkey),
        |f AS (
        |  SELECT a.l_partkey, a.m, o.obs_cents,
        |    last_value(o.obs_cents IGNORE NULLS) OVER w AS fill_cents,
        |    last_value(CASE WHEN o.obs_cents IS NOT NULL THEN a.m END
        |      IGNORE NULLS) OVER w AS last_obs_m
        |  FROM axis a LEFT JOIN obs o USING (l_partkey, m)
        |  WINDOW w AS (PARTITION BY a.l_partkey ORDER BY a.m
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT l_partkey,
        |  CAST(COUNT(*) AS BIGINT) AS n_months,
        |  CAST(SUM(CASE WHEN obs_cents IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_observed,
        |  CAST(SUM(CASE WHEN obs_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
        |  CAST(MAX(m - last_obs_m) AS BIGINT) AS longest_gap,
        |  CAST(max_by(fill_cents, m) AS BIGINT) AS last_cents
        |FROM f GROUP BY l_partkey ORDER BY l_partkey""".stripMargin,
    // same first-month cohorts, same 30-day months, same cumulative
    // window and div-exact LTV cents
    "q_cohort_ltv" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 // (86400000000 * 30) AS m,
        |    CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END AS cents
        |  FROM events),
        |fst AS (SELECT user_id, MIN(m) AS cohort_m FROM ev GROUP BY user_id),
        |sz AS (SELECT cohort_m, CAST(COUNT(*) AS BIGINT) AS n_users
        |  FROM fst GROUP BY cohort_m),
        |tri AS (
        |  SELECT f.cohort_m, e.m - f.cohort_m AS age,
        |    CAST(SUM(e.cents) AS BIGINT) AS rev_cents,
        |    CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
        |  FROM ev e JOIN fst f USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT t.cohort_m, t.age, sz.n_users, t.n_active, t.rev_cents,
        |  CAST(SUM(t.rev_cents) OVER (PARTITION BY t.cohort_m ORDER BY t.age
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_rev_cents,
        |  CAST(SUM(t.rev_cents) OVER (PARTITION BY t.cohort_m ORDER BY t.age
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    // sz.n_users AS BIGINT) AS ltv_cents
        |FROM tri t JOIN sz USING (cohort_m)
        |ORDER BY cohort_m, age""".stripMargin,
    "q_copurchase" ->
      """WITH bp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |f AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_solo
        |      FROM bp GROUP BY l_partkey),
        |pr AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM bp a JOIN bp b USING (l_orderkey)
        |  WHERE a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |sym AS (SELECT part_a, part_b, n_ab FROM pr
        |        UNION ALL SELECT part_b, part_a, n_ab FROM pr),
        |sc AS (
        |  SELECT part_a, part_b, n_ab, fa.n_solo AS n_a, fb.n_solo AS n_b,
        |    CAST((CAST(n_ab AS HUGEINT) * n_ab * 1000000)
        |      // (CAST(fa.n_solo AS HUGEINT) * fb.n_solo) AS BIGINT) AS cos2_e6
        |  FROM sym
        |  JOIN f fa ON fa.l_partkey = part_a
        |  JOIN f fb ON fb.l_partkey = part_b),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY part_a
        |        ORDER BY cos2_e6 DESC, n_ab DESC, part_b) AS BIGINT) AS rnk
        |      FROM sc)
        |SELECT part_a, rnk, part_b, n_ab, n_a, n_b, cos2_e6
        |FROM r WHERE rnk <= 3 ORDER BY part_a, rnk""".stripMargin,
    "q_session_path" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000000 AS t_ms
         |  FROM events),
         |b AS (
         |  SELECT *, CASE WHEN prev IS NULL OR t_ms - prev >= $SessionGapMs
         |      THEN 1 ELSE 0 END AS brk
         |  FROM (SELECT *, LAG(t_ms) OVER w AS prev FROM e
         |        WINDOW w AS (PARTITION BY user_id ORDER BY t_ms, event_id))),
         |s AS (
         |  SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id
         |    ORDER BY t_ms, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS session_seq
         |  FROM b),
         |rk AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
         |    ORDER BY t_ms, event_id) AS rnk
         |  FROM s),
         |p AS (
         |  SELECT user_id, session_seq,
         |    string_agg(event_type, '>' ORDER BY rnk) AS path
         |  FROM rk WHERE rnk <= 3 GROUP BY user_id, session_seq),
         |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM p)
         |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
         |  CAST((COUNT(*) * 1000000) // n_total AS BIGINT) AS share_e6
         |FROM p, t GROUP BY path, n_total
         |ORDER BY n_sessions DESC, path""".stripMargin,
    "q_props_parse" ->
      """WITH p AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(k) AS BIGINT) AS n_parsed,
        |  MIN(k) AS k_min, MAX(k) AS k_max,
        |  CAST(SUM(k) AS BIGINT) AS k_sum,
        |  CAST(COUNT(DISTINCT k) AS BIGINT) AS k_distinct
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_elasticity" ->
      """WITH pts AS (
        |  SELECT p_brand,
        |    CAST(floor(ln(CAST(unit_cents AS DOUBLE)) * 1e3 + 0.5) AS BIGINT) AS x,
        |    CAST(floor(ln(CAST(units AS DOUBLE)) * 1e3 + 0.5) AS BIGINT) AS y
        |  FROM (
        |    SELECT p_brand,
        |      CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |        // SUM(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS unit_cents,
        |      CAST(SUM(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS units
        |    FROM lineitem JOIN part ON p_partkey = l_partkey
        |    GROUP BY p_brand, l_partkey
        |    HAVING SUM(CAST(floor(l_quantity + 0.5) AS BIGINT)) > 0)
        |  WHERE unit_cents > 0),
        |fit AS (
        |  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
        |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        |    CAST(SUM(x * y) AS HUGEINT) AS sxy, CAST(SUM(x * x) AS HUGEINT) AS sxx
        |  FROM pts GROUP BY p_brand)
        |SELECT p_brand, n_parts,
        |  CAST(((n_parts * sxy - sx * sy) * 1000000)
        |    // (n_parts * sxx - sx * sx) AS BIGINT) AS elasticity_e6
        |FROM fit WHERE n_parts * sxx <> sx * sx
        |ORDER BY p_brand""".stripMargin,
    "q_winsorized_mean" ->
      """WITH h AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY event_type, cents),
        |cum AS (
        |  SELECT event_type, cents, c,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY event_type) AS n
        |  FROM h),
        |cuts AS (
        |  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |    MIN(CASE WHEN cum >= (n * 5 + 99) // 100 THEN cents END) AS p5_cents,
        |    MIN(CASE WHEN cum >= (n * 95 + 99) // 100 THEN cents END) AS p95_cents
        |  FROM cum GROUP BY event_type)
        |SELECT event_type, n, p5_cents, p95_cents,
        |  CAST(SUM(CAST(cents AS HUGEINT) * c) // MAX(n) AS BIGINT) AS mean_cents,
        |  CAST(SUM(CAST(greatest(p5_cents, least(p95_cents, cents)) AS HUGEINT) * c)
        |    // MAX(n) AS BIGINT) AS win_mean_cents
        |FROM h JOIN cuts USING (event_type)
        |GROUP BY event_type, n, p5_cents, p95_cents
        |ORDER BY event_type""".stripMargin,
    // same (type, size) histogram + rank picks + exact mean
    "q_part_catalog" ->
      """WITH h AS (
        |  SELECT p_type, CAST(p_size AS BIGINT) AS sz,
        |    CAST(COUNT(*) AS BIGINT) AS c,
        |    CAST(SUM(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM part GROUP BY p_type, p_size),
        |cum AS (
        |  SELECT p_type, sz, c, cents,
        |    SUM(c) OVER (PARTITION BY p_type ORDER BY sz
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY p_type) AS n
        |  FROM h)
        |SELECT p_type, CAST(MAX(n) AS BIGINT) AS n_parts,
        |  CAST(MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN sz END)
        |    AS BIGINT) AS p50_size,
        |  CAST(MIN(CASE WHEN cum >= (n * 90 + 99) // 100 THEN sz END)
        |    AS BIGINT) AS p90_size,
        |  CAST(CAST(SUM(cents) AS HUGEINT) // MAX(n) AS BIGINT)
        |    AS mean_retail_cents
        |FROM cum GROUP BY p_type ORDER BY p_type""".stripMargin,
    // same day collapse, rank-axis segments, within-part rank symbols,
    // and ORDER BY segment word build
    "q_sax_motifs" ->
      s"""WITH pts AS (
         |  SELECT l_partkey,
         |    epoch_us(l_shipdate) // 86400000000 AS day,
         |    CAST(MIN(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
         |      AS BIGINT) AS cents
         |  FROM lineitem
         |  GROUP BY l_partkey, epoch_us(l_shipdate) // 86400000000),
         |sized AS (
         |  SELECT *,
         |    COUNT(*) OVER (PARTITION BY l_partkey) AS n_days,
         |    ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY day) AS rnk
         |  FROM pts
         |  QUALIFY n_days >= $SaxMinDays),
         |segs AS (
         |  SELECT l_partkey, ((rnk - 1) * $SaxSegments) // n_days AS seg,
         |    SUM(cents) // COUNT(*) AS m
         |  FROM sized GROUP BY l_partkey, ((rnk - 1) * $SaxSegments) // n_days),
         |syms AS (
         |  SELECT l_partkey, seg,
         |    (ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY m, seg) - 1)
         |      // ${SaxSegments / SaxAlphabet} AS sym
         |  FROM segs),
         |words AS (
         |  SELECT l_partkey,
         |    string_agg(CAST(sym AS VARCHAR), '' ORDER BY seg) AS word
         |  FROM syms GROUP BY l_partkey)
         |SELECT word, CAST(COUNT(*) AS BIGINT) AS n_parts,
         |  MIN(l_partkey) AS sample_part
         |FROM words GROUP BY word
         |ORDER BY n_parts DESC, word ASC""".stripMargin,
    // same order-clustered lag runs, exact binary-length dict bits,
    // and the pinned rle/dict/plain thresholds
    "q_encoding_advisor" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber,
        |    l_returnflag AS rf, l_linestatus AS ls,
        |    CAST(floor(l_quantity) AS BIGINT) AS qty, l_partkey AS pk,
        |    epoch_us(l_shipdate) // 86400000000 AS day
        |  FROM lineitem),
        |chg AS (
        |  SELECT *,
        |    CASE WHEN lag(rf) OVER w IS NULL OR rf <> lag(rf) OVER w
        |      THEN 1 ELSE 0 END AS chg_rf,
        |    CASE WHEN lag(ls) OVER w IS NULL OR ls <> lag(ls) OVER w
        |      THEN 1 ELSE 0 END AS chg_ls,
        |    CASE WHEN lag(qty) OVER w IS NULL OR qty <> lag(qty) OVER w
        |      THEN 1 ELSE 0 END AS chg_qty,
        |    CASE WHEN lag(pk) OVER w IS NULL OR pk <> lag(pk) OVER w
        |      THEN 1 ELSE 0 END AS chg_pk,
        |    CASE WHEN lag(day) OVER w IS NULL OR day <> lag(day) OVER w
        |      THEN 1 ELSE 0 END AS chg_day
        |  FROM base
        |  WINDOW w AS (PARTITION BY l_orderkey
        |    ORDER BY l_linenumber, pk, qty, day, rf, ls)),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(COUNT(DISTINCT rf) AS BIGINT) AS d_rf,
        |    CAST(SUM(chg_rf) AS BIGINT) AS r_rf,
        |    CAST(COUNT(DISTINCT ls) AS BIGINT) AS d_ls,
        |    CAST(SUM(chg_ls) AS BIGINT) AS r_ls,
        |    CAST(COUNT(DISTINCT qty) AS BIGINT) AS d_qty,
        |    CAST(SUM(chg_qty) AS BIGINT) AS r_qty,
        |    CAST(COUNT(DISTINCT pk) AS BIGINT) AS d_pk,
        |    CAST(SUM(chg_pk) AS BIGINT) AS r_pk,
        |    CAST(COUNT(DISTINCT day) AS BIGINT) AS d_day,
        |    CAST(SUM(chg_day) AS BIGINT) AS r_day
        |  FROM chg),
        |rows5 AS (
        |  SELECT 'l_linestatus' AS column_name, n_rows, d_ls AS n_distinct, r_ls AS n_runs FROM agg
        |  UNION ALL SELECT 'l_partkey', n_rows, d_pk, r_pk FROM agg
        |  UNION ALL SELECT 'l_quantity', n_rows, d_qty, r_qty FROM agg
        |  UNION ALL SELECT 'l_returnflag', n_rows, d_rf, r_rf FROM agg
        |  UNION ALL SELECT 'l_shipday', n_rows, d_day, r_day FROM agg)
        |SELECT column_name, n_rows, n_distinct, n_runs,
        |  (n_rows * 1000000) // n_runs AS rle_ratio_e6,
        |  CAST(CASE WHEN n_distinct <= 1 THEN 0
        |       ELSE length(bin(n_distinct - 1)) END AS BIGINT) AS dict_bits,
        |  CASE WHEN (n_rows * 1000000) // n_runs >= 2000000 THEN 'rle'
        |       WHEN (CASE WHEN n_distinct <= 1 THEN 0
        |             ELSE length(bin(n_distinct - 1)) END) <= 16
        |       THEN 'dict' ELSE 'plain' END AS suggested
        |FROM rows5 ORDER BY column_name""".stripMargin,
    // same census, top-H by (count desc, key), tail by subtraction,
    // HUGEINT sums mirroring the decimal(38,0) path
    "q_join_card" ->
      s"""WITH census AS (
         |  SELECT l_partkey AS k, CAST(COUNT(*) AS HUGEINT) AS c
         |  FROM lineitem GROUP BY l_partkey),
         |totals AS (
         |  SELECT SUM(c) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_distinct,
         |    SUM(c * c) AS exact_pairs
         |  FROM census),
         |top AS (
         |  SELECT SUM(c) AS top_sum, SUM(c * c) AS top_pairs,
         |    CAST(COUNT(*) AS BIGINT) AS top_n
         |  FROM (SELECT c FROM census ORDER BY c DESC, k ASC LIMIT $JcTopH)),
         |est AS (
         |  SELECT n_rows, n_distinct, exact_pairs,
         |    (n_rows * n_rows) // n_distinct AS est_uniform,
         |    top_pairs + CASE WHEN n_distinct - top_n = 0 THEN 0
         |      ELSE ((n_rows - top_sum) * (n_rows - top_sum))
         |           // (n_distinct - top_n) END AS est_hist
         |  FROM totals, top)
         |SELECT CAST(n_rows AS BIGINT) AS n_rows, n_distinct,
         |  CAST(exact_pairs AS BIGINT) AS exact_pairs,
         |  CAST(est_uniform AS BIGINT) AS est_uniform,
         |  CAST(est_hist AS BIGINT) AS est_hist,
         |  CAST((abs(est_uniform - exact_pairs) * 1000000) // exact_pairs
         |    AS BIGINT) AS err_uniform_e6,
         |  CAST((abs(est_hist - exact_pairs) * 1000000) // exact_pairs
         |    AS BIGINT) AS err_hist_e6
         |FROM est""".stripMargin,
    // same grid scaling, the identical 16-term Morton interleave, the
    // identical unrolled Hilbert stages, and the same zone-map probes
    "q_zorder_layout" ->
      s"""WITH mm AS (
         |  SELECT MIN(l_partkey) AS mnx, MAX(l_partkey) AS mxx,
         |    MIN(l_suppkey) AS mny, MAX(l_suppkey) AS mxy FROM lineitem),
         |scaled AS (
         |  SELECT ((l_partkey - mnx) * ${1 << ZBits}) // (mxx - mnx + 1) AS sx,
         |    ((l_suppkey - mny) * ${1 << ZBits}) // (mxy - mny + 1) AS sy
         |  FROM lineitem, mm),
         |h0 AS (SELECT sx, sy, sx AS hx, sy AS hy,
         |       CAST(0 AS BIGINT) AS hd FROM scaled),
         |${(0 until ZBits).map { i =>
            val s = 1 << (ZBits - 1 - i)
            val (xN, yN, dN) = hilbertStage(s, "hx", "hy", "hd", "//")
            s"h${i + 1} AS (SELECT sx, sy, $xN AS hx, $yN AS hy, $dN AS hd FROM h$i)"
          }.mkString(",\n")},
         |assigned AS (
         |  SELECT sx, sy,
         |    (${zInterleave("sx", "sy", "//")})
         |      // ${(1L << (2 * ZBits)) / ZFiles} AS zfile,
         |    sx // ${(1 << ZBits) / ZFiles} AS linfile,
         |    hd // ${(1L << (2 * ZBits)) / ZFiles} AS hfile
         |  FROM h$ZBits),
         |zz AS (
         |  SELECT 'zorder' AS layout, zfile AS f, MIN(sx) AS mnx,
         |    MAX(sx) AS mxx, MIN(sy) AS mny, MAX(sy) AS mxy
         |  FROM assigned GROUP BY zfile
         |  UNION ALL
         |  SELECT 'linear', linfile, MIN(sx), MAX(sx), MIN(sy), MAX(sy)
         |  FROM assigned GROUP BY linfile
         |  UNION ALL
         |  SELECT 'hilbert', hfile, MIN(sx), MAX(sx), MIN(sy), MAX(sy)
         |  FROM assigned GROUP BY hfile),
         |slices AS (
         |  SELECT i * ${(1 << ZBits) / ZSlices} AS lo,
         |    i * ${(1 << ZBits) / ZSlices} + ${(1 << ZBits) / ZSlices - 1} AS hi
         |  FROM range($ZSlices) t(i)),
         |probes AS (
         |  SELECT layout, 'part' AS dim,
         |    CAST(COUNT(DISTINCT f) AS BIGINT) AS n_files,
         |    CAST(SUM(CASE WHEN mnx <= hi AND mxx >= lo THEN 1 ELSE 0 END)
         |      AS BIGINT) AS files_scanned
         |  FROM zz, slices GROUP BY layout
         |  UNION ALL
         |  SELECT layout, 'supp',
         |    CAST(COUNT(DISTINCT f) AS BIGINT),
         |    CAST(SUM(CASE WHEN mny <= hi AND mxy >= lo THEN 1 ELSE 0 END)
         |      AS BIGINT)
         |  FROM zz, slices GROUP BY layout)
         |SELECT layout, dim, n_files, files_scanned,
         |  (files_scanned * 1000000) // (n_files * $ZSlices) AS scan_frac_e6
         |FROM probes ORDER BY layout, dim""".stripMargin,
    // same salted md5 position windows; "all j bits set" == "all j
    // positions present in the build position set"
    "q_bloom_join" ->
      s"""WITH keys AS (
         |  SELECT c_custkey AS k FROM customer
         |  WHERE c_mktsegment = '$BjSegment'),
         |pos AS (
         |  SELECT DISTINCT p FROM keys, unnest([${(0 until BjHashes).map(i =>
              s"CAST(concat('0x', substr(md5('bj' || CAST(k AS VARCHAR)), ${i * 8 + 1}, 8)) AS BIGINT) % $BjBits").mkString(", ")}]) AS t(p)),
         |probe AS (
         |  SELECT o.o_orderkey, o.o_custkey,
         |    ${(0 until BjHashes).map(i =>
              s"(CAST(concat('0x', substr(md5('bj' || CAST(o.o_custkey AS VARCHAR)), ${i * 8 + 1}, 8)) AS BIGINT) % $BjBits) IN (SELECT p FROM pos)").mkString("\n         |    AND ")} AS kept,
         |    CASE WHEN o.o_custkey IN (SELECT k FROM keys)
         |         THEN 1 ELSE 0 END AS is_exact
         |  FROM orders o)
         |SELECT
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM keys) AS build_keys,
         |  CAST(COUNT(*) AS BIGINT) AS n_probe,
         |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(is_exact) AS BIGINT) AS n_exact,
         |  CAST(SUM(CASE WHEN kept AND is_exact = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS false_pos,
         |  CAST(CASE WHEN COUNT(*) = SUM(is_exact) THEN -1
         |       ELSE (SUM(CASE WHEN kept AND is_exact = 0 THEN 1 ELSE 0 END)
         |             * 1000000) // (COUNT(*) - SUM(is_exact)) END
         |    AS BIGINT) AS fp_e6,
         |  CAST(((COUNT(*) - SUM(CASE WHEN kept THEN 1 ELSE 0 END)) * 1000000)
         |    // COUNT(*) AS BIGINT) AS shuffle_saved_e6
         |FROM probe""".stripMargin,
    // same per-price max-size census, running price-axis max, and
    // (price, size) frontier join-back
    "q_skyline" ->
      """WITH pts AS (
        |  SELECT p_partkey, p_brand,
        |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
        |    CAST(p_size AS BIGINT) AS p_size
        |  FROM part),
        |pp AS (SELECT price_cents, MAX(p_size) AS smax
        |       FROM pts GROUP BY price_cents),
        |run AS (
        |  SELECT price_cents, smax,
        |    MAX(smax) OVER (ORDER BY price_cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS before_max
        |  FROM pp),
        |sky AS (SELECT price_cents, smax AS p_size FROM run
        |        WHERE before_max IS NULL OR smax > before_max)
        |SELECT p.p_partkey, p.p_brand, p.price_cents, p.p_size
        |FROM pts p JOIN sky s USING (price_cents, p_size)
        |ORDER BY p.price_cents, p.p_partkey""".stripMargin,
    // same nation agg + pinned richest-supplier argmax
    "q_supplier_balance" ->
      """WITH sup AS (
        |  SELECT s_suppkey, s_name, s_nationkey,
        |    CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS cents
        |  FROM supplier),
        |top AS (
        |  SELECT s_nationkey, s_name AS top_supplier, cents AS top_cents
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY s_nationkey
        |          ORDER BY cents DESC, s_suppkey ASC) AS rn FROM sup)
        |  WHERE rn = 1),
        |agg AS (
        |  SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
        |    CAST(SUM(CASE WHEN cents < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_debtors,
        |    CAST(CAST(SUM(cents) AS HUGEINT) // COUNT(*) AS BIGINT)
        |      AS mean_cents
        |  FROM sup GROUP BY s_nationkey)
        |SELECT n.n_name AS nation, n_suppliers, n_debtors, mean_cents,
        |  top_supplier, top_cents
        |FROM agg
        |JOIN top USING (s_nationkey)
        |JOIN nation n ON n.n_nationkey = s_nationkey
        |ORDER BY nation""".stripMargin,
    // same fact chain + nation→region broadcast rollup + world share
    "q_region_trade" ->
      """WITH n2r AS (
        |  SELECT n_nationkey, r_name
        |  FROM nation JOIN region ON r_regionkey = n_regionkey),
        |flows AS (
        |  SELECT cr.r_name AS cust_region, sr.r_name AS supp_region,
        |    CAST(COUNT(*) AS BIGINT) AS n_lines,
        |    CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS rev_cents
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN n2r cr ON cr.n_nationkey = c_nationkey
        |  JOIN n2r sr ON sr.n_nationkey = s_nationkey
        |  GROUP BY cr.r_name, sr.r_name),
        |w AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS world_cents FROM flows)
        |SELECT cust_region, supp_region,
        |  cust_region = supp_region AS intra, n_lines, rev_cents,
        |  CAST((CAST(rev_cents AS HUGEINT) * 1000000) // world_cents AS BIGINT)
        |    AS share_e6
        |FROM flows CROSS JOIN w
        |ORDER BY cust_region, supp_region""".stripMargin,
    // same cents histogram + cumsum rank picks; debtors = cents < 0
    "q_acctbal_profile" ->
      """WITH h AS (
        |  SELECT c_mktsegment,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM customer GROUP BY c_mktsegment, cents),
        |cum AS (
        |  SELECT c_mktsegment, cents, c,
        |    SUM(c) OVER (PARTITION BY c_mktsegment ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM h)
        |SELECT c_mktsegment, CAST(MAX(n) AS BIGINT) AS n_customers,
        |  CAST(SUM(CASE WHEN cents < 0 THEN c ELSE 0 END) AS BIGINT)
        |    AS n_debtors,
        |  CAST(MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN cents END)
        |    AS BIGINT) AS p50_cents,
        |  CAST(MIN(CASE WHEN cum >= (n * 90 + 99) // 100 THEN cents END)
        |    AS BIGINT) AS p90_cents,
        |  CAST(CAST(SUM(cents * c) AS HUGEINT) // MAX(n) AS BIGINT)
        |    AS mean_cents
        |FROM cum GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    // same integer net-cents per line; 11-band rollup
    "q_discount_effect" ->
      """WITH li AS (
        |  SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_pct,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
        |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS units
        |  FROM lineitem)
        |SELECT disc_pct, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(cents) AS BIGINT) AS gross_cents,
        |  CAST(SUM((cents * (100 - disc_pct)) // 100) AS BIGINT) AS net_cents,
        |  CAST(SUM(units) AS BIGINT) AS units,
        |  CAST((CAST(SUM(units) AS HUGEINT) * 1000) // COUNT(*) AS BIGINT)
        |    AS mean_units_e3
        |FROM li GROUP BY disc_pct ORDER BY disc_pct""".stripMargin,
    // same supplier agg + global-rate broadcast + watch rule
    "q_supplier_reliability" ->
      """WITH per AS (
        |  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_returned
        |  FROM lineitem GROUP BY l_suppkey),
        |rated AS (
        |  SELECT l_suppkey, n_lines, n_returned,
        |    CAST((CAST(n_returned AS HUGEINT) * 1000000) // n_lines AS BIGINT)
        |      AS rate_e6
        |  FROM per),
        |g AS (
        |  SELECT CAST((CAST(SUM(n_returned) AS HUGEINT) * 1000000)
        |    // SUM(n_lines) AS BIGINT) AS global_e6 FROM per)
        |SELECT l_suppkey, n_lines, n_returned, rate_e6, global_e6,
        |  n_lines >= 20 AND rate_e6 > global_e6 * 2 AS watch
        |FROM rated CROSS JOIN g ORDER BY l_suppkey""".stripMargin,
    // same 4-table chain + nation names + import-share window
    "q_nation_flows" ->
      """WITH flows AS (
        |  SELECT c_nationkey, s_nationkey,
        |    CAST(COUNT(*) AS BIGINT) AS n_lines,
        |    CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS rev_cents
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  GROUP BY c_nationkey, s_nationkey),
        |named AS (
        |  SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
        |    n_lines, rev_cents
        |  FROM flows
        |  JOIN nation cn ON cn.n_nationkey = c_nationkey
        |  JOIN nation sn ON sn.n_nationkey = s_nationkey)
        |SELECT cust_nation, supp_nation, n_lines, rev_cents,
        |  CAST((CAST(rev_cents AS HUGEINT) * 1000000)
        |    // SUM(rev_cents) OVER (PARTITION BY cust_nation) AS BIGINT)
        |    AS share_e6
        |FROM named ORDER BY cust_nation, supp_nation""".stripMargin,
    // same (part, supplier) offers + rank-2 conditional fold
    "q_price_gap" ->
      """WITH offers AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |      // SUM(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
        |      AS unit_cents
        |  FROM lineitem GROUP BY l_partkey, l_suppkey
        |  HAVING SUM(CAST(floor(l_quantity + 0.5) AS BIGINT)) > 0),
        |ranked AS (
        |  SELECT l_partkey, unit_cents,
        |    ROW_NUMBER() OVER (PARTITION BY l_partkey
        |      ORDER BY unit_cents, l_suppkey) AS rk
        |  FROM offers),
        |folded AS (
        |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
        |    MAX(CASE WHEN rk = 1 THEN unit_cents END) AS best_cents,
        |    MAX(CASE WHEN rk = 2 THEN unit_cents END) AS second_cents
        |  FROM ranked GROUP BY l_partkey)
        |SELECT l_partkey, n_suppliers, best_cents, second_cents,
        |  second_cents - best_cents AS gap_cents,
        |  CAST((CAST(second_cents - best_cents AS HUGEINT) * 1000000)
        |    // best_cents AS BIGINT) AS gap_e6
        |FROM folded WHERE n_suppliers >= 2
        |ORDER BY l_partkey""".stripMargin,
    // same chained min-aggs + minute-lag histogram rank picks
    "q_time_to_purchase" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_ns(ts) // 1000000 AS t FROM events),
        |s AS (SELECT user_id, MIN(t) AS t0 FROM ev
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |lag AS (
        |  SELECT ev.user_id, s.t0 // 604800000 AS cohort_week,
        |    (MIN(ev.t) - s.t0) // 60000 AS lag_min
        |  FROM ev JOIN s ON ev.user_id = s.user_id
        |  WHERE event_type = 'purchase' AND t >= t0
        |  GROUP BY ev.user_id, s.t0),
        |h AS (SELECT cohort_week, lag_min, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lag GROUP BY cohort_week, lag_min),
        |cum AS (
        |  SELECT cohort_week, lag_min, c,
        |    SUM(c) OVER (PARTITION BY cohort_week ORDER BY lag_min
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY cohort_week) AS n
        |  FROM h)
        |SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
        |  CAST(MAX(n) AS BIGINT) AS n_converted,
        |  CAST(MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN lag_min END)
        |    AS BIGINT) AS p50_min,
        |  CAST(MIN(CASE WHEN cum >= (n * 90 + 99) // 100 THEN lag_min END)
        |    AS BIGINT) AS p90_min
        |FROM cum GROUP BY cohort_week ORDER BY cohort_week""".stripMargin,
    // same per-customer lag gaps + histogram-cumsum rank picks
    "q_repeat_interval" ->
      """WITH g AS (
        |  SELECT o_custkey,
        |    d - LAG(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
        |      AS gap
        |  FROM (SELECT o_custkey, o_orderkey,
        |          epoch_ns(o_orderdate) // 86400000000000 AS d FROM orders)),
        |seg AS (
        |  SELECT c_mktsegment, gap FROM g
        |  JOIN customer ON c_custkey = o_custkey
        |  WHERE gap IS NOT NULL),
        |h AS (SELECT c_mktsegment, gap, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM seg GROUP BY c_mktsegment, gap),
        |cum AS (
        |  SELECT c_mktsegment, gap, c,
        |    SUM(c) OVER (PARTITION BY c_mktsegment ORDER BY gap
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM h)
        |SELECT c_mktsegment, CAST(MAX(n) AS BIGINT) AS n_gaps,
        |  CAST(MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN gap END) AS BIGINT)
        |    AS p50_days,
        |  CAST(MIN(CASE WHEN cum >= (n * 90 + 99) // 100 THEN gap END) AS BIGINT)
        |    AS p90_days,
        |  CAST((CAST(SUM(gap * c) AS HUGEINT) * 1000) // MAX(n) AS BIGINT)
        |    AS mean_days_e3
        |FROM cum GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    // the exact q_sessionize session cut; browsing sessions only
    "q_cart_abandon" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, event_type,
         |    epoch_ns(ts) // 1000000 AS t_ms FROM events),
         |marked AS (
         |  SELECT user_id, event_id, event_type, t_ms,
         |    CASE WHEN LAG(t_ms) OVER w IS NULL
         |      OR t_ms - LAG(t_ms) OVER w >= $SessionGapMs THEN 1 ELSE 0 END AS brk
         |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t_ms, event_id)),
         |sess AS (
         |  SELECT user_id, event_type, t_ms,
         |    SUM(brk) OVER (PARTITION BY user_id ORDER BY t_ms, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
         |  FROM marked),
         |per AS (
         |  SELECT user_id, session_seq, MIN(t_ms) AS start_ms,
         |    MAX(CASE WHEN event_type IN ('view', 'click') THEN 1 ELSE 0 END)
         |      AS browsed,
         |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS purchased
         |  FROM sess GROUP BY user_id, session_seq)
         |SELECT CAST(start_ms // 86400000 AS BIGINT) AS day,
         |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
         |  CAST(SUM(CASE WHEN purchased = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_abandoned,
         |  CAST((SUM(CASE WHEN purchased = 0 THEN 1 ELSE 0 END) * 1000000)
         |    // COUNT(*) AS BIGINT) AS abandon_e6
         |FROM per WHERE browsed = 1
         |GROUP BY start_ms // 86400000 ORDER BY day""".stripMargin,
    // same string first digit; identical inlined e6 constants
    "q_benford" -> {
      val expected = BenfordE6.toSeq.sortBy(_._1)
        .map { case (d, e) => s"WHEN $d THEN $e" }
        .mkString("CASE digit ", " ", " END")
      s"""WITH d AS (
         |  SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
         |  FROM (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
         |        FROM lineitem) WHERE cents > 0),
         |h AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM h)
         |SELECT digit, n,
         |  CAST((CAST(n AS HUGEINT) * 1000000) // n_total AS BIGINT) AS share_e6,
         |  CAST($expected AS BIGINT) AS benford_e6,
         |  CAST((CAST(n AS HUGEINT) * 1000000) // n_total AS BIGINT)
         |    - CAST($expected AS BIGINT) AS dev_e6
         |FROM h CROSS JOIN tot ORDER BY digit""".stripMargin
    },
    // same day quantization; the weight is the same integer shift
    "q_decayed_topk" ->
      """WITH e AS (
        |  SELECT concat('shop', CAST(user_id % 37 AS VARCHAR), '.example.com')
        |    AS domain,
        |    epoch_ns(ts) // 86400000000000 AS day
        |  FROM events),
        |md AS (SELECT MAX(day) AS max_day FROM e),
        |agg AS (
        |  SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(MIN(max_day - day) AS BIGINT) AS freshest_age,
        |    CAST(SUM(CAST(1000000 AS BIGINT) >> least(max_day - day, 62))
        |      AS BIGINT) AS decayed_e6
        |  FROM e CROSS JOIN md GROUP BY domain)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY decayed_e6 DESC, domain ASC)
        |    AS BIGINT) AS rank,
        |  domain, n_events, freshest_age, decayed_e6
        |FROM agg
        |ORDER BY rank""".stripMargin,
    // identical arithmetic tree with the same inlined z/z2 literals;
    // doubles forced by 2.0/4.0 factors; IEEE div+sqrt are correctly
    // rounded so both engines produce the same bits pre-floor
    "q_wilson_rates" ->
      s"""WITH s AS (
         |  SELECT concat('shop', CAST(user_id % 37 AS VARCHAR), '.example.com')
         |    AS domain,
         |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS fail
         |  FROM events),
         |agg AS (
         |  SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_events,
         |    CAST(SUM(fail) AS BIGINT) AS n_errors
         |  FROM s GROUP BY domain),
         |sc AS (
         |  SELECT domain, n_events, n_errors,
         |    CAST(n_errors * 1000000 // n_events AS BIGINT) AS rate_e6,
         |    CAST(floor(((n_errors/n_events + $WilsonZ2/(2.0*n_events))
         |      - $WilsonZ * sqrt(n_errors/n_events*(1 - n_errors/n_events)/n_events
         |        + $WilsonZ2/(4.0*n_events*n_events)))
         |      / (1 + $WilsonZ2/n_events) * 1e6 + 0.5) AS BIGINT) AS wilson_e6
         |  FROM agg)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY wilson_e6 DESC, domain ASC)
         |    AS BIGINT) AS rank,
         |  domain, n_events, n_errors, rate_e6, wilson_e6
         |FROM sc
         |ORDER BY rank""".stripMargin,
    // same max-vs-sum concentration; 100k-wide e6 buckets capped at 9
    "q_brand_loyalty" ->
      """WITH baskets AS (
        |  SELECT DISTINCT o_custkey, l_orderkey, p_brand
        |  FROM lineitem
        |  JOIN part ON p_partkey = l_partkey
        |  JOIN orders ON o_orderkey = l_orderkey),
        |pb AS (SELECT o_custkey, p_brand, CAST(COUNT(*) AS BIGINT) AS nb
        |  FROM baskets GROUP BY o_custkey, p_brand),
        |pc AS (
        |  SELECT o_custkey,
        |    CAST((CAST(MAX(nb) AS HUGEINT) * 1000000) // SUM(nb) AS BIGINT)
        |      AS share_e6
        |  FROM pb GROUP BY o_custkey)
        |SELECT LEAST(share_e6 // 100000, 9) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(share_e6) // COUNT(*) AS BIGINT) AS mean_share_e6
        |FROM pc GROUP BY 1 ORDER BY bucket""".stripMargin,
    // same IGNORE NULLS carried touch over the pinned order
    "q_attribution" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, event_type,
         |    epoch_ns(ts) // 1000000 AS t_ms,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events),
         |marked AS (
         |  SELECT event_type, t_ms, cents,
         |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
         |      IGNORE NULLS) OVER w AS src_type,
         |    last_value(CASE WHEN event_type <> 'purchase' THEN t_ms END
         |      IGNORE NULLS) OVER w AS src_t
         |  FROM ev
         |  WINDOW w AS (PARTITION BY user_id ORDER BY t_ms, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |conv AS (
         |  SELECT CASE WHEN src_t IS NOT NULL AND t_ms - src_t <= $AttrWinMs
         |    THEN src_type ELSE 'direct' END AS channel, cents
         |  FROM marked WHERE event_type = 'purchase'),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM conv)
         |SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_conversions,
         |  CAST(SUM(cents) AS BIGINT) AS rev_cents,
         |  CAST((COUNT(*) * 1000000) // n_total AS BIGINT) AS share_e6
         |FROM conv CROSS JOIN tot GROUP BY channel, n_total
         |ORDER BY channel""".stripMargin,
    // same (brand, epoch-week) rollup; brand lag + week share windows
    "q_period_growth" ->
      """WITH weekly AS (
        |  SELECT p_brand,
        |    epoch_ns(l_shipdate) // (86400000000000 * 7) AS week,
        |    CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS rev_cents
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  GROUP BY p_brand, week),
        |w AS (
        |  SELECT p_brand, week, rev_cents,
        |    LAG(rev_cents) OVER (PARTITION BY p_brand ORDER BY week) AS prev,
        |    SUM(rev_cents) OVER (PARTITION BY week) AS week_total
        |  FROM weekly)
        |SELECT p_brand, CAST(week AS BIGINT) AS week, rev_cents,
        |  CAST((CAST(rev_cents - prev AS HUGEINT) * 1000000) // prev AS BIGINT)
        |    AS wow_e6,
        |  CAST((CAST(rev_cents AS HUGEINT) * 1000000) // week_total AS BIGINT)
        |    AS share_e6
        |FROM w WHERE prev IS NOT NULL
        |ORDER BY p_brand, week""".stripMargin,
    // same lag/lead classification; churn lands at m+1 via LEAD
    "q_growth_accounting" ->
      s"""WITH um AS (
         |  SELECT DISTINCT user_id,
         |    epoch_ns(ts) // (86400000000000 * $GaMonthDays) AS m
         |  FROM events),
         |cls AS (
         |  SELECT m,
         |    CASE WHEN m = MIN(m) OVER w THEN 1 ELSE 0 END AS is_new,
         |    CASE WHEN LAG(m) OVER w = m - 1 THEN 1 ELSE 0 END AS is_ret,
         |    CASE WHEN LAG(m) OVER w IS NOT NULL AND LAG(m) OVER w < m - 1
         |      THEN 1 ELSE 0 END AS is_res,
         |    LEAD(m) OVER w AS next_m
         |  FROM um WINDOW w AS (PARTITION BY user_id ORDER BY m)),
         |last AS (SELECT MAX(m) AS last_m FROM um),
         |led AS (
         |  SELECT m, CAST(COUNT(*) AS BIGINT) AS n_active,
         |    CAST(SUM(is_new) AS BIGINT) AS n_new,
         |    CAST(SUM(is_ret) AS BIGINT) AS n_retained,
         |    CAST(SUM(is_res) AS BIGINT) AS n_resurrected
         |  FROM cls GROUP BY m),
         |ch AS (
         |  SELECT m + 1 AS m, CAST(COUNT(*) AS BIGINT) AS n_churned
         |  FROM cls CROSS JOIN last
         |  WHERE (next_m IS NULL OR next_m > m + 1) AND m < last_m
         |  GROUP BY m + 1),
         |axis AS (
         |  SELECT UNNEST(generate_series(m0, m1)) AS m
         |  FROM (SELECT MIN(m) AS m0, MAX(m) AS m1 FROM um))
         |SELECT CAST(axis.m AS BIGINT) AS month,
         |  CAST(COALESCE(led.n_active, 0) AS BIGINT) AS n_active,
         |  CAST(COALESCE(led.n_new, 0) AS BIGINT) AS n_new,
         |  CAST(COALESCE(led.n_retained, 0) AS BIGINT) AS n_retained,
         |  CAST(COALESCE(led.n_resurrected, 0) AS BIGINT) AS n_resurrected,
         |  CAST(COALESCE(ch.n_churned, 0) AS BIGINT) AS n_churned,
         |  CAST(CASE WHEN COALESCE(ch.n_churned, 0) = 0 THEN -1
         |    ELSE ((COALESCE(led.n_new, 0) + COALESCE(led.n_resurrected, 0))
         |      * 1000000) // ch.n_churned END
         |    AS BIGINT) AS quick_e6
         |FROM axis LEFT JOIN led ON led.m = axis.m
         |  LEFT JOIN ch ON ch.m = axis.m
         |ORDER BY month""".stripMargin,
    // same chained conditional min-aggs; strict > so equal-ms events
    // never advance the funnel
    "q_window_funnel" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type, epoch_ns(ts) // 1000000 AS t FROM events),
         |t1 AS (SELECT user_id, MIN(t) AS t1 FROM ev
         |  WHERE event_type = 'signup' GROUP BY user_id),
         |t2 AS (SELECT ev.user_id, MIN(t) AS t2 FROM ev JOIN t1 USING (user_id)
         |  WHERE event_type = 'view' AND t > t1 AND t <= t1 + $StepWinMs
         |  GROUP BY ev.user_id),
         |t3 AS (SELECT ev.user_id, MIN(t) AS t3
         |  FROM ev JOIN t1 USING (user_id) JOIN t2 USING (user_id)
         |  WHERE event_type = 'purchase' AND t > t2 AND t <= t1 + $StepWinMs
         |  GROUP BY ev.user_id),
         |depths AS (
         |  SELECT t1.user_id,
         |    1 + (CASE WHEN t2.t2 IS NOT NULL THEN 1 ELSE 0 END)
         |      + (CASE WHEN t3.t3 IS NOT NULL THEN 1 ELSE 0 END) AS depth
         |  FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)),
         |cohort AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_signup FROM depths)
         |SELECT CAST(depth AS BIGINT) AS depth,
         |  CAST(COUNT(*) AS BIGINT) AS n_users,
         |  CAST((COUNT(*) * 1000000) // n_signup AS BIGINT) AS share_e6
         |FROM depths CROSS JOIN cohort
         |GROUP BY depth, n_signup ORDER BY depth""".stripMargin,
    // same histogram-cumsum rank picks; min ship day pre-agg
    "q_order_latency" ->
      """WITH shipped AS (
        |  SELECT l_orderkey,
        |    MIN(epoch_ns(l_shipdate) // 86400000000000) AS ship_day
        |  FROM lineitem GROUP BY l_orderkey),
        |lat AS (
        |  SELECT o_orderpriority,
        |    ship_day - (epoch_ns(o_orderdate) // 86400000000000) AS lat
        |  FROM orders JOIN shipped ON l_orderkey = o_orderkey),
        |h AS (SELECT o_orderpriority, lat, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lat GROUP BY o_orderpriority, lat),
        |cum AS (
        |  SELECT o_orderpriority, lat, c,
        |    SUM(c) OVER (PARTITION BY o_orderpriority ORDER BY lat
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM h)
        |SELECT o_orderpriority, CAST(MAX(n) AS BIGINT) AS n_orders,
        |  CAST(MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN lat END) AS BIGINT)
        |    AS p50_days,
        |  CAST(MIN(CASE WHEN cum >= (n * 90 + 99) // 100 THEN lat END) AS BIGINT)
        |    AS p90_days,
        |  CAST(MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN lat END) AS BIGINT)
        |    AS p99_days,
        |  CAST((CAST(SUM(lat * c) AS HUGEINT) * 1000) // MAX(n) AS BIGINT)
        |    AS mean_days_e3,
        |  CAST(MAX(lat) AS BIGINT) AS max_days
        |FROM cum GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // same lag→flag→cumsum versioning; lead closes each range
    // same key offset, arg_max last-writer-wins, full-outer merge
    "q_cdc_merge" ->
      s"""WITH base AS (
         |  SELECT c_custkey AS user_id,
         |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS base_cents
         |  FROM customer),
         |ofs AS (
         |  SELECT (SELECT MAX(c_custkey) FROM customer)
         |    - (SELECT MAX(user_id) FROM events) // 2 AS o),
         |last AS (
         |  SELECT user_id + o AS user_id,
         |    arg_max(CASE WHEN event_type = 'error' THEN 'delete'
         |                 ELSE 'upsert' END, event_id) AS op,
         |    arg_max(CAST(floor(value * 100 + 0.5) AS BIGINT), event_id) AS cents
         |  FROM events CROSS JOIN ofs GROUP BY 1)
         |SELECT COALESCE(b.user_id, l.user_id) AS user_id,
         |  CASE WHEN l.op IS NULL THEN 'base'
         |       WHEN b.base_cents IS NULL THEN 'insert'
         |       ELSE 'update' END AS src,
         |  CASE WHEN l.op IS NULL THEN b.base_cents ELSE l.cents END
         |    AS value_cents
         |FROM base b FULL OUTER JOIN last l ON b.user_id = l.user_id
         |WHERE l.op IS NULL OR l.op = 'upsert'
         |ORDER BY user_id""".stripMargin,
    "q_scd2" ->
      """WITH daily AS (
        |  SELECT l_partkey, epoch_ns(l_shipdate) // 86400000000000 AS day,
        |    MIN(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |      // CAST(floor(l_quantity + 0.5) AS BIGINT)) AS price_cents
        |  FROM lineitem GROUP BY l_partkey, day),
        |flagged AS (
        |  SELECT l_partkey, day, price_cents,
        |    CASE WHEN LAG(price_cents) OVER w IS NULL
        |      OR LAG(price_cents) OVER w <> price_cents THEN 1 ELSE 0 END AS chg
        |  FROM daily WINDOW w AS (PARTITION BY l_partkey ORDER BY day)),
        |versioned AS (
        |  SELECT l_partkey, day, price_cents,
        |    SUM(chg) OVER (PARTITION BY l_partkey ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
        |  FROM flagged),
        |ranges AS (
        |  SELECT l_partkey, CAST(version AS BIGINT) AS version,
        |    MIN(price_cents) AS price_cents, MIN(day) AS from_day,
        |    CAST(COUNT(*) AS BIGINT) AS n_days
        |  FROM versioned GROUP BY l_partkey, version)
        |SELECT l_partkey, version, price_cents,
        |  CAST(from_day AS BIGINT) AS from_day,
        |  CAST(COALESCE(LEAD(from_day) OVER (PARTITION BY l_partkey
        |    ORDER BY version), -1) AS BIGINT) AS to_day,
        |  n_days
        |FROM ranges ORDER BY l_partkey, version""".stripMargin,
    // same block-merge sweep + delta census; generate_series day axis
    "q_stickiness" ->
      s"""WITH ud AS (
         |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
         |  FROM events),
         |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day),
         |wb AS (
         |  SELECT user_id, day, day + $MauDays AS e,
         |    MAX(day + $MauDays) OVER (PARTITION BY user_id ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |  FROM ud),
         |bid AS (
         |  SELECT user_id, day, e,
         |    SUM(CASE WHEN prev_end IS NULL OR prev_end < day THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY day
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS block_id
         |  FROM wb),
         |blocks AS (SELECT user_id, block_id, MIN(day) AS s, MAX(e) AS e
         |  FROM bid GROUP BY user_id, block_id),
         |deltas AS (
         |  SELECT day, CAST(SUM(d) AS BIGINT) AS delta FROM (
         |    SELECT s AS day, 1 AS d FROM blocks
         |    UNION ALL SELECT e AS day, -1 AS d FROM blocks)
         |  GROUP BY day),
         |axis AS (
         |  SELECT UNNEST(generate_series(d0, d1)) AS day
         |  FROM (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ud)),
         |mau AS (
         |  SELECT a.day,
         |    CAST(SUM(COALESCE(dl.delta, 0)) OVER (ORDER BY a.day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS mau
         |  FROM axis a LEFT JOIN deltas dl ON dl.day = a.day)
         |SELECT CAST(m.day AS BIGINT) AS day,
         |  CAST(COALESCE(dau.dau, 0) AS BIGINT) AS dau, m.mau,
         |  CAST(CASE WHEN m.mau = 0 THEN -1
         |    ELSE (COALESCE(dau.dau, 0) * 1000000) // m.mau END AS BIGINT)
         |    AS stickiness_e6
         |FROM mau m LEFT JOIN dau ON dau.day = m.day
         |ORDER BY day""".stripMargin,
    // same pinned order, running-max peak, HUGEINT ratio arithmetic
    // same per-user ingest-ordered high-water mark, same binary-length
    // log2 bins (the q_degree_dist rule)
    "q_lateness" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS t
        |  FROM events),
        |hw AS (
        |  SELECT *, MAX(t) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM e),
        |l AS (
        |  SELECT CASE WHEN hwm > t THEN hwm - t ELSE 0 END AS late_ms
        |  FROM hw),
        |b AS (
        |  SELECT late_ms, CASE WHEN late_ms = 0 THEN -1
        |    ELSE length(bin(late_ms)) - 1 END AS bin
        |  FROM l)
        |SELECT CAST(bin AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(MIN(late_ms) AS BIGINT) AS min_late_ms,
        |  CAST(MAX(late_ms) AS BIGINT) AS max_late_ms
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    // same midpoint split, per-user conditional sums, div-staged
    // theta-first moment ratios in HUGEINT
    "q_cuped" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 // 86400000000 AS day,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |mid AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM ev),
        |per AS (
        |  SELECT user_id % 2 AS arm,
        |    CAST(SUM(CASE WHEN day < mid THEN cents ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN day >= mid THEN cents ELSE 0 END) AS BIGINT) AS y
        |  FROM ev CROSS JOIN mid GROUP BY user_id),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
        |    CAST(SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
        |    CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0,
        |    CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM per),
        |t AS (
        |  SELECT *,
        |    CASE WHEN n * sxx - CAST(sx AS HUGEINT) * sx = 0 THEN 0
        |      ELSE ((n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000)
        |        // (n * sxx - CAST(sx AS HUGEINT) * sx) END AS theta_e6,
        |    (CAST(sy1 AS HUGEINT) * 1000000) // n1
        |      - (CAST(sy0 AS HUGEINT) * 1000000) // n0 AS raw_diff_e6,
        |    (CAST(sx1 AS HUGEINT) * 1000000) // n1
        |      - (CAST(sx0 AS HUGEINT) * 1000000) // n0 AS x_diff_e6
        |  FROM m)
        |SELECT n, n0, n1, CAST(theta_e6 AS BIGINT) AS theta_e6,
        |  CAST(raw_diff_e6 AS BIGINT) AS raw_diff_e6,
        |  CAST(raw_diff_e6 - (theta_e6 * x_diff_e6) // 1000000 AS BIGINT)
        |    AS adj_diff_e6,
        |  CAST(CASE WHEN n * syy - CAST(sy AS HUGEINT) * sy = 0 THEN 0
        |    ELSE (theta_e6 * (((n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000)
        |      // (n * syy - CAST(sy AS HUGEINT) * sy))) // 1000000
        |    END AS BIGINT) AS var_reduction_e6
        |FROM t""".stripMargin,
    // same salted-md5 uniforms through the same inlined Poisson CDF,
    // same replicate means and pinned percentile ranks
    "q_bootstrap_ci" -> {
      val cdf = PoissonCdfE6
      s"""WITH p AS (
         |  SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'),
         |reps AS (
         |  SELECT r, cents,
         |    CAST(concat('0x', substr(md5('boot' || CAST(event_id AS VARCHAR)
         |      || ':' || CAST(r AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS u
         |  FROM p, LATERAL (SELECT unnest(generate_series(0, ${BootB - 1})) AS r)),
         |wts AS (
         |  SELECT r, cents,
         |    CASE WHEN u < ${cdf(0)} THEN 0 WHEN u < ${cdf(1)} THEN 1
         |         WHEN u < ${cdf(2)} THEN 2 WHEN u < ${cdf(3)} THEN 3
         |         WHEN u < ${cdf(4)} THEN 4 ELSE 5 END AS w
         |  FROM reps),
         |means AS (
         |  SELECT r, CASE WHEN SUM(w) = 0 THEN -1
         |    ELSE CAST(SUM(CAST(w AS HUGEINT) * cents) // SUM(w) AS BIGINT)
         |    END AS mean_r
         |  FROM wts GROUP BY r),
         |ranked AS (
         |  SELECT mean_r, ROW_NUMBER() OVER (ORDER BY mean_r, r) AS rk
         |  FROM means),
         |pt AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(SUM(cents) // COUNT(*) AS BIGINT) AS point_cents
         |  FROM p)
         |SELECT n_rows, CAST($BootB AS BIGINT) AS b, point_cents,
         |  (SELECT CAST(mean_r AS BIGINT) FROM ranked WHERE rk = 2) AS ci_lo_cents,
         |  (SELECT CAST(mean_r AS BIGINT) FROM ranked WHERE rk = ${BootB - 1}) AS ci_hi_cents
         |FROM pt""".stripMargin
    },
    // same per-arm life table + depletion windows; identical
    // div-staged hypergeometric moments and final chi-square
    "q_logrank" ->
      """WITH per AS (
        |  SELECT user_id % 2 AS arm,
        |    MIN(epoch_ns(ts) // 1000 // 86400000000) AS d0,
        |    MIN(CASE WHEN event_type = 'purchase'
        |      THEN epoch_ns(ts) // 1000 // 86400000000 END) AS dp,
        |    MAX(epoch_ns(ts) // 1000 // 86400000000) AS dl
        |  FROM events GROUP BY user_id),
        |durs AS (
        |  SELECT arm,
        |    CASE WHEN dp IS NOT NULL THEN dp - d0 ELSE dl - d0 END AS t,
        |    (dp IS NOT NULL) AS event
        |  FROM per),
        |by_t AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN event AND arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS e0,
        |    CAST(SUM(CASE WHEN NOT event AND arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(SUM(CASE WHEN event AND arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS e1,
        |    CAST(SUM(CASE WHEN NOT event AND arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM durs GROUP BY t),
        |tot AS (
        |  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t0,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1
        |  FROM durs),
        |risk AS (
        |  SELECT by_t.*, t0, t1,
        |    t0 - COALESCE(SUM(e0 + c0) OVER (ORDER BY t ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n0,
        |    t1 - COALESCE(SUM(e1 + c1) OVER (ORDER BY t ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1
        |  FROM by_t CROSS JOIN tot),
        |m AS (
        |  SELECT *, e0 + e1 AS d, n0 + n1 AS n,
        |    CAST((CAST(e0 + e1 AS HUGEINT) * n0 * 1000000)
        |      // (n0 + n1) AS BIGINT) AS exp0_e6,
        |    CAST(CASE WHEN n0 + n1 <= 1 THEN 0
        |      ELSE (CAST(e0 + e1 AS HUGEINT) * n0 * n1
        |        * (n0 + n1 - e0 - e1) * 1000000)
        |        // (CAST(n0 + n1 AS HUGEINT) * (n0 + n1) * (n0 + n1 - 1))
        |      END AS BIGINT) AS v_e6
        |  FROM risk),
        |agg AS (
        |  SELECT MAX(t0) AS n_arm0, MAX(t1) AS n_arm1,
        |    CAST(SUM(e0) AS BIGINT) AS events0,
        |    CAST(SUM(e1) AS BIGINT) AS events1,
        |    CAST(SUM(e0 * 1000000 - exp0_e6) AS BIGINT) AS sum_ome_e6,
        |    CAST(SUM(v_e6) AS BIGINT) AS sum_v_e6
        |  FROM m WHERE d > 0)
        |SELECT n_arm0, n_arm1, events0, events1, sum_ome_e6, sum_v_e6,
        |  CAST(CASE WHEN sum_v_e6 = 0 THEN -1
        |    ELSE (CAST(sum_ome_e6 AS HUGEINT) * sum_ome_e6)
        |      // sum_v_e6 END AS BIGINT) AS chi2_e6
        |FROM agg""".stripMargin,
    // same cents histogram, cross-arm pair counting via the
    // cumulative window, identical 2U/AUC integer arithmetic
    "q_mann_whitney" ->
      """WITH p AS (
        |  SELECT user_id % 2 AS variant,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |hist AS (
        |  SELECT cents,
        |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM p GROUP BY cents),
        |cum AS (
        |  SELECT *, COALESCE(SUM(nb) OVER (ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_b
        |  FROM hist),
        |agg AS (
        |  SELECT CAST(SUM(na) AS BIGINT) AS n_a,
        |    CAST(SUM(nb) AS BIGINT) AS n_b,
        |    SUM(CAST(2 * na AS HUGEINT) * cum_b
        |      + CAST(na AS HUGEINT) * nb) AS u2d
        |  FROM cum)
        |SELECT n_a, n_b, CAST(u2d AS BIGINT) AS u2_a,
        |  CAST(CASE WHEN n_a * n_b = 0 THEN -1
        |    ELSE (u2d * 1000000) // (2 * CAST(n_a AS HUGEINT) * n_b)
        |    END AS BIGINT) AS auc_e6
        |FROM agg""".stripMargin,
    // same per-user life table, risk-set depletion + log-survival as
    // window cumsums over the bounded day axis, identical ln kernel
    "q_kaplan_meier" ->
      s"""WITH per AS (
         |  SELECT user_id,
         |    MIN(epoch_ns(ts) // 1000 // 86400000000) AS d0,
         |    MIN(CASE WHEN event_type = 'purchase'
         |      THEN epoch_ns(ts) // 1000 // 86400000000 END) AS dp,
         |    MAX(epoch_ns(ts) // 1000 // 86400000000) AS dl
         |  FROM events GROUP BY user_id),
         |durs AS (
         |  SELECT CASE WHEN dp IS NOT NULL THEN dp - d0 ELSE dl - d0 END AS t,
         |    (dp IS NOT NULL) AS event
         |  FROM per),
         |by_t AS (
         |  SELECT t,
         |    CAST(SUM(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
         |    CAST(SUM(CASE WHEN event THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
         |  FROM durs GROUP BY t),
         |risk AS (
         |  SELECT *,
         |    (SELECT COUNT(*) FROM durs) - COALESCE(SUM(n_events + n_censored)
         |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
         |            AND 1 PRECEDING), 0) AS n_risk
         |  FROM by_t),
         |terms AS (
         |  SELECT *,
         |    CASE WHEN n_events = 0 THEN 0
         |         WHEN n_events = n_risk THEN $KmZeroE6
         |         ELSE CAST(floor(ln((CAST(n_risk AS DOUBLE) - n_events)
         |           / n_risk) * 1e6 + 0.5) AS BIGINT) END AS ln_term_e6
         |  FROM risk)
         |SELECT t, CAST(n_risk AS BIGINT) AS n_risk, n_events, n_censored,
         |  CAST(SUM(ln_term_e6) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
         |    PRECEDING AND CURRENT ROW) AS BIGINT) AS ln_surv_e6
         |FROM terms ORDER BY t""".stripMargin,
    // same per-day collapse, bounded per-part pair expansion, pinned
    // middle-rank median with truncating-div even-case average
    "q_theil_sen" ->
      s"""WITH pts AS (
         |  SELECT l_partkey, epoch_ns(l_shipdate) // 86400000000000 AS day,
         |    MIN(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS cents
         |  FROM lineitem GROUP BY l_partkey, day),
         |days AS (
         |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_days
         |  FROM pts GROUP BY l_partkey HAVING COUNT(*) >= $TheilSenMinDays),
         |p AS (SELECT pts.* FROM pts JOIN days USING (l_partkey)),
         |pairs AS (
         |  SELECT a.l_partkey, a.day AS d1, b.day AS d2,
         |    ((b.cents - a.cents) * 1000000) // (b.day - a.day) AS slope_e6
         |  FROM p a JOIN p b ON a.l_partkey = b.l_partkey AND a.day < b.day),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_partkey
         |      ORDER BY slope_e6, d1, d2) AS rn,
         |    COUNT(*) OVER (PARTITION BY l_partkey) AS n_pairs
         |  FROM pairs),
         |med AS (
         |  SELECT l_partkey, n_pairs,
         |    CAST(SUM(slope_e6) // COUNT(*) AS BIGINT) AS ts_slope_e6
         |  FROM ranked
         |  WHERE rn = (n_pairs + 1) // 2 OR rn = (n_pairs + 2) // 2
         |  GROUP BY l_partkey, n_pairs)
         |SELECT m.l_partkey, d.n_days, CAST(m.n_pairs AS BIGINT) AS n_pairs,
         |  m.ts_slope_e6
         |FROM med m JOIN days d USING (l_partkey)
         |ORDER BY m.l_partkey""".stripMargin,
    "q_price_volatility" ->
      """WITH s AS (
        |  SELECT l_partkey,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
        |    MAX(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |      OVER (PARTITION BY l_partkey
        |        ORDER BY l_shipdate, l_orderkey, l_linenumber
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM lineitem),
        |dd AS (
        |  SELECT l_partkey, cents, peak - cents AS dd,
        |    CAST((CAST(peak - cents AS HUGEINT) * 1000000) // peak AS BIGINT) AS dd_e6
        |  FROM s),
        |a AS (
        |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_points,
        |    CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |    SUM(CAST(cents AS HUGEINT) * cents) AS sq,
        |    CAST(MAX(dd) AS BIGINT) AS mdd_cents,
        |    CAST(MAX(dd_e6) AS BIGINT) AS mdd_e6
        |  FROM dd GROUP BY l_partkey)
        |SELECT l_partkey, n_points,
        |  CAST(sum_cents // n_points AS BIGINT) AS mean_cents,
        |  CAST((CAST(n_points AS HUGEINT) * sq * 1000000)
        |    // (CAST(sum_cents AS HUGEINT) * sum_cents) AS BIGINT)
        |    - 1000000 AS cv2_e6,
        |  mdd_cents, mdd_e6
        |FROM a WHERE n_points >= 5
        |ORDER BY l_partkey""".stripMargin,
    // same sweep: running-max of interval ends over the preceding
    // rows, per-event clipped contribution; HUGEINT plays decimal
    "q_interval_coverage" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS t_us FROM events),
         |win AS (
         |  SELECT user_id, t_us, t_us + $CovWinUs AS e,
         |    MAX(t_us + $CovWinUs) OVER (PARTITION BY user_id
         |      ORDER BY t_us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |  FROM ev)
         |SELECT user_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_events,
         |  CAST(SUM(CASE WHEN prev_end IS NULL OR prev_end < t_us
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_blocks,
         |  CAST(SUM(GREATEST(0, e - GREATEST(t_us, COALESCE(prev_end, t_us))))
         |    AS BIGINT) AS covered_us,
         |  CAST(CAST(SUM(GREATEST(0, e - GREATEST(t_us, COALESCE(prev_end, t_us))))
         |      AS HUGEINT) * 1000000
         |    // (MAX(e) - MIN(t_us)) AS BIGINT) AS active_pct_e6
         |FROM win GROUP BY user_id ORDER BY user_id""".stripMargin,
    // same n-scaled centering (c = n·x − S), generate_series fills the
    // gap days with zeros, HUGEINT products
    "q_acf" ->
      s"""WITH $acfCoreSql
         |SELECT lag, n_pairs, acf_e6 FROM acf_t ORDER BY lag""".stripMargin,
    // same exact-integer ACF input, then the IDENTICAL unrolled
    // Durbin–Levinson chain (pacfPhiExprs emits one tree for both
    // engines); MATERIALIZED pins the pivot + final stage against
    // DuckDB's CTE inlining
    "q_pacf" -> pacfOracleSql,
    // same monthly frame and the IDENTICAL division-free 4^t-scaled
    // Holt recursion chain (holtExprs emits one tree for both engines)
    "q_holt_forecast" -> holtOracleSql,
    // same pivot + Holt chain + the IDENTICAL walk-forward error chain
    "q_forecast_eval" -> forecastEvalOracleSql,
    // same (order, brand) baskets; directed pairs; HUGEINT ratios
    "q_assoc_rules" ->
      s"""WITH baskets AS (
         |  SELECT DISTINCT l_orderkey, p_brand
         |  FROM lineitem JOIN part ON p_partkey = l_partkey),
         |singles AS (
         |  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM baskets GROUP BY p_brand),
         |tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
         |  FROM baskets),
         |rules AS (
         |  SELECT a.p_brand AS ante, b.p_brand AS cons,
         |    CAST(COUNT(*) AS BIGINT) AS n_ab
         |  FROM baskets a JOIN baskets b USING (l_orderkey)
         |  WHERE a.p_brand <> b.p_brand
         |  GROUP BY 1, 2 HAVING COUNT(*) >= $ArMinSup)
         |SELECT r.ante, r.cons, r.n_ab, sa.n AS n_a, sb.n AS n_b,
         |  CAST((CAST(r.n_ab AS HUGEINT) * 1000000) // sa.n AS BIGINT) AS conf_e6,
         |  CAST((CAST(r.n_ab AS HUGEINT) * tot.n_orders * 1000000)
         |    // (CAST(sa.n AS HUGEINT) * sb.n) AS BIGINT) AS lift_e6
         |FROM rules r
         |JOIN singles sa ON sa.p_brand = r.ante
         |JOIN singles sb ON sb.p_brand = r.cons
         |CROSS JOIN tot
         |ORDER BY ante, cons""".stripMargin,
    "q_burstiness" ->
      """WITH g AS (
        |  SELECT user_id,
        |    t_us - lag(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS gap
        |  FROM (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS t_us FROM events)),
        |a AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |    CAST(SUM(gap) AS BIGINT) AS gap_total_us,
        |    SUM(CAST(gap AS HUGEINT) * gap) AS gsq
        |  FROM g WHERE gap IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n_gaps,
        |  CAST(gap_total_us // n_gaps AS BIGINT) AS mean_gap_us,
        |  CAST((CAST(n_gaps AS HUGEINT) * gsq * 1000000)
        |    // (CAST(gap_total_us AS HUGEINT) * gap_total_us) AS BIGINT)
        |    - 1000000 AS cv2_e6
        |FROM a WHERE n_gaps >= 2 AND gap_total_us > 0
        |ORDER BY user_id""".stripMargin,
    "q_hhi" ->
      """WITH s AS (
        |  SELECT p_brand, l_suppkey,
        |    CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS supp_cents
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  GROUP BY p_brand, l_suppkey)
        |SELECT p_brand,
        |  CAST(COUNT(*) AS BIGINT) AS n_suppliers,
        |  CAST(SUM(supp_cents) AS BIGINT) AS total_cents,
        |  CAST((SUM(CAST(supp_cents AS HUGEINT) * supp_cents) * 1000000)
        |    // (CAST(SUM(supp_cents) AS HUGEINT) * CAST(SUM(supp_cents) AS HUGEINT))
        |    AS BIGINT) AS hhi_e6,
        |  CAST((CAST(MAX(supp_cents) AS HUGEINT) * 1000000)
        |    // CAST(SUM(supp_cents) AS HUGEINT) AS BIGINT) AS top_share_e6
        |FROM s GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    // Same 2×2 integer cross-products; HUGEINT plays decimal(38,0).
    "q_chi2_abtest" ->
      s"""WITH flags AS (
         |  SELECT DISTINCT user_id % 2 AS variant, user_id, event_type
         |  FROM events),
         |arms AS (
         |  SELECT
         |    CAST(COUNT(DISTINCT CASE WHEN variant = 0 THEN user_id END) AS BIGINT) AS n0,
         |    CAST(COUNT(DISTINCT CASE WHEN variant = 1 THEN user_id END) AS BIGINT) AS n1
         |  FROM flags),
         |conv AS (
         |  SELECT event_type,
         |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS conv0,
         |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS conv1
         |  FROM flags GROUP BY event_type),
         |cells AS (
         |  SELECT event_type, conv0 AS a, n0 - conv0 AS b,
         |    conv1 AS c, n1 - conv1 AS d, n0, n1
         |  FROM conv CROSS JOIN arms)
         |SELECT event_type, a, b, c, d,
         |  CASE WHEN a + c = 0 OR b + d = 0 THEN CAST(0 AS BIGINT) ELSE
         |  CAST(((CAST(n0 AS HUGEINT) + n1)
         |    * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
         |    * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
         |    * 1000000)
         |   // (CAST(n0 AS HUGEINT) * n1
         |       * (CAST(a AS HUGEINT) + c) * (CAST(b AS HUGEINT) + d)) AS BIGINT)
         |  END AS chi2_e6,
         |  CASE WHEN a + c = 0 OR b + d = 0 THEN CAST(0 AS BIGINT) ELSE
         |  CAST(((CAST(n0 AS HUGEINT) + n1)
         |    * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
         |    * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
         |    * 1000000)
         |   // (CAST(n0 AS HUGEINT) * n1
         |       * (CAST(a AS HUGEINT) + c) * (CAST(b AS HUGEINT) + d)) AS BIGINT)
         |  END > $Chi2CritE6 AS significant
         |FROM cells ORDER BY event_type""".stripMargin,
    // Same epoch-hour buckets, same (cnt desc, domain) cut.
    "q_window_topk" ->
      s"""WITH counts AS (
         |  SELECT (epoch_ns(ts) // 1000000 // 3600000) * 3600000 AS win_ms,
         |    concat('shop', CAST(user_id % 37 AS VARCHAR), '.example.com') AS domain,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1, 2),
         |ranked AS (
         |  SELECT win_ms, domain, cnt,
         |    ROW_NUMBER() OVER (PARTITION BY win_ms
         |      ORDER BY cnt DESC, domain ASC) AS rank
         |  FROM counts)
         |SELECT win_ms, CAST(rank AS BIGINT) AS rank, domain, cnt
         |FROM ranked WHERE rank <= $WindowTopK
         |ORDER BY win_ms, rank""".stripMargin,
    // Same integer day cohorts, distinct user-days, e6 rates.
    "q_retention" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) // 1000000 // 86400000 AS day
        |  FROM events),
        |fd AS (
        |  SELECT user_id, CAST(MIN(day) AS BIGINT) AS cohort_day
        |  FROM ev GROUP BY user_id),
        |active AS (SELECT DISTINCT user_id, day FROM ev),
        |cells AS (
        |  SELECT f.cohort_day, a.day - f.cohort_day AS offset_days,
        |    CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
        |  FROM active a JOIN fd f USING (user_id)
        |  GROUP BY 1, 2),
        |sizes AS (
        |  SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_size
        |  FROM fd GROUP BY cohort_day)
        |SELECT c.cohort_day, c.offset_days, c.n_active, s.cohort_size,
        |  CAST((c.n_active * 1000000) // s.cohort_size AS BIGINT) AS rate_e6
        |FROM cells c JOIN sizes s USING (cohort_day)
        |ORDER BY cohort_day, offset_days""".stripMargin,
    // Same distinct baskets, bounded pair self-join, HUGEINT lift.
    "q_itemsets" ->
      """WITH baskets AS (
        |  SELECT DISTINCT user_id, event_type FROM events),
        |singles AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_single
        |  FROM baskets GROUP BY event_type),
        |nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM baskets),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(COUNT(*) AS BIGINT) AS support
        |  FROM baskets a JOIN baskets b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.support,
        |  sa.n_single AS n_a, sb.n_single AS n_b,
        |  CAST((CAST(p.support AS HUGEINT) * nu.n_users * 1000000)
        |    // (CAST(sa.n_single AS HUGEINT) * sb.n_single) AS BIGINT) AS lift_e6
        |FROM pairs p
        |JOIN singles sa ON sa.event_type = p.type_a
        |JOIN singles sb ON sb.event_type = p.type_b
        |CROSS JOIN nu
        |ORDER BY type_a, type_b""".stripMargin,
    // Same (t_ms, event_id)-pinned LEAD, catalog-sized rollup.
    "q_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS src,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) // 1000000 ASC, event_id ASC) AS dst
        |  FROM events),
        |counts AS (
        |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM seq WHERE dst IS NOT NULL GROUP BY src, dst),
        |tot AS (
        |  SELECT src, dst, n,
        |    CAST(SUM(n) OVER (PARTITION BY src) AS BIGINT) AS row_total
        |  FROM counts)
        |SELECT src, dst, n, row_total,
        |  CAST((n * 1000000) // row_total AS BIGINT) AS p_e6
        |FROM tot ORDER BY src, dst""".stripMargin,
    // Same integer-numerator CDF compare; HUGEINT plays decimal(38,0).
    "q_ks_drift" ->
      s"""WITH ev AS (
         |  SELECT event_type, epoch_ns(ts) // 1000000 AS t,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
         |  FROM events),
         |mid AS (SELECT (MIN(t) + MAX(t)) // 2 AS mid FROM ev),
         |hist AS (
         |  SELECT event_type, v,
         |    CAST(SUM(CASE WHEN t < mid THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |    CAST(SUM(CASE WHEN t < mid THEN 0 ELSE 1 END) AS BIGINT) AS cb
         |  FROM ev CROSS JOIN mid GROUP BY event_type, v),
         |cum AS (
         |  SELECT event_type, v,
         |    SUM(ca) OVER (PARTITION BY event_type ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
         |    SUM(cb) OVER (PARTITION BY event_type ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
         |    SUM(ca) OVER (PARTITION BY event_type) AS na,
         |    SUM(cb) OVER (PARTITION BY event_type) AS nb
         |  FROM hist),
         |d AS (
         |  SELECT event_type, v, na, nb,
         |    abs(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT) * na) AS dnum,
         |    MAX(abs(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT) * na))
         |      OVER (PARTITION BY event_type) AS dmax
         |  FROM cum)
         |SELECT event_type,
         |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
         |  CAST((dmax * 1000000) // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS d_e6,
         |  MIN(v) AS ks_at_cents,
         |  CAST((dmax * 1000000) // (CAST(na AS HUGEINT) * nb) AS BIGINT)
         |    > $KsAlarmE6 AS drift
         |FROM d WHERE dnum = dmax
         |GROUP BY event_type, na, nb, dmax
         |ORDER BY event_type""".stripMargin,
    // Direct order statistics (ROW_NUMBER twice) vs the plan's chained
    // histogram cumsums.
    "q_anomaly_mad" ->
      s"""WITH s AS (
         |  SELECT l_partkey % 100 AS series,
         |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
         |  FROM lineitem),
         |med AS (
         |  SELECT series, CAST(MAX(n) AS BIGINT) AS n,
         |    MAX(CASE WHEN rn = (n + 1) // 2 THEN v END) AS med_cents
         |  FROM (SELECT series, v,
         |          ROW_NUMBER() OVER (PARTITION BY series ORDER BY v) AS rn,
         |          COUNT(*) OVER (PARTITION BY series) AS n FROM s)
         |  GROUP BY series),
         |dev AS (
         |  SELECT s.series, abs(s.v - m.med_cents) AS d
         |  FROM s JOIN med m USING (series)),
         |mad AS (
         |  SELECT series,
         |    MAX(CASE WHEN rn = (n + 1) // 2 THEN d END) AS mad_cents
         |  FROM (SELECT series, d,
         |          ROW_NUMBER() OVER (PARTITION BY series ORDER BY d) AS rn,
         |          COUNT(*) OVER (PARTITION BY series) AS n FROM dev)
         |  GROUP BY series),
         |flagged AS (
         |  SELECT dev.series, CAST(SUM(CASE WHEN dev.d > mad.mad_cents * $MadK
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         |  FROM dev JOIN mad USING (series) GROUP BY dev.series)
         |SELECT med.series, med.n, med.med_cents, mad.mad_cents,
         |  flagged.n_outliers
         |FROM med JOIN mad USING (series) JOIN flagged USING (series)
         |ORDER BY series""".stripMargin,
    "q_funnel" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type, epoch_ns(ts) // 1000000 AS t_ms
         |  FROM events),
         |su AS (
         |  SELECT user_id, CAST(MIN(t_ms) AS BIGINT) AS signup_ms
         |  FROM e WHERE event_type = 'signup' GROUP BY user_id),
         |fp AS (
         |  SELECT e.user_id, CAST(MIN(e.t_ms) AS BIGINT) AS purchase_ms
         |  FROM e JOIN su USING (user_id)
         |  WHERE e.event_type = 'purchase' AND e.t_ms > su.signup_ms
         |    AND e.t_ms - su.signup_ms <= $FunnelWinMs
         |  GROUP BY e.user_id)
         |SELECT su.user_id, su.signup_ms, fp.purchase_ms,
         |  fp.purchase_ms IS NOT NULL AS converted,
         |  fp.purchase_ms - su.signup_ms AS lag_ms
         |FROM su LEFT JOIN fp USING (user_id)
         |ORDER BY user_id""".stripMargin,
    "q_sessionize" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS t_ms,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events),
         |b AS (
         |  SELECT *, CASE WHEN prev IS NULL OR t_ms - prev >= $SessionGapMs
         |      THEN 1 ELSE 0 END AS brk
         |  FROM (SELECT *, LAG(t_ms) OVER w AS prev FROM e
         |        WINDOW w AS (PARTITION BY user_id ORDER BY t_ms, event_id))),
         |s AS (
         |  SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id
         |    ORDER BY t_ms, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS session_seq
         |  FROM b)
         |SELECT user_id, session_seq,
         |  CAST(COUNT(*) AS BIGINT) AS n_events,
         |  CAST(MIN(t_ms) AS BIGINT) AS start_ms,
         |  CAST(MAX(t_ms) + $SessionGapMs AS BIGINT) AS end_ms,
         |  CAST(SUM(cents) AS BIGINT) AS sum_cents
         |FROM s GROUP BY user_id, session_seq
         |ORDER BY user_id, session_seq""".stripMargin,
    // Direct ROW_NUMBER order statistics — the independent formulation
    // of the integer ranks the histogram-cumsum plan picks.
    "q_percentiles" ->
      s"""WITH s AS (
         |  SELECT l_partkey % 100 AS series,
         |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
         |  FROM lineitem),
         |r AS (
         |  SELECT series, cents,
         |    ROW_NUMBER() OVER (PARTITION BY series ORDER BY cents) AS rn,
         |    COUNT(*) OVER (PARTITION BY series) AS n
         |  FROM s)
         |SELECT series, CAST(MAX(n) AS BIGINT) AS n,
         |  ${PctLevels.map(p =>
              s"MAX(CASE WHEN rn = (n * $p + 99) // 100 THEN cents END) AS p${p}_cents")
              .mkString(",\n  ")}
         |FROM r GROUP BY series ORDER BY series""".stripMargin,
    // Native inequality join (IEJoin) — an independent strategy for the
    // same interval semantics the bucketized equi-join computes.
    "q_range_join" ->
      s"""WITH e AS (
         |  SELECT event_id AS err_id, user_id,
         |    epoch_ns(ts) // 1000000 AS err_ms
         |  FROM events WHERE event_type = 'error'),
         |p AS (
         |  SELECT event_id AS purch_id, user_id,
         |    epoch_ns(ts) // 1000000 AS p_ms,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents
         |  FROM events WHERE event_type = 'purchase')
         |SELECT err_id, purch_id, user_id,
         |  p_ms - err_ms AS lag_ms, value_cents
         |FROM e JOIN p USING (user_id)
         |WHERE p_ms > err_ms AND p_ms - err_ms <= $RangeWinMs
         |ORDER BY err_id, purch_id""".stripMargin,
    "q_moving_stats" ->
      s"""WITH s AS (
         |  SELECT l_partkey % 100 AS series, l_orderkey, l_linenumber,
         |    l_shipdate,
         |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
         |  FROM lineitem),
         |w AS (
         |  SELECT series, l_orderkey, l_linenumber, cents,
         |    CAST(COUNT(*) OVER f AS BIGINT) AS n_win,
         |    CAST(SUM(cents) OVER f AS BIGINT) AS sum_cents,
         |    CAST(SUM(cents * cents) OVER f AS BIGINT) AS sumsq,
         |    CAST(COUNT(*) OVER pf AS BIGINT) AS n_prior,
         |    CAST(COALESCE(SUM(cents) OVER pf, 0) AS BIGINT) AS sum_prior
         |  FROM s
         |  WINDOW
         |    f AS (PARTITION BY series
         |      ORDER BY l_shipdate, l_orderkey, l_linenumber
         |      ROWS BETWEEN ${MovingN - 1} PRECEDING AND CURRENT ROW),
         |    pf AS (PARTITION BY series
         |      ORDER BY l_shipdate, l_orderkey, l_linenumber
         |      ROWS BETWEEN ${MovingN - 1} PRECEDING AND 1 PRECEDING))
         |SELECT series, l_orderkey, l_linenumber, cents, n_win, sum_cents,
         |  sumsq, (sum_cents * 1000000) // n_win AS mean_e6,
         |  n_win * sumsq - sum_cents * sum_cents AS var_num,
         |  n_prior > 0 AND cents * n_prior > sum_prior * 2 AS spike
         |FROM w ORDER BY series, l_orderkey, l_linenumber""".stripMargin,
    // same integer epoch calendar math, same 168-cell rollup
    "q_seasonality" ->
      """WITH ev AS (
        |  SELECT epoch_ns(ts) // 1000000 AS t_ms, event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |cells AS (
        |  SELECT (t_ms // 86400000 + 4) % 7 AS dow,
        |    (t_ms % 86400000) // 3600000 AS hour,
        |    CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_purchases,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)
        |      AS BIGINT) AS purchase_cents
        |  FROM ev GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total_events FROM cells)
        |SELECT CAST(dow AS BIGINT) AS dow, CAST(hour AS BIGINT) AS hour,
        |  n_events, n_purchases, purchase_cents,
        |  CAST((n_events * 1000000) // tot.total_events AS BIGINT) AS share_e6
        |FROM cells CROSS JOIN tot
        |ORDER BY dow, hour""".stripMargin,
    // same user rollup, same (cum_lt · 5) div n + 1 bins per dimension
    "q_rfm" ->
      """WITH p AS (
        |  SELECT user_id, epoch_ns(ts) // 1000000 AS t_ms,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |mx AS (SELECT MAX(t_ms) AS m FROM p),
        |u AS (
        |  SELECT user_id,
        |    CAST((ANY_VALUE(mx.m) - MAX(t_ms)) // 86400000 AS BIGINT) AS recency_days,
        |    CAST(COUNT(*) AS BIGINT) AS frequency,
        |    CAST(SUM(cents) AS BIGINT) AS monetary_cents,
        |    CAST(SUM(cents) // 100 AS BIGINT) AS monetary_dollars
        |  FROM p CROSS JOIN mx GROUP BY user_id),
        |rb AS (
        |  SELECT recency_days,
        |    CAST((cum_le - c) * 5 // n + 1 AS BIGINT) AS rbin
        |  FROM (SELECT recency_days, CAST(COUNT(*) AS BIGINT) AS c,
        |          SUM(COUNT(*)) OVER (ORDER BY recency_days
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_le,
        |          SUM(COUNT(*)) OVER () AS n
        |        FROM u GROUP BY recency_days)),
        |fb AS (
        |  SELECT frequency,
        |    CAST((cum_le - c) * 5 // n + 1 AS BIGINT) AS fbin
        |  FROM (SELECT frequency, CAST(COUNT(*) AS BIGINT) AS c,
        |          SUM(COUNT(*)) OVER (ORDER BY frequency
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_le,
        |          SUM(COUNT(*)) OVER () AS n
        |        FROM u GROUP BY frequency)),
        |mb AS (
        |  SELECT monetary_dollars,
        |    CAST((cum_le - c) * 5 // n + 1 AS BIGINT) AS mbin
        |  FROM (SELECT monetary_dollars, CAST(COUNT(*) AS BIGINT) AS c,
        |          SUM(COUNT(*)) OVER (ORDER BY monetary_dollars
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_le,
        |          SUM(COUNT(*)) OVER () AS n
        |        FROM u GROUP BY monetary_dollars))
        |SELECT u.user_id, u.recency_days, u.frequency, u.monetary_cents,
        |  CAST(6 - rb.rbin AS BIGINT) AS r_score,
        |  fb.fbin AS f_score, mb.mbin AS m_score,
        |  CAST(6 - rb.rbin AS VARCHAR) || CAST(fb.fbin AS VARCHAR)
        |    || CAST(mb.mbin AS VARCHAR) AS segment
        |FROM u JOIN rb USING (recency_days) JOIN fb USING (frequency)
        |  JOIN mb USING (monetary_dollars)
        |ORDER BY user_id""".stripMargin,
    // same typo synthesis, blocking join, levenshtein cut, best-match rank
    "q_fuzzy_match" ->
      """WITH parts AS (
        |  SELECT p_partkey,
        |    'm' || CAST(p_partkey // 10 AS VARCHAR) || ' ' || p_name AS title
        |  FROM part),
        |dirty AS (
        |  SELECT p_partkey AS dirty_id,
        |    CASE WHEN p_partkey % 3 = 0 THEN substring(title, 1, length(title) - 1)
        |         WHEN p_partkey % 3 = 1 THEN title || 'x'
        |         ELSE title END AS dirty_title,
        |    string_split(title, ' ')[1] AS blk
        |  FROM parts),
        |clean AS (
        |  SELECT p_partkey AS clean_id, title AS clean_title,
        |    string_split(title, ' ')[1] AS blk
        |  FROM parts),
        |scored AS (
        |  SELECT d.dirty_id, d.dirty_title, c.clean_id, c.clean_title,
        |    CAST(levenshtein(d.dirty_title, c.clean_title) AS BIGINT) AS dist
        |  FROM dirty d JOIN clean c USING (blk)
        |  WHERE abs(length(d.dirty_title) - length(c.clean_title)) <= 2
        |    AND levenshtein(d.dirty_title, c.clean_title) <= 2),
        |ranked AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY dirty_id
        |      ORDER BY dist ASC, clean_id ASC) AS rank,
        |    CAST(COUNT(*) OVER (PARTITION BY dirty_id) AS BIGINT) AS n_candidates
        |  FROM scored)
        |SELECT dirty_id, dirty_title, clean_id, clean_title, dist, n_candidates
        |FROM ranked WHERE rank = 1
        |ORDER BY dirty_id""".stripMargin,
    // NOT EXISTS per FK edge, counts + parent totals
    "q_referential_audit" ->
      """SELECT 'customers_without_orders' AS fk_edge,
        |  CAST((SELECT COUNT(*) FROM customer c
        |    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
        |    AS BIGINT) AS n_orphans,
        |  CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_checked
        |UNION ALL
        |SELECT 'lineitem->orders',
        |  CAST((SELECT COUNT(*) FROM lineitem l
        |    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |    AS BIGINT),
        |  CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
        |UNION ALL
        |SELECT 'orders->customer',
        |  CAST((SELECT COUNT(*) FROM orders o
        |    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |    AS BIGINT),
        |  CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
        |UNION ALL
        |SELECT 'orders_without_lines',
        |  CAST((SELECT COUNT(*) FROM orders o
        |    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))
        |    AS BIGINT),
        |  CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
        |ORDER BY fk_edge""".stripMargin,
    // EXISTS via semi-join; e6 integer rates
    "q_priority_returns" ->
      """WITH wr AS (
        |  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_with_returns
        |  FROM orders o
        |  WHERE EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |  GROUP BY o_orderpriority),
        |tot AS (
        |  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT t.o_orderpriority, t.n_orders,
        |  CAST(COALESCE(w.n_with_returns, 0) AS BIGINT) AS n_with_returns,
        |  CAST((COALESCE(w.n_with_returns, 0) * 1000000) // t.n_orders AS BIGINT)
        |    AS return_rate_e6
        |FROM tot t LEFT JOIN wr w USING (o_orderpriority)
        |ORDER BY t.o_orderpriority""".stripMargin,
    // same join/filter/agg tree; top-k by (revenue desc, orderkey)
    "q_top_orders" ->
      """SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
        |  CAST(SUM(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100 + 0.5)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus <> 'F'
        |GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
        |ORDER BY revenue_cents DESC, o.o_orderkey ASC
        |LIMIT 10""".stripMargin,
    "q_cube" ->
      """SELECT CAST(GROUPING(lang, source) AS BIGINT) AS level_id,
        |  COALESCE(lang, 'ALL') AS lang,
        |  COALESCE(source, 'ALL') AS source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY CUBE (lang, source)
        |ORDER BY level_id, lang, source""".stripMargin,
    "q_rollup" ->
      """SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS level_id,
        |  COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY level_id, returnflag, linestatus""".stripMargin,
    // Native ASOF LEFT JOIN — the independent formulation of the same
    // semantics the union+window plan computes.
    "q_asof_price" ->
      s"""WITH p AS (
         |  SELECT l_partkey % $AsofKeys AS k,
         |    $AsofBaseMs + (epoch_ms(l_shipdate) % $AsofSpanMs) AS t_ms,
         |    MAX(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS price_cents
         |  FROM lineitem GROUP BY 1, 2),
         |e AS (
         |  SELECT event_id, user_id % $AsofKeys AS k,
         |    epoch_ns(ts) // 1000000 AS t_ms FROM events)
         |SELECT e.event_id, e.k, e.t_ms, p.price_cents
         |FROM e ASOF LEFT JOIN p ON e.k = p.k AND e.t_ms >= p.t_ms
         |ORDER BY event_id""".stripMargin,
    "q_profile_table" -> s"$profileOracle\nORDER BY col_name",
    "q_prodxstore_pivot" -> {
      val cols = PivotCompetitors.map(c =>
        s"    COALESCE(MIN(CASE WHEN store = '$c' THEN cell END), 'NA<<>>NA') AS $c")
      s"""WITH li AS (
         |  SELECT l_partkey,
         |    'st' || CAST(l_suppkey % 7 AS VARCHAR) AS store,
         |    CASE WHEN l_returnflag = 'R' THEN 'Refurb'
         |         WHEN l_returnflag = 'A' THEN 'Used' ELSE 'New' END AS condition_,
         |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
         |  FROM lineitem),
         |offers AS (
         |  SELECT l_partkey, condition_, store,
         |    CAST(MIN(cents) AS VARCHAR) || '<<>>http://' || store
         |      || '.example.com/p/' || CAST(l_partkey AS VARCHAR) AS cell
         |  FROM li GROUP BY l_partkey, condition_, store),
         |piv AS (
         |  SELECT l_partkey, condition_,
         |    MIN(CASE WHEN store = '$PivotOwner' THEN cell END) AS own,
         |${cols.mkString(",\n")}
         |  FROM offers GROUP BY l_partkey, condition_)
         |SELECT condition_, 'sku' || CAST(p_partkey AS VARCHAR) AS sku,
         |  p_name AS title, ${PivotCompetitors.mkString(", ")}
         |FROM piv JOIN part ON l_partkey = p_partkey
         |WHERE own IS NOT NULL
         |ORDER BY sku, condition_""".stripMargin
    },
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) / 100.0 AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_enrich" ->
      """SELECT p_brand,
        |  SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) / 100.0 AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "q_price_stats" ->
      """SELECT event_type, COUNT(*) AS n,
        |  MIN(value) AS min_value, MAX(value) AS max_value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value,
        |  floor(SQRT((CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE)
        |    - CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) * CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
        |    / (COUNT(*) - 1)) * 1e6 + 0.5) / 1e6 AS stdev_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_top_candidate" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice FROM (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rn
        |  FROM lineitem) t
        |WHERE rn = 1
        |ORDER BY l_orderkey""".stripMargin,
    "q_price_deltas" ->
      """WITH b AS (
        |  SELECT o_custkey, o_orderdate, o_totalprice,
        |    ROW_NUMBER() OVER w AS rn,
        |    FIRST_VALUE(o_totalprice) OVER w AS last_p,
        |    COUNT(*) OVER (PARTITION BY o_custkey) AS n
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC)),
        |f AS (
        |  SELECT *, MIN(CASE WHEN o_totalprice <> last_p THEN rn END)
        |    OVER (PARTITION BY o_custkey) AS k
        |  FROM b),
        |g AS (
        |  SELECT o_custkey,
        |    MAX(CASE WHEN rn = 1 THEN o_totalprice END) AS last_price,
        |    MAX(CASE WHEN rn = 2 THEN o_totalprice END) AS prev_price,
        |    MAX(CASE WHEN rn = COALESCE(k, n) AND n > 1 THEN o_totalprice END) AS prv_raw,
        |    MAX(CASE WHEN rn = GREATEST(COALESCE(k, n) - 1, 1) THEN o_orderdate END) AS last_change_date
        |  FROM f GROUP BY o_custkey)
        |SELECT o_custkey, last_price, prev_price,
        |  CASE WHEN prev_price IS NULL THEN 0.0 ELSE last_price - prev_price END AS delta,
        |  CASE WHEN prev_price IS NULL OR prev_price = 0.0 THEN 0.0
        |    ELSE floor((last_price - prev_price) / prev_price * 100.0 * 1e6 + 0.5) / 1e6 END AS relative_change,
        |  COALESCE(prv_raw, 0.0) AS prv_price,
        |  CASE WHEN prv_raw IS NULL OR prv_raw = 0.0 THEN 0.0
        |    ELSE floor((last_price - prv_raw) / prv_raw * 100.0 * 1e6 + 0.5) / 1e6 END AS last_change_pct,
        |  last_change_date
        |FROM g
        |ORDER BY o_custkey""".stripMargin,
    "q_hotspots" ->
      """WITH base AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    LAG(o_totalprice) OVER (PARTITION BY o_custkey, o_orderpriority
        |      ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev
        |  FROM orders),
        |changes AS (
        |  SELECT o_custkey, o_orderkey,
        |    floor((o_totalprice - prev) / prev * 100.0 * 1e6 + 0.5) / 1e6 AS rel_change
        |  FROM base WHERE prev IS NOT NULL AND prev <> 0.0),
        |ranked AS (
        |  SELECT o_custkey, o_orderkey, rel_change,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY rel_change DESC, o_orderkey ASC) AS rn_max,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY rel_change ASC, o_orderkey ASC) AS rn_min
        |  FROM changes)
        |SELECT o_custkey,
        |  MAX(CASE WHEN rn_max = 1 THEN rel_change END) AS max_increase,
        |  MAX(CASE WHEN rn_max = 1 THEN o_orderkey END) AS max_increase_order,
        |  MIN(CASE WHEN rn_min = 1 THEN rel_change END) AS max_decrease,
        |  MAX(CASE WHEN rn_min = 1 THEN o_orderkey END) AS max_decrease_order
        |FROM ranked WHERE rn_max = 1 OR rn_min = 1
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,
    "q_dom_analysis" ->
      s"""WITH domprod AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
         |hotparts AS (
         |  SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS n_domains
         |  FROM domprod GROUP BY l_partkey HAVING COUNT(DISTINCT l_suppkey) >= $DomMinDomains),
         |hotpairs AS (
         |  SELECT d.l_suppkey, d.l_partkey, h.n_domains
         |  FROM domprod d JOIN hotparts h USING (l_partkey)),
         |hotsupps AS (
         |  SELECT l_suppkey FROM hotpairs
         |  GROUP BY l_suppkey HAVING COUNT(DISTINCT l_partkey) >= $DomMinProds)
         |SELECT p.l_suppkey, p.l_partkey, p.n_domains
         |FROM hotpairs p JOIN hotsupps USING (l_suppkey)
         |ORDER BY l_suppkey, l_partkey""".stripMargin,
    "q_eval_metrics" ->
      """WITH rows_ AS (
        |  SELECT l_returnflag, l_orderkey,
        |    CASE WHEN l_quantity > 25.0 THEN 1 ELSE 0 END AS label,
        |    CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS pred
        |  FROM lineitem),
        |cm AS (
        |  SELECT l_returnflag,
        |    CAST(SUM(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN label = 0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |    CAST(SUM(CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN label = 1 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |  FROM rows_ GROUP BY l_returnflag),
        |urls AS (
        |  SELECT l_returnflag, l_orderkey,
        |    MAX(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END) AS has_tp,
        |    MAX(CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END) AS has_fp
        |  FROM rows_ GROUP BY l_returnflag, l_orderkey),
        |ub AS (
        |  SELECT l_returnflag, COUNT(*) AS n_urls, CAST(SUM(has_tp) AS BIGINT) AS n_ub,
        |    CAST(SUM(CASE WHEN has_tp = 1 AND has_fp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_lb
        |  FROM urls GROUP BY l_returnflag)
        |SELECT cm.l_returnflag, tp, tn, fp, fn,
        |  floor(CAST(tp AS DOUBLE) / (tp + fn) * 1e6 + 0.5) / 1e6 AS sensitivity,
        |  floor(CAST(tn AS DOUBLE) / (fp + tn) * 1e6 + 0.5) / 1e6 AS specificity,
        |  floor(CAST(tp AS DOUBLE) / (tp + fp) * 1e6 + 0.5) / 1e6 AS precision_,
        |  floor(CAST(n_ub AS DOUBLE) / n_urls * 1e6 + 0.5) / 1e6 AS upper_bound,
        |  floor(CAST(n_lb AS DOUBLE) / n_urls * 1e6 + 0.5) / 1e6 AS lower_bound
        |FROM cm JOIN ub USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,
    "q_price_index" ->
      """WITH offers AS (
        |  SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS price
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |st AS (
        |  SELECT l_partkey, l_suppkey, price,
        |    ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY price, l_suppkey) AS pos,
        |    COUNT(*) OVER (PARTITION BY l_partkey) AS n_stores,
        |    CAST(CAST(SUM(pc) OVER (PARTITION BY l_partkey) AS BIGINT) AS DOUBLE) AS sum_p,
        |    CAST(CAST(SUM(pc * pc) OVER (PARTITION BY l_partkey) AS BIGINT) AS DOUBLE) AS sum_sq
        |  FROM (SELECT *, CAST(floor(price * 100 + 0.5) AS BIGINT) AS pc FROM offers)),
        |calc AS (
        |  SELECT l_partkey, l_suppkey, price, pos, n_stores,
        |    CAST(pos AS DOUBLE) / n_stores AS rel_place,
        |    sqrt(greatest(sum_sq / n_stores - (sum_p / n_stores) * (sum_p / n_stores), 0.0))
        |      / (sum_p / n_stores) AS cv
        |  FROM st)
        |SELECT l_partkey, l_suppkey, price, pos, n_stores, rel_place,
        |  CASE WHEN rel_place <= 0.05 THEN 5 WHEN rel_place <= 0.1 THEN 10
        |       WHEN rel_place <= 0.2 THEN 20 WHEN rel_place <= 0.3 THEN 30
        |       WHEN rel_place <= 0.4 THEN 40 WHEN rel_place <= 0.5 THEN 50
        |       WHEN rel_place <= 0.6 THEN 60 WHEN rel_place <= 0.7 THEN 70
        |       WHEN rel_place <= 0.8 THEN 80 WHEN rel_place <= 0.9 THEN 90
        |       WHEN rel_place <= 0.95 THEN 95 ELSE 100 END AS rel_place_rank,
        |  cv,
        |  CASE WHEN cv <= 0.2 THEN 1 WHEN cv <= 0.4 THEN 2 WHEN cv <= 0.6 THEN 3
        |       WHEN cv <= 0.85 THEN 4 ELSE 5 END AS cv_rank
        |FROM calc
        |ORDER BY l_partkey, l_suppkey""".stripMargin,
    "q_auto_match" ->
      """WITH cms AS (
        |  SELECT concat('st', CAST(p_partkey % 7 AS VARCHAR)) AS store_id,
        |    concat('sp', CAST(p_partkey AS VARCHAR)) AS store_prod_id,
        |    p_name AS store_prod_title,
        |    concat('shop', CAST(p_partkey % 7 AS VARCHAR), '.example.com') AS store_domain,
        |    concat('http://shop.example.com/p/', CAST(p_partkey AS VARCHAR)) AS url
        |  FROM part),
        |market AS (
        |  SELECT concat('st', CAST(l_partkey % 7 AS VARCHAR)) AS store_id,
        |    concat('sys', CAST(l_partkey AS VARCHAR)) AS sys_prod_id,
        |    p_name AS sys_prod_title
        |  FROM (SELECT DISTINCT l_partkey FROM lineitem) li
        |  JOIN part ON l_partkey = p_partkey)
        |SELECT c.store_id, c.store_prod_id, c.store_domain,
        |  0 AS analyze_ind, c.store_prod_title,
        |  m.sys_prod_id, m.sys_prod_title, c.url
        |FROM cms c JOIN market m
        |  ON c.store_id = m.store_id AND c.store_prod_title = m.sys_prod_title
        |ORDER BY store_prod_id""".stripMargin,
    "q_seed_freq" ->
      s"""SELECT l_partkey, COUNT(*) AS freq, COUNT(DISTINCT l_orderkey) AS n_orders
         |FROM lineitem
         |GROUP BY l_partkey HAVING COUNT(*) >= $SeedMinFreq
         |ORDER BY freq DESC, l_partkey ASC""".stripMargin)
}
