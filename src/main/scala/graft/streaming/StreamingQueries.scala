package graft.streaming

import graft.functions.{PriceCandidates, Text}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SessionBridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming re-expressions of the reference's DStreams
  * pipelines (SURVEY §2 rows 33-35; reference um/re/streaming/
  * Htmls2PredsPipe.scala, Push2Cassandra.scala, ProdMetrics analog).
  *
  * Each query drives a real `readStream → transform → writeStream`
  * pipeline synchronously over the testdata (file source + AvailableNow
  * trigger + memory sink) and returns the sink table — so the driver's
  * batch contract (Verify/Bench) exercises genuine streaming execution,
  * and the same plans run unchanged against Kafka at scale (swap the
  * source/sink, add a real trigger).
  *
  * Scale notes: the pipe stage is stateless per-record (extraction +
  * decision fused into the stream's codegen stage); the windowed agg
  * carries a watermark so state is bounded; the stateful query keys by
  * user and keeps O(1) state per key.
  */
/** A streamed page with its extracted candidates, ready for scoring. */
case class StreamPage(event_id: Long, user_id: Long, domain: String,
    page_len: Int, cands: Seq[graft.ml.Candidate])

/** Per-record scorer output: the pattern price and the model's price
  * (with the reference's -1 allFalseCandids / -2 missingModel
  * sentinels); the decision machine runs declaratively downstream. */
case class StreamScored(event_id: Long, user_id: Long,
    updated_price: Double, model_price: Double)

/** Per-user running state for the stateful last-price query. */
case class PriceState(last: Double, changes: Long)
case class FunnelState(signupMs: Long, purchaseMs: Long) // -1 = unset
case class FunnelOut(user_id: Long, signup_ms: Long,
    purchase_ms: Option[Long], converted: Boolean, lag_ms: Option[Long])

/** Per-user last-seen event type for the streaming transition matrix. */
case class TransState(lastType: String)

/** Per-user last non-purchase touch for the streaming attributor
  * (lastT = -1 ⇒ no touch seen yet). */
case class AttrState(lastType: String, lastT: Long)

/** Emitted summary row of the stateful last-price query. */
case class PackState(cum: Long)
case class PackDoc(lang: String, shard: Long, bin: Long, doc_id: Long,
    n_tok: Long)
case class UserUpdate(user_id: Long, last_value: Double,
    n_events: Long, n_changes: Long)

object StreamingQueries {

  /** The events feed through the pluggable source seam
    * ([[StreamSources.eventsFileSource]]): staged parquet under the
    * driver contract, a Kafka SourceSpec in production — the pipelines
    * below only ever see the normalized logical columns. */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame =
    StreamSources.read(spark, StreamSources.eventsFileSource(spark, dir))

  /** Any other testdata table as a stream, through the same seam. */
  private def tableStream(spark: SparkSession, dir: String, table: String): DataFrame =
    StreamSources.read(spark, StreamSources.tableFileSource(spark, dir, table))

  /** Run `df` through a memory sink synchronously; return the result.
    * Sinks from previous invocations are dropped first so repeated runs
    * (warmup + timed, Bench's cold and warm runs) don't accumulate
    * result sets in driver memory; the old sinks are found in the
    * session catalog, which runs no Spark job. The memory sink holds
    * its rows on the driver, so the result comes back as ONE partition:
    * a caller's `orderBy` is then a single in-task sort, with no range-
    * partition sampling job and no shuffle. */
  private def runToMemory(spark: SparkSession, df: DataFrame,
      mode: OutputMode): DataFrame = {
    SessionBridge.localTempViews(spark, "graft_sink_*")
      .foreach(spark.catalog.dropTempView(_))
    val name = s"graft_sink_${System.nanoTime()}"
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name).coalesce(1)
  }

  /** Row 298 — htmls→preds pipe with REAL trained models: stream of
    * synthetic pages → price-candidate extraction → per-record scoring
    * against the persisted, broadcast per-domain model map → price
    * decision, the full Htmls2PredsPipe.scala:89-112 shape (load
    * `HashMap[domain → (GBTModel, idf, selectedIndices)]` → broadcast →
    * per-message predict → Utils.getPriceFromMsgMap decide).
    *
    * [[graft.ml.ModelMap.ensure]] trains and persists the map on first
    * use (the BuildAndSaveModels step) and hands back the map it trained,
    * or loads one already persisted; the stream broadcasts that map
    * once, and every record's candidates are kept, featurized and
    * margin-scored in-task by the trainer's own rule and path
    * ([[graft.ml.ModelMap.keptCandidates]], [[graft.ml.TopKByAvgTFIDF.terms]]),
    * so a candidate is scored on the terms it would have been trained
    * on — `mapPartitions` is justified here because
    * the per-page argmax over a broadcast model's candidate scores is
    * per-record imperative work no streaming window can express (row
    * windows are unsupported on streams), exactly the reference's
    * per-message loop. The pattern price is the naive positional
    * extraction (first kept candidate), which grabs the decoy
    * on click/purchase pages — the model (anchored on the learned
    * "price" context) wins those conflicts, so every status of the
    * decision machine is exercised by real model output. The margin
    * ranking is deterministic — [[graft.ml.LocalGBT]] has no random
    * draw, and its training rows are a fixed split fitted in sorted
    * order — so the query stays fully hash-oracled. */
  def streamPipe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ml.{ModelMap, TopKByAvgTFIDF}
    val bcModels = spark.sparkContext.broadcast(ModelMap.ensure(spark, dir))
    // repartition the narrow event rows before page synthesis — the
    // heaviest per-row map in the streaming family (html synthesis +
    // candidate extraction + per-candidate featurize/GBT margin) would
    // otherwise run on a single-file micro-batch's one task
    val pages = ModelMap.syntheticPages(eventsStream(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism))
    val scored = pages
      .select(col("event_id"), col("user_id"), col("domain"),
        length(col("html")).as("page_len"),
        PriceCandidates.priceCandidates(col("html")).as("cands"))
      .as[StreamPage]
      .mapPartitions { it =>
        val models = bcModels.value
        it.map { p =>
          val parsed = ModelMap.keptCandidates(p.cands)
          val updated = parsed.headOption.map(_._2).getOrElse(0.0)
          val model = models.get(p.domain) match {
            case None => -2.0 // missingModel sentinel
            case Some(dm) =>
              val margins = parsed.map { case (c, v) =>
                val feat = dm.featurizer.transformLocal(
                  TopKByAvgTFIDF.terms(c.text_before, c.text_after, p.domain),
                  c.location.toDouble / p.page_len)
                (v, c.candidate, ModelMap.confidence(dm.gbt, feat))
              }
              val positive = margins.filter(_._3 > 0.0)
              if (positive.isEmpty) -1.0 // allFalseCandids sentinel
              // exact-margin ties break by candidate string descending —
              // the reference sorts (confidence, prediction, candidate)
              // and takes the reversed head (Htmls2PredsPipe selection)
              else positive.maxBy { case (_, cand, m) => (m, cand) }._1
          }
          StreamScored(p.event_id, p.user_id, updated, model)
        }
      }
    val decided = scored.toDF()
      .withColumn("status",
        Text.decisionStatus(col("model_price"), col("updated_price")))
      .withColumn("decided_price",
        Text.decidePrice(col("status"), col("updated_price"), col("model_price")))
    runToMemory(spark, decided, OutputMode.Append()).orderBy("event_id")
  }

  /** Row 299 — windowed event aggregation with watermark (bounded
    * state), per (5-minute window × event_type). Append mode emits only
    * FINALIZED windows: the last ~watermark-horizon of event time is
    * intentionally withheld (still open at end-of-input) — the correct
    * unbounded-stream contract, demonstrated on bounded input. */
  def streamWindow(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      // integer-cents sum: associative-exact, so the incremental
      // streaming aggregation state is order-independent and the result
      // bit-matches the batch oracle
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("value") * 100 + 0.5).cast("long")) / 100.0).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))
    runToMemory(spark, agg, OutputMode.Append()).orderBy("win_start", "event_type")
  }

  /** Row 300 — stateful per-key last-price tracking via
    * flatMapGroupsWithState: O(1) state per user, emits one summary row
    * per user per trigger (ProdMetrics last-price analog). */
  def streamStateful(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val updates = eventsStream(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (user: Long, rows: Iterator[(Long, Long, Double)], state: GroupState[PriceState]) => {
          val sorted = rows.toSeq.sortBy(_._2) // deterministic event order
          var st = state.getOption.getOrElse(PriceState(Double.NaN, 0L))
          var n = 0L
          sorted.foreach { case (_, _, v) =>
            if (!st.last.isNaN && v != st.last) st = PriceState(v, st.changes + 1)
            else st = PriceState(v, st.changes)
            n += 1
          }
          state.update(st)
          Iterator.single(UserUpdate(user, st.last, n, st.changes))
        })
    runToMemory(spark, updates.toDF(), OutputMode.Append()).orderBy("user_id")
  }

  /** q_stream_funnel — the signup→purchase conversion funnel
    * (q_funnel's definition, [[graft.operators.Analytics.FunnelWinMs]]
    * shared) as a STREAM: flatMapGroupsWithState keeps O(1) state per
    * user (first signup, first qualifying purchase — two longs), so
    * funnel state at 10⁹ users is bounded and the emitted rows per
    * trigger are ∝ users seen in that trigger. Rows sort by event time
    * in-group (the q_stream_stateful rule) so the "first" signup /
    * purchase are event-time firsts, not arrival-order accidents.
    * A funnel row is PROVISIONAL until the window closes (a user can
    * convert in a later trigger), so this is Update-mode CDC, not an
    * append log: the group emits its current row only when its state
    * CHANGED this trigger, and the keyed [[TableSink]] upserts
    * newest-wins into a partitioned table (the reference's
    * Push2Cassandra contract). However EVENT-TIME-ORDERED arrival
    * splits into batches — one staged file or many — the table
    * converges to the batch funnel exactly (spec-pinned; a purchase
    * arriving in an EARLIER trigger than its signup is dropped — the
    * out-of-order case needs the event-time-timeout seal described
    * below, not more sink machinery); an Append sink here would
    * keep both the pre- and post-conversion rows of any user whose
    * signup and purchase arrive in different triggers. At production
    * scale the state would seal via event-time timeout one window past
    * the signup — the NoTimeout state here is two longs, already
    * minimal. */
  def streamFunnel(spark: SparkSession, dir: String): DataFrame =
    runFunnel(spark, eventsStream(spark, dir), dir)

  /** The funnel pipeline over any streaming `events` source (user_id,
    * event_id, ts, event_type) — split out so the spec can drive it
    * with a multi-file staged source and prove the upsert table
    * converges when signup and purchase arrive in DIFFERENT triggers
    * (in event-time order, the at-least-ordered-arrival contract).
    * `sinkId` names the sink table (stable per source so reruns wipe
    * their own previous log). */
  private[graft] def runFunnel(spark: SparkSession, events: DataFrame,
      sinkId: String): DataFrame = {
    import spark.implicits._
    val w = graft.operators.Analytics.FunnelWinMs
    val out = events
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("t_ms"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[FunnelState]) => {
          val sorted = rows.toSeq.sortBy(r => (r._3, r._2)) // event-time order
          val before = state.getOption.getOrElse(FunnelState(-1L, -1L))
          var st = before
          sorted.foreach { case (_, _, t, typ) =>
            if (typ == "signup" && st.signupMs < 0)
              st = st.copy(signupMs = t)
            else if (typ == "purchase" && st.signupMs >= 0 && st.purchaseMs < 0 &&
              t > st.signupMs && t - st.signupMs <= w)
              st = st.copy(purchaseMs = t)
          }
          state.update(st)
          if (st.signupMs >= 0 && st != before)
            Iterator.single(FunnelOut(user, st.signupMs,
              if (st.purchaseMs >= 0) Some(st.purchaseMs) else None,
              st.purchaseMs >= 0,
              if (st.purchaseMs >= 0) Some(st.purchaseMs - st.signupMs) else None))
          else Iterator.empty
        })
    // durable keyed upsert: newest row per user wins (triggers arrive
    // in order); executors write, the driver never collects
    TableSink.upsert(spark, out.toDF(), Seq("user_id"), "funnel", sinkId)
      .select("user_id", "signup_ms", "purchase_ms", "converted", "lag_ms")
      .orderBy("user_id")
  }

  /** q_stream_hll — the HyperLogLog distinct sketch as a STREAM, the
    * argument for why sketches are the 100 TB cardinality answer: the
    * register update (per-bucket MAX of the rho rank) is associative,
    * commutative AND duplicate-insensitive, so the stream needs no
    * dedup state at all — no `distinct`, no dropDuplicates store, just
    * one Update-mode aggregation whose state is ≤ 256 longs per
    * language forever. Bucket/rho/estimate definitions are SHARED with
    * batch q_hll_distinct (one implementation), so converged stream
    * registers equal the batch registers exactly (spec-pinned); the
    * registers upsert through the durable keyed [[TableSink]]
    * (executors write, the driver never collects, the sketch survives
    * a restart) and the estimate finishes batch-side over the merged
    * register view — the sink owns the sketch, as it would own it in
    * production. Output drops the exact_distinct reference column —
    * computing it is precisely what the sketch exists to avoid. */
  def streamHll(spark: SparkSession, dir: String): DataFrame = {
    val docs = tableStream(spark, dir, "documents")
    val regs = docs
      .select(col("lang"), explode(
        graft.functions.WordShingles.wordShingles(col("text"), 3)).as("tok"))
      .withColumn("bucket", graft.operators.TextAnalysis.hllBucket)
      .withColumn("r", graft.operators.TextAnalysis.hllRho)
      .groupBy("lang", "bucket").agg(max("r").as("m"))
    graft.operators.TextAnalysis.hllFinish(
      TableSink.upsert(spark, regs, Seq("lang", "bucket"), "shll", dir))
      .orderBy("lang")
  }

  /** Top-k kept by q_stream_topk's finish (pinned — the oracle embeds
    * it). */
  private[graft] val StreamTopK = 10

  /** q_stream_topk — heavy hitters over the event stream: the live
    * "hottest domains right now" leaderboard every ingest dashboard
    * runs. Like q_stream_hll/q_stream_psi, the state is the SKETCH
    * SHAPE, not the data: an Update-mode per-domain count whose
    * per-trigger deltas upsert into the keyed sink (state and sink
    * both ∝ distinct domains, not events), and the rank-and-cut
    * finish runs batch-side over the converged count store — a stream
    * can't chain the global ORDER BY anyway, and at scale the ranking
    * belongs to whoever reads the counter store. Domains are the same
    * shop-shard synthesis q_heavy_hitters uses on `customer`, here
    * over the event feed's user ids; counts are exact (not
    * SpaceSaving-bounded) because the counter store IS the state.
    * Oracle: exact SQL counts + ROW_NUMBER cut — full value compare. */
  def streamTopK(spark: SparkSession, dir: String): DataFrame = {
    val counts = eventsStream(spark, dir)
      .select(concat(lit("shop"), (col("user_id") % 37).cast("string"),
        lit(".example.com")).as("domain"))
      .groupBy("domain").agg(count(lit(1)).as("cnt"))
    // the rank window runs over the converged counter store — the
    // 37-domain alphabet, not the event stream
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("domain").asc)
    TableSink.upsert(spark, counts, Seq("domain"), "stopk", dir)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= StreamTopK)
      .select("rank", "domain", "cnt")
      .orderBy("rank")
  }

  /** q_stream_outliers — robust anomaly scoring AT THE EDGE: per-type
    * median/MAD thresholds are trained batch-side (the exact
    * q_anomaly_mad kernel via Analytics.eventMadThresholds — medians
    * are inherently global, a stream can't compute them online) and
    * BROADCAST into a stateless Append-mode stream that flags each
    * arriving event with |v − med| > 3·MAD. The q_stream_pipe
    * train-offline/score-in-stream contract for the monitoring
    * family: zero streaming state, so the scorer scales with input
    * rate alone and thresholds refresh by re-broadcast, exactly how a
    * production detector deploys a nightly-fitted model. All-integer
    * compare → the batch oracle reproduces every flag. */
  def streamOutliers(spark: SparkSession, dir: String): DataFrame = {
    val thresholds = graft.operators.Analytics.eventMadThresholds(spark, dir)
    val flagged = eventsStream(spark, dir)
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .join(broadcast(thresholds), "event_type")
      .withColumn("dev", abs(col("cents") - col("med_cents")))
      .filter(col("dev") > col("mad_cents") * 3)
      .select(col("event_id"), col("event_type"), col("cents"),
        col("med_cents"), col("mad_cents"), col("dev"))
    runToMemory(spark, flagged, OutputMode.Append()).orderBy("event_id")
  }

  /** q_stream_decayed — the freshness-decayed leaderboard as a
    * STREAM: like q_stream_topk/hll/psi, the state is the SKETCH —
    * an Update-mode (domain, day) census whose per-trigger deltas
    * upsert into the keyed store (alphabet × day-horizon entries,
    * duplicate-insensitive to re-aggregation), and the decay-weight
    * ranking runs batch-side over the converged census via the
    * SHARED [[graft.operators.Analytics.decayedFinish]] — so stream
    * and batch cannot disagree and the stream reuses the batch
    * oracle verbatim. The decay re-weights FROM THE CENSUS at read
    * time (weights depend only on age at the watermark), which is
    * exactly why the census, not the decayed sum, is the right
    * stream state: a decayed accumulator would stale the moment the
    * watermark advanced. */
  def streamDecayed(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Analytics.decayedFinish(
      TableSink.upsert(spark,
        graft.operators.Analytics.decayedDayCounts(eventsStream(spark, dir)),
        Seq("domain", "day"), "decayed", dir))

  /** q_stream_wilson — the confidence-ranked error monitor LIVE: the
    * state is the per-domain (trials, failures) census (sketch-sized,
    * duplicate-insensitive to re-aggregation — the q_stream_psi
    * shape), upserted per trigger; the Wilson bound and ranking run
    * batch-side over the converged census via the SHARED
    * [[graft.operators.Analytics.wilsonFinish]], so stream and batch
    * cannot disagree and the stream reuses the batch oracle verbatim.
    * This is how the alarm actually deploys: counters at the edge,
    * the statistics where the dashboard reads them. */
  def streamWilson(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Analytics.wilsonFinish(
      TableSink.upsert(spark,
        graft.operators.Analytics.wilsonCensus(eventsStream(spark, dir)),
        Seq("domain"), "wilson", dir))

  /** q_stream_jsonl — the corrupt-record quarantine AT INGEST: the
    * arriving log lines parse through the SHARED
    * [[graft.sources.JsonlLogs.bucketCensus]] kernel (PERMISSIVE
    * from_json, torn lines routed to the `_CORRUPT_` bucket), the
    * Update-mode census upserts into the sketch-sized keyed store
    * (bucket alphabet = event types + 1 — the q_stream_psi shape), so
    * ingest loss is visible LIVE, not at the next batch audit; reuses
    * the batch oracle verbatim; batch-parity spec. */
  def streamJsonl(spark: SparkSession, dir: String): DataFrame =
    TableSink.upsert(spark,
      graft.sources.JsonlLogs.bucketCensus(
        graft.sources.JsonlLogs.linesFrom(eventsStream(spark, dir))),
      Seq("bucket"), "jsonl", dir)
      .orderBy("bucket")

  /** q_stream_boot — uncertainty quantification AT INGEST: the
    * Poisson-bootstrap replicate census ([[graft.operators.Analytics
    * .bootCensus]] — per-replicate (Σw, Σw·cents), weights a pure
    * function of (event, replicate) so the sums are ADDITIVE across
    * micro-batches) upserts into a 65-row keyed store, and the CI
    * finish runs batch-side over the converged census via the SHARED
    * bootFinish — the live dashboard reads a mean WITH its interval,
    * not a bare point; reuses the batch oracle verbatim. */
  def streamBoot(spark: SparkSession, dir: String): DataFrame = {
    // repartition the two projected columns before the ×65 replicate
    // explode — the stream-side analog of the batch query's widened
    // scan (one md5 per (event, replicate) is the heavy map, and a
    // single-file micro-batch otherwise runs it on one task); a
    // cheap shuffle of two narrow columns at any scale
    val census = graft.operators.Analytics.bootCensus(
      eventsStream(spark, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .repartition(spark.sparkContext.defaultParallelism))
    graft.operators.Analytics.bootFinish(
      TableSink.upsert(spark, census, Seq("r"), "boot", dir)
        .select(col("r"), col("sw"),
          col("swc").cast("decimal(38,0)").as("swc")))
  }

  /** q_stream_dp — the DP release census AT INGEST: the per-(source,
    * lang) exact counters ([[graft.operators.Curation.dpCensus]] —
    * doc counts + clipped token sums, both ADDITIVE across
    * micro-batches) upsert into an alphabet-bounded keyed store, and
    * the Laplace + threshold finish runs batch-side over the
    * converged census via the SHARED
    * [[graft.operators.Curation.dpFinish]] — the published
    * statistics stay ε-DP while the corpus streams in (noise is a
    * pure per-group function, so WHEN the release is cut doesn't
    * change it); reuses the batch oracle verbatim. */
  def streamDp(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.dpFinish(
      TableSink.upsert(spark,
        graft.operators.Curation.dpCensus(
          tableStream(spark, dir, "documents").select("source", "lang", "text")),
        Seq("source", "lang"), "dp", dir))

  /** q_stream_conformal — the conformal coverage monitor AT INGEST:
    * the (parity, cents) purchase-value histogram
    * ([[graft.operators.Analytics.confCensus]] — plain counts,
    * ADDITIVE across micro-batches, state ∝ the value domain, not
    * the corpus) upserts into the keyed store, and the split-
    * conformal calibration + coverage finish runs batch-side over
    * the converged census via the SHARED confFinish — the live
    * dashboard reads whether the deployed interval still covers at
    * its guaranteed rate; reuses the batch oracle verbatim. */
  def streamConformal(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Analytics.confFinish(
      TableSink.upsert(spark,
        graft.operators.Analytics.confCensus(
          eventsStream(spark, dir)
            .filter(col("event_type") === "purchase")
            .select(col("event_id"),
              floor(col("value") * 100 + 0.5).cast("long").as("cents"))),
        Seq("parity", "cents"), "conformal", dir))

  /** q_stream_cusum — the CUSUM level-shift monitor AT INGEST: the
    * per-day purchase-cents census
    * ([[graft.operators.Analytics.cusumCensus]] — plain sums,
    * ADDITIVE across micro-batches, state ∝ the day axis, not the
    * corpus) upserts into the keyed store, and the changepoint
    * finish (axis densify → bridge-exact cusum → argmax + pre/post
    * means) runs batch-side over the converged census via the SHARED
    * cusumFinish — the live "did the level shift, and when?"
    * dashboard; reuses the batch oracle verbatim. */
  def streamCusum(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Analytics.cusumFinish(
      TableSink.upsert(spark,
        graft.operators.Analytics.cusumCensus(eventsStream(spark, dir)),
        Seq("d"), "cusum", dir))

  /** q_stream_ols — the one-pass linear regression AT INGEST: the
    * ten exact OLS moments ([[graft.operators.Analytics.olsCensus]] —
    * a single keyless row, ADDITIVE across micro-batches, state =
    * ten numbers however large the corpus) update per trigger, and
    * the Cramer solve runs batch-side over the converged census via
    * the SHARED olsFinish — the live coefficient dashboard; reuses
    * the batch oracle verbatim. */
  def streamOls(spark: SparkSession, dir: String): DataFrame =
    // the keyless single-row census gets the corrCensus literal-key
    // convention so the durable sink has an upsert key
    graft.operators.Analytics.olsFinish(
      TableSink.upsert(spark,
        graft.operators.Analytics.olsCensus(
          tableStream(spark, dir, "lineitem"))
          .withColumn("k", lit(0L)),
        Seq("k"), "ols", dir)
        .drop("k"))

  /** q_stream_eb — the shrunk-rate leaderboard AT INGEST: the
    * per-part (n, x) counting census
    * ([[graft.operators.Analytics.ebCensus]] — ADDITIVE across
    * micro-batches, but PART-keyed, i.e. TABLE-sized state, not
    * sketch-sized) upserts through the durable keyed [[TableSink]]
    * (the reference's Cassandra-sink contract: executors write their
    * partitions, the driver never collects), and the empirical-Bayes
    * fit runs batch-side over the merged newest-wins view via the
    * SHARED ebFinish; batch oracle verbatim. */
  def streamEb(spark: SparkSession, dir: String): DataFrame = {
    val census = graft.operators.Analytics.ebCensus(
      tableStream(spark, dir, "lineitem"))
    graft.operators.Analytics.ebFinish(
      TableSink.upsert(spark, census, Seq("l_partkey"), "eb", dir))
  }

  /** q_stream_hdr — the quantile dashboard AT INGEST: the
    * (series, bucket) HDR count census
    * ([[graft.operators.Analytics.hdrCensus]] — integer-exact log₂
    * buckets derived from binary-string length, no float anywhere,
    * ADDITIVE across micro-batches and ≤ series × 1024 entries BY
    * CONSTRUCTION: the sketch-as-stream argument in its purest form)
    * upserts through the durable keyed [[TableSink]], and the
    * ceil-rank quantile picks + exact-percentile audit run batch-side
    * over the merged newest-wins view via the SHARED
    * [[graft.operators.Analytics.hdrFinish]] — the production p99
    * monitoring sketch, live as rows land; batch oracle verbatim. */
  def streamHdr(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Analytics.hdrFinish(spark, dir,
      TableSink.upsert(spark,
        graft.operators.Analytics.hdrCensus(
          tableStream(spark, dir, "lineitem")),
        Seq("series", "bucket"), "hdr", dir))

  /** q_stream_corr — the correlation matrix MAINTAINED AT INGEST: the
    * 15 exact decimal moments ([[graft.operators.Analytics.corrCensus]])
    * are additive across micro-batches, so the whole matrix is ONE
    * keyed Update-mode row forever — the purest sketch-as-stream
    * instance in the suite (q_stream_ols' moment argument, now for
    * all C(4,2) pairs at once); the row upserts through the durable
    * keyed [[TableSink]] and the per-pair one-double-division finish
    * runs batch-side via the SHARED corrFinish — feature-redundancy
    * drift visible as rows land; batch oracle verbatim. */
  def streamCorr(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Analytics.corrFinish(
      TableSink.upsert(spark,
        graft.operators.Analytics.corrCensus(
          tableStream(spark, dir, "lineitem")),
        Seq("k"), "corr", dir))

  /** q_stream_charset — the per-source charset profile AT INGEST: the
    * char-class census ([[graft.operators.TextAnalysis.charsetCensus]]
    * — exact translate-deletion counts, all sums ADDITIVE across
    * micro-batches, state = one row per crawl source forever) upserts
    * through the durable keyed [[TableSink]]; the e6 ratio finish
    * runs batch-side via the SHARED charsetFinish — an encoding break
    * in a source's scraper pages the ingest owner while the crawl is
    * landing; batch oracle verbatim. */
  def streamCharset(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.charsetFinish(
      TableSink.upsert(spark,
        graft.operators.TextAnalysis.charsetCensus(
          tableStream(spark, dir, "documents")),
        Seq("source"), "charset", dir))

  /** q_stream_binseg — the change-point monitor AT INGEST: the daily
    * revenue census ([[graft.operators.Analytics.binsegCensus]] — a
    * keyed SUM, additive across micro-batches, state bounded by the
    * calendar) upserts through the durable keyed [[TableSink]], and
    * the exact-integer two-level segmentation runs batch-side over
    * the merged view via the SHARED binsegFinish — the "did the level
    * shift, and where" report stays current as facts land, the
    * offline complement to q_stream_cusum's online alarm; batch
    * oracle verbatim. */
  def streamBinseg(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Analytics.binsegFinish(
      TableSink.upsert(spark,
        graft.operators.Analytics.binsegCensus(
          tableStream(spark, dir, "lineitem")),
        Seq("day"), "binseg", dir))

  /** q_stream_ams — the join-size sketch AT INGEST: the [[AmsR]] sign
    * counters ([[graft.operators.Analytics.amsCensus]] — ±1 sums,
    * additive, 64 longs of state FOREVER at any key cardinality — the
    * sketch-as-stream argument at its purest alongside q_stream_hll)
    * upsert through the durable keyed [[TableSink]]; the
    * median-of-means estimate + exact audit run batch-side via the
    * SHARED amsFinish — the optimizer's self-join-size statistic that
    * never goes stale and never grows; batch oracle verbatim. */
  def streamAms(spark: SparkSession, dir: String): DataFrame =
    // repartition the projected key before the per-row md5+conv census
    // (the q_stream_boot note: a single-file micro-batch otherwise
    // runs the hash map on one task; one narrow column shuffles)
    graft.operators.Analytics.amsFinish(spark, dir,
      TableSink.upsert(spark,
        graft.operators.Analytics.amsCensus(
          tableStream(spark, dir, "lineitem").select("l_partkey")
            .repartition(spark.sparkContext.defaultParallelism)),
        Seq("k"), "ams", dir))

  /** q_stream_hurst — the long-memory diagnostic AT INGEST: the
    * (series, day) sum/count census
    * ([[graft.operators.Analytics.hurstCensus]] — additive,
    * calendar-bounded state) upserts through the durable keyed
    * [[TableSink]]; the R/S windows and the log-log slope run
    * batch-side via the SHARED hurstFinish — "is this series trending
    * or mean-reverting" stays current as facts land; batch oracle
    * verbatim. */
  def streamHurst(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Analytics.hurstFinish(
      TableSink.upsert(spark,
        graft.operators.Analytics.hurstCensus(
          tableStream(spark, dir, "lineitem")),
        Seq("series", "day"), "hurst", dir))

  /** q_stream_srm — the experiment-health tripwire AT INGEST: each
    * event projects to its (day, user, arm) assignment
    * ([[graft.operators.Analytics.srmAssignments]]), first-seen
    * (day, user) pairs dedup through the state store (the
    * q_stream_dedup precedent — each pair is then an exactly-once
    * FACT, so the durable [[TableSink]] append log holds it with no
    * merge), and the per-day arm counts + two-cell χ² run batch-side
    * via the SHARED srmFinish — a sample-ratio mismatch pages the
    * experimenter the day it happens, not at the readout; batch
    * oracle verbatim. */
  def streamSrm(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Analytics.srmFinish(
      TableSink.appendLog(spark,
        graft.operators.Analytics.srmAssignments(eventsStream(spark, dir))
          .dropDuplicates("day", "user_id"),
        "srm", dir))

  /** q_stream_embed_drift — the per-dimension drift monitor AT
    * INGEST: the per-dim × half exact-moment census
    * ([[graft.operators.Similarity.embedDriftCensus]] — e6-quantized
    * at the scan, so all six sums are ADDITIVE across micro-batches,
    * state = dims rows forever) upserts through the durable keyed
    * [[TableSink]], and the exact mean-shift + Welch finish runs
    * batch-side over the merged newest-wins view via the SHARED
    * embedDriftFinish — the retrain alarm fires while the embedding
    * feed is still landing, not at the nightly audit; batch oracle
    * verbatim. */
  def streamEmbedDrift(spark: SparkSession, dir: String): DataFrame =
    runEmbedDrift(spark, tableStream(spark, dir, "embeddings"), dir)

  /** The drift pipeline over any streaming `(vec_id, embedding)`
    * source — split out so the spec can drive it with a multi-file
    * staged source and prove the upsert table converges to the batch
    * census when the two snapshot halves land across SEPARATE
    * triggers. */
  private[graft] def runEmbedDrift(spark: SparkSession, emb: DataFrame,
      sinkId: String): DataFrame =
    graft.operators.Similarity.embedDriftFinish(
      TableSink.upsert(spark,
        graft.operators.Similarity.embedDriftCensus(emb),
        Seq("dim"), "embed_drift", sinkId))

  /** q_stream_cdc — the CDC consumer AT INGEST: the event stream IS
    * the change log, and the last-op-per-key reduction
    * ([[graft.operators.Analytics.cdcLastOp]] — max_by over the seq
    * total order, associative/commutative, so the Update-mode state
    * is MERGEABLE across micro-batches and sized by touched keys)
    * upserts through the durable keyed [[TableSink]]; the full-outer
    * merge onto the snapshot runs batch-side over the converged view
    * via the SHARED cdcApply — this is literally the production
    * Debezium-consumer shape: the log lands continuously, the merged
    * CURRENT table is read on demand; batch oracle verbatim. */
  def streamCdc(spark: SparkSession, dir: String): DataFrame = {
    val (base, ofs) = graft.operators.Analytics.cdcBase(spark, dir)
    graft.operators.Analytics.cdcApply(base,
      TableSink.upsert(spark,
        graft.operators.Analytics.cdcLastOp(eventsStream(spark, dir), ofs),
        Seq("user_id"), "cdc", dir))
  }

  /** q_stream_holt — the Holt forecaster AT INGEST: the (nation,
    * month) revenue census ([[graft.operators.Analytics.holtCensus]]
    * — integer-cent sums, ADDITIVE across micro-batches; the customer
    * dim broadcasts stream-static, so the only state is the
    * nations × months aggregation) upserts through the durable keyed
    * [[TableSink]], and the unrolled 4ᵗ-scaled recursion finish runs
    * batch-side over the merged view via the SHARED holtFinish — the
    * revenue forecast updates as orders land, not at month close;
    * batch oracle verbatim. */
  def streamHolt(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Analytics.holtFinish(spark, dir,
      TableSink.upsert(spark,
        graft.operators.Analytics.holtCensus(
          tableStream(spark, dir, "orders"),
          graft.sources.Tables.customer(spark, dir)),
        Seq("c_nationkey", "m"), "holt", dir))

  /** q_stream_kl — the data-mixing monitor AT INGEST: the (source,
    * hashed-bucket) token census ([[graft.operators.Curation
    * .klCensus]] — plain counts, ADDITIVE across micro-batches, state
    * ∝ sources × 8192 buckets forever) upserts through the durable
    * keyed [[TableSink]], and the dense-axis smoothing + divergence
    * finish runs batch-side over the merged newest-wins view via the
    * SHARED klFinish — "is today's crawl drifting the mix?" answers
    * while documents land, not at the nightly rebalance; batch oracle
    * verbatim. */
  def streamKl(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.klFinish(spark,
      TableSink.upsert(spark,
        graft.operators.Curation.klCensus(
          tableStream(spark, dir, "documents").select("source", "text")),
        Seq("source", "b"), "kl", dir))

  /** q_stream_kmv — the KMV distinct sketch and its set-operation
    * estimates as a STREAM: like q_stream_hll, the state update is
    * associative, commutative AND duplicate-insensitive (inserting a
    * hash already in the bottom-K, or above the current K-th minimum,
    * is a no-op), so the stream needs no dedup state at all — one
    * Update-mode aggregation whose state is K longs per source
    * forever ([[graft.functions.CappedDistinctMins]]). Where HLL can
    * only count, KMV sketches COMPOSE: union/intersection/Jaccard
    * across sources come from merging the per-source sketches — the
    * cross-crawl overlap dashboard live at ingest. Hashing
    * ([[graft.operators.Curation.kmvTokenHashes]]) and the pairwise
    * estimator finish ([[Curation.kmvEstimates]]) are SHARED with
    * batch q_kmv_setops; the converged sketch store (#sources × K
    * longs — sketch-sized by definition) finishes batch-side. The
    * oracle rebuilds the identical sketches in SQL; the exact-audit
    * columns stay batch-only (computing them is what the sketch
    * exists to avoid). */
  def streamKmv(spark: SparkSession, dir: String): DataFrame =
    runKmv(spark, tableStream(spark, dir, "documents").select("source", "text"))

  /** q_stream_bloom — the runtime join filter maintained AT INGEST:
    * the dimension side (the segment's customers) streams in, and the
    * Bloom bitset builds as an Update-mode (word, bit_or) aggregation
    * — bit_or is associative, commutative and duplicate-insensitive
    * (the q_stream_hll/q_stream_kmv sketch-as-stream argument, third
    * instance), so state is ≤ m/64 longs forever with no dedup
    * upstream. The converged bitset (sketch-sized by definition)
    * finishes batch-side through the SHARED
    * [[graft.operators.Analytics.bjFinish]] probe/audit — in
    * production this is how the fact-scan filter stays current while
    * the dimension table keeps growing; batch oracle verbatim. */
  def streamBloom(spark: SparkSession, dir: String): DataFrame =
    runBloom(spark,
      tableStream(spark, dir, "customer")
        .filter(col("c_mktsegment") === graft.operators.Analytics.BjSegment)
        .select(col("c_custkey").as("k")), dir)

  /** q_stream_skyline — the Pareto frontier maintained AT INGEST: the
    * per-price max-size census is a per-key MAX (associative,
    * commutative, duplicate-insensitive — the sketch-as-stream
    * argument's fourth instance), so the catalog stream needs one
    * Update-mode aggregation with state ∝ distinct price points.
    * Unlike the fixed-alphabet censuses, that key domain is
    * DATA-dependent (a 100 TB catalog could hold ~10⁶ distinct
    * cents values), so the census upserts through the durable keyed
    * [[TableSink]] — executor-side partition writes, newest-wins
    * merge, never a driver collect; the frontier cut + part
    * join-back run batch-side over the merged view via the SHARED
    * [[graft.operators.Analytics.skyFinish]] — the live "best size
    * per price" dashboard as parts land; batch oracle verbatim. */
  def streamSkyline(spark: SparkSession, dir: String): DataFrame = {
    val census = graft.operators.Analytics.skyCensus(
      graft.operators.Analytics.skyPoints(tableStream(spark, dir, "part")))
    graft.operators.Analytics.skyFinish(
      graft.operators.Analytics.skyPoints(
        graft.sources.Tables.part(spark, dir)),
      TableSink.upsert(spark, census, Seq("price_cents"), "skyline", dir))
  }

  /** q_stream_join_card — the optimizer's join-cardinality statistics
    * maintained AT INGEST: the per-key count census
    * ([[graft.operators.Analytics.jcCensus]] — a cumulative keyed
    * count, Update-mode state ∝ distinct keys, the q_stream_eb
    * table-sized-state precedent) upserts through the durable keyed
    * [[TableSink]], and the exact-Σc²/uniform/histogram estimate
    * comparison runs batch-side over the merged newest-wins view via
    * the SHARED jcFinish — ANALYZE TABLE that never goes stale; batch
    * oracle verbatim. */
  def streamJoinCard(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Analytics.jcFinish(
      TableSink.upsert(spark,
        graft.operators.Analytics.jcCensus(
          tableStream(spark, dir, "lineitem")),
        Seq("k"), "join_card", dir))

  /** The Bloom-build pipeline over any streaming key source — split
    * out so the spec can stage keys across triggers and prove the
    * bit_or state converges. */
  private[graft] def runBloom(spark: SparkSession, keys: DataFrame,
      dir: String): DataFrame = {
    val wordRows = graft.operators.Analytics.bjWordRows(keys)
    // per-word bit_or state upserts through the durable sink; the
    // word array rebuild is the one collect the Bloom family is
    // allowed (≤ BjBits/64 rows by construction — the same bound the
    // batch build carries)
    val merged = TableSink.upsert(spark, wordRows, Seq("w"), "bloom", dir)
    val words = new Array[Long](graft.operators.Analytics.BjBits / 64)
    merged.collect().foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    graft.operators.Analytics.bjFinish(spark, dir, words)
  }

  /** The KMV pipeline over any streaming `(source, text)` source —
    * split out so the spec can drive it with a multi-file staged
    * source and prove the sketch state converges across triggers. */
  private[graft] def runKmv(spark: SparkSession, docs: DataFrame): DataFrame = {
    val sketches = graft.operators.Curation.kmvTokenHashes(docs)
      .groupBy("source")
      .agg(graft.functions.CappedDistinctMins
        .cappedDistinctMins(col("h"), graft.operators.Curation.KmvK).as("kmv"))
    // newest per-source sketch row wins in the durable sink; the
    // estimate tail reads the flattened (source, h) view batch-side
    val skDf = TableSink.upsert(spark, sketches, Seq("source"), "kmv", "run")
      .select(col("source"), explode(col("kmv")).as("h"))
    graft.operators.Curation.kmvEstimates(skDf).orderBy("src_a", "src_b")
  }

  /** q_stream_silhouette — the codebook-health monitor AT INGEST:
    * the persisted IVF codebook loads once and broadcasts into the
    * stream (the reference's load-model-then-map contract, streaming/
    * Htmls2PredsPipe.scala:84-88 — exactly how q_stream_pipe carries
    * its model map), each arriving vector scores its own/next-cell
    * silhouette against it map-side, and the per-cell (n, Σs_e6)
    * census ([[graft.operators.Similarity.silhouetteCensus]] —
    * e6-quantized AT THE POINT, so both sums are ADDITIVE across
    * micro-batches, ≤cells rows of state forever) upserts through the
    * durable keyed [[TableSink]]; the one-division-per-cell finish
    * runs batch-side over the merged view via the SHARED
    * silhouetteFinish — cell degradation (an anchor drifting onto a
    * boundary) surfaces while vectors land, before recall drops at
    * query time; batch oracle verbatim. */
  def streamSilhouette(spark: SparkSession, dir: String): DataFrame = {
    val anchors = graft.operators.Similarity.silhouetteAnchors(spark, dir)
    graft.operators.Similarity.silhouetteFinish(
      TableSink.upsert(spark,
        graft.operators.Similarity.silhouetteCensus(
          tableStream(spark, dir, "embeddings"), anchors),
        Seq("cell"), "silhouette", dir))
  }

  /** q_stream_sem_decontam — semantic decontamination AT INGEST: the
    * bounded eval suite loads once batch-side and broadcasts into the
    * stream (the load-model-then-map contract of q_stream_pipe /
    * q_stream_silhouette), and every arriving corpus vector scores its
    * max-cosine/nearest-eval/contaminated row map-side via the SHARED
    * [[graft.operators.Similarity.semDecontamScore]] kernel — batch
    * and stream cannot disagree and share one oracle. Fully STATELESS
    * Append mode (output rows are input rows): the production shape
    * for benchmark-leakage screening at crawl time, rejecting
    * contaminated documents before they land, at a cost ∝ ingest
    * rate · |eval|·d. */
  def streamSemDecontam(spark: SparkSession, dir: String): DataFrame = {
    val evalAgg = graft.operators.Similarity.semDecontamEvalAgg(
      graft.sources.Tables.embeddings(spark, dir))
    // repartition arrivals before the per-row eval-chunk scoring
    // (the q_stream_boot note: heavy map, single-file micro-batch)
    val scored = graft.operators.Similarity.semDecontamScore(
      tableStream(spark, dir, "embeddings")
        .filter(col("vec_id") % 50 =!= 0)
        .repartition(spark.sparkContext.defaultParallelism), evalAgg)
    runToMemory(spark, scored, OutputMode.Append()).orderBy("vec_id")
  }

  /** q_stream_lexicon — the blocklist census AT INGEST: each arriving
    * document's (term, doc) hit rows ([[graft.operators.Curation
    * .lexiconHits]], SHARED — complete the moment the doc's single row
    * arrives, so they are a pure keyed upsert, state ∝ matched
    * (term, doc) pairs) land in the durable keyed [[TableSink]], and
    * the per-term census + doc-rate finish runs batch-side over the
    * merged view via the SHARED lexiconFinish — the blocklist audit
    * updates as the crawl lands, not at corpus close; batch oracle
    * verbatim. */
  def streamLexicon(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    graft.operators.Curation.lexiconFinish(
      TableSink.upsert(spark,
        graft.operators.Curation.lexiconHits(
          tableStream(spark, dir, "documents").select("doc_id", "text")),
        Seq("term", "doc_id"), "lexicon", dir),
      docs.agg(count(lit(1)).as("n_total")))
  }

  /** q_stream_ann — ANN lookups AT INGEST on the trained IVF
    * codebook: it trains once batch-side
    * ([[graft.operators.Similarity.ivfKmeansIndex]] — q_kmeans's
    * integer-exact Lloyd, the load-model-then-map contract of
    * q_stream_pipe / q_stream_sem_decontam), its ≤8-row codebook
    * broadcasts as ONE struct-array row, and every ARRIVING query
    * vector probes its nprobe nearest cells map-side (an array_sort
    * slice over the broadcast — zero streaming shuffle, zero state in
    * the scorer) then meets the static assigned corpus in a
    * stream-static (cell) equi-join. Candidate rows are complete the
    * moment the query arrives — a pure keyed upsert into the durable
    * [[TableSink]] (state ∝ candidates of arrived queries) — and the
    * per-query top-K ranks batch-side via the SHARED
    * [[graft.operators.Similarity.ivfTopKFinish]]. ONE
    * [[graft.operators.Similarity.ivfKmeansCandidates]] kernel for
    * batch and stream, so the two cannot disagree and q_ann_ivf_kmeans's
    * oracle applies verbatim. This is the production retrieval shape:
    * index built offline, lookups served as vectors land. */
  def streamAnn(spark: SparkSession, dir: String): DataFrame = {
    val sim = graft.operators.Similarity
    val (corpus, cents) = sim.ivfKmeansIndex(spark, dir)
    val cands = sim.ivfKmeansCandidates(
      tableStream(spark, dir, "embeddings")
        .filter(col("vec_id") % 50 === 0).select("vec_id", "embedding"),
      corpus, sim.ivfCentsAgg(cents), sim.IvfNprobe)
    sim.ivfTopKFinish(TableSink.upsert(spark, cands,
      Seq("query_id", "neighbor_id"), "annivf", dir))
  }

  /** q_stream_quality — the Gopher quality gate AT INGEST: every
    * arriving document is scored by the published rule battery
    * (q_gopher_rules' [[graft.operators.Curation.gopherFlags]] kernel,
    * SHARED — batch and stream cannot disagree and share one oracle)
    * in a fully STATELESS Append-mode stream, the
    * train-nothing/score-at-the-edge member of the monitoring family
    * (q_stream_outliers' shape minus even the broadcast). This is
    * where a production crawl actually runs the gate: rejecting junk
    * before it ever lands in the corpus, at a cost that scales with
    * ingest rate alone. All-integer rule values → full value oracle. */
  def streamQuality(spark: SparkSession, dir: String): DataFrame = {
    val flagged = graft.operators.Curation.gopherFlags(
      tableStream(spark, dir, "documents").select("doc_id", "text"))
    runToMemory(spark, flagged, OutputMode.Append()).orderBy("doc_id")
  }

  /** q_stream_code — the code-vs-prose router AT INGEST: every
    * arriving document is routed by the rule-vote battery
    * (q_code_detect's [[graft.operators.Curation.codeFlags]] kernel,
    * SHARED — batch and stream cannot disagree and share one oracle)
    * in a fully STATELESS Append-mode stream — the q_stream_quality
    * shape for the modality split: code goes to the code pipeline
    * before any prose-tuned gate ever sees it, at a cost that scales
    * with ingest rate alone. */
  def streamCode(spark: SparkSession, dir: String): DataFrame = {
    val flagged = graft.operators.Curation.codeFlags(
      tableStream(spark, dir, "documents").select("doc_id", "text"))
    runToMemory(spark, flagged, OutputMode.Append()).orderBy("doc_id")
  }

  /** q_stream_transitions — the Markov transition matrix as a STREAM:
    * flatMapGroupsWithState keeps ONE string of state per user (the
    * last event type seen), emits a (src, dst) step per arriving
    * event, and the sink accumulates the catalog-sized step counts —
    * each step is emitted exactly once, so the counter upsert is a
    * plain merge and the probability finish runs batch-side over the
    * converged counts via the SHARED
    * [[graft.operators.Analytics.transFinish]] (the psiFinish
    * pattern: stream and batch cannot disagree, the batch oracle is
    * reused verbatim). In-trigger arrival order is pinned by the
    * same (t_ms, event_id) sort the batch lead() uses, so
    * cross-trigger boundaries land identically however the input is
    * micro-batched. */
  def streamTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val steps = eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("t_ms"), col("event_id"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (_: Long, rows: Iterator[(Long, String, Long, Long)],
         state: GroupState[TransState]) => {
          val sorted = rows.toSeq.sortBy(r => (r._3, r._4))
          var last = state.getOption.map(_.lastType).orNull
          val out = sorted.flatMap { case (_, et, _, _) =>
            val step = Option(last).map(l => (l, et))
            last = et
            step
          }
          state.update(TransState(last))
          out.iterator
        })
      .toDF("src", "dst")
    // each transition is emitted exactly once by the state function,
    // so the durable APPEND log holds the facts (no merge semantics
    // needed) and the (src, dst) count rolls up batch-side
    graft.operators.Analytics.transFinish(
      TableSink.appendLog(spark, steps, "transitions", dir)
        .groupBy("src", "dst").agg(count(lit(1)).as("n")))
  }

  /** Row 301 — per-user competitor set (analytics/Kafka2CompPerUser
    * .scala:67-79): the stream aggregates each user's distinct sorted
    * store list. Update-output aggregation + upsert sink: each trigger
    * emits ONLY the users whose set changed, and the keyed store keeps
    * the newest row per user — the foreachRDD→Cassandra upsert shape of
    * the reference's rolling report (streaming/Push2Cassandra.scala).
    * Complete mode would re-emit every user ever seen on every trigger
    * (output ∝ all history, a scale-killer at 10⁹ users); Update-mode
    * output is ∝ the trigger's delta. The per-user set state is bounded
    * by the small store alphabet. The keyed [[TableSink]] below is the
    * external KV sink (the Cassandra/Delta-MERGE role) as a partitioned
    * table — it only ever receives the per-trigger updated keys, never
    * a full re-emission, and the driver never collects. */
  def streamCompPerUser(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .groupBy("user_id")
      .agg(array_sort(collect_set(col("event_type"))).as("store_set"))
      .select(col("user_id"),
        array_join(col("store_set"), ",").as("stores"),
        size(col("store_set")).cast("long").as("n_stores"))
    TableSink.upsert(spark, agg, Seq("user_id"), "comp_per_user", dir)
      .select("user_id", "stores", "n_stores")
      .orderBy("user_id")
  }

  /** q_stream_enrich — stream-static dimension enrichment: each
    * arriving event is joined to the static customer dim (the
    * broadcast-a-reference-table-into-the-stream shape the reference's
    * pipeline uses for its domain map and model store, reference
    * streaming/Htmls2PredsPipe.scala:90), then rolled up to revenue
    * per (market segment, event type) in Update mode. The join is
    * stateless — only the downstream aggregate keeps state, sized by
    * the segment×type alphabet, so state never grows with the stream.
    * At 100 TB/day the dim side stays broadcast (dims are MBs when
    * facts are TBs) and a dim refresh is a re-broadcast, never a
    * shuffle. Integer cents make the upsert merge order-free; the
    * batch oracle reproduces the converged totals exactly. */
  def streamEnrich(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = graft.sources.Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val agg = eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .join(broadcast(dim), Seq("user_id"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n_events"), sum("cents").as("cents_total"))
    TableSink.upsert(spark, agg, Seq("c_mktsegment", "event_type"),
        "enrich", dir)
      .orderBy("c_mktsegment", "event_type")
  }

  /** Row 303 — per-user session windows (5-minute inactivity gap):
    * Structured Streaming's merging-state aggregation — the one window
    * shape a tumbling/sliding window cannot express, because a
    * session's extent is data-driven (grows while events keep arriving
    * within the gap, merges when a late event bridges two sessions).
    * State per key is bounded by the watermark. Append mode emits only
    * sessions the watermark has sealed (end = last event + gap ≤
    * horizon), the correct unbounded-stream contract. Sums are integer
    * cents so merge order cannot perturb the result. */
  def streamSessions(spark: SparkSession, dir: String): DataFrame =
    withStatePartitions(spark, StatePartitions) {
    runToMemory(spark, sessionAgg(eventsStream(spark, dir)), OutputMode.Append())
      .orderBy("user_id", "sess_start")
    }

  /** The session-window pipeline over any streaming `events` source —
    * split out so the checkpoint/restart spec can drive it with its
    * own source, durable file sink, and checkpointLocation, proving
    * session state and watermark survive a process restart. */
  private[graft] def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (sum(floor(col("value") * 100 + 0.5).cast("long")) / 100.0).as("sum_value"))
      .select(
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Row 302 — streaming exact dedup: the LLM-pipeline dedup stage as a
    * stream. Documents stream → content hash → `dropDuplicates` on the
    * hash, i.e. Structured Streaming's dedup state store emitting each
    * distinct content exactly once. At scale the state is bounded with
    * `dropDuplicatesWithinWatermark` over an ingest-time column; the
    * bounded corpus here exercises the same state-store path. The
    * output carries no arrival-dependent columns (a first-seen doc_id
    * would depend on partition race order), so the result is
    * deterministic and fully hash-oracled. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = tableStream(spark, dir, "documents")
    val dedup = docs
      .select(md5(col("text")).as("content_hash"),
        length(col("text")).cast("long").as("n_chars"))
      .dropDuplicates("content_hash")
    runToMemory(spark, dedup, OutputMode.Append()).orderBy("content_hash")
  }

  /** Row 304 — streaming decontamination: the curation stage as a
    * stream. Training documents stream in; each is shingled (word
    * [[graft.operators.Curation.DecontamK]]-grams, the batch
    * operator's constant) and joined STREAM-STATIC against the
    * broadcast eval shingle set (the benchmark suite is static and
    * small by nature — the same broadcast shape as the batch
    * q_decontaminate); hits dedup through the state store so each
    * contaminated (train, eval) doc pair is emitted exactly once.
    * The join is stateless; the dedup state is one entry per
    * contaminated pair — on a genuinely unbounded crawl stream that
    * set grows too, so production would bound it with
    * `dropDuplicatesWithinWatermark` over ingest time (exact dedup is
    * kept here for the deterministic oracle). */
  def streamDecontam(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation.{DecontamK, isEval}
    val evalPairs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(isEval(col("doc_id")))
      .select(explode(array_distinct(
        graft.functions.WordShingles.wordShingles(col("text"), DecontamK))).as("sh"),
        col("doc_id").as("eval_doc_id"))
    val docs = tableStream(spark, dir, "documents")
      .filter(!isEval(col("doc_id")))
    val hits = docs
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.WordShingles.wordShingles(col("text"), DecontamK))).as("sh"))
      .join(broadcast(evalPairs), Seq("sh"))
      .select(col("doc_id"), col("eval_doc_id"))
      .dropDuplicates("doc_id", "eval_doc_id")
    runToMemory(spark, hits, OutputMode.Append())
      .orderBy("doc_id", "eval_doc_id")
  }

  /** q_stream_pack — training sequence packing as a STREAM: the
    * batch-assembly stage (q_pack_sequences) run incrementally as
    * documents land, the way a continuous-ingest pipeline feeds a
    * trainer without re-packing the world per refresh.
    *
    * State is ONE long per (lang, shard) — the running token total;
    * a document's bin is `cum div cap` at arrival, after which the
    * counter advances. Both halves of the semantics are SHARED with
    * batch: [[graft.operators.TextAnalysis.packInput]] (token count +
    * shard assignment) feeds the state machine, and the per-bin
    * rollup is [[graft.operators.TextAnalysis.packRollup]] over the
    * sink's per-doc store — so stream and batch can never disagree,
    * and the stream shares the batch DuckDB oracle verbatim.
    *
    * Arrival contract: docs arrive in doc_id order per (lang, shard)
    * across triggers (in-trigger order is sorted locally) — the same
    * at-least-ordered-arrival contract q_stream_funnel documents; the
    * spec proves state carries correctly across staged triggers. */
  def streamPack(spark: SparkSession, dir: String): DataFrame = {
    val docs = tableStream(spark, dir, "documents")
    runPack(spark, docs, dir)
  }

  /** The packing pipeline over any streaming `documents` source —
    * split out so the spec can stage multi-trigger arrivals. Per-doc
    * bin assignments land in a keyed [[TableSink]] table (a doc's bin
    * is assigned once and never revised, so the upsert is effectively
    * an append — but the keyed merge makes a replayed trigger
    * harmless); the rollup runs over the table. */
  private[graft] def runPack(spark: SparkSession, docs: DataFrame,
      sinkId: String): DataFrame = {
    import spark.implicits._
    val cap = graft.operators.TextAnalysis.PackCap
    val perDoc = graft.operators.TextAnalysis.packInput(docs)
      .as[(String, Long, Long, Long)] // lang, doc_id, n_tok, shard
      .groupByKey(r => (r._1, r._4))
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (key: (String, Long), rows: Iterator[(String, Long, Long, Long)],
         state: GroupState[PackState]) => {
          val sorted = rows.toSeq.sortBy(_._2) // doc_id order in-trigger
          var cum = state.getOption.map(_.cum).getOrElse(0L)
          val out = sorted.map { case (lang, docId, nTok, shard) =>
            val bin = cum / cap
            cum += nTok
            PackDoc(lang, shard, bin, docId, nTok)
          }
          state.update(PackState(cum))
          out.iterator
        })
    graft.operators.TextAnalysis.packRollup(
      TableSink.upsert(spark, perDoc.toDF(), Seq("doc_id"), "pack", sinkId)
        .select("lang", "shard", "bin", "doc_id", "n_tok"))
  }

  /** q_stream_psi — the per-source drift monitor as a STREAM: the
    * live-ingest alarm that catches a crawler gone wrong while the
    * batch is still landing, instead of at the next batch audit.
    *
    * Like q_stream_hll, the state is the SKETCH, not the data: an
    * Update-mode (source, bucket) count aggregation — ≤ 16 longs per
    * source forever, duplicate-insensitive to re-aggregation — whose
    * converged counts the sink upserts; the PSI index math
    * (smoothing, e6-floored ln terms, alarm threshold) runs
    * batch-side over the card-sized count store via the SHARED
    * [[graft.operators.Curation.psiFinish]], with bucketing shared
    * via psiBucketInput — so stream and batch can never disagree and
    * the stream reuses the batch oracle verbatim. */
  def streamPsi(spark: SparkSession, dir: String): DataFrame = {
    val docs = tableStream(spark, dir, "documents")
    val counts = graft.operators.Curation.psiBucketInput(docs)
      .groupBy("source", "bucket").agg(count(lit(1)).as("c"))
    graft.operators.Curation.psiFinish(
      TableSink.upsert(spark, counts, Seq("source", "bucket"), "psi", dir))
  }

  /** q_stream_join — the keyed interval join as a genuine STREAM-STREAM
    * join (Structured Streaming's two-stream symmetric hash join, the
    * one streaming capability no other row exercised): purchases within
    * 6 h AFTER an error by the same user, matched as both sides arrive.
    *
    * Batch q_range_join buckets time so the shuffle work stays ∝
    * bucket-sharing pairs; the stream build instead lets Spark's
    * stream-stream join hold each side in WATERMARK-BOUNDED state — the
    * event-time range condition on the two watermarked columns lets the
    * engine prove an error older than (watermark − 6 h) can never match
    * a future purchase and evict it, so a day-long run holds hours of
    * state, not history. Both sides are ms-truncated BEFORE the
    * watermark so the join compares exactly the batch row's unix_millis
    * values. Same output columns, same DuckDB oracle as q_range_join:
    * two execution strategies, one semantics (reference analog: the
    * DStreams pipelines joined against recent-history tables,
    * um/re/streaming/). */
  /** Run `body` with the state-partition count sized for a stateful
    * stream instead of the session's CPU-sized shuffle width. Every
    * state partition is a StateStore instance paying a fixed
    * commit/snapshot cost per micro-batch, so over-partitioning state
    * multiplies fixed overhead that the (bounded) keyed state can't
    * amortize — the stateful analog of not running 200 shuffle
    * partitions on a laptop. On a real cluster the number is sized to
    * sustained key-throughput ONCE at first deployment (state
    * repartitioning needs a checkpoint rebuild), not to the executor
    * count; the bench's AvailableNow runs re-plan each time, so the
    * scoped conf is safe here. Restores the session conf after. */
  private def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** State partitions for the bench's stateful streams (sf0.1 key
    * volumes: ≤ a few hundred k keys — 8 stores amortize their
    * per-batch fixed cost; measured 7.9 → 4.5 s on the stream-stream
    * join at local[32]). */
  private val StatePartitions = 8

  def streamJoin(spark: SparkSession, dir: String): DataFrame =
    withStatePartitions(spark, StatePartitions)(streamJoinInner(spark, dir))

  private def streamJoinInner(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsStream(spark, dir)
      .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id").as("e_user"),
        col("ts").as("err_ts"))
      .withWatermark("err_ts", "10 minutes")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purch_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"),
        floor(col("value") * 100 + 0.5).cast("long").as("value_cents"))
      .withWatermark("p_ts", "10 minutes")
    val winMs = graft.operators.Analytics.RangeWinMs
    val joined = errors.join(purchases,
      col("e_user") === col("p_user") &&
        col("p_ts") > col("err_ts") &&
        col("p_ts") <= col("err_ts") + expr(s"INTERVAL $winMs MILLISECOND"))
    runToMemory(spark, joined.select(
        col("err_id"), col("purch_id"), col("e_user").as("user_id"),
        (unix_millis(col("p_ts")) - unix_millis(col("err_ts"))).as("lag_ms"),
        col("value_cents")),
      OutputMode.Append())
      .orderBy("err_id", "purch_id")
  }

  /** q_stream_attribution — last-touch attribution as a STREAM: the
    * state is each user's most recent NON-purchase touch (type + time,
    * O(1) per user — the TransState shape with a clock), every
    * purchase credits it if within
    * [[graft.operators.Analytics.AttrWinMs]] else counts as "direct",
    * and conversions are APPEND-only facts the [[TableSink]] fact log
    * accumulates — no upsert needed, no driver-side state: each
    * trigger's conversions land as one idempotent partition write.
    * The channel rollup is the batch
    * [[graft.operators.Analytics.attrFinish]] over the fact table, so
    * stream and batch share one definition AND one oracle.
    *
    * Arrival contract: per-user time order across triggers (in-trigger
    * order is sorted locally) — the q_stream_transitions contract. */
  def streamAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val win = graft.operators.Analytics.AttrWinMs
    val convs = eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("t_ms"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .as[(Long, String, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (_: Long, rows: Iterator[(Long, String, Long, Long, Long)],
         state: GroupState[AttrState]) => {
          val sorted = rows.toSeq.sortBy(r => (r._3, r._4))
          var st = state.getOption.getOrElse(AttrState(null, -1L))
          val out = sorted.flatMap { case (_, et, t, _, cents) =>
            if (et == "purchase") {
              val ch = if (st.lastT >= 0 && t - st.lastT <= win) st.lastType
                else "direct"
              Some((ch, cents))
            } else { st = AttrState(et, t); None }
          }
          state.update(st)
          out.iterator
        })
      .toDF("channel", "cents")
    graft.operators.Analytics.attrFinish(
      TableSink.appendLog(spark, convs, "attribution", dir))
  }

  /** q_stream_benford — the Benford first-digit screen as a LIVE
    * fraud monitor: the state is the 9-counter digit census (the
    * q_stream_psi sketch-not-data shape — bounded forever,
    * re-aggregation-insensitive), upserted per trigger; the
    * share/expectation/deviation math runs batch-side over the
    * 9-row store via the SHARED
    * [[graft.operators.Analytics.benfordFinish]], with digit
    * extraction shared via benfordDigits — so stream and batch can
    * never disagree and the stream reuses the batch oracle verbatim. */
  def streamBenford(spark: SparkSession, dir: String): DataFrame = {
    val li = tableStream(spark, dir, "lineitem")
    val counts = graft.operators.Analytics.benfordDigits(li)
      .groupBy("digit").agg(count(lit(1)).as("n"))
    graft.operators.Analytics.benfordFinish(
      TableSink.upsert(spark, counts, Seq("digit"), "benford", dir))
  }

  /** Stateful builders registered through [[withStatePartitions]]:
    * every one of these plans at least one StateStore operator, whose
    * per-partition fixed commit cost dominates at bench key volumes
    * (see the helper's scaladoc). Stateless streams (the pipe, the
    * outlier scorer) keep the session's full shuffle width — their
    * cost is map work, which wants all the cores. */
  private def stateful(fn: (SparkSession, String) => DataFrame) =
    (s: SparkSession, d: String) =>
      withStatePartitions(s, StatePartitions)(fn(s, d))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_join" -> (streamJoin(_, _)), // wraps itself
    "q_stream_psi" -> stateful(streamPsi),
    "q_stream_pack" -> stateful(streamPack),
    "q_stream_pipe" -> (streamPipe(_, _)), // stateless map pipeline
    "q_stream_window" -> stateful(streamWindow),
    "q_stream_stateful" -> stateful(streamStateful),
    "q_stream_comp_per_user" -> stateful(streamCompPerUser),
    "q_stream_enrich" -> stateful(streamEnrich),
    "q_stream_dedup" -> stateful(streamDedup),
    "q_stream_decontam" -> stateful(streamDecontam),
    "q_stream_sessions" -> (streamSessions(_, _)), // wraps itself
    "q_stream_funnel" -> stateful(streamFunnel),
    "q_stream_topk" -> stateful(streamTopK),
    "q_stream_transitions" -> stateful(streamTransitions),
    "q_stream_attribution" -> stateful(streamAttribution),
    "q_stream_benford" -> stateful(streamBenford),
    "q_stream_outliers" -> (streamOutliers(_, _)), // stateless scorer
    "q_stream_quality" -> (streamQuality(_, _)), // stateless scorer
    "q_stream_code" -> (streamCode(_, _)), // stateless router
    "q_stream_decayed" -> stateful(streamDecayed),
    "q_stream_wilson" -> stateful(streamWilson),
    "q_stream_jsonl" -> stateful(streamJsonl),
    "q_stream_boot" -> stateful(streamBoot),
    "q_stream_dp" -> stateful(streamDp),
    "q_stream_conformal" -> stateful(streamConformal),
    "q_stream_cusum" -> stateful(streamCusum),
    "q_stream_ols" -> stateful(streamOls),
    "q_stream_eb" -> stateful(streamEb),
    "q_stream_hdr" -> stateful(streamHdr),
    "q_stream_srm" -> stateful(streamSrm),
    "q_stream_corr" -> stateful(streamCorr),
    "q_stream_charset" -> stateful(streamCharset),
    "q_stream_binseg" -> stateful(streamBinseg),
    "q_stream_ams" -> stateful(streamAms),
    "q_stream_hurst" -> stateful(streamHurst),
    "q_stream_embed_drift" -> stateful(streamEmbedDrift),
    "q_stream_kl" -> stateful(streamKl),
    "q_stream_holt" -> stateful(streamHolt),
    "q_stream_cdc" -> stateful(streamCdc),
    "q_stream_silhouette" -> stateful(streamSilhouette),
    "q_stream_sem_decontam" -> (streamSemDecontam(_, _)), // stateless scorer
    "q_stream_lexicon" -> stateful(streamLexicon),
    "q_stream_ann" -> stateful(streamAnn),
    "q_stream_hll" -> stateful(streamHll),
    "q_stream_kmv" -> stateful(streamKmv),
    "q_stream_bloom" -> stateful(streamBloom),
    "q_stream_skyline" -> stateful(streamSkyline),
    "q_stream_join_card" -> stateful(streamJoinCard))

  /** The streaming queries run real Structured Streaming, but over the
    * bounded testdata their results are deterministic functions of
    * `events` — so they get full DuckDB oracles: the strongest possible
    * check that the streaming semantics (state machine, watermark
    * finalization) match their batch-SQL meaning. */
  val oracleSql: Map[String, String] = Map(
    // the batch funnel's oracle VERBATIM — stream and batch share one
    // definition, so they must share one oracle
    "q_stream_funnel" -> graft.operators.Analytics.oracleSql("q_funnel"),
    // the batch Gopher-gate oracle VERBATIM — gopherFlags is shared,
    // so the stateless stream must reproduce every rule value
    "q_stream_quality" -> graft.operators.Curation.oracleSql("q_gopher_rules"),
    // the batch router oracle VERBATIM — codeFlags is shared, so the
    // stateless stream must reproduce every signal and vote
    "q_stream_code" -> graft.operators.Curation.oracleSql("q_code_detect"),
    // the batch decayed-leaderboard oracle VERBATIM — decayedDayCounts
    // + decayedFinish are shared, so the converged census must rank
    // identically
    "q_stream_decayed" -> graft.operators.Analytics.oracleSql("q_decayed_topk"),
    // the batch Wilson oracle VERBATIM — wilsonCensus + wilsonFinish
    // are shared, so the converged counters must rank identically
    "q_stream_wilson" -> graft.operators.Analytics.oracleSql("q_wilson_rates"),
    // the batch quarantine oracle VERBATIM — bucketCensus is shared,
    // so the converged ingest report must match cell-for-cell
    "q_stream_jsonl" -> graft.sources.JsonlLogs.oracleSql("q_parse_jsonl"),
    // the batch bootstrap oracle VERBATIM — bootCensus + bootFinish
    // are shared and the replicate sums are additive across batches
    "q_stream_boot" -> graft.operators.Analytics.oracleSql("q_bootstrap_ci"),
    // the batch DP-release oracle VERBATIM — dpCensus + dpFinish are
    // shared and the census counters are additive across batches
    "q_stream_dp" -> graft.operators.Curation.oracleSql("q_dp_release"),
    // the batch conformal oracle VERBATIM — confCensus + confFinish
    // are shared and the histogram counts are additive across batches
    "q_stream_conformal" -> graft.operators.Analytics.oracleSql("q_conformal"),
    // the batch CUSUM oracle VERBATIM — cusumCensus + cusumFinish are
    // shared and the day sums are additive across batches
    "q_stream_cusum" -> graft.operators.Analytics.oracleSql("q_cusum_change"),
    // the batch OLS oracle VERBATIM — olsCensus + olsFinish are shared
    // and the ten moments are additive across batches
    "q_stream_ols" -> graft.operators.Analytics.oracleSql("q_ols_price"),
    // the batch EB oracle VERBATIM — ebCensus + ebFinish are shared
    // and the per-part counters are additive across batches
    "q_stream_eb" -> graft.operators.Analytics.oracleSql("q_eb_shrink"),
    "q_stream_hdr" -> graft.operators.Analytics.oracleSql("q_hdr_quantiles"),
    "q_stream_srm" -> graft.operators.Analytics.oracleSql("q_srm"),
    "q_stream_corr" -> graft.operators.Analytics.oracleSql("q_corr_matrix"),
    "q_stream_charset" -> graft.operators.TextAnalysis.oracleSql("q_charset_audit"),
    "q_stream_binseg" -> graft.operators.Analytics.oracleSql("q_binseg"),
    "q_stream_ams" -> graft.operators.Analytics.oracleSql("q_ams_f2"),
    "q_stream_hurst" -> graft.operators.Analytics.oracleSql("q_hurst"),
    "q_stream_embed_drift" -> graft.operators.Similarity.oracleSql("q_embed_drift"),
    "q_stream_kl" -> graft.operators.Curation.oracleSql("q_kl_sources"),
    "q_stream_holt" -> graft.operators.Analytics.oracleSql("q_holt_forecast"),
    "q_stream_cdc" -> graft.operators.Analytics.oracleSql("q_cdc_merge"),
    "q_stream_silhouette" -> graft.operators.Similarity.oracleSql("q_silhouette"),
    "q_stream_sem_decontam" -> graft.operators.Similarity.oracleSql("q_sem_decontam"),
    "q_stream_lexicon" -> graft.operators.Curation.oracleSql("q_lexicon_flags"),
    // the batch trained-IVF oracle VERBATIM — ivfKmeansCandidates +
    // ivfTopKFinish are shared, so the at-ingest lookups must rank
    // identically
    "q_stream_ann" -> graft.operators.Similarity.oracleSql("q_ann_ivf_kmeans"),
    // the batch transition-matrix oracle VERBATIM — transFinish is
    // shared, so the converged step counts must yield the batch matrix
    "q_stream_transitions" -> graft.operators.Analytics.oracleSql("q_transitions"),
    // the batch attribution oracle VERBATIM — attrFinish and AttrWinMs
    // are shared, so the converged conversion log must match
    "q_stream_attribution" -> graft.operators.Analytics.oracleSql("q_attribution"),
    // the batch Benford oracle VERBATIM — benfordDigits/benfordFinish
    // are shared, so the converged census must yield the batch report
    "q_stream_benford" -> graft.operators.Analytics.oracleSql("q_benford"),
    // the batch interval-join oracle VERBATIM — the stream-stream join
    // must produce exactly the bucketized batch join's pairs
    "q_stream_join" -> graft.operators.Analytics.oracleSql("q_range_join"),
    // the batch packing oracle VERBATIM — packInput + packRollup are
    // shared, so the converged stream must equal the batch rollup
    "q_stream_pack" -> graft.operators.TextAnalysis.oracleSql("q_pack_sequences"),
    // the batch PSI oracle VERBATIM — psiBucketInput + psiFinish are
    // shared, so the converged count store must yield the batch index
    "q_stream_psi" -> graft.operators.Curation.oracleSql("q_psi_drift"),
    // the q_anomaly_mad median/MAD order statistics keyed by
    // event_type, then the same integer flag per event
    "q_stream_outliers" ->
      """WITH s AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |med AS (
        |  SELECT event_type,
        |    MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS med_cents
        |  FROM (SELECT event_type, cents,
        |          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
        |          COUNT(*) OVER (PARTITION BY event_type) AS n FROM s)
        |  GROUP BY event_type),
        |dev AS (
        |  SELECT s.event_type, abs(s.cents - m.med_cents) AS d
        |  FROM s JOIN med m USING (event_type)),
        |mad AS (
        |  SELECT event_type,
        |    MAX(CASE WHEN rn = (n + 1) // 2 THEN d END) AS mad_cents
        |  FROM (SELECT event_type, d,
        |          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn,
        |          COUNT(*) OVER (PARTITION BY event_type) AS n FROM dev)
        |  GROUP BY event_type)
        |SELECT s.event_id, s.event_type, s.cents, med.med_cents,
        |  mad.mad_cents, abs(s.cents - med.med_cents) AS dev
        |FROM s JOIN med USING (event_type) JOIN mad USING (event_type)
        |WHERE abs(s.cents - med.med_cents) > mad.mad_cents * 3
        |ORDER BY event_id""".stripMargin,
    // exact counts + ROW_NUMBER cut over the same shop-shard domains
    "q_stream_topk" ->
      s"""WITH freq AS (
         |  SELECT concat('shop', CAST(user_id % 37 AS VARCHAR), '.example.com')
         |    AS domain, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1),
         |ranked AS (
         |  SELECT domain, cnt,
         |    ROW_NUMBER() OVER (ORDER BY cnt DESC, domain ASC) AS rank
         |  FROM freq)
         |SELECT CAST(rank AS BIGINT) AS rank, domain, cnt
         |FROM ranked WHERE rank <= ${StreamTopK}
         |ORDER BY rank""".stripMargin,
    // the batch HLL oracle minus its exact_distinct reference column
    // (the stream deliberately never computes exact cardinality)
    "q_stream_hll" ->
      """WITH toks AS (
        |  SELECT lang, unnest(CASE WHEN len(ts) >= 3
        |    THEN [ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] for i in range(1, len(ts) - 1)]
        |    ELSE [text] END) AS tok
        |  FROM (SELECT lang, text, string_split(text, ' ') AS ts FROM documents)),
        |h AS (SELECT lang, md5(tok) AS hx,
        |    CAST(concat('0x', substr(md5(tok), 1, 2)) AS BIGINT) AS bucket FROM toks),
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
        |  FROM regs GROUP BY lang)
        |SELECT lang, v, s_e6,
        |  CASE WHEN v < 256 AND
        |      CAST(floor(CAST(ALPHA_M2 AS DOUBLE) * 1e6
        |        / (CAST(s_e6 AS DOUBLE) + (256 - v) * 1e6) + 0.5) AS BIGINT) <= 640
        |    THEN CAST(floor(256.0 * ln(256.0 / CAST(256 - v AS DOUBLE)) + 0.5) AS BIGINT)
        |    ELSE CAST(floor(CAST(ALPHA_M2 AS DOUBLE) * 1e6
        |        / (CAST(s_e6 AS DOUBLE) + (256 - v) * 1e6) + 0.5) AS BIGINT)
        |  END AS hll_est
        |FROM st ORDER BY lang""".stripMargin
        .replace("ALPHA_M2", graft.operators.TextAnalysis.HllAlphaM2.toString),
    // the batch Bloom-audit oracle VERBATIM — bjWordRows + bjFinish
    // are shared and bit_or state is duplicate-insensitive
    "q_stream_bloom" -> graft.operators.Analytics.oracleSql("q_bloom_join"),
    // the batch skyline oracle VERBATIM — skyCensus + skyFinish are
    // shared and the per-price max state is duplicate-insensitive
    "q_stream_skyline" -> graft.operators.Analytics.oracleSql("q_skyline"),
    // the batch join-cardinality oracle VERBATIM — jcCensus + jcFinish
    // are shared and the keyed counts are cumulative across batches
    "q_stream_join_card" -> graft.operators.Analytics.oracleSql("q_join_card"),
    // the batch KMV oracle's estimator half VERBATIM (kmvTokenHashes +
    // kmvEstimates are shared); the exact-audit columns stay
    // batch-only — computing them is what the sketch exists to avoid
    "q_stream_kmv" ->
      s"""WITH census AS (
         |  SELECT DISTINCT source,
         |    CAST(concat('0x', substr(md5(tok), 1, 13)) AS BIGINT) AS h
         |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
         |        FROM documents)),
         |sk AS (
         |  SELECT source, h FROM (
         |    SELECT source, h,
         |      row_number() OVER (PARTITION BY source ORDER BY h) AS r
         |    FROM census) WHERE r <= ${graft.operators.Curation.KmvK}),
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
         |  FROM ranked WHERE r <= ${graft.operators.Curation.KmvK}
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, k_used,
         |  CASE WHEN n_cand < ${graft.operators.Curation.KmvK}
         |       THEN CAST(n_cand AS BIGINT)
         |       ELSE ((${graft.operators.Curation.KmvK - 1}
         |              * CAST(${graft.operators.Curation.KmvMaxH} AS BIGINT)) // kmax)
         |  END AS union_est,
         |  (inter_in_k * 1000000) // k_used AS jaccard_est_e6,
         |  CAST((CAST((inter_in_k * 1000000) // k_used AS HUGEINT)
         |    * (CASE WHEN n_cand < ${graft.operators.Curation.KmvK}
         |            THEN CAST(n_cand AS BIGINT)
         |            ELSE ((${graft.operators.Curation.KmvK - 1}
         |                   * CAST(${graft.operators.Curation.KmvMaxH} AS BIGINT)) // kmax) END))
         |    // 1000000 AS BIGINT) AS inter_est
         |FROM est ORDER BY src_a, src_b""".stripMargin,
    "q_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts_us, value FROM events),
        |wm AS (SELECT max(ts_us) - INTERVAL 10 MINUTE AS horizon FROM e),
        |o AS (
        |  SELECT user_id, ts_us, value,
        |    CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) > INTERVAL 5 MINUTE
        |         OR LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |s AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o),
        |agg AS (
        |  SELECT user_id, sid, MIN(ts_us) AS sess_start, MAX(ts_us) + INTERVAL 5 MINUTE AS sess_end,
        |    COUNT(*) AS n_events,
        |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_value
        |  FROM s GROUP BY user_id, sid)
        |SELECT a.sess_start, a.sess_end, a.user_id, a.n_events, a.sum_value
        |FROM agg a, wm WHERE a.sess_end <= wm.horizon
        |ORDER BY user_id, sess_start""".stripMargin,
    "q_stream_dedup" ->
      """SELECT md5(text) AS content_hash,
        |  CAST(MIN(len(text)) AS BIGINT) AS n_chars
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY content_hash""".stripMargin,
    "q_stream_decontam" -> {
      // same constants as the batch q_decontaminate oracle — batch and
      // stream must agree on shingle order and split rule by construction
      import graft.operators.Curation.{DecontamK => K, EvalMod, EvalRem}
      s"""WITH d AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, sh FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(ts) >= $K
        |      THEN [array_to_string(ts[i:i+${K - 1}], ' ')
        |            for i in range(1, len(ts) - ${K - 2})]
        |      ELSE [text] END) AS sh
        |    FROM d)),
        |ev AS (SELECT sh, doc_id AS eval_doc_id FROM sh WHERE doc_id % $EvalMod = $EvalRem),
        |tr AS (SELECT doc_id, sh FROM sh WHERE doc_id % $EvalMod <> $EvalRem)
        |SELECT DISTINCT tr.doc_id, eval_doc_id
        |FROM tr JOIN ev USING (sh)
        |ORDER BY doc_id, eval_doc_id""".stripMargin
    },
    "q_stream_comp_per_user" ->
      """SELECT user_id,
        |  string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS stores,
        |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_stores
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "q_stream_enrich" ->
      """SELECT c_mktsegment, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents_total
        |FROM events JOIN customer ON c_custkey = user_id
        |GROUP BY c_mktsegment, event_type
        |ORDER BY c_mktsegment, event_type""".stripMargin,
    // The oracle knows WHICH candidate the trained model selects: by
    // construction (disjoint anchor contexts + per-domain location), the
    // LocalGBT margin ranks the true-price candidate first on every
    // trained domain — asserted per-page by StreamingSpec's selection
    // test, so a model regression fails the spec before it could fail
    // this oracle.
    "q_stream_pipe" ->
      """WITH p AS (
        |  SELECT event_id, user_id, event_type,
        |    CAST(printf('%.2f', value + 100.0) AS DOUBLE) AS a_val,
        |    CAST(printf('%.2f', floor((value + 100.0) * 1.05 * 100 + 0.5) / 100) AS DOUBLE) AS m1_val,
        |    CAST(printf('%.2f', floor((value + 100.0) * 2.07 * 100 + 0.5) / 100) AS DOUBLE) AS m2_val
        |  FROM events),
        |m AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_type = 'error' THEN 0.0
        |         WHEN event_type = 'click' THEN m1_val
        |         WHEN event_type = 'purchase' THEN m2_val
        |         ELSE a_val END AS updated_price,
        |    CASE WHEN event_type IN ('error', 'signup') THEN -2.0
        |         ELSE a_val END AS model_price
        |  FROM p),
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
        |SELECT event_id, user_id, updated_price, model_price, status,
        |  CASE
        |    WHEN status IN ('modeledPatternEquals', 'minorModelPatternConflict', 'patternFailed')
        |      THEN model_price
        |    WHEN status IN ('majorModelPatternConflict', 'missingModel', 'allFalseCandids')
        |      THEN updated_price
        |    WHEN status = 'bothFailed' THEN 0.0
        |    ELSE NULL END AS decided_price
        |FROM st
        |ORDER BY event_id""".stripMargin,
    "q_stream_window" ->
      """WITH e AS (
        |  SELECT make_timestamp((epoch_ns(ts) // 1000 // 300000000) * 300000000) AS win_start,
        |    make_timestamp(epoch_ns(ts) // 1000) AS ts_us,
        |    event_type, value
        |  FROM events),
        |wm AS (SELECT max(ts_us) - INTERVAL 10 MINUTE AS horizon FROM e),
        |agg AS (
        |  SELECT win_start, event_type, COUNT(*) AS n,
        |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_value
        |  FROM e GROUP BY win_start, event_type)
        |SELECT a.win_start, a.event_type, a.n, a.sum_value
        |FROM agg a, wm
        |WHERE a.win_start + INTERVAL 5 MINUTE <= wm.horizon
        |ORDER BY win_start, event_type""".stripMargin,
    "q_stream_stateful" ->
      """WITH o AS (
        |  SELECT user_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn_desc,
        |    LAG(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
        |  FROM events)
        |SELECT user_id,
        |  MAX(CASE WHEN rn_desc = 1 THEN value END) AS last_value,
        |  COUNT(*) AS n_events,
        |  CAST(COALESCE(SUM(CASE WHEN prev IS NOT NULL AND value <> prev THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_changes
        |FROM o
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin)
}
