package graft.ml

import graft.functions.{LocalText, PriceCandidates, Text}
import graft.sources.Tables
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** One domain's trained scorer: the text featurizer fitted on that
  * domain's training split plus its [[LocalGBT]] ensemble — the
  * per-domain tuple the reference ships to storage and broadcasts into
  * the streaming pipe (um/re/streaming/Htmls2PredsPipe.scala:89-112 loads
  * `HashMap[domain → (GBTModel, idf, selectedIndices)]`;
  * um/re/emr/BuildAndSaveModels.scala:36-44 builds and saves it).
  * Both members are Serializable, so the whole map broadcasts, and
  * both are case classes of arrays, so a stored domain is one struct. */
case class DomainModel(featurizer: TopKByAvgTFIDF, gbt: LocalGBTModel)

/** One stored domain: its run and format tags and its model (the
  * featurizer's idf weights and selected buckets; the boosted trees as
  * f0, step, and per tree the five flattened node arrays). */
case class MapRow(domain: String, run_id: Long, version: Int, model: DomainModel)

/** One extracted price candidate: the [[PriceCandidates]] struct. */
case class Candidate(candidate: String, text_before: String,
    text_after: String, location: Int)

/** A training page with its true price and extracted candidates. */
case class TrainPage(event_id: Long, domain: String, a_val: Double,
    page_len: Int, cands: Seq[Candidate])

/** The persisted per-domain model map and its lifecycle: train → save →
  * (merge) → load → broadcast → per-record scoring. A map trained in
  * this JVM is scored as trained; `load` serves only a map that is
  * already on disk. The trainer and the streaming scorer keep a page's
  * candidates by one rule ([[keptCandidates]]) and featurize them
  * through one path ([[TopKByAvgTFIDF.terms]] → hashed counts →
  * [[TopKByAvgTFIDF.features]]), so a candidate is scored on the very
  * terms it would have been trained on.
  *
  * Storage layout: the map root `path` is ONE parquet table of
  * [[MapRow]]s, one row per domain, written in a single
  * `coalesce(1)` write. That committed write is the marker that a whole
  * map exists — there is no separate meta file, and a half-written
  * table fails to read and is retrained.
  *
  * `merge` implements the reference's model-map refresh
  * (um/re/emr/MergedMapModels.scala): a new training run's per-domain
  * models are merged into the live map, newest `run_id` winning per
  * domain — so a nightly retrain of a subset of domains updates just
  * those entries.
  */
object ModelMap {

  /** Bump when the on-disk layout or the page/feature construction
    * changes — a version-mismatched map is retrained, never reused. */
  private val FormatVersion = 5

  /** Event domains with trained models. `signup` deliberately has none
    * (exercises the missingModel path) and `error` pages carry no
    * price-shaped candidates (exercises bothFailed). */
  val TrainedDomains: Seq[String] =
    Seq("view", "click", "purchase").map(_ + ".example.com")

  /** File-metadata fingerprint of the training corpus: MD5 over the
    * sorted (name, size, mtime) of the events parquet files, read from
    * the FileSystem listing — O(#files), no data scan. Folded into
    * [[defaultPath]] so a regenerated dataset at the same dir path
    * invalidates the persisted map — without it, a stale trained map
    * under /tmp would be silently reused and surface as a confusing
    * oracle mismatch instead of a retrain. At 100 TB the row-content
    * alternative (count + summed crc32) would full-scan the table just
    * to name a cache path (and a Long crc32 sum overflows under ANSI
    * past ~2^31 rows); a rewritten corpus always changes file
    * names/sizes/mtimes, so metadata gives the same invalidation
    * guarantee. Cached per dir: the corpus is immutable within a run. */
  private val fpCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def corpusFingerprint(spark: SparkSession, dir: String): String =
    fpCache.getOrElseUpdate(dir, {
      val root = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val rootUri = fs.makeQualified(root).toUri.getPath
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        // fingerprint the path RELATIVE to the table root, not the
        // basename: in a partitioned layout, moving a part-file between
        // partition dirs preserves (name, len, mtime) but changes data
        val rel = st.getPath.toUri.getPath.stripPrefix(rootUri)
        if (!name.startsWith("_") && !name.startsWith("."))
          entries += s"$rel:${st.getLen}:${st.getModificationTime}"
      }
      java.security.MessageDigest.getInstance("MD5")
        .digest(entries.sorted.mkString("\n").getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString
    })

  def defaultPath(spark: SparkSession, dir: String): String =
    s"/tmp/graft_model_map_v${FormatVersion}_${Tables.dirTag(dir)}" +
      s"_${corpusFingerprint(spark, dir)}"

  /** Delete older persisted maps for the same corpus dir (any version,
    * any fingerprint except `keep`) — a regenerated corpus mints a new
    * fingerprinted path, and without pruning the stale siblings
    * accumulate under /tmp forever. */
  private def pruneStaleSiblings(spark: SparkSession, dir: String, keep: String): Unit = {
    val glob = new org.apache.hadoop.fs.Path(
      s"/tmp/graft_model_map_v*_${Tables.dirTag(dir)}_*")
    val fs = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = try fs.globStatus(glob) catch { case _: Exception => null }
    if (stale != null)
      stale.foreach { st =>
        if (st.getPath.toUri.getPath != keep)
          try fs.delete(st.getPath, true) catch { case _: Exception => () }
      }
  }

  // ---------------------------------------------------------------------------
  // Synthetic pages and the candidate keep rule (shared verbatim by the
  // batch training job and the streaming scorer; the pages are pure
  // column expressions, so the same code runs on a batch DataFrame and
  // a streaming one).
  // ---------------------------------------------------------------------------

  /** ≥50 chars of neutral filler between a decoy mention and the true
    * price span: the candidate scanner's ±50-char snippets must not let
    * one candidate's window reach the other's discriminative anchor
    * words ("price" vs "was"/"plus…shipping"). */
  private val Fill = "x" * 56

  private def fmt2(c: Column): Column = format_number(c, 2)

  /** The three marked prices of a page: the true price and the two
    * decoy magnitudes (floor-scaled to exact cents so both engines
    * format identically). */
  private def trueRaw(value: Column): Column = value + 100.0
  private def minorRaw(value: Column): Column =
    floor((value + 100.0) * 1.05 * 100 + 0.5) / 100
  private def majorRaw(value: Column): Column =
    floor((value + 100.0) * 2.07 * 100 + 0.5) / 100

  /** events (batch or stream) → + domain, html, a_val (the parsed true
    * price). Five page shapes keyed by event_type:
    *   view     true price first, "shipping" decoy after     → modeledPatternEquals
    *   click    +5% "was" decoy first, true price after      → minorModelPatternConflict
    *   purchase +107% "was" decoy first, true price after    → majorModelPatternConflict
    *   signup   like view, but the domain has no model       → missingModel
    *   error    no price-shaped candidate at all             → bothFailed
    * The naive positional pattern (first candidate) grabs the decoy on
    * click/purchase pages; the model learns the "price"-anchored true
    * candidate — exactly the conflict the reference's status machine
    * adjudicates (Htmls2Cassandra.scala:183-227). */
  def syntheticPages(events: DataFrame): DataFrame = {
    val truePage = concat(
      lit("<div class=\"item\"><span class=\"price\">$"), fmt2(trueRaw(col("value"))),
      lit("</span><i>" + Fill + "</i><b>plus $9.99 shipping</b></div>"))
    def decoyPage(decoy: Column): Column = concat(
      lit("<div class=\"item\"><span class=\"was\">was $"), fmt2(decoy),
      lit("</span><u>" + Fill + "</u><span class=\"price\">$"), fmt2(trueRaw(col("value"))),
      lit("</span></div>"))
    events
      .withColumn("domain", concat(col("event_type"), lit(".example.com")))
      .withColumn("html",
        when(col("event_type") === "click", decoyPage(minorRaw(col("value"))))
          .when(col("event_type") === "purchase", decoyPage(majorRaw(col("value"))))
          .when(col("event_type") === "error",
            lit("<div class=\"item\">Error 500 page not found</div>"))
          .otherwise(truePage))
      .withColumn("a_val", Text.parsePriceLocale(fmt2(trueRaw(col("value")))))
  }

  /** The pipe's candidate keep rule, shared by the trainer and the
    * streaming scorer: price-shaped (contains . or ,) and
    * locale-parseable. Each kept candidate comes with its price. */
  def keptCandidates(cands: Seq[Candidate]): Seq[(Candidate, Double)] =
    cands.flatMap { c =>
      if (c.candidate.contains(".") || c.candidate.contains(","))
        LocalText.parsePriceLocale(c.candidate).map(v => (c, v))
      else None
    }

  /** Page → labeled per-candidate training rows, the gramsTFIDFParser
    * shape (Transformer.scala:74-87): the kept candidates' hashed
    * [[TopKByAvgTFIDF.terms]], location normalized by page length,
    * label = candidate parses to the page's true price. */
  private[graft] def trainingRows(pages: DataFrame): Dataset[TfRow] = {
    import pages.sparkSession.implicits._
    pages
      .select(col("event_id"), col("domain"), col("a_val"),
        length(col("html")).as("page_len"),
        PriceCandidates.priceCandidates(col("html")).as("cands"))
      .as[TrainPage]
      .flatMap { p =>
        keptCandidates(p.cands).map { case (c, v) =>
          TfRow(p.event_id, p.domain, TopKByAvgTFIDF.termFrequencies(
            TopKByAvgTFIDF.terms(c.text_before, c.text_after, p.domain)),
            c.location.toDouble / p.page_len, if (v == p.a_val) 1.0 else 0.0)
        }
      }
  }

  // ---------------------------------------------------------------------------
  // Train / save / load / merge
  // ---------------------------------------------------------------------------

  /** Train the per-domain scorers on the event pages' training split
    * (event_id-keyed 70%, whole pages together) and persist the map.
    * ONE Spark job: the [[trainingRows]] of the trained domains are
    * grouped by domain and each group is fitted in-task by
    * [[LocalGBT.fitDomain]] (the q_gbt_train_eval trainer), rows sorted
    * by (event_id, location_norm) first so the fit is deterministic.
    * Returns the map as trained: the caller scores with these very
    * models, with no read back from `path`. */
  def trainAndSave(spark: SparkSession, dir: String, path: String,
      runId: Long): Map[String, DomainModel] = {
    import spark.implicits._
    val pages = syntheticPages(Tables.events(spark, dir))
      .filter(col("domain").isin(TrainedDomains: _*) && col("event_id") % 10 < 7)
    val rows = trainingRows(pages)
      .groupByKey(_.domain)
      .mapGroups { (dom, it) =>
        MapRow(dom, runId, FormatVersion,
          LocalGBT.fitDomain(it.toArray.sortBy(r => (r.page_id, r.location_norm))))
      }
      .collect()
    write(spark, path, rows.toSeq)
    rows.map(r => r.domain -> r.model).toMap
  }

  /** Persist `models` under `path`, every domain tagged `runId`. */
  def save(spark: SparkSession, path: String, runId: Long,
      models: Map[String, DomainModel]): Unit =
    write(spark, path, models.toSeq.map { case (dom, dm) => MapRow(dom, runId, FormatVersion, dm) })

  private def write(spark: SparkSession, path: String, rows: Seq[MapRow]): Unit = {
    import spark.implicits._
    rows.toDS().coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The stored rows; throws if absent or written by another format. */
  private def read(spark: SparkSession, path: String): Array[MapRow] = {
    import spark.implicits._
    val rows = spark.read.parquet(path).as[MapRow].collect()
    val vs = rows.map(_.version).distinct
    require(vs.sameElements(Array(FormatVersion)),
      s"model map at $path has version ${vs.mkString(",")}, expected $FormatVersion")
    rows
  }

  /** Load the map; throws if absent or written by an older format. */
  def load(spark: SparkSession, path: String): Map[String, DomainModel] =
    read(spark, path).map(r => r.domain -> r.model).toMap

  /** Per-domain run ids of a saved map (merge bookkeeping). */
  def runIds(spark: SparkSession, path: String): Map[String, Long] =
    read(spark, path).map(r => r.domain -> r.run_id).toMap

  /** Merge a new training run into a base map, newest run_id winning
    * per domain (ties go to the new run: it comes first, and `maxBy`
    * keeps the first maximum) — MergedMapModels.scala's refresh. The
    * merged map is self-contained wherever `out` points. */
  def merge(spark: SparkSession, basePath: String, newPath: String, out: String): Unit =
    write(spark, out, (read(spark, newPath) ++ read(spark, basePath))
      .groupBy(_.domain).values.map(_.maxBy(_.run_id)).toSeq)

  // ---------------------------------------------------------------------------
  // Ensure + in-process cache (bench runs the pipe repeatedly; the map
  // is trained or loaded once and reused within the JVM).
  // ---------------------------------------------------------------------------

  private val cache = scala.collection.concurrent.TrieMap.empty[String, Map[String, DomainModel]]

  /** Return the trained map for `dir`. On first use it is trained, saved
    * and returned as trained (the one-time BuildAndSaveModels step a real
    * deployment runs ahead of the streaming scorer); [[load]] runs only
    * when a complete map of this format is already on disk. */
  def ensure(spark: SparkSession, dir: String): Map[String, DomainModel] = {
    val path = defaultPath(spark, dir)
    cache.getOrElseUpdate(path, this.synchronized {
      val root = new org.apache.hadoop.fs.Path(path)
      // probe through the FileSystem: reading a missing path with
      // spark.read logs a stack trace before it throws
      val stored =
        if (!root.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(root)) None
        else try Some(load(spark, path)) catch { case NonFatal(_) => None }
      stored.getOrElse {
        val models = trainAndSave(spark, dir, path, runId = 1L)
        pruneStaleSiblings(spark, dir, keep = path)
        models
      }
    })
  }

  /** Invalidate the in-process caches (specs re-train small corpora,
    * possibly after rewriting the corpus at the same dir). */
  def clearCache(): Unit = { cache.clear(); fpCache.clear() }

  /** GBT boosting margin f0 + Σ step·treeₘ(x) — the reference's
    * confidenceGBT (Transformer.scala), computed locally per candidate
    * from the broadcast model. Class-1 iff positive. */
  def confidence(gbt: LocalGBTModel, features: Vector): Double =
    gbt.margin(features.toArray)
}
