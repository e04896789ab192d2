package graft.ml

import graft.functions.Text
import graft.sources.Tables
import org.apache.spark.ml.classification.{GBTClassifier, LinearSVC, RandomForestClassifier}
import org.apache.spark.ml.feature.{PCA, VectorAssembler}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** ML pipeline queries (SURVEY §2 rows 19-21), re-expressing the
  * reference's MLlib RDD pipelines as Spark ML + DataFrame plans.
  *
  * q_tfidf_topk mirrors the reference's mean-TFIDF feature selection
  * (um/re/transform/Transformer.scala:30-43 getTopTFIDFIndices /
  * projectByIndices) at the term level — exact tf/df aggregation
  * instead of HashingTF buckets, so the DuckDB oracle can recompute it
  * value-for-value. Two shuffles (doc×term, then term), both with
  * map-side partial aggregation; the final top-k ranks ~|vocab| rows.
  *
  * q_gbt_train_eval follows um/re/domain/models/
  * GBTDomainSuperParSelectCandid.scala: per-domain GBT over TEXT
  * features — each extracted price candidate is featurized with the
  * [[TopKByAvgTFIDF]] featurizer (HashingTF(1000) → IDF(minDocFreq=5) →
  * mean-TFIDF top-100 projection, location appended), fitted on that
  * domain's training split exactly as the reference does. Its terms
  * come from [[TopKByAvgTFIDF.terms]], the function the model map's
  * trainer and the streaming scorer call too. URL-grouped
  * 70/30 split, per-URL argmax-confidence candidate selection, and the
  * evaluateModel confusion metrics. Every domain (the reference trains
  * one model per web domain) is fitted and scored by [[LocalGBT]]
  * inside one Spark job, one task per domain; at 100 TB the per-domain
  * training sample is capped by a deterministic key-mod filter.
  *
  * q_model_zoo covers the remaining model families (RandomForest,
  * LinearSVC, PCA) as um/re/models/{RandomForestFeature,SVM,PCA2GBT}.
  */
object MLQueries {

  private val TopK = 20

  /** q_tfidf_topk: top-k terms by corpus-mean TF-IDF.
    *
    * Scale shape: N rides the same job as a broadcast one-row count
    * aggregate (parquet count-star pushdown) instead of a separate
    * `docs.count()` driver action, and the top-k is `orderBy().limit(K)`
    * — Spark plans TakeOrderedAndProject (per-partition heap + driver
    * merge of K rows), never a single-partition global window.
    * idf/mean_tfidf are emitted floor-scaled to integer micros so the
    * oracle compare is free of `round()`-on-double divergence. */
  def tfidfTopK(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDf = docs.groupBy().agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("sum_tf"))
      .crossJoin(broadcast(nDf))
      .withColumn("idf", log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0)
      .withColumn("mean_tfidf", col("idf") * col("sum_tf") / col("n_docs").cast("double"))
      .orderBy(col("mean_tfidf").desc, col("term").asc)
      .limit(TopK)
      .select(col("term"), col("df"), col("sum_tf"),
        floor(col("idf") * 1e6 + 0.5).cast("long").as("idf_e6"),
        floor(col("mean_tfidf") * 1e6 + 0.5).cast("long").as("mean_tfidf_e6"))
  }

  /** Labeled candidates, the reference's gramsTFIDFParser input
    * (Transformer.scala:74-87): page, domain, snippets, location
    * normalized by page length and label = isTrueCandid (candidate
    * parses to the page's true price). Deterministic ~5% URL sample cap
    * keeps the training job bounded at any corpus scale. */
  private def sampledCandidates(spark: SparkSession, dir: String): DataFrame = {
    val domain = concat(lit("shop"), (col("o_custkey") % 3).cast("string"), lit(".example.com"))
    graft.operators.Extraction.labeledCandidates(spark, dir)
      .filter(pmod(xxhash64(col("o_orderkey")), lit(20)) === 0)
      .select(col("o_orderkey"), domain.as("domain"), col("text_before"), col("text_after"),
        (col("location").cast("double") / col("page_len")).as("location_norm"),
        coalesce((Text.parsePriceLocale(col("candidate")) === col("a_val"))
          .cast("double"), lit(0.0)).as("label"))
  }

  /** Labeled candidates as the [[TfRow]]s every trainer reads: their
    * [[TopKByAvgTFIDF.terms]], hashed. */
  private def featurize(cands: DataFrame): Dataset[TfRow] = {
    import cands.sparkSession.implicits._
    cands.as[(Long, String, String, String, Double, Double)].map {
      case (page, dom, before, after, loc, label) =>
        TfRow(page, dom, TopKByAvgTFIDF.termFrequencies(TopKByAvgTFIDF.terms(before, after, dom)),
          loc, label)
    }
  }

  private[graft] def candidateFeatures(spark: SparkSession, dir: String): Dataset[TfRow] =
    featurize(sampledCandidates(spark, dir))

  private def featurized(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      // deterministic ~5% sample cap that preserves all orderkey residues
      // (a plain key-mod cap would bias the later %10 train/test split)
      .filter(pmod(xxhash64(col("l_orderkey")), lit(20)) === 0)
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_linestatus").as("domain"),
        col("l_quantity"), col("l_discount"), col("l_tax"),
        (col("l_extendedprice") / 1000.0).as("price_k"),
        (col("l_returnflag") === "R").cast("double").as("label"))
    new VectorAssembler()
      .setInputCols(Array("l_quantity", "l_discount", "l_tax", "price_k"))
      .setOutputCol("features")
      .transform(li)
  }

  /** q_gbt_train_eval: per-domain GBT + per-URL argmax selection.
    * The reference trains numIterations=30 / maxDepth=5
    * (GBTDomainSuperParSelectCandid.scala:63-64); graft's model is
    * lighter ([[ModelShape]]).
    *
    * Scale shape (replacing the reference's driver fit-loop): every
    * domain trains EXECUTOR-LOCAL inside one
    * `groupByKey(domain).mapGroups` job ([[LocalGBT.trainEvalDomain]])
    * — at the reference's thousands of web domains that is
    * min(#domains, #cores) concurrent in-task fits with zero per-fit
    * job-scheduling overhead. The candidate sample is capped upstream,
    * so a domain's rows fit one task; only the one summary row per
    * domain is collected. */
  def gbtTrainEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    candidateFeatures(spark, dir)
      .groupByKey(_.domain)
      .mapGroups((dom, it) => LocalGBT.trainEvalDomain(dom, it.toArray))
      .collect() // one row per domain
      .toSeq.toDF()
      .withColumn("accuracy",
        // floor-scale, not round(): keeps the column oracle-able the day
        // this query gains a SQL oracle (round() on computed doubles
        // diverges between engines on half-way cases)
        floor((col("tp") + col("tn")) / (col("tp") + col("tn") + col("fp") + col("fn")) * 1e6 + 0.5) / 1e6)
      .orderBy("domain")
  }

  /** q_gbt_validation: the sub-model sweep of models/ValidateModels
    * .scala:43-45 — the reference rebuilds a GBT prefix sub-model per
    * ensemble size (Transformer.buildTreeSubModels) and scores each to
    * pick the best early-stopping point; Spark ML exposes exactly that
    * curve as `GBTClassificationModel.evaluateEachIteration` (one
    * distributed pass computing the staged losses). Output: one row per
    * ensemble size with its test loss, best size flagged. Rows-only
    * (training path); the curve is deterministic given the seed. */
  def gbtValidation(spark: SparkSession, dir: String): DataFrame = {
    // halve the candidates' 5% URL sample again (h%40==0 ⊂ h%20==0):
    // a validation curve needs far fewer points than the training job
    val data = featurize(sampledCandidates(spark, dir)
      .filter(col("domain") === "shop0.example.com" &&
        pmod(xxhash64(col("o_orderkey")), lit(40)) === 0))
      .cache()
    try {
      val train = data.filter(col("page_id") % 10 < 7)
      val test = data.filter(col("page_id") % 10 >= 7)
      val fpm = TopKByAvgTFIDF.fit(train)
      val model = new GBTClassifier()
        .setMaxIter(6).setMaxDepth(2).setSeed(42L)
        .setLabelCol("label").setFeaturesCol("features")
        .fit(fpm.transform(train))
      val losses = model.evaluateEachIteration(fpm.transform(test))
      val bestIter = losses.indices.minBy(i => (losses(i), i))
      import spark.implicits._
      losses.toSeq.zipWithIndex
        .map { case (loss, i) =>
          (i + 1L, math.floor(loss * 1e6 + 0.5) / 1e6, i == bestIter)
        }
        .toDF("n_trees", "test_loss", "is_best")
        .orderBy("n_trees")
    } finally data.unpersist()
  }

  /** A fitted model without its training summary: a copy keeps the
    * params and weights but not the summary, whose frames hold the
    * SparkSession. `transform` ships the model to tasks inside a UDF, so
    * the original would ship the session, and any state the session
    * cannot serialize (an `Observation`'s manager) fails the query. */
  private def sessionFree[M <: org.apache.spark.ml.Model[M]](m: M): M =
    m.copy(org.apache.spark.ml.param.ParamMap.empty)

  /** q_model_zoo: RF / LinearSVC / PCA summary rows. */
  def modelZoo(spark: SparkSession, dir: String): DataFrame = {
    val data = featurized(spark, dir).cache()
    try {
      val train = data.filter(col("l_orderkey") % 10 < 7)
      val test = data.filter(col("l_orderkey") % 10 >= 7)
      def acc(scored: DataFrame): Double = {
        val a = scored.agg(
          coalesce(sum(when(col("label") === col("prediction"), 1L).otherwise(0L)), lit(0L)).as("ok"),
          count(lit(1)).as("n")).collect()(0)
        if (a.getLong(1) == 0L) 0.0 else a.getLong(0).toDouble / a.getLong(1)
      }
      data.count() // materialize the shared cache before the racing fits
      // the four model families are independent — train them
      // concurrently; each fit is a distributed job, so this trades idle
      // executors for overlap
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      val fRf = Future {
        val rf = new RandomForestClassifier()
          .setNumTrees(10).setMaxDepth(4).setSeed(42L)
          .setLabelCol("label").setFeaturesCol("features")
        acc(sessionFree(rf.fit(train)).transform(test))
      }
      val fSvc = Future {
        val svc = new LinearSVC().setMaxIter(5).setRegParam(0.01)
          .setLabelCol("label").setFeaturesCol("features")
        acc(sessionFree(svc.fit(train)).transform(test))
      }
      val fPca = Future {
        val pca = new PCA().setK(2).setInputCol("features").setOutputCol("pca")
        val pcaModel = sessionFree(pca.fit(train))
        // PCA→GBT chain (um/re/models/PCA2GBT.scala): boost on the
        // projected component space, not the raw features
        val pcaGbt = new GBTClassifier()
          .setMaxIter(5).setMaxDepth(3).setSeed(42L)
          .setLabelCol("label").setFeaturesCol("pca")
        val chained = acc(
          sessionFree(pcaGbt.fit(pcaModel.transform(train))).transform(pcaModel.transform(test)))
        (pcaModel.explainedVariance.toArray.take(2).sum, chained)
      }
      val fLda = Future {
        // LDA over the document corpus (um/re/models/LDA.scala analog)
        val docs = Tables.documents(spark, dir)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
        val cv = sessionFree(new org.apache.spark.ml.feature.CountVectorizer()
          .setInputCol("toks").setOutputCol("features").setVocabSize(64)
          .fit(docs))
        val corpus = cv.transform(docs).cache()
        try {
          val lda = new org.apache.spark.ml.clustering.LDA()
            .setK(3).setMaxIter(3).setSeed(42L)
            .fit(corpus)
          // perplexity on a capped deterministic sample — the metric
          // pass must not rescan the full corpus
          lda.logPerplexity(corpus.limit(500))
        } finally corpus.unpersist()
      }
      // shutdown in finally: a throwing fit would otherwise leave the
      // non-daemon pool threads alive and block JVM exit
      val rows =
        try {
          val (pcaVar, pcaGbtAcc) = Await.result(fPca, Duration.Inf)
          Seq(
            ("random_forest", Await.result(fRf, Duration.Inf)),
            ("linear_svc", Await.result(fSvc, Duration.Inf)),
            ("pca_var_top2", pcaVar),
            ("pca_gbt_accuracy", pcaGbtAcc),
            ("lda_log_perplexity", Await.result(fLda, Duration.Inf)))
        } finally pool.shutdown()
      import spark.implicits._
      rows.toDF("model", "metric")
        .withColumn("metric", floor(col("metric") * 1e6 + 0.5) / 1e6)
        .withColumn("n_train", lit(train.count()))
        .withColumn("n_test", lit(test.count()))
        .orderBy("model")
    } finally data.unpersist()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tfidf_topk" -> (tfidfTopK(_, _)),
    "q_gbt_train_eval" -> (gbtTrainEval(_, _)),
    "q_gbt_validation" -> (gbtValidation(_, _)),
    "q_model_zoo" -> (modelZoo(_, _)))

  val oracleSql: Map[String, String] = Map(
    "q_tfidf_topk" ->
      s"""WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |tf AS (
         |  SELECT doc_id, term, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
         |  GROUP BY doc_id, term),
         |byterm AS (
         |  SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS sum_tf FROM tf GROUP BY term),
         |scored AS (
         |  SELECT term, df, sum_tf,
         |    ln((n_docs + 1.0) / (df + 1.0)) + 1.0 AS idf,
         |    (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) * sum_tf / CAST(n_docs AS DOUBLE) AS mean_tfidf
         |  FROM byterm, n)
         |SELECT term, df, sum_tf,
         |  CAST(floor(idf * 1e6 + 0.5) AS BIGINT) AS idf_e6,
         |  CAST(floor(mean_tfidf * 1e6 + 0.5) AS BIGINT) AS mean_tfidf_e6
         |FROM scored
         |ORDER BY mean_tfidf DESC, term ASC
         |LIMIT $TopK""".stripMargin)
}
