package graft

/** Value-level regression teeth for the three training queries that
  * are rows-only at the DuckDB gate (r13 verdict item 5): their
  * trained-model evaluation rows are not SQL-expressible, but LocalGBT
  * is deterministic by construction (OperatorSpec proves
  * fit-twice-equality), so the EXACT sf0.01 output rows are pinned
  * here — a changed metric, count, or selection now fails the suite
  * instead of sliding through a rows>0 check. Doubles are e6-rounded
  * upstream and compared exactly: the same floor(x·1e6)/1e6 double is
  * bit-identical run to run.
  */
class MLValueSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.01"

  private def rows(q: String): Seq[Seq[Any]] =
    SparkEntry.queries(q)(spark, dir).collect().map(_.toSeq).toIndexedSeq

  test("q_gbt_train_eval sf0.01 rows are pinned") {
    assert(rows("q_gbt_train_eval") == Seq(
      Seq("shop0.example.com", 1239L, 525L, 75L, 450L, 0L, 0L, 75L, 75L, 101L, 1.0),
      Seq("shop1.example.com", 1085L, 539L, 77L, 462L, 0L, 0L, 77L, 77L, 101L, 1.0),
      Seq("shop2.example.com", 1092L, 441L, 63L, 378L, 0L, 0L, 63L, 63L, 101L, 1.0)))
  }

  test("q_gbt_validation sf0.01 rows are pinned") {
    assert(rows("q_gbt_validation") == Seq(
      Seq(1L, 0.253856, false),
      Seq(2L, 0.232053, false),
      Seq(3L, 0.213584, false),
      Seq(4L, 0.197754, false),
      Seq(5L, 0.184047, false),
      Seq(6L, 0.172069, true)))
  }

  test("q_model_zoo sf0.01 rows are pinned") {
    assert(rows("q_model_zoo") == Seq(
      Seq("lda_log_perplexity", 3.485075, 1955L, 869L),
      Seq("linear_svc", 0.649022, 1955L, 869L),
      Seq("pca_gbt_accuracy", 0.64672, 1955L, 869L),
      Seq("pca_var_top2", 0.999999, 1955L, 869L),
      Seq("random_forest", 0.649022, 1955L, 869L)))
  }

  test("a fitted model's copy carries no training summary") {
    // q_model_zoo transforms with copies: a summary's frames hold the session
    import org.apache.spark.ml.classification.{LinearSVC, RandomForestClassifier}
    import org.apache.spark.ml.linalg.Vectors
    import org.apache.spark.ml.param.ParamMap
    import spark.implicits._
    val df = (0 until 20).map(i => (i % 2.0, Vectors.dense(i.toDouble, (i % 2).toDouble)))
      .toDF("label", "features")
    val rf = new RandomForestClassifier().setNumTrees(2).setSeed(1L).fit(df)
    val svc = new LinearSVC().setMaxIter(2).fit(df)
    assert(rf.hasSummary && !rf.copy(ParamMap.empty).hasSummary)
    assert(svc.hasSummary && !svc.copy(ParamMap.empty).hasSummary)
  }

  test("q_model_zoo runs on a session with a live Observation") {
    // an Observation starts its session's ObservationManager, which
    // cannot be serialized; no task of q_model_zoo may carry the session
    import org.apache.spark.sql.functions.{count, lit}
    val session = spark.newSession()
    val obs = new org.apache.spark.sql.Observation("probe")
    session.range(3).observe(obs, count(lit(1)).as("n")).collect()
    assert(obs.get("n") == 3L)
    assert(SparkEntry.queries("q_model_zoo")(session, sf).collect().length == 5)
  }
}
