package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Plan-regression guards (SURVEY §5): the physical plans that make the
  * operators scale must not silently degrade. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  // batch queries only — streaming builders execute their pipeline
  private val batch = SparkEntry.queries.keys
    .filterNot(_.startsWith("q_stream"))
    .filterNot(Set("q_gbt_train_eval", "q_model_zoo")) // training mains
    .toSeq.sorted

  test("no query plans a CartesianProduct") {
    batch.foreach { n =>
      assert(!plan(n).contains("CartesianProduct"), s"$n plans a cartesian product")
    }
  }

  test("dim joins broadcast (no shuffle of the fact side)") {
    assert(plan("q_join_enrich").contains("BroadcastHashJoin"))
    assert(plan("q_dom_analysis").contains("BroadcastHashJoin"))
    assert(plan("q_eval_metrics").contains("BroadcastHashJoin"))
  }

  test("curation funnel broadcasts its small sides") {
    // eval-shingle semi-join + per-lang survivor counts must broadcast;
    // only the exact-hash canonical join may shuffle the corpus
    val p = plan("q_curation_funnel")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "funnel lost a broadcast (eval shingles / lang counts)")
  }

  test("aggregations are two-phase (map-side partial)") {
    val p = plan("q1_agg")
    assert("HashAggregate".r.findAllIn(p).length >= 2, "expected partial+final agg")
  }

  test("round-10 operators keep their broadcast shapes") {
    // embed outliers: centroid map and per-label means both broadcast
    assert("BroadcastHashJoin".r.findAllIn(plan("q_embed_outliers")).length >= 2,
      "embed outliers lost a broadcast (centroids / means)")
    // itemsets: both singles lookups broadcast; only baskets shuffle
    assert("BroadcastHashJoin".r.findAllIn(plan("q_itemsets")).length >= 2,
      "itemsets lost a broadcast (singles)")
    // count-min: the sketch registers broadcast to the key catalog
    assert(plan("q_count_min").contains("BroadcastHashJoin"),
      "count-min shuffles its registers")
    // ivfpq: probes (queries × nprobe + LUTs) broadcast to the corpus
    assert(plan("q_ann_ivfpq").contains("BroadcastHashJoin"),
      "ivfpq shuffles the corpus for the probe join")
  }

  test("forecasting and divergence operators keep their broadcast shapes") {
    // kl_sources: the dense axis joins census/mix/totals WITHOUT ever
    // shuffling — everything after the one census agg is broadcast
    val kl = plan("q_kl_sources")
    assert("BroadcastHashJoin".r.findAllIn(kl).length >= 1
      && !kl.contains("SortMergeJoin"),
      "kl_sources shuffles its bounded axis")
    // holt/forecast_eval: the customer dim and the month-window bound
    // broadcast; the ONLY corpus shuffle is the (nation, month) agg
    for (q <- Seq("q_holt_forecast", "q_forecast_eval")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its dim broadcast")
      assert(!p.contains("SortMergeJoin"), s"$q shuffles a join side")
    }
    // silhouette: map-only against the literal codebook — no join at all
    val sil = plan("q_silhouette")
    assert(!sil.contains("Join"), "silhouette joins instead of mapping")
    // good_turing: census + spectrum are two two-phase aggs, no joins
    val gt = plan("q_good_turing")
    assert("HashAggregate".r.findAllIn(gt).length >= 4
      && !gt.contains("Join"),
      "good_turing lost its two-phase census shape")
  }

  test("top orders broadcasts the dim and avoids a global sort") {
    val p = plan("q_top_orders")
    assert(p.contains("BroadcastHashJoin"), "customer dim must broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must not materialize a global sort")
  }

  test("audit queries use semi/anti joins, not join+distinct") {
    val audit = plan("q_referential_audit")
    assert(audit.contains("LeftAnti"), "referential audit lost its anti-joins")
    val ret = plan("q_priority_returns")
    assert(ret.contains("LeftSemi"), "priority returns lost its semi-join")
  }

  test("parquet scans push filters and prune columns") {
    val p = plan("q_top_candidate")
    assert(p.contains("PushedFilters"))
    // 4 projected columns → the scan must not read the full 16-col schema
    assert(!p.contains("l_shipdate"), "scan reads an unprojected column")
  }

  test("top-k and id assignment avoid single-partition global windows") {
    // r3 verdict scale-killers: an empty-key Window moves ALL data to
    // one partition. The top-k must be TakeOrderedAndProject (per-
    // partition heap + driver merge); the id path must plan no window.
    val t = plan("q_tfidf_topk")
    assert(t.contains("TakeOrderedAndProject"), "tfidf top-k is not TakeOrderedAndProject")
    assert(!t.contains("Window"), "q_tfidf_topk plans a window")
    val g = plan("q_get_domain")
    assert(!g.contains("Window"), "q_get_domain plans a window")
  }

  test("plans stay sane at cluster-scale shuffle partitioning (2000)") {
    // The 100 TB story leans on AQE + shuffle ∝ cores; nothing may be
    // silently tuned to the local 32. Rebuild every batch plan at 2000
    // shuffle partitions and require the same structural fingerprint as
    // at 32 — any NEW empty-key window, single-partition exchange,
    // cartesian product, or lost broadcast join at cluster width fails.
    def fingerprint(p: String): Map[String, Int] = Map(
      "cartesian" -> "CartesianProduct".r.findAllIn(p).length,
      "singlePartitionExchange" -> "Exchange SinglePartition".r.findAllIn(p).length,
      "window" -> "\\bWindow\\b".r.findAllIn(p).length,
      "broadcastJoin" -> "BroadcastHashJoin".r.findAllIn(p).length)
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    val at32 = batch.map(n => n -> fingerprint(plan(n))).toMap
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2000")
      batch.foreach { n =>
        val fp = fingerprint(plan(n))
        assert(fp("cartesian") == 0, s"$n plans a cartesian at 2000 partitions")
        assert(fp == at32(n),
          s"$n plan degrades at 2000 shuffle partitions: $fp vs ${at32(n)}")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("no forest-fed query broadcasts a full embeddings vector scan") {
    // The r11 worklist's spec half: the forest-fed family's whole
    // point is that VECTOR PAYLOADS never ride a whole-table
    // broadcast — candidates are 16-byte id pairs until the per-pair
    // key fetch. An offender is a BroadcastExchange whose OUTPUT
    // carries an array column fed by an embeddings file scan with no
    // aggregate/limit in between (bounded codebooks and per-cluster
    // centroid tables aggregate first and stay legal; planner-chosen
    // broadcasts of id-only frames stay legal).
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val forestFed = Seq("q_lof_approx", "q_intrinsic_dim_approx",
      "q_cluster_sample_approx", "q_cluster_profile_approx",
      "q_knn_graph_approx", "q_knn_components_approx")
    def rawEmbeddingsBelow(p: SparkPlan): Boolean = {
      val s = p.toString
      p.collectFirst {
        case sc: FileSourceScanExec
            if sc.toString.contains("embeddings") => sc
      }.isDefined && !s.contains("HashAggregate") &&
        !s.contains("CollectLimit") && !s.contains("GlobalLimit")
    }
    forestFed.foreach { n =>
      val plan = SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan
      val offenders = plan.collect {
        case b: BroadcastExchangeExec
            if b.output.exists(_.dataType.isInstanceOf[ArrayType]) &&
              rawEmbeddingsBelow(b.child) => b
      }
      assert(offenders.isEmpty,
        s"$n broadcasts a raw embeddings vector frame:\n${offenders.mkString("\n")}")
    }
  }

  test("sem-decontam scores map-side: no join shuffles the corpus") {
    // The operator's whole contract: the eval suite collapses to one
    // broadcast row and the argmax is a projection lambda, so the
    // corpus side must never reach a shuffle-based join — the only
    // legal join is the single BroadcastNestedLoopJoin against the
    // 1-row eval aggregate. (The widening repartition and the
    // presentation orderBy are the only exchanges allowed.)
    val p = plan("q_sem_decontam")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus rides a shuffle join")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1,
      "expected exactly the one broadcast eval cross join")
  }

  test("multi-consumer shuffle subtrees are materialized once (AQE stage reuse)") {
    // q_get_domain (freq feeds both the broadcast count and the result)
    // and q_dedup_simhash (per-doc simhash feeds both chunk-join sides +
    // the final left join) dropped their persist() calls in favor of
    // exchange reuse — if AQE stops deduping these stages, the heavy
    // explode/aggregate subtrees silently recompute per branch.
    Seq("q_get_domain", "q_dedup_simhash").foreach { n =>
      val df = SparkEntry.queries(n)(spark, sf)
      df.collect() // finalize THIS queryExecution's adaptive plan
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
        s"$n executed plan shows no stage reuse:\n$p")
    }
    // sharper than "some reuse node exists": tie the reuse to the HEAVY
    // subtree via the ReusedExchange output columns. The simhash
    // 60-vote aggregate shuffle ([doc_id, sum#...]) has three consumers
    // (both chunk-join sides + the final left join), so its exchange
    // must be reused at least twice; a partial regression that
    // recomputes one branch would drop below that while generic
    // "contains ReusedExchange" stays green.
    def finalPlan(n: String): String = {
      val df = SparkEntry.queries(n)(spark, sf)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    val sim = finalPlan("q_dedup_simhash")
    assert("ReusedExchange \\[doc_id#\\d+L, sum#".r.findAllIn(sim).length >= 2,
      s"q_dedup_simhash: the vote-aggregate shuffle is not reused by both consumers:\n$sim")
  }

  test("graph loops shuffle their edge list once") {
    // Each loop groups its edge list into an adjacency hash-partitioned
    // by node once and stores it as blocks named "adjacency". A round
    // must read it narrowly, in the same stage as the stored state it
    // zips with; a stage that holds the adjacency but no state is one
    // that shuffles the adjacency again. Every job of one call is
    // captured; a round's job is the one whose last stage stores the
    // blocks named "state", and its stages carry that state's lineage (a
    // stage holds an RDD and its narrow ancestors). Round 1 zips with a
    // start derived from the adjacency itself, so the check starts at
    // round 2.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, StageInfo}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[StageInfo]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.stageInfos)
    }
    def rounds(call: => Any): Seq[Seq[StageInfo]] = {
      jobs.clear()
      spark.sparkContext.addSparkListener(listener)
      try {
        call
        // the bus delivers in order: once this job is seen, so are the call's
        spark.sparkContext.parallelize(Seq(1), 1).setName("barrier").count()
        val deadline = System.nanoTime + 60L * 1000000000L
        while (!jobs.asScala.exists(_.exists(_.rddInfos.exists(_.name == "barrier"))) &&
          System.nanoTime < deadline) Thread.sleep(20)
      } finally spark.sparkContext.removeSparkListener(listener)
      jobs.asScala.toSeq.filter(_.maxBy(_.stageId).rddInfos.headOption.exists(_.name == "state"))
    }
    val ids = new scala.util.Random(7).shuffle((0L until 10000L).toVector).take(300)
    val pairs = ((1 until 200).map(i => (ids(i - 1), ids(i))) ++
      (201 until 300).map(i => (ids(200), ids(i)))).toDF("id_a", "id_b")
    val calls: Seq[(String, () => Any)] = Seq(
      "pagerank" -> (() => graft.operators.Graph.pagerank(spark, sf).collect()),
      "kcore" -> (() => graft.operators.Graph.kcore(spark, sf).collect()),
      "labelProp" -> (() => graft.operators.Graph.labelProp(spark, sf).collect()),
      "componentLabels" -> (() => graft.operators.Dedup.componentLabels(pairs).collect()))
    calls.foreach { case (name, call) =>
      val rs = rounds(call())
      assert(rs.length >= 2, s"$name: only ${rs.length} round jobs seen")
      val adj = rs.map(_.flatMap(_.rddInfos).filter(_.name == "adjacency").map(_.id).distinct)
      assert(adj.forall(_.size == 1) && adj.flatten.distinct.size == 1,
        s"$name: rounds do not all read one adjacency: $adj")
      val adjId = adj.head.head
      for ((stages, r) <- rs.zipWithIndex.drop(1); st <- stages if st.rddInfos.exists(_.id == adjId))
        assert(st.rddInfos.exists(_.name == "state"),
          s"$name round ${r + 1}: stage ${st.stageId} reads the adjacency without a state: " +
            st.rddInfos.map(i => s"${i.id}:${i.name}<-${i.parentIds.mkString(",")}").mkString(" "))
    }
  }
}
