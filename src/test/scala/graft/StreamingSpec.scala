package graft

import graft.streaming.{PriceState, UserUpdate}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** MemoryStream specs for the streaming pipelines (SURVEY §2 rows
  * 33-35) — drive each pattern with an in-memory source and assert on
  * the sink, as the reference's streaming tests do against DStreams. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def runStream(df: org.apache.spark.sql.DataFrame, mode: OutputMode,
      name: String): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory")
      .queryName(name).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name)
  }

  test("extraction pipe over a memory stream of pages") {
    val in = MemoryStream[(Long, String)]
    in.addData((1L, "buy at $12.34 now!"), (2L, "no numbers here"),
      (3L, "price 1,299.99 today"))
    val out = in.toDF().toDF("id", "html")
      .select(col("id"), explode(graft.functions.PriceCandidates
        .priceCandidates(col("html"))).as("c"))
      .select(col("id"), col("c.candidate").as("candidate"))
    val got = runStream(out, OutputMode.Append(), "spec_pipe")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "12.34"), (3L, "1,299.99")))
  }

  test("windowed aggregation with watermark over a memory stream") {
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    in.addData(
      (java.sql.Timestamp.valueOf("2026-01-01 00:01:00"), "view", 1.0),
      (java.sql.Timestamp.valueOf("2026-01-01 00:02:00"), "view", 2.0),
      (java.sql.Timestamp.valueOf("2026-01-01 00:07:00"), "click", 5.0))
    val agg = in.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("s"))
    val got = runStream(agg, OutputMode.Complete(), "spec_window")
      .select("event_type", "n", "s")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(("view", 2L, 3.0), ("click", 1L, 5.0)))
  }

  test("stream pipe: persisted model map round-trips and its GBTs select the true price") {
    import graft.ml.ModelMap
    // ensure → train+save on first use and return the trained map (load
    // from disk only for a map persisted earlier); the pipe broadcasts it
    val models = ModelMap.ensure(spark, sf)
    assert(models.keySet == ModelMap.TrainedDomains.toSet)
    models.values.foreach { dm =>
      assert(dm.gbt.trees.nonEmpty && dm.featurizer.selectedIndices.nonEmpty)
    }
    // the full pipe: stream → extract → broadcast-map score → decide.
    // On every trained-domain page the model's margin must rank the
    // true-price candidate first — the invariant the SQL oracle builds on.
    val out = graft.streaming.StreamingQueries.streamPipe(spark, sf)
      .select("event_id", "model_price", "status").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2)))).toMap
    val expected = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"),
        (floor((col("value") + 100.0) * 100 + 0.5) / 100).as("a2"))
      .collect()
    assert(expected.length == out.size)
    expected.foreach { r =>
      val (gotModel, gotStatus) = out(r.getLong(0))
      r.getString(1) match {
        case "error" | "signup" => assert(gotModel == -2.0)
        case _ => assert(math.abs(gotModel - r.getDouble(2)) < 0.011,
          s"event ${r.getLong(0)} (${r.getString(1)}): model chose $gotModel, true ${r.getDouble(2)}")
      }
      val wantStatus = r.getString(1) match {
        case "view" => "modeledPatternEquals"
        case "click" => "minorModelPatternConflict"
        case "purchase" => "majorModelPatternConflict"
        case "signup" => "missingModel"
        case "error" => "bothFailed"
      }
      assert(gotStatus == wantStatus, s"event ${r.getLong(0)} (${r.getString(1)}): $gotStatus")
    }
  }

  test("featurizer transformLocal matches the DataFrame transform") {
    import graft.ml.{ModelMap, TopKByAvgTFIDF}
    val fpm = ModelMap.ensure(spark, sf)("view.example.com").featurizer
    val cand = ModelMap.syntheticPages(graft.sources.Tables.events(spark, sf))
      .filter(col("domain") === "view.example.com").limit(25)
      .select(col("domain"), length(col("html")).as("page_len"),
        explode(graft.functions.PriceCandidates.priceCandidates(col("html"))).as("c"))
      .select(col("c.text_before"), col("c.text_after"), col("domain"),
        (col("c.location").cast("double") / col("page_len")).as("location_norm"))
      .as[(String, String, String, Double)].collect()
      .map { case (before, after, dom, loc) => (TopKByAvgTFIDF.terms(before, after, dom), loc) }
    val tfs = cand.map { case (terms, loc) => (TopKByAvgTFIDF.termFrequencies(terms), loc) }
      .toSeq.toDF("tf", "location_norm")
    val rows = cand.zip(fpm.transform(tfs).select("features").collect())
    assert(rows.nonEmpty)
    rows.foreach { case ((terms, loc), r) =>
      val local = fpm.transformLocal(terms, loc).toArray
      val viaDf = r.getAs[org.apache.spark.ml.linalg.Vector](0).toArray
      assert(java.util.Arrays.equals(local, viaDf), "local/DataFrame featurization diverged")
    }
  }

  test("model map merge: newest run wins per domain") {
    import graft.ml.ModelMap
    val models = ModelMap.ensure(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft_mm").toString
    val (base, fresh, out) = (s"$tmp/base", s"$tmp/fresh", s"$tmp/merged")
    ModelMap.save(spark, base, runId = 1L, models)
    // the "new run" retrains only the click domain; to make the winner
    // observable, ship a distinguishable model (purchase's) under it
    val clickV2 = models("purchase.example.com")
    ModelMap.save(spark, fresh, runId = 2L, Map("click.example.com" -> clickV2))
    ModelMap.merge(spark, base, fresh, out)
    assert(ModelMap.runIds(spark, out) == Map(
      "view.example.com" -> 1L, "purchase.example.com" -> 1L,
      "click.example.com" -> 2L))
    val merged = ModelMap.load(spark, out)
    // a featurizer is its idf weights and selected buckets; compare them
    // bit for bit (Arrays.equals on doubles compares their bits)
    def same(a: graft.ml.TopKByAvgTFIDF, b: graft.ml.TopKByAvgTFIDF) =
      java.util.Arrays.equals(a.idf, b.idf) &&
        java.util.Arrays.equals(a.selectedIndices, b.selectedIndices)
    assert(!same(models("click.example.com").featurizer, clickV2.featurizer),
      "the stand-in model must be distinguishable from the one it replaces")
    assert(same(merged("click.example.com").featurizer, clickV2.featurizer),
      "merged map serves the stale model for a re-trained domain")
    assert(same(merged("view.example.com").featurizer, models("view.example.com").featurizer))
  }

  test("model map path: rewritten corpus invalidates, same corpus reuses") {
    import graft.ml.ModelMap
    val tmp = java.nio.file.Files.createTempDirectory("graft_fp").toString
    val mk = () => spark.range(3).selectExpr("id as event_id", "'view' as event_type",
      "cast(id as double) as value").write.mode("overwrite")
      .parquet(s"$tmp/events.parquet")
    mk()
    val p1 = ModelMap.defaultPath(spark, tmp)
    ModelMap.clearCache()
    // unchanged corpus → same path (a restart must find the persisted map)
    assert(ModelMap.defaultPath(spark, tmp) == p1)
    ModelMap.clearCache()
    mk() // rewrite: new part-file names/mtimes at the same dir
    val p2 = ModelMap.defaultPath(spark, tmp)
    assert(p2 != p1, "regenerated corpus must mint a new model-map path")
    ModelMap.clearCache()
  }

  test("corpora whose paths share a String.hashCode stream their own events") {
    // "Aa" and "BB" share a String.hashCode, and so do any two paths
    // that differ only in that suffix: a staging dir tagged by the
    // hashCode would hand the second corpus the first one's events
    val tmp = java.nio.file.Files.createTempDirectory("graft_tag").toString
    val (aa, bb) = (s"$tmp/Aa", s"$tmp/BB")
    assert(aa.hashCode == bb.hashCode)
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def corpus(dir: String, users: Seq[Long]): Unit = { // one file, as testdata ships
      users.map(u => (u * 100, ts, u, "view", u.toDouble, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/parts")
      val part = new java.io.File(s"$dir/parts").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/events.parquet"))
    }
    corpus(aa, Seq(1L, 2L))
    corpus(bb, Seq(7L, 8L, 9L))
    val staged = Seq(aa, bb).flatMap(d =>
      graft.streaming.StreamSources.eventsFileSource(spark, d).path)
    try {
      def users(dir: String): Set[Long] =
        SparkEntry.queries("q_stream_stateful")(spark, dir)
          .select("user_id").collect().map(_.getLong(0)).toSet
      assert(users(aa) == Set(1L, 2L))
      assert(users(bb) == Set(7L, 8L, 9L))
    } finally staged.foreach { d =>
      Option(new java.io.File(d).listFiles()).foreach(_.foreach(_.delete()))
      new java.io.File(d).delete()
    }
  }

  test("a corpus whose events table is a parquet directory streams its rows") {
    // what DataFrame.write.parquet writes: a directory of part files
    val dir = java.nio.file.Files.createTempDirectory("graft_dirtable").toString
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    Seq(3L, 4L, 5L, 6L).map(u => (u * 100, ts, u, "view", u.toDouble, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(2).write.parquet(s"$dir/events.parquet")
    val users = SparkEntry.queries("q_stream_stateful")(spark, dir)
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(users == Set(3L, 4L, 5L, 6L))
  }

  test("LocalText kernels match their Column twins") {
    val samples = Seq("", " ", "a", "price $1,234.56 now", "x  y\tz",
      "<span class=\"price\">$99.10</span>", "9.99 ship", ",5", "-3.5x",
      "no digits", ".75 cents", "12,34,5.6tail",
      // characters outside the BMP (two UTF-16 units each)
      "a😀bcdefg", "😀 $12.34 😀", "12.5😀", "price😀tag 9,99")
    val df = samples.toDF("s").select(
      col("s"),
      graft.functions.Text.tokenize(col("s")).as("tok"),
      graft.functions.Text.parsePriceLocale(col("s")).as("p"))
    df.collect().foreach { r =>
      val s = r.getString(0)
      assert(r.getSeq[String](1) == graft.functions.LocalText.tokenize(s).toSeq, s"tokenize($s)")
      val local = graft.functions.LocalText.parsePriceLocale(s)
      val viaDf = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      assert(local == viaDf, s"parsePriceLocale($s)")
    }
  }

  test("batch and streaming sessionization agree on sealed sessions") {
    // q_sessionize (lag → break → cumsum windows) and q_stream_sessions
    // (session_window state store) implement the SAME 5-min-gap
    // definition by two unrelated mechanisms — sealed sessions (those
    // the stream's 10-min watermark has closed) must match exactly.
    import org.apache.spark.sql.functions._
    val horizonMs = graft.sources.Tables.events(spark, sf)
      .agg(max(unix_millis(col("ts")))).head.getLong(0) - 600000L
    val batch = SparkEntry.queries("q_sessionize")(spark, sf).collect()
      .filter(_.getAs[Long]("end_ms") <= horizonMs)
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_ms"),
        r.getAs[Long]("n_events"), r.getAs[Long]("sum_cents"))).toSet
    val stream = SparkEntry.queries("q_stream_sessions")(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("sess_start").getTime,
        r.getAs[Long]("n_events"),
        math.round(r.getAs[Double]("sum_value") * 100))).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("stream-stream interval join equals the batch bucketized range join") {
    // q_range_join (bucketized equi-join, work ∝ bucket-sharing pairs)
    // and q_stream_join (watermark-bounded symmetric hash join) express
    // the same 6-h-after-error predicate by two unrelated mechanisms —
    // the matched (error, purchase) pairs must be identical.
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getAs[Long]("err_id"), r.getAs[Long]("purch_id"),
        r.getAs[Long]("user_id"), r.getAs[Long]("lag_ms"),
        r.getAs[Long]("value_cents"))
    }.toSet
    val batch = canon(SparkEntry.queries("q_range_join")(spark, sf).collect())
    val stream = canon(SparkEntry.queries("q_stream_join")(spark, sf).collect())
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("stream topk equals the exact batch leaderboard") {
    // the converged Update-mode counter store must reproduce the exact
    // batch counts; the finish is the same (cnt desc, domain) cut
    val expected = graft.sources.Tables.events(spark, sf)
      .select(concat(lit("shop"), (col("user_id") % 37).cast("string"),
        lit(".example.com")).as("domain"))
      .groupBy("domain").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("domain").asc)
      .limit(graft.streaming.StreamingQueries.StreamTopK)
      .collect().zipWithIndex
      .map { case (r, i) => (i + 1L, r.getString(0), r.getLong(1)) }.toSeq
    val got = SparkEntry.queries("q_stream_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected)
  }

  test("stream outliers equal the batch threshold recomputation") {
    // thresholds are batch artifacts; the stream only applies them —
    // so a pure batch recompute over the same table must agree exactly
    val th = graft.operators.Analytics.eventMadThresholds(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val expected = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .collect()
      .flatMap { r =>
        val (med, mad) = th(r.getString(1))
        val dev = math.abs(r.getLong(2) - med)
        if (dev > mad * 3)
          Some((r.getLong(0), r.getString(1), r.getLong(2), med, mad, dev))
        else None
      }.sortBy(_._1).toSeq
    val got = SparkEntry.queries("q_stream_outliers")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got.nonEmpty && got == expected)
  }

  test("streaming transitions equal the batch matrix row for row") {
    // per-user O(1) last-event state + sink-owned counts vs the batch
    // lead() window — same (t_ms, event_id) ordering, must be identical
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))
    }.toSet
    val batch = canon(SparkEntry.queries("q_transitions")(spark, sf).collect())
    val stream = canon(SparkEntry.queries("q_stream_transitions")(spark, sf).collect())
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming attribution equals the batch last-touch report row for row") {
    // per-user O(1) touch state + append-only conversion log vs the
    // batch IGNORE-NULLS window — attrFinish/AttrWinMs shared, so the
    // channel rollups must be identical
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }.toSet
    val batch = canon(SparkEntry.queries("q_attribution")(spark, sf).collect())
    val stream = canon(SparkEntry.queries("q_stream_attribution")(spark, sf).collect())
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming benford equals the batch digit census row for row") {
    // 9-counter Update-mode census + shared benfordFinish vs the
    // batch aggregation — must be identical
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    }.toSet
    val batch = canon(SparkEntry.queries("q_benford")(spark, sf).collect())
    val stream = canon(SparkEntry.queries("q_stream_benford")(spark, sf).collect())
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("stream enrichment equals the batch dim-join rollup row for row") {
    // stream-static broadcast join + Update-mode agg vs one batch
    // join-groupBy — converged totals must be identical, and every
    // event must survive the dim join (the dim covers all user_ids)
    import org.apache.spark.sql.functions._
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
    }.toSet
    val stream = canon(SparkEntry.queries("q_stream_enrich")(spark, sf).collect())
    val batch = canon(
      graft.sources.Tables.events(spark, sf)
        .join(graft.sources.Tables.customer(spark, sf),
          col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents_total"))
        .collect())
    assert(stream.nonEmpty)
    assert(stream == batch)
    val nEvents = graft.sources.Tables.events(spark, sf).count()
    assert(stream.toSeq.map(_._3).sum == nEvents, "dim join dropped events")
  }

  test("streaming funnel equals the batch funnel row for row") {
    // same definition through two mechanisms: batch two-agg join vs
    // per-user O(1) stream state — results must be identical
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getAs[Long]("user_id"), r.getAs[Long]("signup_ms"),
        Option(r.get(r.fieldIndex("purchase_ms"))),
        r.getAs[Boolean]("converted"))
    }.toSet
    val batch = canon(SparkEntry.queries("q_funnel")(spark, sf).collect())
    val stream = canon(SparkEntry.queries("q_stream_funnel")(spark, sf).collect())
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming funnel converges when signup and purchase arrive in different triggers") {
    // the upsert-store contract: split the events by time into TWO
    // files and force one trigger per file — users whose signup lands
    // in trigger 1 and purchase in trigger 2 first emit converted=false
    // then converted=true, and the newest-wins store must keep only the
    // final row, exactly matching the single-batch funnel (an Append
    // sink would keep both rows, which is the regression this pins).
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    // cut INSIDE a real conversion interval (widest-lag converted user)
    // so at least that user's signup lands in trigger 1 and their
    // qualifying purchase in trigger 2 — guaranteed, not hoped-for
    val batchRows = SparkEntry.queries("q_funnel")(spark, sf).collect()
    val conv = batchRows.filter(_.getAs[Boolean]("converted"))
    assert(conv.nonEmpty, "corpus has no conversions; funnel tests are vacuous")
    val pick = conv.maxBy(r =>
      r.getAs[Long]("purchase_ms") - r.getAs[Long]("signup_ms"))
    val cut = (pick.getAs[Long]("signup_ms") + pick.getAs[Long]("purchase_ms")) / 2
    val dir = java.nio.file.Files.createTempDirectory("graft_funnel2_").toFile
    def stage(name: String, df: org.apache.spark.sql.DataFrame, mtime: Long): Unit = {
      val part = new java.io.File(dir, s"_$name")
      df.coalesce(1).write.mode("overwrite").parquet(part.getAbsolutePath)
      val f = part.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(dir, s"$name.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(mtime) // oldest-first file-source order
    }
    val t0 = System.currentTimeMillis() - 600000
    stage("a_early", ev.filter(unix_millis(col("ts")) <= cut), t0)
    stage("b_late", ev.filter(unix_millis(col("ts")) > cut), t0 + 60000)
    val src = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.getAbsolutePath)
    val twoBatch = graft.streaming.StreamingQueries
      .runFunnel(spark, src, dir.getAbsolutePath).collect()
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getAs[Long]("user_id"), r.getAs[Long]("signup_ms"),
        Option(r.get(r.fieldIndex("purchase_ms"))),
        r.getAs[Boolean]("converted"))
    }.toSet
    // a CONVERTED user must genuinely straddle the triggers (signup in
    // 1, qualifying purchase in 2) — otherwise trigger 2 changes no
    // state, nothing re-emits, and an Append sink would pass too: the
    // exact regression this spec exists to pin would go undetected
    assert(batchRows.exists { r =>
      r.getAs[Boolean]("converted") &&
        r.getAs[Long]("signup_ms") <= cut &&
        r.getAs[Long]("purchase_ms") > cut
    }, "no converted user straddles the two triggers; split is vacuous")
    assert(canon(twoBatch) == canon(batchRows))
  }

  test("streaming pack equals the batch packing row for row") {
    // one definition through two mechanisms: window cumsum vs per-group
    // running-counter state — the rollups must be identical
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq).toSet
    val batch = canon(SparkEntry.queries("q_pack_sequences")(spark, sf).collect())
    val stream = canon(SparkEntry.queries("q_stream_pack")(spark, sf).collect())
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming pack carries bin state across staged triggers") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sf)
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)
    // non-vacuity: some (lang, shard) must fill ≥ one whole bin before
    // the cut — otherwise a state-losing restart packs identically and
    // the split proves nothing
    val earlyFull = graft.operators.TextAnalysis
      .packInput(docs.filter(col("doc_id") <= cut))
      .groupBy("lang", "shard").agg(sum("n_tok").as("s"))
      .filter(col("s") >= graft.operators.TextAnalysis.PackCap)
    assert(earlyFull.count() > 0, "no group fills a bin before the cut; split is vacuous")
    val dir = java.nio.file.Files.createTempDirectory("graft_pack2_").toFile
    def stage(name: String, df: org.apache.spark.sql.DataFrame, mtime: Long): Unit = {
      val part = new java.io.File(dir, s"_$name")
      df.coalesce(1).write.mode("overwrite").parquet(part.getAbsolutePath)
      val f = part.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(dir, s"$name.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(mtime) // oldest-first file-source order
    }
    val t0 = System.currentTimeMillis() - 600000
    stage("a_early", docs.filter(col("doc_id") <= cut), t0)
    stage("b_late", docs.filter(col("doc_id") > cut), t0 + 60000)
    val src = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.getAbsolutePath)
    val twoTrigger = graft.streaming.StreamingQueries
      .runPack(spark, src, dir.getAbsolutePath).collect()
    val batch = SparkEntry.queries("q_pack_sequences")(spark, sf).collect()
    assert(twoTrigger.map(_.toSeq).toSet == batch.map(_.toSeq).toSet)
  }

  test("streaming bootstrap CI equals the batch interval row for row") {
    val batch = SparkEntry.queries("q_bootstrap_ci")(spark, sf).collect()
      .map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_boot")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming dp census equals the batch release row for row") {
    val batch = SparkEntry.queries("q_dp_release")(spark, sf).collect()
      .map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_dp")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming conformal monitor equals the batch interval row for row") {
    val batch = SparkEntry.queries("q_conformal")(spark, sf).collect()
      .map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_conformal")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming cusum monitor equals the batch changepoint row for row") {
    val batch = SparkEntry.queries("q_cusum_change")(spark, sf).collect()
      .map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_cusum")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming ols monitor equals the batch regression row for row") {
    val batch = SparkEntry.queries("q_ols_price")(spark, sf).collect()
      .map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_ols")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming eb monitor equals the batch shrinkage table row for row") {
    val batch = SparkEntry.queries("q_eb_shrink")(spark, sf).collect()
      .map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_eb")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming hdr sketch equals the batch quantile table row for row") {
    val batch = SparkEntry.queries("q_hdr_quantiles")(spark, sf).collect()
      .map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_hdr")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming srm tripwire equals the batch health table row for row") {
    val batch = SparkEntry.queries("q_srm")(spark, sf).collect()
      .map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_srm")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming hurst monitor equals the batch R/S table row for row") {
    val batch = SparkEntry.queries("q_hurst")(spark, sf).collect()
      .map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_hurst")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming binseg monitor equals the batch segmentation row for row") {
    val batch = SparkEntry.queries("q_binseg")(spark, sf).collect()
      .map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_binseg")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming ams sketch equals the batch estimate row for row") {
    val batch = SparkEntry.queries("q_ams_f2")(spark, sf).collect()
      .map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_ams")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming charset profile equals the batch audit row for row") {
    val batch = SparkEntry.queries("q_charset_audit")(spark, sf).collect()
      .map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_charset")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming corr matrix equals the batch matrix row for row") {
    val batch = SparkEntry.queries("q_corr_matrix")(spark, sf).collect()
      .map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_corr")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming jsonl quarantine equals the batch ingest report row for row") {
    val batch = SparkEntry.queries("q_parse_jsonl")(spark, sf).collect()
      .map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_jsonl")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming wilson monitor equals the batch leaderboard row for row") {
    val batch = SparkEntry.queries("q_wilson_rates")(spark, sf).collect()
      .map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_wilson")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming decayed leaderboard equals the batch ranking row for row") {
    // shared census input + shared decay finish: the converged
    // (domain, day) store must rank identically to batch
    val batch = SparkEntry.queries("q_decayed_topk")(spark, sf).collect()
      .map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_decayed")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming quality gate equals the batch gopher rules row for row") {
    // shared gopherFlags kernel: the stateless stream scorer must
    // reproduce every rule value and keep flag of the batch gate
    val batch = SparkEntry.queries("q_gopher_rules")(spark, sf).collect()
      .map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_quality")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming code router equals the batch detector row for row") {
    // shared codeFlags kernel: the stateless stream router must
    // reproduce every signal, vote, and route of the batch detector
    val batch = SparkEntry.queries("q_code_detect")(spark, sf).collect()
      .map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_code")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming psi equals the batch drift index row for row") {
    // shared bucketing + shared finish: the converged count store must
    // reproduce the batch index exactly, alarm flags included
    val batch = SparkEntry.queries("q_psi_drift")(spark, sf).collect().map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_psi")(spark, sf).collect().map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming embed drift equals the batch report row for row") {
    // shared census + shared Welch finish: the converged per-dim sums
    // must reproduce the batch drift report exactly, t values included
    val batch = SparkEntry.queries("q_embed_drift")(spark, sf).collect().map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_embed_drift")(spark, sf).collect().map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming cdc merge equals the batch merge row for row") {
    // mergeable max_by state + shared full-outer apply: the converged
    // last-op store must reproduce every src/value of the batch merge
    val batch = SparkEntry.queries("q_cdc_merge")(spark, sf).collect().map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_cdc")(spark, sf).collect().map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming holt equals the batch forecaster row for row") {
    // shared additive census + shared unrolled-recursion finish: the
    // converged month store must reproduce every level/trend/forecast
    val batch = SparkEntry.queries("q_holt_forecast")(spark, sf).collect().map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_holt")(spark, sf).collect().map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming kl equals the batch mix-divergence report row for row") {
    // shared hashed census + shared dense-axis finish: the converged
    // count store must reproduce every entropy and KL value exactly
    val batch = SparkEntry.queries("q_kl_sources")(spark, sf).collect().map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_kl")(spark, sf).collect().map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming silhouette equals the batch audit row for row") {
    // one broadcast codebook, one census, one finish: the at-ingest
    // monitor and the batch audit cannot disagree
    val batch = SparkEntry.queries("q_silhouette")(spark, sf).collect().map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_silhouette")(spark, sf).collect().map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming sem-decontam equals the batch screen row for row") {
    // one broadcast eval suite, one shared scorer kernel: the
    // at-ingest screen and the batch audit cannot disagree
    val batch = SparkEntry.queries("q_sem_decontam")(spark, sf).collect().map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_sem_decontam")(spark, sf).collect().map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming lexicon census equals the batch audit row for row") {
    // shared hits kernel + shared finish over the keyed upsert view
    val batch = SparkEntry.queries("q_lexicon_flags")(spark, sf).collect().map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_lexicon")(spark, sf).collect().map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming ann lookups equal the batch trained-IVF search row for row") {
    // one trained Lloyd codebook, one shared candidate kernel, one
    // shared top-K finish over the keyed upsert view: the at-ingest
    // lookups and the batch search cannot disagree
    val batch = SparkEntry.queries("q_ann_ivf_kmeans")(spark, sf).collect().map(_.toSeq).toSet
    val stream = SparkEntry.queries("q_stream_ann")(spark, sf).collect().map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("embed-drift census converges when the two halves arrive in different triggers") {
    // the additive-census contract: stage the even-vec_id half and the
    // odd half as separate files, force one trigger per file — every
    // dim's census row is emitted in trigger 1 then UPDATED in trigger
    // 2, and the newest-wins merge must equal the single-batch report
    // (an Append sink would keep the half-census rows too; a
    // non-additive quantization would converge to different sums)
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_drift2_").toFile
    def stage(name: String, df: org.apache.spark.sql.DataFrame, mtime: Long): Unit = {
      val part = new java.io.File(dir, s"_$name")
      df.coalesce(1).write.mode("overwrite").parquet(part.getAbsolutePath)
      val f = part.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(dir, s"$name.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(mtime) // oldest-first file-source order
    }
    val t0 = System.currentTimeMillis() - 600000
    stage("a_even", emb.filter(col("vec_id") % 2 === 0), t0)
    stage("b_odd", emb.filter(col("vec_id") % 2 === 1), t0 + 60000)
    val src = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.getAbsolutePath)
    val twoTrigger = graft.streaming.StreamingQueries
      .runEmbedDrift(spark, src, dir.getAbsolutePath).collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("q_embed_drift")(spark, sf).collect().map(_.toSeq).toSet
    // trigger 2 must genuinely UPDATE every dim (n_b goes 0 → >0), so
    // a stale-row sink cannot pass by accident
    assert(batch.forall(r => r(2).asInstanceOf[Long] > 0L),
      "odd half empty; two-trigger split is vacuous")
    assert(twoTrigger == batch)
  }

  test("streaming hll registers converge to the batch sketch exactly") {
    // duplicate-insensitive max-registers: the stream (no dedup state)
    // and the batch (distinct shingles) MUST produce identical sketches
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getAs[String]("lang"), r.getAs[Long]("v"),
        r.getAs[Long]("s_e6"), r.getAs[Long]("hll_est"))
    }.toSet
    val stream = canon(SparkEntry.queries("q_stream_hll")(spark, sf).collect())
    val batch = canon(SparkEntry.queries("q_hll_distinct")(spark, sf)
      .select("lang", "v", "s_e6", "hll_est").collect())
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming kmv estimates equal the batch sketch columns exactly") {
    // duplicate-insensitive bottom-K: the stream (no dedup state) and
    // the batch (distinct census) MUST build identical sketches, so
    // every estimator column must agree
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getAs[String]("src_a"), r.getAs[String]("src_b"),
        r.getAs[Long]("k_used"), r.getAs[Long]("union_est"),
        r.getAs[Long]("jaccard_est_e6"), r.getAs[Long]("inter_est"))
    }.toSet
    val stream = canon(SparkEntry.queries("q_stream_kmv")(spark, sf).collect())
    val batch = canon(SparkEntry.queries("q_kmv_setops")(spark, sf)
      .select("src_a", "src_b", "k_used", "union_est", "jaccard_est_e6",
        "inter_est").collect())
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("kmv sketch state converges when sources split across triggers") {
    // the duplicate-insensitive capped-mins state must merge across
    // micro-batches: stage the even-doc half and the odd half as
    // separate files (every source appears in BOTH triggers, so each
    // source's sketch is genuinely UPDATED, not just emitted once)
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_kmv2_").toFile
    def stage(name: String, df: org.apache.spark.sql.DataFrame, mtime: Long): Unit = {
      val part = new java.io.File(dir, s"_$name")
      df.coalesce(1).write.mode("overwrite").parquet(part.getAbsolutePath)
      val f = part.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(dir, s"$name.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    val t0 = System.currentTimeMillis() - 600000
    stage("a_even", docs.filter(col("doc_id") % 2 === 0), t0)
    stage("b_odd", docs.filter(col("doc_id") % 2 === 1), t0 + 60000)
    val src = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.getAbsolutePath)
      .select("source", "text")
    val twoTrigger = graft.streaming.StreamingQueries
      .runKmv(spark, src).collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("q_stream_kmv")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(twoTrigger == batch)
  }

  test("streaming bloom filter equals the batch audit row for row") {
    // bit_or state is duplicate-insensitive: the streamed bitset and
    // the batch-built bitset must be identical, so every audit column
    // must agree
    val stream = SparkEntry.queries("q_stream_bloom")(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("q_bloom_join")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("bloom bitset state converges when keys split across triggers") {
    import org.apache.spark.sql.functions._
    val keys = graft.sources.Tables.customer(spark, sf)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom2_").toFile
    def stage(name: String, df: org.apache.spark.sql.DataFrame, mtime: Long): Unit = {
      val part = new java.io.File(dir, s"_$name")
      df.coalesce(1).write.mode("overwrite").parquet(part.getAbsolutePath)
      val f = part.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(dir, s"$name.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    val t0 = System.currentTimeMillis() - 600000
    stage("a_even", keys.filter(col("k") % 2 === 0), t0)
    stage("b_odd", keys.filter(col("k") % 2 === 1), t0 + 60000)
    val src = spark.readStream.schema(keys.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.getAbsolutePath)
    val twoTrigger = graft.streaming.StreamingQueries
      .runBloom(spark, src, sf).collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("q_bloom_join")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(twoTrigger == batch)
  }

  test("streaming skyline equals the batch frontier row for row") {
    // per-price max state is duplicate-insensitive: the streamed
    // census and the batch census must be identical, so the frontier
    // and its join-back must agree part for part
    val stream = SparkEntry.queries("q_stream_skyline")(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("q_skyline")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("streaming join-card statistics equal the batch report row for row") {
    val stream = SparkEntry.queries("q_stream_join_card")(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("q_join_card")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream == batch)
  }

  test("checkpointed session stream survives a restart with state intact") {
    // the long-running-job reality: run 1 processes the early half of
    // the corpus under a checkpointLocation and STOPS (AvailableNow
    // drains what exists); the late half lands; run 2 starts a brand
    // NEW query from the same checkpoint and durable file sink. The
    // checkpoint must restore (a) which files were consumed, (b) the
    // watermark, and (c) every open session's state — so the sealed
    // output across both runs equals the single-run memory-sink result.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val ev = graft.sources.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getAs[java.sql.Timestamp]("sess_start").getTime,
        r.getAs[java.sql.Timestamp]("sess_end").getTime,
        r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Double]("sum_value"))
    }.toSet
    val want = canon(SparkEntry.queries("q_stream_sessions")(spark, sf).collect())
    assert(want.nonEmpty, "single-run baseline sealed no sessions; test is vacuous")
    // cut INSIDE the widest sealed session (between its first and last
    // event) so that session's early events enter state in run 1 and
    // only run 2 can close it — a state-losing restart would emit a
    // short or split session. Guaranteed non-vacuous, not hoped-for.
    val spanning = want.filter { case (s, e, _, _, _) => e - 300000 > s }
    assert(spanning.nonEmpty, "every sealed session is single-instant; cut impossible")
    val (ws, we, _, _, _) = spanning.maxBy { case (s, e, _, _, _) => e - s }
    val cut = (ws + (we - 300000)) / 2
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ckpt_src_").toFile
    def stage(name: String, df: org.apache.spark.sql.DataFrame, mtime: Long): Unit = {
      val part = new java.io.File(srcDir, s"_$name")
      df.coalesce(1).write.mode("overwrite").parquet(part.getAbsolutePath)
      val f = part.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(srcDir, s"$name.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(mtime): Unit
    }
    val cp = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ckpt_out_").toString
    def runOnce(): Unit = {
      val src = spark.readStream.schema(ev.schema).parquet(srcDir.getAbsolutePath)
      val q = graft.streaming.StreamingQueries.sessionAgg(src)
        .writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", out)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val t0 = System.currentTimeMillis() - 600000
    stage("a_early", ev.filter(unix_millis(col("ts")) <= cut), t0)
    runOnce() // run 1: early half only, then the query STOPS
    stage("b_late", ev.filter(unix_millis(col("ts")) > cut), t0 + 60000)
    runOnce() // run 2: a NEW query restarted from the checkpoint
    val got = canon(spark.read.parquet(out).collect())
    assert(got == want)
  }

  test("table sink merged view is newest-wins per key and replay-idempotent") {
    // the durable-sink contract directly: two batch partitions with a
    // conflicting key — the merged view keeps batch 1's row; replaying
    // batch 1 (restart mid-commit) overwrites its own partition and
    // changes nothing. This is what makes the foreachBatch write
    // exactly-once-equivalent without a transactional table format.
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_").toString
    def write(b: Int, rows: Seq[(Long, String)]): Unit =
      rows.toDF("k", "v").write.mode("overwrite").parquet(s"$dir/batch=$b")
    write(0, Seq((1L, "a"), (2L, "b")))
    write(1, Seq((2L, "b2"), (3L, "c")))
    def view() = graft.streaming.TableSink
      .merged(spark, dir, Seq("k"), Seq.empty[(Long, String)].toDF("k", "v").schema)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = Set((1L, "a"), (2L, "b2"), (3L, "c"))
    assert(view() == want)
    write(1, Seq((2L, "b2"), (3L, "c"))) // replayed trigger
    assert(view() == want)
    // compaction: same merged answer from ONE partition; history gone;
    // a later trigger still wins against the compacted row
    val schema = Seq.empty[(Long, String)].toDF("k", "v").schema
    graft.streaming.TableSink.compactTo(spark, dir, Seq("k"), schema, target = 2L)
    val parts = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(parts == Set("batch=2"), s"history not dropped: $parts")
    assert(view() == want, "compaction changed the merged answer")
    write(3, Seq((2L, "b3"))) // post-compaction trigger
    assert(view() == Set((1L, "a"), (2L, "b3"), (3L, "c")))
  }

  test("scheduled in-stream compaction folds history while triggers are still pending") {
    // the r11 worklist's concurrent case: the sink compacts at trigger
    // N WHILE the staged source still has triggers queued behind it
    // (maxFilesPerTrigger=1 over 2N+2 staged files ⇒ compaction fires
    // mid-run at least twice with work pending). Done means: the
    // merged view is still exactly newest-wins-per-key, and the
    // partition count at the end is bounded by the compaction period,
    // not the trigger count — the merge-cost-stays-flat contract.
    val n = graft.streaming.TableSink.CompactEvery * 2 + 2
    val srcDir = java.nio.file.Files.createTempDirectory("graft_cmpsrc_").toFile
    val t0 = System.currentTimeMillis() - 600000
    (0 until n).foreach { i =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_cmpstage_").toFile
      Seq(((i % 5).toLong, s"v$i")).toDF("k", "v")
        .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(srcDir, f"f$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 10000L): Unit
    }
    val schema = Seq.empty[(Long, String)].toDF("k", "v").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.getAbsolutePath)
    val got = graft.streaming.TableSink
      .upsert(spark, src, Seq("k"), "compact_spec", srcDir.getAbsolutePath)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val want = (0 until n).map(i => (i % 5).toLong -> s"v$i").toMap
    assert(got == want, "merged view diverged under in-stream compaction")
    val parts = new java.io.File(graft.streaming.TableSink
        .sinkDir("compact_spec", srcDir.getAbsolutePath)).listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).map(_.drop(6).toLong)
    assert(parts.length <= graft.streaming.TableSink.CompactEvery + 2,
      s"history not folded: ${parts.sorted.mkString(",")}")
    assert(parts.exists(_ % 2 == 1),
      s"no compacted snapshot present — the hook never fired: ${parts.sorted.mkString(",")}")
  }

  test("stateful last-price tracking via flatMapGroupsWithState") {
    val in = MemoryStream[(Long, Long, Double)] // user, event, value
    in.addData((7L, 1L, 10.0), (7L, 2L, 12.0), (7L, 3L, 12.0), (9L, 1L, 5.0))
    val updates = in.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (user: Long, rows: Iterator[(Long, Long, Double)], state: GroupState[PriceState]) => {
          val sorted = rows.toSeq.sortBy(_._2)
          var st = state.getOption.getOrElse(PriceState(Double.NaN, 0L))
          var n = 0L
          sorted.foreach { case (_, _, v) =>
            st = if (!st.last.isNaN && v != st.last) PriceState(v, st.changes + 1)
                 else PriceState(v, st.changes)
            n += 1
          }
          state.update(st)
          Iterator.single(UserUpdate(user, st.last, n, st.changes))
        })
    val got = runStream(updates.toDF(), OutputMode.Append(), "spec_state")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(3))).toSet
    assert(got == Set((7L, 12.0, 1L), (9L, 5.0, 0L)))
  }
}
