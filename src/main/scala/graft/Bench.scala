package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A query that throws is recorded with err:1 and
  * excluded from the timing total so a broken query can't masquerade as a
  * fast one.
  *
  * Each query runs SPARK_GRAFT_BENCH_RUNS times (default 2): `queries`
  * (and the headline `value`) record the first, cold run;
  * `queries_warm`/`total_warm` the BEST successful rerun — the stable
  * figure that filters one-shot contention noise out of the record (a
  * query whose runs disagree by multiples was preempted, not
  * regressed). A rerun that fails falls back to the cold figure rather
  * than reporting its time-to-failure as a timing.
  *
  * `queries_full`/`total_full` time ONE extra run per query against the
  * noop sink (full materialization of every output row and column).
  * The cold/warm runs act via count(), under which Catalyst legally
  * prunes output-column work — a map-only query's count collapses to a
  * row count over the scan — so those figures are self-consistent
  * across rounds but optimistic vs what a consumer writing the result
  * would pay (measured 3× on the window-heavy q_anomaly_mad). The full
  * figure is the Verify-equivalent honest cost; it runs last, so treat
  * it as a warm figure. */
object Bench {
  /** Co-tenancy stamp: "1min 5min 15min running/total" from
    * /proc/loadavg — recorded at run start and end so a phantom
    * regression (a query 2-3× slower with an unchanged plan) can be
    * adjudicated from the artifact itself instead of costing a
    * dedicated rerun: a load well above the core count means the
    * bench shared the machine with another tenant. */
  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split("\\s+").take(4).mkString(" ")
    catch { case NonFatal(_) => "unavailable" }

  /** One query's record. When `error` names the exception class that
    * failed the cold run, `cold` is its time-to-failure and the other
    * figures are meaningless; `full` is None when the
    * full-materialization run failed or never ran. */
  private[graft] final case class Timing(name: String, cold: Double, warm: Double,
      full: Option[Double], error: Option[String]) {
    def ok: Boolean = error.isEmpty
  }

  def main(args: Array[String]): Unit = {
    val loadStart = loadavg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_RECYCLE=N restarts the SparkSession every N queries —
    // OFF by default here (restart cost would smear into cold timings
    // and break round-over-round comparability at sandbox scale), ON
    // for heavy-SF batteries where accumulated localCheckpoint blocks
    // wedge a long session (graft.Verify defaults it to 40).
    val recycleEvery = sys.env.getOrElse("SPARK_GRAFT_RECYCLE", "0").toInt
    val only = args.toSet // optional query-name filter for local profiling
    require((only -- SparkEntry.queries.keySet).isEmpty,
      s"unknown query name(s): ${(only -- SparkEntry.queries.keySet).mkString(", ")}")
    // warm up the session (parquet footers, codegen compiler, shuffle
    // machinery) so the first timed query doesn't absorb JVM init.
    // ModelMap.ensure is the reference's BuildAndSaveModels contract: the
    // per-domain model store is built ahead of the streaming scorer, so a
    // cold or invalidated model cache must pre-pay its one-time training
    // here, never inside q_stream_pipe's timing.
    def warmUp(spark: SparkSession): Unit = {
      try {
        Seq("lineitem", "orders", "part", "customer", "events", "documents", "embeddings")
          .foreach(t => try sources.Tables.table(spark, sfDir, t).limit(1).count()
            catch { case NonFatal(_) => () })
        SparkEntry.entry(spark).limit(1).count()
      } catch { case NonFatal(_) => () }
      // only the streaming scorer consumes the model store — skip its
      // (possibly multi-second) build when a filter excludes it
      if (only.isEmpty || only("q_stream_pipe"))
        try ml.ModelMap.ensure(spark, sfDir)
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] model-map warmup failed: ${e.getMessage}")
        }
    }
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    /** Seconds to run `act` on the query, and the class of the
      * exception that failed it, if any. */
    def timeOne(spark: SparkSession, name: String, fn: (SparkSession, String) => DataFrame,
        act: DataFrame => Unit = _.count(): Unit)
        : (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val error =
        try { act(fn(spark, sfDir)); None }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          Some(e.getClass.getName)
        }
      ((System.nanoTime() - t0) / 1e9, error)
    }
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val results = Sessions.battery("graft-bench", recycleEvery, named)(warmUp) {
      case (spark, (name, fn)) =>
        val (cold, error) = timeOne(spark, name, fn)
        // warm figure = best of the reruns; a rerun that fails must not
        // pass its time-to-failure off as a stable timing — fall back to
        // the cold figure (the conservative choice) and say so
        val reruns = if (error.isEmpty) (2 to runs).map(_ => timeOne(spark, name, fn)) else Seq.empty
        val okReruns = reruns.collect { case (t, None) => t }
        if (reruns.nonEmpty && okReruns.isEmpty)
          System.err.println(s"[bench] $name: all warm reruns failed; queries_warm reuses cold")
        val warm = if (okReruns.nonEmpty) okReruns.min else cold
        // full-materialization figure: noop sink produces every output
        // row+column (what Verify's parquet write pays) with zero IO
        // cost. A failed full run must NOT fall back to the count()
        // figure — the whole point of this metric is that count can be
        // ~190× optimistic — so the query is dropped from queries_full
        // and named in full_err instead.
        val full =
          if (error.nonEmpty) None
          else timeOne(spark, name, fn, _.write.mode("overwrite").format("noop").save()) match {
            case (t, None) => Some(t)
            case _ =>
              System.err.println(s"[bench] $name: full-materialization run failed; dropped from queries_full")
              None
          }
        Timing(name, cold, warm, full, error)
    }
    val json = totalLine(results, loadStart, loadavg(), sfDir)
    println(json)
    // Sidecar: the driver's artifact captures a fixed-size TAIL of
    // stdout, so per-query history for early (alphabetical) queries is
    // lost to the record. Persist the full JSON line to a file too
    // (only on full-suite runs — a filtered profiling run must not
    // overwrite the round record). The stable slot is the driver's
    // contract; the timestamped copy is the per-run HISTORY a later
    // round can still read after the slot is overwritten. Catch
    // NonFatal only: an OutOfMemoryError here means the run is
    // fundamentally broken and must not report success.
    if (only.isEmpty) {
      val slot = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
      val stamp = java.time.format.DateTimeFormatter
        .ofPattern("yyyyMMdd_HHmmss")
        .format(java.time.LocalDateTime.now())
      val stamped = slot.replaceAll("\\.json$", "") + s"_$stamp.json"
      Seq(slot, stamped).foreach { p =>
        try java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json)
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] sidecar write failed ($p): ${e.getMessage}")
        }
      }
    }
    // One compact line PER QUERY: the giant map line above overflows a
    // fixed-size stdout tail, so a line-level consumer can stream-parse
    // these without holding the map line.
    results.foreach(t => println(queryLine(t)))
    // The per-query lines grow with the suite and any fixed-size tail
    // capture of this process's stdout will truncate its head, losing
    // the totals. Emit the totals AGAIN as a final compact line so the
    // last ~200 bytes of output always parse.
    println(summaryLine(results, loadStart, loadavg(), sfDir))
  }

  private def totals(results: Seq[Timing]): (Double, Double, Double) = (
    results.filter(_.ok).map(_.cold).sum,
    results.filter(_.ok).map(_.warm).sum,
    results.flatMap(_.full).sum)

  /** The map line: queries stay name->seconds (the driver's shape);
    * failures are listed separately in "err" and excluded from the
    * totals. */
  private[graft] def totalLine(results: Seq[Timing], loadStart: String, loadEnd: String,
      sfDir: String): String = {
    def obj(pick: Timing => Option[Double]): String =
      results.flatMap(t => pick(t).map(v => Json.str(t.name) + ":" + v)).mkString("{", ",", "}")
    def names(ts: Seq[Timing]): String = ts.map(t => Json.str(t.name)).mkString("[", ",", "]")
    val (total, totalWarm, totalFull) = totals(results)
    s"""{"metric":"total","value":$total,"unit":"sec","err":${names(results.filterNot(_.ok))}""" +
      s""","queries":${obj(t => Option.when(t.ok)(t.cold))},"total_warm":$totalWarm""" +
      s""","queries_warm":${obj(t => Option.when(t.ok)(t.warm))},"total_full":$totalFull""" +
      s""","queries_full":${obj(_.full)},"full_err":${names(results.filter(t => t.ok && t.full.isEmpty))}""" +
      s""","loadavg_start":${Json.str(loadStart)},"loadavg_end":${Json.str(loadEnd)}""" +
      s""","sf":${Json.str(sfDir)}}"""
  }

  /** A failed query's line carries its time-to-failure as `cold` and
    * the exception class as `error`. */
  private[graft] def queryLine(t: Timing): String = t.error match {
    case None =>
      val fullPart = t.full.fold("")(f => s""","full":$f""")
      s"""{"metric":"query","name":${Json.str(t.name)},"cold":${t.cold},"warm":${t.warm}$fullPart}"""
    case Some(e) =>
      s"""{"metric":"query","name":${Json.str(t.name)},"err":1,"cold":${t.cold},"error":${Json.str(e)}}"""
  }

  private[graft] def summaryLine(results: Seq[Timing], loadStart: String, loadEnd: String,
      sfDir: String): String = {
    val (total, totalWarm, totalFull) = totals(results)
    s"""{"metric":"total_summary","value":$total,"unit":"sec","cold":$total""" +
      s""","warm":$totalWarm,"full":$totalFull,"n":${results.size}""" +
      s""","err_count":${results.count(!_.ok)}""" +
      s""","loadavg_start":${Json.str(loadStart)},"loadavg_end":${Json.str(loadEnd)}""" +
      s""","sf":${Json.str(sfDir)}}"""
  }
}
