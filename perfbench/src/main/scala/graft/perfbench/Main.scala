package graft.perfbench

import graft.Sessions
import graft.ml.ModelMap
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The benchmark's JVM: set up one workload from its seed, run its
  * timed region as one closed-loop client (one call at a time, the next
  * only after the previous returns) for the given seconds, check the
  * outputs, and print the result as the last line of stdout.
  *
  * `--trace 0` prints the end-to-end metrics; `--trace 1` interleaves
  * untraced and traced passes, where a traced pass records spans and
  * the benchmark's own Spark and streaming listener counts per call,
  * and prints the per-layer metrics. */
object Main {
  private val MinPasses = 2
  private val MaxFailedPasses = 3

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, cores: Int, sourceSha: String, gitSha: String, traceOut: Option[String],
      scale: Double)

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "peak_rss_mb" -> "MB")

  private val SparkMetrics: Seq[(String, String)] =
    SparkCounts(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1).metrics.map(m => m._1 -> m._3)
  private val GraphCalls = Seq("pagerank", "kcore", "label_prop", "components")

  val PerLayer: Seq[(String, String)] = Seq(
    "events_per_s" -> "1/s",
    "pagerank_s" -> "s", "kcore_s" -> "s", "label_prop_s" -> "s", "components_s" -> "s",
    "failed_frac" -> "ratio",
    "sources.scan_s" -> "s", "sources.input_mb" -> "MB", "sources.input_rows" -> "count",
    "functions.extract_s" -> "s", "functions.extract_mb_s_core" -> "MB/s",
    "functions.candidates" -> "count", "functions.price_shaped_frac" -> "ratio",
    "functions.normalize_s" -> "s", "functions.normalize_rows_s_core" -> "1/s",
    "ml.train_s" -> "s", "ml.featurize_rows_s_core" -> "1/s", "ml.score_rows_s_core" -> "1/s",
    "ml.decide_s" -> "s",
    "streaming.batches" -> "count", "streaming.batch_ms_p50" -> "ms",
    "streaming.batch_ms_max" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.planning_ms" -> "ms", "streaming.sink_rows" -> "count") ++
    SparkMetrics.map { case (m, u) => s"spark.$m" -> u } ++
    GraphCalls.flatMap(c => SparkMetrics.map { case (m, u) => s"spark.$c.$m" -> u }) ++
    Seq("trace.overhead_frac" -> "ratio")

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: IllegalArgumentException =>
          System.err.println(s"perfbench: ${e.getMessage}"); 2
        case NonFatal(e) =>
          e.printStackTrace(); 1
      }
    System.out.flush()
    sys.exit(code)
  }

  private def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, "arguments come as --name value pairs")
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = get("trace")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    Opts(get("workload"), get("seed").toLong, get("seconds").toInt, trace == "1", get("work"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      m.getOrElse("source-sha", "unknown"), m.getOrElse("git-sha", "unknown"), m.get("trace-out"),
      m.get("scale").map(_.toDouble).getOrElse(1.0))
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+").take(4).mkString(" ")
    catch { case NonFatal(_) => "unavailable" }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)
    catch { case NonFatal(_) => 0.0 }

  private def combine(cs: Seq[SparkCounts], cores: Int): SparkCounts =
    cs.foldLeft(SparkCounts(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, cores)) { (a, b) =>
      SparkCounts(a.jobs + b.jobs, a.stages + b.stages, a.tasks + b.tasks, a.taskS + b.taskS,
        a.cpuS + b.cpuS, a.gcS + b.gcS, a.shuffleWriteMb + b.shuffleWriteMb,
        a.shuffleReadMb + b.shuffleReadMb, a.spillMb + b.spillMb,
        math.max(a.peakExecMemMb, b.peakExecMemMb), a.busyS + b.busyS, a.wallS + b.wallS, cores)
    }

  private def say(line: String): Unit = println(s"[perfbench] $line")

  def run(o: Opts): Int = {
    val loadStart = loadavg()
    val wl = Workloads(o.workload, o.scale)
    val dir = new java.io.File(o.work, "inputs").getAbsolutePath
    val trace = new Trace(s"${wl.name}-${o.seed}-${ProcessHandle.current().pid()}")
    val median = Workloads.medianOf _

    // set-up, several times over; setup_s is the median
    var spark: SparkSession = null
    val setupS, trainS = ArrayBuffer.empty[Double]
    val inputDigests = ArrayBuffer.empty[String]
    (1 to wl.setupReps).foreach { _ =>
      val t0 = System.nanoTime()
      if (spark != null) { wl.cleanup(spark, dir); spark.stop() }
      ModelMap.clearCache()
      Workloads.deleteTree(new java.io.File(dir))
      spark = Sessions.local(o.cores, s"graft-perfbench-${wl.name}")
      inputDigests += wl.generate(spark, dir, o.seed, o.cores)
      trainS += wl.prepare(spark, dir)
      setupS += secs(t0)
      System.err.println(f"perfbench: set-up ${setupS.last}%.2f s")
    }
    val session = spark

    // warm-up: the first pass after set-up runs the timed calls and
    // checks their outputs against the generator's truth
    val warm0 = System.nanoTime()
    val check =
      try wl.check(session, dir)
      catch { case NonFatal(e) =>
        Check(wl.opsPerPass, "none", Seq(s"check failed: $e"))
      }
    try while (secs(warm0) < wl.warmUpS) wl.pass(session, dir, Workloads.untimed)
    catch { case NonFatal(e) => System.err.println(s"perfbench: warm-up pass failed: $e") }
    val warmupS = secs(warm0)
    System.err.println(f"perfbench: warm-up and check $warmupS%.2f s")

    // the timed region
    val walls, tracedWalls = ArrayBuffer.empty[Double]
    val callS = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val sparkPass = ArrayBuffer.empty[SparkCounts]
    val sparkCall = mutable.LinkedHashMap.empty[String, ArrayBuffer[SparkCounts]]
    val streams = ArrayBuffer.empty[StreamCounts]
    val probeRuns = ArrayBuffer.empty[Map[String, Double]]
    var failedPasses = 0
    val sparkProbe = new SparkProbe(session, o.cores)
    val streamProbe = new StreamProbe
    if (o.trace) {
      session.sparkContext.addSparkListener(sparkProbe)
      session.streams.addListener(streamProbe)
    }

    def untraced(): Unit = {
      val times = mutable.LinkedHashMap.empty[String, Double]
      val call = new Call {
        def apply(name: String, layer: String)(body: => Unit): Unit = {
          val t0 = System.nanoTime(); body; times(name) = secs(t0)
        }
      }
      val t0 = System.nanoTime()
      try {
        wl.pass(session, dir, call)
        walls += secs(t0)
        times.foreach { case (k, v) => callS.getOrElseUpdate(k, ArrayBuffer.empty) += v }
      } catch { case NonFatal(e) =>
        failedPasses += 1
        System.err.println(s"perfbench: ${wl.name} pass failed: $e")
      }
    }

    def traced(): Unit = {
      val counts = ArrayBuffer.empty[(String, SparkCounts)]
      val call = new Call {
        def apply(name: String, layer: String)(body: => Unit): Unit =
          trace.span(name, layer) {
            sparkProbe.start()
            try body finally counts += name -> sparkProbe.stop()
          }
      }
      try {
        // the untraced pass and the last traced pass's probes also ran
        // streaming queries; their progress is not this pass's
        streamProbe.reset(session)
        trace.span(s"${wl.name}.pass", "workload") {
          // timed as untraced() times a pass, so the spans, the listener
          // drains and the bookkeeping count as what tracing costs
          val t0 = System.nanoTime()
          wl.pass(session, dir, call)
          val wall = secs(t0)
          val s = streamProbe.take()
          wl.streamRows.foreach { n =>
            if (s.sinkRows != n) throw new IllegalStateException(
              s"the traced pass's streaming sinks took ${s.sinkRows} rows, want $n")
          }
          tracedWalls += wall
          streams += s
          sparkPass += combine(counts.map(_._2).toSeq, o.cores)
          counts.foreach { case (k, c) => sparkCall.getOrElseUpdate(k, ArrayBuffer.empty) += c }
          probeRuns += wl.probes(session, dir, trace)
        }
      } catch { case NonFatal(e) =>
        failedPasses += 1
        System.err.println(s"perfbench: ${wl.name} traced pass failed: $e")
      }
    }

    val deadline = System.nanoTime() + o.seconds * 1000000000L
    while ((System.nanoTime() < deadline || walls.size < MinPasses) &&
        failedPasses < MaxFailedPasses) {
      untraced()
      if (o.trace) traced()
    }
    val passes = walls.size + tracedWalls.size + failedPasses

    val core = if (o.trace) wl.core(session, dir, trace) else Map.empty[String, Double]
    val deterministic = inputDigests.distinct.size == 1
    val attempted = wl.opsPerPass * (passes + 1)
    // the outputs are checked on the warm-up pass; the program is
    // deterministic, so a wrong output there is wrong in every pass
    val failed = math.min(attempted,
      wl.opsPerPass * failedPasses + check.failedOps * (passes - failedPasses + 1))
    val failedFrac = failed.toDouble / attempted
    // a call's time is the work plus whatever delayed it: compilation
    // still under way, a core taken by another process. Delays only add,
    // so the fastest run is the steadiest measure of the work. The calls
    // of a pass run one after the other, so the pass's work is the sum
    // of its calls' fastest runs.
    def fastest(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.min
    val wallS = callS.valuesIterator.map(v => fastest(v.toSeq)).sum
    val inputBytes = {
      def size(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
        else if (f.getName.endsWith(".parquet")) f.length else 0L
      size(new java.io.File(dir))
    }

    // the named end-to-end figures, printed on every run
    val rates = wl.perSecond.map { case (k, v) => k -> (if (wallS > 0) v / wallS else 0.0) }
    val calls = callS.collect { case (k, v) if GraphCalls.contains(k) => s"${k}_s" -> fastest(v.toSeq) }
    val named = Seq(("setup_s", median(setupS.toSeq), "s"), ("wall_s", wallS, "s")) ++
      rates.toSeq.map { case (k, v) => (k, v, "1/s") } ++
      calls.toSeq.map { case (k, v) => (k, v, "s") } ++
      Seq(("failed_frac", failedFrac, "ratio"), ("peak_rss_mb", peakRssMb(), "MB"))
    named.foreach { case (k, v, u) => say(s"metric ${Json.str(k)} ${Json.num(v)} ${Json.str(u)}") }

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val e2e = named.map(n => n._1 -> n._2).toMap
        EndToEnd.map { case (k, u) => (k, e2e(k), u) }
      } else {
        val values = mutable.Map.empty[String, Double]
        named.foreach { case (k, v, _) => values(k) = v }
        values ++= Map("sources.input_mb" -> inputBytes / 1e6,
          "sources.input_rows" -> wl.inputRows.toDouble)
        probeRuns.flatMap(_.keys).distinct.foreach { k =>
          values(k) = median(probeRuns.flatMap(_.get(k)).toSeq)
        }
        values ++= core
        values("ml.train_s") = median(trainS.toSeq)
        if (streams.exists(_.batches > 0)) {
          val batchMs = streams.flatMap(_.batchMs).toSeq
          values ++= Map(
            "streaming.batches" -> median(streams.map(_.batches.toDouble).toSeq),
            "streaming.batch_ms_p50" -> median(batchMs),
            "streaming.batch_ms_max" -> batchMs.max,
            "streaming.add_batch_ms" -> median(streams.map(_.addBatchMs).toSeq),
            "streaming.planning_ms" -> median(streams.map(_.planningMs).toSeq),
            "streaming.sink_rows" -> median(streams.map(_.sinkRows.toDouble).toSeq))
        }
        def spark(prefix: String, cs: Seq[SparkCounts]): Unit =
          if (cs.nonEmpty) cs.head.metrics.indices.foreach { i =>
            values(s"$prefix.${cs.head.metrics(i)._1}") = median(cs.map(_.metrics(i)._2))
          }
        spark("spark", sparkPass.toSeq)
        sparkCall.foreach { case (c, cs) => if (GraphCalls.contains(c)) spark(s"spark.$c", cs.toSeq) }
        values("trace.overhead_frac") =
          if (walls.nonEmpty) fastest(tracedWalls.toSeq) / fastest(walls.toSeq) - 1.0 else 0.0
        say(s"trace self_s ${Json.obj(trace.selfSeconds.toSeq.sorted.map { case (k, v) => k -> Json.num(v) })}")
        PerLayer.map { case (k, u) => (k, values.getOrElse(k, 0.0), u) }
      }

    val stamp = Json.obj(Seq(
      "workload" -> Json.str(wl.name), "seed" -> o.seed.toString,
      "trace" -> (if (o.trace) "1" else "0"), "seconds" -> o.seconds.toString,
      "scale" -> Json.num(o.scale), "cores" -> o.cores.toString, "git_sha" -> Json.str(o.gitSha),
      "source_sha256" -> Json.str(o.sourceSha), "spark_version" -> Json.str(session.version),
      "jvm_version" -> Json.str(System.getProperty("java.runtime.version")),
      "heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "loadavg_start" -> Json.str(loadStart), "loadavg_end" -> Json.str(loadavg()),
      "inputs" -> Json.obj(wl.inputs.map { case (k, v) => k -> Json.num(v) }),
      "input_digest" -> Json.str(inputDigests.head),
      "output_digest" -> Json.str(check.digest),
      "passes" -> passes.toString, "setup_s_all" -> setupS.map(Json.num).mkString("[", ",", "]"),
      "train_s_all" -> trainS.map(Json.num).mkString("[", ",", "]"),
      "warmup_s" -> Json.num(warmupS),
      "pass_s_all" -> walls.map(Json.num).mkString("[", ",", "]"),
      "check_notes" -> check.notes.map(Json.str).mkString("[", ",", "]")))
    say(s"run $stamp")
    o.traceOut.foreach(p => if (o.trace) trace.write(java.nio.file.Paths.get(p)))

    try wl.cleanup(session, dir) finally session.stop()
    val correct = failed == 0 && deterministic && check.digest != "none"
    println(Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    0
  }
}
