package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer

/** Engine counters of one timed call, read from the benchmark's own
  * listener. Times are seconds, sizes MB. */
final case class SparkCounts(jobs: Long, stages: Long, tasks: Long, taskS: Double,
    cpuS: Double, gcS: Double, shuffleWriteMb: Double, shuffleReadMb: Double,
    spillMb: Double, peakExecMemMb: Double, busyS: Double, wallS: Double, cores: Int) {
  /** Task-seconds over the cores the call had for its wall time. */
  def coreUtil: Double = if (wallS > 0) taskS / (wallS * cores) else 0.0
  /** Share of the call's wall time during which no task ran. */
  def idleFrac: Double = if (wallS > 0) math.max(0.0, 1.0 - busyS / wallS) else 0.0

  def metrics: Seq[(String, Double, String)] = Seq(
    ("jobs", jobs.toDouble, "count"), ("stages", stages.toDouble, "count"),
    ("tasks", tasks.toDouble, "count"), ("task_s", taskS, "s"), ("cpu_s", cpuS, "s"),
    ("gc_s", gcS, "s"), ("shuffle_write_mb", shuffleWriteMb, "MB"),
    ("shuffle_read_mb", shuffleReadMb, "MB"), ("spill_mb", spillMb, "MB"),
    ("peak_exec_mem_mb", peakExecMemMb, "MB"), ("core_util", coreUtil, "ratio"),
    ("idle_frac", idleFrac, "ratio"))
}

/** A `SparkListener` registered by the benchmark on its session. The
  * caller brackets each timed call with [[start]] and [[stop]]; both
  * drain the listener bus first, so every event of the call's jobs is
  * counted to that call and to no other. */
final class SparkProbe(spark: SparkSession, cores: Int) extends SparkListener {
  private val mb = 1024.0 * 1024.0
  private var jobs, stages, tasks, runMs, cpuNs, gcMs, shW, shR, spill, peak = 0L
  private val intervals = ArrayBuffer.empty[(Long, Long)]
  private var t0 = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime; cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
      shW += m.shuffleWriteMetrics.bytesWritten; shR += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peak = math.max(peak, m.peakExecutionMemory)
    }
  }

  def start(): Unit = {
    org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
    synchronized {
      jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
      shW = 0; shR = 0; spill = 0; peak = 0; intervals.clear()
      t0 = System.currentTimeMillis()
    }
  }

  def stop(): SparkCounts = {
    val t1 = System.currentTimeMillis()
    org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
    synchronized {
      SparkCounts(jobs, stages, tasks, runMs / 1e3, cpuNs / 1e9, gcMs / 1e3, shW / mb, shR / mb,
        spill / mb, peak / mb, busyMs(t0, t1) / 1e3, (t1 - t0) / 1e3, cores)
    }
  }

  /** Milliseconds of [t0, t1] covered by at least one running task. */
  private def busyMs(t0: Long, t1: Long): Long = {
    var covered = 0L
    var end = t0
    intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    covered
  }
}

/** Micro-batch progress of the streaming calls, from the benchmark's own
  * `StreamingQueryListener`. */
final case class StreamCounts(batches: Int, batchMs: Seq[Double], addBatchMs: Double,
    planningMs: Double, sinkRows: Long)

final class StreamProbe extends StreamingQueryListener {
  private val progress = ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e.progress }

  /** Forgets the progress posted so far: the caller's next queries are
    * the ones [[take]] reports. */
  def reset(spark: SparkSession): Unit = {
    org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
    synchronized { progress.clear() }
  }

  /** Progress since the last [[reset]] or [[take]]. The caller drains
    * the listener bus first ([[SparkProbe.stop]] does). */
  def take(): StreamCounts = synchronized {
    def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    // a progress with no input rows is an idle trigger, not a batch
    val batches = progress.filter(_.numInputRows > 0).toSeq
    val out = StreamCounts(batches.size, batches.map(ms(_, "triggerExecution")),
      batches.map(ms(_, "addBatch")).sum, batches.map(ms(_, "queryPlanning")).sum,
      batches.map(p => math.max(0L, p.sink.numOutputRows)).sum)
    progress.clear()
    out
  }
}

/** One span: a call into a layer, with its parent span and the run it
  * belongs to. Times are `System.nanoTime` readings. */
final case class Span(run: String, id: Int, parent: Int, name: String, layer: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; [[write]] dumps the spans at exit. */
final class Trace(val run: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private var current = 0

  def span[T](name: String, layer: String)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = current
    current = id
    val t0 = System.nanoTime()
    try {
      val out = body
      val s = Span(run, id, parent, name, layer, t0, System.nanoTime())
      spans += s
      (out, s)
    } finally current = parent
  }

  /** Seconds of each layer's spans not covered by their child spans. */
  def selfSeconds: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum).sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Json.obj(Seq("run" -> Json.str(s.run), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
