package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.SessionBridge
import scala.util.control.NonFatal

/** Central SparkSession builder (SURVEY §3): shuffle partitions sized
  * to the core count (not the 200 default), AQE on so the same plans
  * re-size partitions / handle skew on a real cluster, UTC for oracle
  * parity, and graft's SQL extensions registered. Every graft main
  * takes its session from here, so a query runs under the same engine
  * configuration whichever tool runs it. */
object Sessions {
  /** Cores a graft main runs on: SPARK_GRAFT_CPUS if set, else every
    * core the JVM sees. */
  lazy val cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int, appName: String = "graft"): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Runs a battery of queries on one session of [[cores]] cores:
    * `warmUp` once on the fresh session, then `run` per item, in order.
    *
    * Long batteries accumulate localCheckpoint blocks across queries
    * (each query's checkpoints are correct for its own latency, but a
    * 300-query session hoards them until the block store wedges: at
    * sf3, query 14 of a heavy 15-query run stalled on checkpoint
    * writes that a fresh JVM absorbed in minutes). So before every
    * item the previous query's persisted blocks and cached plans are
    * dropped, outside anything `run` times, and every `recycleEvery`
    * items (0 never) the session is restarted so heaps, shuffle dirs
    * and the block manager start from zero. Never between a query's
    * own runs: those all happen inside one `run`. The session is
    * stopped when the battery ends. */
  def battery[A, R](appName: String, recycleEvery: Int, items: Seq[A])(
      warmUp: SparkSession => Unit)(run: (SparkSession, A) => R): Seq[R] = {
    def open(): SparkSession = {
      val s = local(cores, appName)
      s.sparkContext.setLogLevel("WARN")
      s
    }
    var spark = open()
    try {
      warmUp(spark)
      var sinceRecycle = 0
      items.iterator.map { item =>
        try {
          spark.sparkContext.getPersistentRDDs.values.foreach(SessionBridge.unpersist)
          spark.catalog.clearCache()
        } catch { case NonFatal(_) => () }
        if (recycleEvery > 0 && sinceRecycle >= recycleEvery) {
          spark.stop()
          spark = open()
          sinceRecycle = 0
        }
        sinceRecycle += 1
        run(spark, item)
      }.toVector
    } finally spark.stop()
  }
}
