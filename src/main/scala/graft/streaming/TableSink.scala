package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.LongType

/** Durable keyed sink for Update-mode streams — the reference's
  * per-partition Cassandra upsert contract (streaming/Push2Cassandra
  * .scala:24-41: each RDD partition writes its rows into a keyed
  * Cassandra table; readers see last-write-wins per key) re-expressed
  * as a partitioned parquet table, with no driver-side state at all.
  *
  * Write path (the LSM shape Cassandra itself uses): every micro-batch
  * appends its changed rows under its own `batch=<id>` partition —
  * executors write their partitions directly, the driver never
  * collects. A REPLAYED batch (restart mid-commit) overwrites its own
  * partition and nothing else, which makes the write idempotent at
  * batch granularity — the standard exactly-once `foreachBatch`
  * recipe. Work per trigger ∝ that trigger's changed keys (Update-mode
  * deltas), never the table.
  *
  * Read path: newest-wins per key — one `row_number` over (key) by
  * batch id descending, i.e. Cassandra's read-repair merge as a plan.
  * Merge cost ∝ accumulated updates; a production table bounds that
  * with periodic compaction ([[compactTo]]: rewrite the merged view as
  * one partition above every id it folds, drop the folded partitions —
  * the same maintenance Cassandra amortizes into its compaction
  * threads). Partition pruning keeps a point query
  * from touching compacted-away history.
  *
  * The table lives under /tmp and is wiped when the SAME query starts
  * a fresh run (bench reruns must not merge against a previous run's
  * batch ids, which restart at 0); a real deployment keeps one durable
  * path per query and never wipes — batch ids are monotone under a
  * checkpoint.
  */
private[graft] object TableSink {

  /** Scheduled-compaction period: every N-th trigger folds the log
    * into one partition FROM INSIDE the sink, so the read-side merge
    * cost stays bounded by N partitions however long the stream runs
    * — Cassandra's compaction thread, amortized into the write path. */
  private[graft] val CompactEvery = 8

  /** The deterministic sink path for a (query tag, source) pair —
    * exposed so specs can inspect the partition layout. */
  private[graft] def sinkDir(tag: String, src: String): String =
    s"/tmp/graft_table_sink/${tag}_${graft.sources.Tables.dirTag(src)}"

  /** Delete a file or a directory tree. */
  private def rm(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(rm)
    f.delete(): Unit
  }

  /** One table directory per (query tag, source dir), wiped at the
    * start of each run: this run's stream owns the table. */
  private def freshDir(tag: String, src: String): String = {
    val d = new java.io.File(sinkDir(tag, src))
    rm(d)
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Trigger writes land on EVEN ids (2·batchId) and in-stream
    * compaction on the deterministic ODD id 2·batchId+1: the
    * compacted snapshot outranks every partition it folded, the next
    * trigger (2·batchId+2) outranks the snapshot, and a REPLAY of
    * either write overwrites its own partition only — idempotence
    * needs no max()-derived id that a crash could make collide.
    * `compactKeys` = Some(keys) arms the scheduled compaction
    * (upsert logs); appendLog passes None — facts don't merge, so
    * folding them buys nothing. */
  private def runTo(dir: String, updates: DataFrame,
      compactKeys: Option[Seq[String]]): Unit = {
    val schema = updates.schema
    val q = updates.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // executor-side partition write; overwrite scoped to THIS
        // batch's partition so a replay is a no-op-equivalent
        batch.write.mode("overwrite").parquet(s"$dir/batch=${2 * batchId}")
        compactKeys.foreach { keys =>
          if (batchId > 0 && batchId % CompactEvery == 0)
            compactTo(batch.sparkSession, dir, keys, schema, 2 * batchId + 1)
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def readLog(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val logSchema = schema.add("batch", LongType)
    val any = new java.io.File(dir).listFiles()
    if (any == null || any.isEmpty) // empty stream wrote no batch
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], logSchema)
    // the table dir itself, not a `batch=*` glob: partition discovery
    // yields the `batch` column, and a glob path makes the reader log a
    // stack trace while it probes for a stream-sink metadata dir. The
    // schema the log was written with needs no inference job, and types
    // `batch` as a long.
    else spark.read.schema(logSchema).parquet(dir)
  }

  /** Run `updates` (one row per changed key per trigger) into the
    * table; return the converged newest-wins-per-key view. */
  def upsert(spark: SparkSession, updates: DataFrame, keys: Seq[String],
      tag: String, src: String): DataFrame = {
    val dir = freshDir(tag, src)
    runTo(dir, updates, Some(keys))
    merged(spark, dir, keys, updates.schema)
  }

  /** The last-write-wins merged view of an upsert log. */
  private[graft] def merged(spark: SparkSession, dir: String, keys: Seq[String],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("batch").desc)
    readLog(spark, dir, schema)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "batch")
  }

  /** Run `facts` (append-only rows, emitted exactly once upstream)
    * into the table; return the full fact log. The same idempotent
    * batch-partition write, no merge needed on read. */
  def appendLog(spark: SparkSession, facts: DataFrame,
      tag: String, src: String): DataFrame = {
    val dir = freshDir(tag, src)
    runTo(dir, facts, None)
    readLog(spark, dir, facts.schema).drop("batch")
  }

  /** In-stream compaction to a DETERMINISTIC target id (2·batchId+1):
    * fold the current log into one partition, then drop the folded
    * history. Crash-safe at every cut: a stale target from a crashed
    * earlier attempt is deleted first (its sources still exist —
    * cleanup is the LAST step, so a snapshot never outlives its
    * inputs until it is complete), the snapshot write is an
    * overwrite, and a replay recomputes the identical snapshot. */
  private[graft] def compactTo(spark: SparkSession, dir: String,
      keys: Seq[String], schema: org.apache.spark.sql.types.StructType,
      target: Long): Unit = {
    val stale = new java.io.File(s"$dir/batch=$target")
    if (stale.exists()) rm(stale)
    merged(spark, dir, keys, schema)
      .write.mode("overwrite").parquet(s"$dir/batch=$target")
    val live = new java.io.File(dir).listFiles()
    if (live != null)
      live.filter(_.getName.startsWith("batch="))
        .filter(_.getName.drop(6).toLong < target).foreach(rm)
  }
}
