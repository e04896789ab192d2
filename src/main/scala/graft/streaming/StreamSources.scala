package graft.streaming

import java.nio.file.{FileAlreadyExistsException, Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SessionBridge
import org.apache.spark.sql.types._

/** The pluggable streaming SOURCE seam — what the reference wires to
  * Kafka in every streaming job (um/re/streaming/Htmls2PredsPipe
  * .scala:79-87 builds its DStream from a topic + broker list held in
  * config; startKafka.sh provisions the topic). The sandbox has no
  * Kafka broker, so the driver contract runs every stream off staged
  * parquet file sources — but which transport feeds a pipeline must be
  * a CONFIG decision, not a code change, or the pipe isn't deployable.
  *
  * A [[SourceSpec]] is that config: format + options + declared schema
  * + a normalization step from the transport's physical rows to the
  * logical table the pipeline was written against. Swapping the
  * events feed from files to Kafka is
  * {{{
  * SourceSpec("kafka",
  *   Map("kafka.bootstrap.servers" -> brokers, "subscribe" -> topic),
  *   schema = None, // Kafka's fixed key/value/timestamp schema
  *   normalize = df => df.select(
  *     from_json(col("value").cast("string"), eventsJsonSchema).as("e"))
  *     .select("e.*"))
  * }}}
  * — every operator downstream of [[read]] is untouched, because each
  * pipeline consumes only the normalized logical columns. The SINK
  * seam is split the same way: [[TableSink]] is the keyed/append
  * durable sink (swap the foreachBatch body's `write.parquet` for a
  * Kafka producer or Cassandra mutation to change transport), and the
  * memory sink in StreamingQueries.runToMemory is the driver-contract
  * result channel.
  *
  * Describing a file source runs no Spark job: the physical schema is
  * read from one parquet footer on the driver
  * ([[org.apache.spark.sql.graft.SessionBridge.parquetSchema]]), not by
  * the batch reader's schema-inference job, and afresh on every call,
  * so a rewritten corpus is never described by a stale schema. A table
  * may be one parquet file or a parquet directory; see [[stageStreamDir]].
  */
private[graft] object StreamSources {

  /** One streaming source, fully described: `format`+`options`+`path`
    * pick the transport, `schema` declares physical rows where the
    * transport needs it (file sources; Kafka supplies its own), and
    * `normalize` maps physical rows to the pipeline's logical table. */
  final case class SourceSpec(
      format: String,
      options: Map[String, String] = Map.empty,
      path: Option[String] = None,
      schema: Option[StructType] = None,
      normalize: DataFrame => DataFrame = identity)

  /** Materialize the spec: the ONLY place a pipeline touches
    * `readStream`. */
  def read(spark: SparkSession, spec: SourceSpec): DataFrame = {
    val r0 = spark.readStream.format(spec.format).options(spec.options)
    val r = spec.schema.fold(r0)(r0.schema)
    spec.normalize(spec.path.fold(r.load())(r.load))
  }

  /** Where the file source reads `table` from, and one file whose
    * footer holds its schema. A table that is a parquet DIRECTORY (what
    * `DataFrame.write.parquet` writes) is read in place: the source lists
    * its part files, and the first `part-*.parquet` holds the footer. A
    * single-file table (what the testdata ships) is staged as a symlink
    * in a directory of its own, because the file source wants a
    * directory (a real deployment points at a Kafka topic or a landing
    * directory instead). Two JVMs may stage the same table at once: a
    * link that already exists is accepted when it points at the same
    * file. */
  private def stageStreamDir(dir: String, table: String): (String, String) = {
    val src = Paths.get(s"$dir/$table.parquet")
    if (Files.isDirectory(src)) {
      val parts = Option(src.toFile.list()).toSeq.flatten
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).sorted
      require(parts.nonEmpty, s"$src holds no part-*.parquet file")
      (src.toString, s"$src/${parts.head}")
    } else {
      val streamDir = new java.io.File(
        s"/tmp/graft_stream_${table}_${graft.sources.Tables.dirTag(dir)}")
      streamDir.mkdirs()
      val link = new java.io.File(streamDir, s"$table.parquet").toPath
      try Files.createSymbolicLink(link, src)
      catch {
        case _: FileAlreadyExistsException
          if Files.readSymbolicLink(link) == src =>
      }
      (streamDir.getAbsolutePath, src.toString)
    }
  }

  /** Staged-parquet source for any testdata table; its physical schema
    * comes from the parquet footer, read on the driver. */
  def tableFileSource(spark: SparkSession, dir: String, table: String): SourceSpec = {
    val (path, footer) = stageStreamDir(dir, table)
    SourceSpec("parquet", path = Some(path),
      schema = Some(SessionBridge.parquetSchema(spark, footer)))
  }

  private def eventsSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType), // long nanos OR timestamp, see below
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Staged-parquet source for `events`, whose `ts` has shipped in two
    * physical encodings across testdata generations (TIMESTAMP(NANOS)
    * read as long nanos under the legacy conf, vs TIMESTAMP(MICROS)/
    * NTZ) — the normalization maps both to the same session-UTC
    * microsecond TimestampType instant, so every stream operator is
    * encoding-agnostic. Exactly the role a Kafka spec's `normalize`
    * plays for its value payload. */
  def eventsFileSource(spark: SparkSession, dir: String): SourceSpec = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val (path, footer) = stageStreamDir(dir, "events")
    val physical = SessionBridge.parquetSchema(spark, footer)("ts").dataType
    SourceSpec("parquet",
      path = Some(path),
      schema = Some(eventsSchema(physical)),
      normalize = raw => physical match {
        // integer division: `/` on columns is double division, and nano
        // epochs (~1.7e18) exceed double's 2^53 mantissa — off-by-1µs
        case LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampType => raw
        // TIMESTAMP_NTZ: under the fixed UTC session zone this cast is
        // a pure re-tag — same micros value, comparable via unix_millis
        case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
      })
  }
}
