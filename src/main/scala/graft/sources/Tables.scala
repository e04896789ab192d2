package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated TPC-H-ish testdata.
  *
  * All loaders go through `spark.read.parquet` so Catalyst gets native
  * datasource-v2 scans: filter pushdown and column pruning reach the
  * parquet reader (check `PushedFilters`/`ReadSchema` in .explain).
  * At 100 TB the same call reads a partitioned directory tree; partition
  * pruning then composes with the pushed filters for free.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Collision-proof tag for a corpus dir in the names of the files
    * derived from it (md5 prefix, not String.hashCode: "Aa" and "BB"
    * share a hashCode, and two dirs sharing a tag would share, or
    * delete, each other's staged sources, sinks and model maps). */
  private[graft] def dirTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString

  /** Fan a narrow scan across the session's cores before a map-heavy
    * stage. The sandbox testdata arrives as SINGLE-row-group parquet —
    * an unsplittable one-task scan however small maxPartitionBytes goes
    * — which serializes the whole map phase of a map-dominated operator
    * at local[32]. The guard makes this a no-op whenever the scan is
    * already at least half as wide as the session (every production
    * table: thousands of row groups/files), so NO shuffle is added at
    * the scale the guard exists to protect; locally it trades one tiny
    * shuffle of the projected columns for a 32× parallel map.
    *
    * Guard detail: the partition count alone over-counts — Spark
    * splits a parquet file into byte ranges regardless of row groups,
    * so ONE row group bigger than maxPartitionBytes yields many
    * partitions of which only one bears rows. The file count catches
    * that case (few files → suspect narrow); a scan that is wide by
    * BOTH signals is left untouched. The residual false positive — a
    * single multi-GB file with many healthy row groups — pays one
    * avoidable shuffle, the cheaper error by far; the real fix for
    * such a layout is rewriting the table. */
  def widened(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val target = sc.defaultParallelism
    val narrow = df.rdd.getNumPartitions * 2 <= target ||
      df.inputFiles.length * 2 <= target
    if (narrow) df.repartition(target) else df
  }

  /** `events.ts` has shipped in two physical encodings across testdata
    * generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized
    * reader rejects, so it is read as long nanos (legacy conf) and
    * converted — and plain TIMESTAMP(MICROS) without UTC adjustment,
    * which Spark reads as TIMESTAMP_NTZ. Both normalize to the same
    * session-UTC microsecond TimestampType instant DuckDB sees, so
    * every downstream operator and oracle is encoding-agnostic. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    raw.schema("ts").dataType match {
      // integer division: `/` on columns is double division, and nano
      // epochs (~1.7e18) exceed double's 2^53 mantissa — off-by-1µs drift
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      // TIMESTAMP_NTZ: under the fixed UTC session zone this cast is a
      // pure re-tag — same micros value, now comparable via unix_millis
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
