package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Driver-side reads of session state that Spark keeps behind
  * `private[sql]`/`private[spark]` (the session's catalog and conf,
  * `StructType.asNullable`, `SparkContext.unpersistRDD`), bridged from
  * a sub-package of `org.apache.spark.sql` as [[ColumnBridge]] is. None
  * of them runs a Spark job. */
object SessionBridge {
  private def classicSession(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]

  /** The schema `spark.read.parquet(file).schema` infers for one parquet
    * file, read from its footer on the driver with the routine the
    * batch reader's inference job runs per footer, and a converter built
    * from the session conf (so `nanosAsLong`, `binaryAsString` and the
    * like apply). File sources read every column as nullable. */
  def parquetSchema(spark: SparkSession, file: String): StructType = {
    val state = classicSession(spark).sessionState
    val path = new Path(file)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(path, state.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
      new ParquetToSparkSchemaConverter(state.conf)).asNullable
  }

  /** Names of the session's local temporary views that match `pattern`
    * (`*` is a wildcard), straight from the session catalog. */
  def localTempViews(spark: SparkSession, pattern: String): Seq[String] =
    classicSession(spark).sessionState.catalog.listLocalTempViews(pattern).map(_.table)

  /** Drops `rdd`'s blocks and its persisted-RDD entry without waiting.
    * `RDD.unpersist` does the same but warns for every locally
    * checkpointed RDD that its lineage is gone, which a loop that
    * releases each round's checkpointed state knows. */
  def unpersist(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
