package graft

import org.apache.spark.sql.graft.SessionBridge

/** The two seams every stream query shares, `StreamSources` and the
  * memory sink: the schema they read on the driver must be the one the
  * batch reader infers, and a warm pass must run no Spark job outside
  * its micro-batch. */
class StreamSeamSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("the footer schema is the schema the batch reader infers") {
    val tables = new java.io.File(sf).list().filter(_.endsWith(".parquet")).sorted
    assert(tables.length >= 10, s"testdata tables: ${tables.mkString(", ")}")
    tables.foreach { t =>
      val f = s"$sf/$t"
      assert(SessionBridge.parquetSchema(spark, f) == spark.read.parquet(f).schema, t)
    }
    // Spark's own writer stores its schema in the footer, non-nullable
    // columns included; the reader still reads them as nullable
    val dir = s"${tmpDir("graft_footer")}/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1).write.parquet(dir)
    val part = new java.io.File(dir).list().filter(_.startsWith("part-")).head
    assert(SessionBridge.parquetSchema(spark, s"$dir/$part") == spark.read.parquet(dir).schema)
  }

  test("the footer schema follows nanosAsLong for a TIMESTAMP(NANOS) events file") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,true));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val f = s"${tmpDir("graft_nanos")}/events.parquet"
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(f))
      .withType(schema).build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
        .append("event_id", 1L).append("ts", 1767225600123456789L).append("user_id", 7L)
        .append("event_type", "view").append("value", 1.5).append("props", "{}")
      w.write(g)
    } finally w.close()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val footer = SessionBridge.parquetSchema(spark, f)
    assert(footer("ts").dataType == org.apache.spark.sql.types.LongType)
    assert(footer == spark.read.parquet(f).schema)
  }

  test("a warm stream pipe call runs its micro-batch and no other job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val pipe = SparkEntry.queries("q_stream_pipe")
    pipe(spark, sf).collect() // trains or loads the model map
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(
        (e.stageInfos.exists(_.rddInfos.exists(_.name == "barrier")),
          e.stageInfos.map(_.name).mkString(" | ")))
    }
    spark.sparkContext.addSparkListener(listener)
    val plan = try {
      val df = pipe(spark, sf)
      df.write.format("noop").mode("overwrite").save()
      // the bus delivers in order: once this job is seen, so are the call's
      spark.sparkContext.parallelize(Seq(1), 1).setName("barrier").count()
      val deadline = System.nanoTime + 60L * 1000000000L
      while (!jobs.asScala.exists(_._1) && System.nanoTime < deadline)
        Thread.sleep(20)
      df.queryExecution.executedPlan.toString
    } finally spark.sparkContext.removeSparkListener(listener)
    val called = jobs.asScala.toSeq.filterNot(_._1).map(_._2)
    // the micro-batch (scan + repartition, then scoring) and the noop write
    assert(called.size <= 4, s"${called.size} jobs:\n${called.mkString("\n")}")
    assert(!plan.contains("Exchange"), plan)
  }
}
