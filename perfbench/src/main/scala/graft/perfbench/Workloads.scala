package graft.perfbench

import graft.functions.{LocalText, PriceCandidates, PriceExtract, Text}
import graft.ml.ModelMap
import graft.operators.{Dedup, Graph}
import graft.sources.Tables
import graft.streaming.{StreamSources, StreamingQueries}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer

/** Runs one timed call into the program: `name` is the call's metric
  * name, `layer` the module it enters. */
trait Call {
  def apply(name: String, layer: String)(body: => Unit): Unit
}

/** The outcome of checking one pass's outputs against the generator's
  * truth: operations whose output was wrong, a digest of the outputs
  * (the same for every run of one seed), and notes on what was wrong. */
final case class Check(failedOps: Long, digest: String, notes: Seq[String])

/** One workload: its inputs, its timed pass, its output check and its
  * layer probes. A workload runs alone in its JVM, so the program's
  * per-JVM caches (the model map, checkpoint blocks) never carry over. */
trait Workload {
  def name: String
  /** Input sizes, recorded with the seed. */
  def inputs: Seq[(String, Double)]
  /** Operations in one pass: pages, events or graph calls. */
  def opsPerPass: Long
  /** Rows the pass reads from its input tables. */
  def inputRows: Long
  /** Amounts one pass processes, by the name of their per-second rate. */
  def perSecond: Map[String, Double] = Map.empty
  /** Rows a traced pass's streaming queries must deliver to their sinks. */
  def streamRows: Option[Long] = None
  /** Generates the seed's inputs under `dir`; returns their digest. */
  def generate(spark: SparkSession, dir: String, seed: Long, cores: Int): String
  /** Set-up after generation; returns the seconds spent training. */
  def prepare(spark: SparkSession, dir: String): Double = 0.0
  def pass(spark: SparkSession, dir: String, call: Call): Unit
  /** The warm-up: runs the timed calls once, untimed, exactly as a timed
    * pass does, and checks their outputs. */
  def check(spark: SparkSession, dir: String): Check
  /** Seconds of untimed passes, the check's included, before timing. */
  def warmUpS: Double = 0.0
  /** Set-ups per run; `setup_s` is their median. The first is cold. */
  def setupReps: Int = 3
  /** Layer probes of a traced pass. A fused Spark stage cannot be cut
    * by spans, so a layer's time is what its operators add to the plan:
    * the run of the plan prefix that ends in the layer, minus the prefix
    * before it. */
  def probes(spark: SparkSession, dir: String, trace: Trace): Map[String, Double]
  /** Single-thread rates of the layer kernels on the workload's sample. */
  def core(spark: SparkSession, dir: String, trace: Trace): Map[String, Double]
  /** Removes what the program wrote outside `dir` for these inputs. */
  def cleanup(spark: SparkSession, dir: String): Unit = ()
}

object Workloads {
  val names: Seq[String] = Seq("stream_pipe", "graph_loops")

  /** The workload `name` with its input sizes multiplied by `scale`. */
  def apply(name: String, scale: Double): Workload = name match {
    case "stream_pipe" => new StreamPipe(scale)
    case "graph_loops" => new GraphLoops(scale)
    case other => throw new IllegalArgumentException(
      s"unknown workload ${Json.str(other)}; expected one of ${names.mkString(", ")}")
  }

  val untimed: Call = new Call {
    def apply(name: String, layer: String)(body: => Unit): Unit = body
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def digestOf(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def medianOf(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Probe the wall seconds of `body` inside a span. */
  def timed(trace: Trace, name: String, layer: String)(body: => Unit): Double =
    trace.span(name, layer)(body)._2.seconds

  @volatile var blackhole = 0L

  /** Median per-round rate of `units` per second over rounds of `body`,
    * for at least `minS` seconds and three rounds. */
  def rate(units: Double, minS: Double = 0.4)(body: => Long): Double = {
    val rates = ArrayBuffer.empty[Double]
    val end = System.nanoTime() + (minS * 1e9).toLong
    while (System.nanoTime() < end || rates.size < 3) {
      val t0 = System.nanoTime()
      blackhole += body
      rates += units / ((System.nanoTime() - t0) / 1e9)
    }
    medianOf(rates.toSeq)
  }

  /** Single-thread MB/s of the extraction kernel and rows/s of the
    * per-candidate text kernels the streaming scorer runs. */
  def textCore(trace: Trace, pages: Seq[UTF8String]): Map[String, Double] = {
    val mb = pages.map(_.numBytes.toLong).sum / 1e6
    val extractRate = trace.span("functions.PriceExtract.extract", "functions")(
      rate(mb)(pages.map(p => PriceExtract.extract(p).numElements.toLong).sum))._1
    // (candidate, text_before + text_after)
    val cands = pages.flatMap { p =>
      val a = PriceExtract.extract(p)
      (0 until a.numElements).map { i =>
        val r = a.getStruct(i, 4)
        (r.getUTF8String(0).toString, r.getUTF8String(1).toString + r.getUTF8String(2).toString)
      }
    }
    val normalizeRate = trace.span("functions.LocalText", "functions")(
      rate(cands.size.toDouble)(cands.iterator.map { case (c, data) =>
        LocalText.parsePriceLocale(c).size.toLong + LocalText.tokenize(data).length +
          LocalText.charGrams(data, 3).size + LocalText.charGrams(data, 4).size
      }.sum))._1
    Map("functions.extract_mb_s_core" -> extractRate,
      "functions.normalize_rows_s_core" -> normalizeRate)
  }
}

import Workloads._

// -----------------------------------------------------------------------------
// stream_pipe
// -----------------------------------------------------------------------------

/** The flagship scorer: many small synthesized pages through extraction,
  * featurization, the GBT margin and the price decision, driven as a
  * micro-batch stream. */
final class StreamPipe(scale: Double) extends Workload {
  val name = "stream_pipe"
  /** Events at testdata scale factor 0.006 (sf × 1,000,000). */
  private val Events = math.round(6000 * scale).toInt
  private var events: IndexedSeq[Gen.Event] = IndexedSeq.empty

  def inputs: Seq[(String, Double)] = Seq("events" -> events.size.toDouble) ++
    Gen.EventTypes.map(t => s"events_$t" -> events.count(_.eventType == t).toDouble)
  def opsPerPass: Long = events.size.toLong
  def inputRows: Long = events.size.toLong
  /** Pass times fall for the first several passes while the scorer's
    * kernels compile. */
  override def warmUpS: Double = 6.0
  override def perSecond: Map[String, Double] = Map("events_per_s" -> events.size.toDouble)
  override def streamRows: Option[Long] = Some(events.size.toLong)

  /** Writes one parquet file at `dir/events.parquet`: the stream source
    * stages exactly that path. */
  def generate(spark: SparkSession, dir: String, seed: Long, cores: Int): String = {
    events = Gen.events(seed, Events)
    val schema = StructType(Seq(StructField("event_id", LongType), StructField("ts_us", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val rows = events.map(e => Row(e.eventId, e.tsMicros, e.userId, e.eventType, e.value, e.props))
    val tmp = s"$dir/events_parts"
    val key = "spark.sql.parquet.outputTimestampType"
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(tmp)
    finally spark.conf.unset(key)
    val part = new java.io.File(tmp).listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/events.parquet"))
    deleteTree(new java.io.File(tmp))
    digestOf(events.iterator.map(_.toString))
  }

  override def prepare(spark: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    ModelMap.ensure(spark, dir)
    (System.nanoTime() - t0) / 1e9
  }

  def pass(spark: SparkSession, dir: String, call: Call): Unit =
    call("stream_pipe", "streaming")(noop(StreamingQueries.streamPipe(spark, dir)))

  def check(spark: SparkSession, dir: String): Check = {
    pass(spark, dir, untimed)
    val rows = StreamingQueries.streamPipe(spark, dir).collect()
    val got = rows.map(r => r.getLong(0) -> Gen.PipeRow(r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getDouble(3), r.getString(4), r.getDouble(5))).toMap
    val notes = ArrayBuffer.empty[String]
    var failed = 0L
    events.foreach { e =>
      val want = Gen.pipeOracle(e)
      if (!got.get(e.eventId).contains(want)) {
        failed += 1
        if (notes.size < 5) notes += s"event ${e.eventId} (${e.eventType}): got ${got.get(e.eventId)} want $want"
      }
    }
    failed += rows.length - got.size + (got.keySet -- events.map(_.eventId)).size
    val digest = digestOf(got.toSeq.sortBy(_._1).iterator.map(_._2.toString))
    Check(failed, digest, notes.toSeq)
  }

  private def pageSource(spark: SparkSession, dir: String): DataFrame =
    Tables.widened(Tables.events(spark, dir))

  def probes(spark: SparkSession, dir: String, trace: Trace): Map[String, Double] = {
    // the columns the pipe reads, so the extraction probe adds only extraction
    val scan = timed(trace, "sources.Tables.events", "sources")(
      noop(pageSource(spark, dir).select("event_id", "user_id", "event_type", "value")))
    val candidates = ModelMap.syntheticPages(pageSource(spark, dir))
      .select(col("event_id"), explode(PriceCandidates.priceCandidates(col("html"))).as("c"))
    val extract = timed(trace, "functions.PriceCandidates.priceCandidates", "functions")(
      noop(candidates))
    // the text functions over every candidate the pass extracts
    val normalize = timed(trace, "functions.Text", "functions")(noop(candidates.select(
      col("event_id"), Text.parsePriceLocale(col("c.candidate")),
      Text.shrinkString(col("c.text_before")), Text.shrinkString(col("c.text_after")),
      Text.tokenize(col("c.text_before")), Text.tokenize(col("c.text_after")))))
    // the decision layer alone, over this pass's scored rows
    val scored = StreamingQueries.streamPipe(spark, dir)
      .select("event_id", "updated_price", "model_price").localCheckpoint()
    val decide = timed(trace, "ml.Text.decisionStatus", "ml")(noop(scored
      .withColumn("status", Text.decisionStatus(col("model_price"), col("updated_price")))
      .withColumn("decided", Text.decidePrice(col("status"), col("updated_price"), col("model_price")))))
    Map("sources.scan_s" -> scan, "functions.extract_s" -> math.max(0.0, extract - scan),
      "functions.normalize_s" -> math.max(0.0, normalize - extract), "ml.decide_s" -> decide)
  }

  def core(spark: SparkSession, dir: String, trace: Trace): Map[String, Double] = {
    val pages = ModelMap.syntheticPages(Tables.events(spark, dir).filter(col("event_id") < 5000))
      .select("domain", "html").collect().map(r => (r.getString(0), r.getString(1)))
    val text = textCore(trace, pages.map(p => UTF8String.fromString(p._2)).toSeq)
    val models = ModelMap.ensure(spark, dir)
    // the pipe's per-candidate scoring inputs: price-shaped, parseable
    // candidates of pages whose domain has a model
    val perPage = pages.iterator.flatMap { case (domain, html) =>
      val a = PriceExtract.extract(UTF8String.fromString(html))
      (0 until a.numElements).map(i => (domain, html.length, a.getStruct(i, 4)))
    }.flatMap { case (domain, len, r) =>
      val c = r.getUTF8String(0).toString
      models.get(domain).filter(_ => (c.contains(".") || c.contains(",")) &&
        LocalText.parsePriceLocale(c).isDefined).map { dm =>
        val data = r.getUTF8String(1).toString + r.getUTF8String(2).toString + domain
        val terms = LocalText.charGrams(data, 3) ++ LocalText.charGrams(data, 4) ++
          LocalText.tokenize(data)
        (dm, terms, r.getInt(3).toDouble / len)
      }
    }.toVector
    require(perPage.nonEmpty, "stream_pipe sample has no scored candidates")
    val featurize = trace.span("ml.TopKByAvgTFIDFModel.transformLocal", "ml")(
      rate(perPage.size.toDouble)(perPage.iterator.map { case (dm, t, l) =>
        dm.featurizer.transformLocal(t, l).size.toLong }.sum))._1
    val feats = perPage.map { case (dm, t, l) => (dm, dm.featurizer.transformLocal(t, l)) }
    val score = trace.span("ml.ModelMap.confidence", "ml")(
      rate(feats.size.toDouble)(feats.iterator.map { case (dm, f) =>
        if (ModelMap.confidence(dm.gbt, f) > 0) 1L else 0L }.sum))._1
    // every candidate the pass extracts, and the price-shaped share the
    // scorer keeps
    val counts = ModelMap.syntheticPages(Tables.events(spark, dir))
      .select(explode(PriceCandidates.priceCandidates(col("html"))).as("c"))
      .agg(count(lit(1)), sum(when((col("c.candidate").contains(".") ||
        col("c.candidate").contains(",")) && Text.parsePriceLocale(col("c.candidate")).isNotNull,
        1L).otherwise(0L)))
      .head()
    val n = counts.getLong(0).toDouble
    text ++ Map("ml.featurize_rows_s_core" -> featurize, "ml.score_rows_s_core" -> score,
      "functions.candidates" -> n,
      "functions.price_shaped_frac" -> (if (n > 0) counts.getLong(1) / n else 0.0))
  }

  /** The program stages the stream source and persists the model map
    * outside `dir`, at paths derived from `dir`; remove both. */
  override def cleanup(spark: SparkSession, dir: String): Unit = {
    StreamSources.eventsFileSource(spark, dir).path.foreach(p => deleteTree(new java.io.File(p)))
    deleteTree(new java.io.File(ModelMap.defaultPath(spark, dir)))
  }

}

// -----------------------------------------------------------------------------
// graph_loops
// -----------------------------------------------------------------------------

/** The iterative graph operators: three shuffle-bound loops over the
  * co-order graph and the job-count-bound connected-components loop.
  * No extraction or model work. */
final class GraphLoops(scale: Double) extends Workload {
  val name = "graph_loops"
  /** The lineitem table's testdata scale factor. */
  private val Sf = 0.002 * scale
  private var lines: IndexedSeq[Gen.Line] = IndexedSeq.empty
  private var edges: Set[(Long, Long)] = Set.empty
  private var nodes: Set[Long] = Set.empty
  private var graph: Gen.PairGraph = Gen.PairGraph(IndexedSeq.empty, IndexedSeq.empty, Map.empty, 0)

  def inputs: Seq[(String, Double)] = Seq("lineitem_rows" -> lines.size.toDouble,
    "co_order_edges" -> edges.size.toDouble,
    "co_order_nodes" -> nodes.size.toDouble,
    "pair_edges" -> graph.pairs.size.toDouble,
    "planted_components" -> graph.sizes.size.toDouble,
    "largest_component" -> graph.sizes.max.toDouble,
    "components_rounds" -> graph.rounds.toDouble)
  def opsPerPass: Long = 4L
  /** A set-up takes about a second once the JVM is warm: take more. */
  override def setupReps: Int = 5
  def inputRows: Long = lines.size.toLong + graph.pairs.size

  def generate(spark: SparkSession, dir: String, seed: Long, cores: Int): String = {
    lines = Gen.lineitems(seed, Sf)
    edges = Gen.coOrderEdges(lines)
    nodes = edges.flatMap { case (a, b) => Seq(a, b) }
    graph = Gen.pairGraph(seed ^ 0x5DEECE66DL, nodes = math.round(5000 * scale).toInt,
      sortedChains = 3, sortedLen = 64, randomChains = 3, randomLen = 20, randomRounds = 10,
      maxTree = 16)
    import spark.implicits._
    spark.createDataFrame(lines.map(l => (l.orderKey, l.partKey, l.suppKey, l.lineNumber,
        l.quantity, l.extendedPrice, l.discount, l.tax, l.returnFlag, l.lineStatus,
        l.shipDateMicros)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "ship_us")
      .select(col("*"), timestamp_micros(col("ship_us")).as("l_shipdate")).drop("ship_us")
      .repartition(cores).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    graph.pairs.toDF("id_a", "id_b").repartition(cores)
      .write.mode("overwrite").parquet(s"$dir/pairs.parquet")
    digestOf(lines.iterator.map(_.toString) ++ graph.pairs.iterator.map(_.toString))
  }

  private def pairs(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "pairs")

  /** Rows of the last pass, by call. The graph outputs are small (one
    * row per node at most), so each call materializes by collecting its
    * rows, and the warm-up pass that the check reads runs exactly the
    * plans the timed passes run. */
  private val last = scala.collection.mutable.Map.empty[String, Array[Row]]

  def pass(spark: SparkSession, dir: String, call: Call): Unit = {
    call("pagerank", "operators")(last("pagerank") = Graph.pagerank(spark, dir).collect())
    call("kcore", "operators")(last("kcore") = Graph.kcore(spark, dir).collect())
    call("label_prop", "operators")(last("label_prop") = Graph.labelProp(spark, dir).collect())
    call("components", "operators")(
      last("components") = Dedup.componentLabels(pairs(spark, dir)).collect())
  }

  def check(spark: SparkSession, dir: String): Check = {
    val notes = ArrayBuffer.empty[String]
    def verdict(call: String, ok: Boolean, why: => String): Int =
      if (ok) 0 else { notes += s"$call: $why"; 1 }
    val degree = edges.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    last.clear()
    pass(spark, dir, untimed)

    val pr = last("pagerank").map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val prOk = pr.length == nodes.size && pr.forall { case (n, d, _) => degree.get(n).contains(d) }

    val kc = last("kcore")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val census = kc.groupBy(_._1).map { case (f, rs) => f -> rs.sortBy(_._3).map(_._4).toSeq }
    val kcOk = census.nonEmpty && census.values.forall { ns =>
      ns.head == nodes.size && ns.zip(ns.tail).forall { case (a, b) => b <= a }
    }

    val lp = last("label_prop").map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lpSizes = lp.groupBy(_._2).map { case (c, rs) => c -> rs.length.toLong }
    val lpOk = lp.length == nodes.size && lp.map(_._1).toSet == nodes &&
      lp.forall { case (_, c, s) => lpSizes(c) == s }

    val cc = last("components").map(r => r.getLong(0) -> r.getLong(1))
    val ccSizes = cc.groupBy(_._2).values.map(_.length).toSeq.sorted
    val ccOk = cc.length == graph.minLabel.size && cc.forall { case (n, l) => graph.minLabel.get(n).contains(l) } &&
      ccSizes == graph.sizes.sorted

    val failed = verdict("pagerank", prOk, s"${pr.length} nodes, want ${nodes.size}, or a wrong degree") +
      verdict("kcore", kcOk, s"census $census starts off ${nodes.size} nodes or grows") +
      verdict("label_prop", lpOk, s"${lp.length} nodes, want ${nodes.size}, or a wrong community size") +
      verdict("components", ccOk, s"${ccSizes.size} components, want ${graph.sizes.size}, or a wrong label")
    val digest = digestOf(pr.sorted.iterator.map(_.toString) ++ kc.sorted.iterator.map(_.toString) ++
      lp.sorted.iterator.map(_.toString) ++ cc.sorted.iterator.map(_.toString))
    Check(failed.toLong, digest, notes.toSeq)
  }

  def probes(spark: SparkSession, dir: String, trace: Trace): Map[String, Double] = {
    val scan = timed(trace, "sources.Tables.lineitem", "sources") {
      noop(Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey"))
      noop(pairs(spark, dir))
    }
    Map("sources.scan_s" -> scan)
  }

  def core(spark: SparkSession, dir: String, trace: Trace): Map[String, Double] = Map.empty
}
