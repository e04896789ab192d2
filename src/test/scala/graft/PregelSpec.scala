package graft

import graft.operators.{Dedup, Graph, Pregel}
import org.apache.spark.HashPartitioner
import org.apache.spark.graftspec.ShuffleRecorder
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import scala.util.{Failure, Success, Try}

/** The graph loops on the Pregel substrate against plain-Scala loops of
  * the same integer rules, over random small graphs. */
class PregelSpec extends SparkSpec {
  import spark.implicits._

  private type Pairs = Seq[(Long, Long)]

  private val id = Gen.choose(0L, 1000000L)
  /** Graph shapes by name; `random` draws dense little graphs. */
  private val shapes: Seq[(String, Gen[Pairs], Int)] = Seq(
    ("empty", Gen.const(Seq.empty), 1),
    ("one edge", Gen.zip(id, id).map(Seq(_)), 2),
    ("duplicate and reversed pairs", Gen.zip(id, id).map { case (a, b) => Seq((a, b), (b, a), (a, b)) }, 2),
    ("id_a == id_b", Gen.zip(id, id).map { case (a, b) => Seq((a, a), (a, b), (b, b)) }, 2),
    ("star", Gen.zip(id, Gen.listOfN(25, id)).map { case (c, ls) => ls.map(c -> _) }, 2),
    ("200-node chain over random ids",
      Gen.listOfN(200, id).map { xs => val ns = xs.distinct; ns.zip(ns.tail) }, 2),
    ("random", Gen.choose(1, 40).flatMap { n =>
      Gen.listOf(Gen.zip(Gen.choose(0L, n.toLong), Gen.choose(0L, n.toLong))) }, 8))

  private def check(name: String)(p: Pairs => Prop): Unit =
    shapes.foreach { case (shape, gen, n) => holds(s"$name on $shape", gen, n)(p) }

  private def holds[A](name: String, gen: Gen[A], n: Int)(p: A => Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(n).withWorkers(1),
      Prop.forAllNoShrink(gen)(p))
    assert(res.passed, s"$name: ${org.scalacheck.util.Pretty.pretty(res)}")
  }

  /** Messages for the by-node reductions: keys from a small pool (so
    * they repeat) plus the map's edge cases 0, Long.MinValue and
    * Long.MaxValue; spread over up to 9 slices (often more slices than
    * messages, so some map partitions are empty) and reduced into 1–9
    * partitions (often more than there are keys). */
  private case class Msgs(kvs: Seq[(Long, Long)], slices: Int, parts: Int)
  private def msgs(value: Gen[Long]): Gen[Msgs] = for {
    kvs <- Gen.listOf(Gen.zip(Gen.oneOf(Gen.choose(-3L, 3L), Gen.oneOf(0L, Long.MinValue, Long.MaxValue)), value))
    slices <- Gen.choose(1, 9)
    parts <- Gen.choose(1, 9)
  } yield Msgs(kvs, slices, parts)

  /** A run's rows sorted, or the class of the first ArithmeticException
    * (or else the top exception) it failed with. */
  private def outcome[A](rows: => Seq[A])(implicit ord: Ordering[A]): Either[String, Seq[A]] =
    Try(rows) match {
      case Success(r) => Right(r.sorted)
      case Failure(e) =>
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
        Left(chain.find(_.isInstanceOf[ArithmeticException]).getOrElse(e).getClass.getName)
    }

  /** The co-order loops' input shape: symmetric, distinct, no self-loop. */
  private def symmetric(ps: Pairs): Pairs =
    ps.flatMap { case (a, b) => if (a == b) Nil else Seq((a, b), (b, a)) }.distinct

  private def adjacency(es: Pairs): Map[Long, Seq[Long]] =
    es.groupBy(_._1).map { case (v, vs) => v -> vs.map(_._2).distinct }

  private def frame(es: Pairs): DataFrame = es.toDF("src", "dst")

  private def unionFindMin(ps: Pairs): Map[Long, Long] = {
    val up = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = up.getOrElseUpdate(x, x); if (p == x) x else find(p) }
    ps.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) up(math.max(ra, rb)) = math.min(ra, rb)
    }
    up.keys.map(x => x -> find(x)).toMap
  }

  /** q_pagerank's rule: 3 rounds, contrib = r div deg, 150000 + 850·Σ div 1000. */
  private def pagerank(es: Pairs): Seq[(Long, Long, Long)] = {
    val adj = adjacency(es)
    var r = adj.map { case (v, _) => v -> 1000000L }
    (1 to 3).foreach { _ =>
      val sums = (for ((v, ds) <- adj.toSeq; rv <- r.get(v).toSeq; u <- ds) yield u -> rv / ds.size)
        .groupMapReduce(_._1)(_._2)(_ + _)
      r = sums.map { case (u, s) => u -> (150000L + 850L * s / 1000) }
    }
    r.toSeq.collect { case (v, x) if adj.contains(v) => (v, adj(v).size.toLong, x) }.sorted
  }

  /** q_label_prop's rule: 3 rounds of the (cnt desc, label asc) vote. */
  private def labelProp(es: Pairs): Seq[(Long, Long, Long)] = {
    val adj = adjacency(es)
    var lab = adj.map { case (v, _) => v -> v }
    (1 to 3).foreach { _ =>
      lab = (for ((v, ds) <- adj.toSeq; l <- lab.get(v).toSeq; u <- ds) yield (u, l))
        .groupBy(_._1).map { case (u, vs) =>
          u -> vs.groupMapReduce(_._2)(_ => 1L)(_ + _).toSeq.minBy { case (l, c) => (-c, l) }._1
        }
    }
    val size = lab.values.groupMapReduce(identity)(_ => 1L)(_ + _)
    lab.toSeq.map { case (v, l) => (v, l, size(l)) }.sorted
  }

  /** q_kcore's rule: whole-bin rungs, KcoreRounds peels per rung. */
  private def kcore(es: Pairs): Seq[(String, Long, Long, Long)] = {
    val deg = adjacency(es).map { case (v, ds) => v -> ds.size.toLong }
    val n = deg.size.toLong
    val hist = deg.values.groupMapReduce(identity)(_ => 1L)(_ + _).toSeq.sorted
    val cum = hist.map(_._1).zip(hist.scanLeft(0L)(_ + _._2).tail)
    Graph.KcoreRungs.flatMap { case (lbl, num, den) =>
      cum.find { case (_, c) => c * den >= n * num }.toSeq.flatMap { case (k, _) =>
        var alive = deg.keySet
        (lbl, k, 0L, n) +: (1 to Graph.KcoreRounds).map { r =>
          alive = es.filter(e => alive(e._1) && alive(e._2))
            .groupMapReduce(_._1)(_ => 1L)(_ + _).filter(_._2 >= k).keySet
          (lbl, k, r.toLong, alive.size.toLong)
        }
      }
    }.sortBy(t => (t._1, t._3))
  }

  test("reduceByNode equals reduceByKey for min, + and Math.addExact") {
    val ops: Seq[(String, (Long, Long) => Long, Gen[Long])] = Seq(
      ("min", math.min(_, _), Gen.choose(Long.MinValue, Long.MaxValue)),
      ("+", _ + _, Gen.choose(Long.MinValue, Long.MaxValue)),
      // non-negative, so every order of the additions overflows exactly
      // when the total does
      ("Math.addExact", Math.addExact(_, _),
        Gen.frequency(3 -> Gen.choose(0L, 100L), 1 -> Gen.choose(Long.MaxValue / 3, Long.MaxValue))))
    ops.foreach { case (name, f, value) =>
      holds(s"reduceByNode($name)", msgs(value), 40) { case Msgs(kvs, slices, parts) =>
        val rdd = spark.sparkContext.parallelize(kvs, slices)
        val part = new HashPartitioner(parts)
        val got = outcome(Pregel.reduceByNode(rdd, part)(f).collect().toSeq)
        val exp = outcome(rdd.reduceByKey(part, f).collect().toSeq)
        (got == exp) :| s"$kvs over $slices slices into $parts: got $got, reduceByKey $exp"
      }
    }
    assert(Try(Pregel.reduceByNode(spark.sparkContext.parallelize(Seq(7L -> Long.MaxValue, 7L -> 1L), 2),
      new HashPartitioner(3))(Math.addExact(_, _)).collect()).isFailure, "an overflow across map partitions must throw")
  }

  test("sumByNode, gatherByNode and shipByNode equal plain-Scala groupings") {
    holds("by-node sums, gathers and shipments", msgs(Gen.choose(-5L, 5L)), 40) { case Msgs(kvs, slices, parts) =>
      val rdd = spark.sparkContext.parallelize(kvs, slices)
      val part = new HashPartitioner(parts)
      val width = 3
      val sums = Pregel.sumByNode(rdd, part, width)((v, j) => v * (j + 1)).collect()
        .map { case (k, c) => (k, c.toSeq) }.toSeq.sortBy(_._1)
      val expSums = kvs.groupMapReduce(_._1)(kv => Seq.tabulate(width)(j => kv._2 * (j + 1)))(
        (a, b) => a.zip(b).map { case (x, y) => x + y }).toSeq.sortBy(_._1)
      val gathered = Pregel.gatherByNode(rdd, part).collect().map { case (k, vs) => (k, vs.toSeq.sorted) }
        .toSeq.sortBy(_._1)
      val expGathered = kvs.groupMap(_._1)(_._2).map { case (k, vs) => (k, vs.sorted) }.toSeq.sortBy(_._1)
      val shipped = Pregel.shipByNode(rdd, part)
      val placed = shipped.mapPartitionsWithIndex((i, it) => it.map(kv => (i, kv))).collect().toSeq
      ((sums == expSums) :| s"sums of $kvs: $sums") &&
        ((gathered == expGathered) :| s"gathers of $kvs: $gathered") &&
        ((placed.map(_._2).sorted == kvs.sorted) :| s"shipments of $kvs: $placed") &&
        (placed.forall { case (i, (k, _)) => part.getPartition(k) == i } :| s"misplaced: $placed")
    }
  }

  test("graph loops shuffle through no Spark aggregator and no map-side combine") {
    val es = symmetric(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 4L), (7L, 8L)))
    val calls: Seq[(String, () => Any)] = Seq(
      "pagerankOf" -> (() => Graph.pagerankOf(frame(es)).collect()),
      "kcoreOf" -> (() => Graph.kcoreOf(frame(es)).collect()),
      "labelPropOf" -> (() => Graph.labelPropOf(frame(es)).collect()),
      "componentLabels" -> (() => Dedup.componentLabels(es.toDF("id_a", "id_b")).collect()))
    calls.foreach { case (name, call) =>
      val (_, deps) = ShuffleRecorder.record(spark.sparkContext)(call())
      // an adjacency shuffle and at least one message shuffle a round
      assert(deps.size >= 4, s"$name: only ${deps.size} shuffles seen")
      val combining = deps.filter(d => d.aggregator.nonEmpty || d.mapSideCombine)
      assert(combining.isEmpty, s"$name: shuffles with an aggregator: " +
        combining.map(d => s"${d.shuffleId} over ${d.rdd}").mkString(", "))
    }
  }

  test("connected components of an empty graph: no rows, no throw") {
    assert(Dedup.componentLabels(Seq.empty[(Long, Long)].toDF("id_a", "id_b")).collect().isEmpty)
  }

  test("componentLabels equals a union-find minimum on random graphs") {
    check("componentLabels") { ps =>
      val got = Dedup.componentLabels(ps.toDF("id_a", "id_b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      val exp = unionFindMin(ps)
      (got.length == exp.size && got.toMap == exp) :| s"pairs $ps: got ${got.toSeq}"
    }
  }

  test("pagerank, labelProp and kcore equal plain-Scala loops on random graphs") {
    check("pagerank/labelProp/kcore") { ps =>
      val es = symmetric(ps)
      val pr = Graph.pagerankOf(frame(es)).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val lp = Graph.labelPropOf(frame(es)).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val kc = Graph.kcoreOf(frame(es)).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      ((pr == pagerank(es)) :| s"pagerank on $es: $pr") &&
        ((lp == labelProp(es)) :| s"labelProp on $es: $lp") &&
        ((kc == kcore(es)) :| s"kcore on $es: $kc")
    }
  }

  test("graph loops leave nothing persisted beyond the state their result reads") {
    def lineage(r: RDD[_]): Set[Int] = r.dependencies.map(d => lineage(d.rdd)).foldLeft(Set(r.id))(_ ++ _)
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 4L)).toDF("id_a", "id_b")
    val calls: Seq[(String, () => DataFrame)] =
      Seq("q_pagerank", "q_ppr", "q_hits", "q_kcore", "q_label_prop", "q_bfs_hops")
        .map(q => q -> (() => SparkEntry.queries(q)(spark, sf))) :+
        ("componentLabels" -> (() => Dedup.componentLabels(pairs)))
    calls.foreach { case (name, call) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val df = call()
      assert(df.collect().nonEmpty, name)
      val left = spark.sparkContext.getPersistentRDDs -- before
      val read = df.queryExecution.analyzed.collect {
        case e: ExternalRDD[_] => lineage(e.rdd)
        case l: LogicalRDD => lineage(l.rdd)
      }.foldLeft(Set.empty[Int])(_ ++ _)
      assert(left.keySet.subsetOf(read),
        s"$name leaves persisted RDDs its result does not read: ${left.values.map(r => s"${r.id}:${r.name}")}")
      assert(!left.values.exists(_.name == "adjacency"), s"$name leaves its adjacency persisted")
      assert(left.values.forall(_.name == "state"),
        s"$name leaves persisted RDDs other than its last stored state: ${left.values.map(r => s"${r.id}:${r.name}")}")
    }
  }
}
