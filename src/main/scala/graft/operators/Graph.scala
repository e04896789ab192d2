package graft.operators

import graft.sources.Tables
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over the co-order product graph (parts
  * that appear in the same order are linked — the co-purchase graph
  * every recommender bootstrap builds from order lines).
  *
  * Companion to Dedup's connected components (hook-and-shortcut): this
  * family holds the FIXED-ITERATION message-passing algorithms. Every
  * loop runs on [[Pregel]]: the edge list is grouped into an adjacency
  * hash-partitioned by node once, vertex state shares that
  * partitioning, and each round is a narrow adjacency⋈state zip that
  * builds the messages, one shuffle of the messages by receiver, and
  * one job that stores the new state — shuffle ∝ messages per round,
  * never the edge list again, never node-pair-quadratic.
  */
object Graph {

  /** PageRank iterations / damping (e3 integer: 0.85 ≡ 850/1000). */
  private val PrIters = 3
  private val PrDampE3 = 850L

  /** q_pagerank: PageRank over the co-order part graph, ALL-INTEGER
    * arithmetic so the result is bit-exact across engines: ranks live
    * at e6 scale, each round sends contrib = r div deg along every
    * edge and re-ranks as (1−d)·10⁶ + (d·Σcontrib) div 1 — i.e.
    * 150000 + (850·Σ) div 1000. Integer truncation loses a bounded
    * sub-ppm of mass per round (the price of determinism; float
    * PageRank would be shuffle-order-dependent and unoracle-able).
    *
    * Scale shape: edges = per-order self-join of DISTINCT (order,
    * part) — fan-out bounded by lines-per-order², a constant (≤ ~7 in
    * TPC-H-shaped data). Each of the [[PrIters]] rounds is one
    * [[Pregel]] round: contributions built narrowly from the
    * co-partitioned adjacency and ranks, one shuffle of them by dst,
    * one job. The state carries each node's degree, so the result
    * needs no join. The oracle unrolls the same three rounds as nested
    * CTEs — recursion-free, so it runs on any engine that bans
    * aggregates in recursive terms. */
  def pagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankOf(coOrderEdges(spark, dir))

  /** [[pagerank]] over an edge set (src, dst). */
  private[graft] def pagerankOf(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val (e, part) = Pregel.pairs(edges)
    val ranks = Pregel.withAdjacency(e, part) { adj =>
      // state: node → (deg, r)
      Pregel.rounds(adj.mapValues(ds => (ds.length.toLong, 1000000L)), PrIters) { (st, _) =>
        val sums = Pregel.reduceByNode(Pregel.scan(adj, st) { case (_, ds, (deg, r)) =>
          val c = r / deg
          ds.iterator.map((_, c))
        }, part)(_ + _)
        Pregel.scan(adj, sums)((u, ds, s) => Some((u, (ds.length.toLong, 150000L + PrDampE3 * s / 1000))))
      }
    }
    ranks.map { case (n, (d, r)) => (n, d, r) }.toDF("node", "deg", "pr_e6").orderBy("node")
  }

  /** Directed co-order edge set (both directions) — shared by
    * [[pagerank]] and [[degreeDist]].
    *
    * Shape: per-order part sets collect in ONE two-phase agg
    * (collect_set dedups map-side), the ≤ lines-per-order² pair
    * fan-out expands INSIDE a per-row array expression in CANONICAL
    * orientation (src < dst), the corpus-wide dedup runs on that
    * halved volume, and the directed view mirrors afterwards — vs the
    * previous distinct → self-join → full-volume distinct (4
    * exchanges + a join) this is 2 exchanges and half the dedup
    * state, with the identical edge SET out. */
  private def coOrderEdges(spark: SparkSession, dir: String): DataFrame = {
    val canon = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy("l_orderkey")
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
      .filter(size(col("ps")) > 1)
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps) - i - 1), y ->
          |    struct(x AS src, y AS dst))))"""
          .stripMargin.replace('\n', ' '))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
    // map-side mirror (2 rows per canonical edge) — a union of two
    // reads of the distinct would run its final aggregate twice
    canon.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** q_degree_dist: the log₂-binned degree distribution of the
    * co-order graph — the first diagnostic read before ANY iterative
    * graph job (a heavy-tailed histogram says "salt the hubs before
    * PageRank/CC", a flat one says the plain shuffles below are
    * safe). Binning is EXACT-integer: bin = ⌊log₂ deg⌋ via the binary
    * string length, never float log at power-of-two boundaries.
    *
    * Scale shape: degree is one two-phase agg over the edge set; the
    * histogram is a second agg over the node-sized degree table —
    * nothing beyond the edge build touches corpus scale. */
  def degreeDist(spark: SparkSession, dir: String): DataFrame =
    coOrderEdges(spark, dir)
      .groupBy("src").agg(count(lit(1)).as("deg"))
      .withColumn("bin", (length(bin(col("deg"))) - 1).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_nodes"),
        min("deg").as("min_deg"), max("deg").as("max_deg"))
      .orderBy("bin")

  /** Link-prediction hub cap: 2-hop candidate generation explodes as
    * Σ deg(z)² over intermediaries z, so hubs above this degree are
    * excluded — semantically principled (a hub's 1/deg contribution is
    * ~0 anyway, the whole point of the RA index) AND the scale guard
    * (bounds per-key fan-out of both joins to [[LpHubCap]]²). */
  private val LpHubCap = 64L
  private val LpTopN = 50

  /** q_link_predict: resource-allocation link prediction (Zhou/Lü/
    * Zhang's RA index) over the co-order graph — for each NON-adjacent
    * part pair, score Σ_z 1/deg(z) over common neighbors z, in exact
    * e6 integers (each term 10⁶ div deg, floored then summed — float
    * would be shuffle-order-dependent). The recommender follow-up to
    * q_copurchase: that ranks pairs already bought together, this
    * ranks pairs the graph says SHOULD be (candidate generation for
    * "you may also like").
    *
    * Scale shape: two equi-joins through the deg-capped intermediary
    * (fan-out ≤ [[LpHubCap]]² per z), one anti-join against the edge
    * set (all equi on part keys), a two-phase agg by pair, and a
    * TakeOrderedAndProject top-[[LpTopN]] (per-partition heads merged
    * on the driver — never a global sort). The tie-break chain
    * (ra_e6, n_common, part_a, part_b) is a total order, so the
    * LIMIT boundary is deterministic. */
  def linkPredict(spark: SparkSession, dir: String): DataFrame = {
    val edges = coOrderEdges(spark, dir).localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val thru = deg.filter(col("deg") <= LpHubCap)
      .select(col("src").as("z"), col("deg").as("deg_z"))
    val hopIn = edges.select(col("src").as("part_a"), col("dst").as("z"))
    val hopOut = edges.select(col("src").as("z"), col("dst").as("part_b"))
    // deliberate sort-merge on all three joins: a checkpointed frame
    // keeps its source plan's size estimate, which is unreliable, and
    // the estimate-driven plan here broadcast BOTH edge projections AND
    // the anti-join's full edge list — a 2.4M-row HashedRelation
    // built three times at sf0.1, and a driver hazard at scale.
    // shuffle_hash measured 0.2-0.3 s BEHIND merge on this shape (both
    // sides are edge-sized, so there is no small build side for SHJ to
    // exploit); merge spills gracefully at any scale, which is the
    // property this plan pin is buying.
    hopIn.join(thru.hint("merge"), "z")
      .join(hopOut.hint("merge"), "z")
      .filter(col("part_a") < col("part_b"))
      // edges hold both directions, so one-sided anti-join suffices
      .join(edges.select(col("src").as("part_a"), col("dst").as("part_b"))
          .hint("merge"),
        Seq("part_a", "part_b"), "left_anti")
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("n_common"),
        sum(expr("1000000 div deg_z")).as("ra_e6"))
      .orderBy(col("ra_e6").desc, col("n_common").desc,
        col("part_a"), col("part_b"))
      .limit(LpTopN)
  }

  /** BFS seed count / rounds (3 hops reaches most of a co-order graph;
    * the unreached remainder is reported as dist −1). */
  private val BfsSeeds = 8
  private val BfsRounds = 3

  /** q_bfs_hops: multi-source BFS — hop distance from the [[BfsSeeds]]
    * highest-degree hubs (ties broken by part key) to every node,
    * [[BfsRounds]] rounds, reported as a per-distance census. The
    * "how far is the catalog from its hubs" diagnostic that sizes
    * any graph-propagation job before it runs.
    *
    * Scale shape: [[Pregel]] rounds over the co-partitioned adjacency;
    * the state holds every node's distance (unreached until a message
    * lands), only the last round's frontier sends, and one min-shuffle
    * by receiver plus one job per round. Seeds are one takeOrdered over
    * the degrees (never a full sort); the final census is a
    * ≤(rounds+2)-row agg. */
  def bfsHops(spark: SparkSession, dir: String): DataFrame = {
    val edges = coOrderEdges(spark, dir)
    import spark.implicits._
    val (e, part) = Pregel.pairs(edges)
    val dist = Pregel.withAdjacency(e, part) { adj =>
      val seeds = adj.map { case (v, ds) => (-ds.length.toLong, v) }
        .takeOrdered(BfsSeeds).map(_._2).toSet
      val init = adj.mapPartitions(_.map { case (v, _) =>
        (v, if (seeds(v)) 0L else Long.MaxValue) }, preservesPartitioning = true)
      Pregel.rounds(init, BfsRounds) { (st, k) =>
        val hop = k.toLong
        val reached = Pregel.reduceByNode(Pregel.scan(adj, st) { (_, ds, d) =>
          if (d == hop - 1) ds.iterator.map((_, hop)) else Iterator.empty
        }, part)(math.min(_, _))
        Pregel.zipByNode(st, reached) { (rows, r) =>
          rows.map { case (v, d) => (v, math.min(d, r.getOrElse(v, d))) }
        }
      }
    }
    dist.map { case (v, d) => (v, if (d == Long.MaxValue) -1L else d) }
      .toDF("node", "dist")
      .groupBy("dist")
      .agg(count(lit(1)).as("n_nodes"),
        min("node").as("min_node"), max("node").as("max_node"))
      .orderBy("dist")
  }

  /** HITS mutual-reinforcement rounds — unrolled identically in the
    * oracle. */
  private[graft] val HitsRounds = 2

  /** s·10⁶ div m, exact where s·10⁶ overflows a Long. */
  private def e6Share(s: Long, m: Long): Long = (BigInt(s) * 1000000L / m).toLong

  /** q_hits: Kleinberg's HITS (hubs & authorities, JACM 1999) over
    * the DIRECTED bipartite purchase graph customer → part — the
    * mutual-reinforcement ranking PageRank can't express on a
    * bipartite graph: an authoritative part is one bought by hub
    * customers, a hub customer is one who buys authoritative parts
    * (the catalog-curation / influential-buyer readout). The co-order
    * graph is symmetric, so HITS would degenerate there; the bipartite
    * edge set is where the two scores genuinely differ.
    *
    * All-integer: scores at e6, each half-round is one exact sum along
    * edges followed by a value-normalization (score·10⁶ div max — max
    * is a VALUE, so no tie-pinning needed, and every score lands in
    * (0, 10⁶]). No sqrt-of-sum L2 norm: max norm is the standard
    * power-iteration alternative and keeps the fixpoint integer-exact
    * cross-engine.
    *
    * Scale shape: edges = one orders⋈lineitem equi-join de-duplicated
    * to (cust, part), grouped into two [[Pregel]] adjacencies (by cust
    * and by part) on one partitioner. Each half-round is one narrow
    * zip, one shuffle of the sums to the other side, and one job whose
    * figure is the max the next half-round normalizes by; a side's
    * state carries (deg, unnormalized sum). */
  def hits(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o_orderkey"), col("l_partkey")),
        Seq("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      .distinct()
    val (e, part) = Pregel.pairs(edges)
    // a side: node → (deg, unnormalized score), and the max it is
    // normalized by (score·10⁶ div max)
    type Side = (RDD[(Long, (Long, Long))], Long)
    val rows = Pregel.withAdjacency(e, part) { byCust =>
      Pregel.withAdjacency(e.map(_.swap), part) { byPart =>
        // sums `from`'s scores along `along` into the side `to` indexes
        def half(along: Pregel.Adjacency, to: Pregel.Adjacency, from: Side): Side = {
          val (st, m) = from
          val sums = Pregel.reduceByNode(Pregel.scan(along, st) { case (_, ds, (_, s)) =>
            val x = e6Share(s, m)
            ds.iterator.map((_, x))
          }, part)(Math.addExact(_, _))
          Pregel.materialize(Pregel.scan(to, sums)((u, ds, s) => Some((u, (ds.length.toLong, s)))))(
            _.foldLeft(0L)(_ max _._2._2))(_ max _)
        }
        var hub: Side = (byCust.mapValues(ds => (ds.length.toLong, 1L)), 1L)
        var auth: Side = null
        (1 to HitsRounds).foreach { _ =>
          val a = half(byCust, byPart, hub)
          if (auth != null) Pregel.release(auth._1)
          auth = a
          val h = half(byPart, byCust, auth)
          Pregel.release(hub._1)
          hub = h
        }
        def out(role: String, side: Side): RDD[(String, Long, Long, Long)] = {
          val m = side._2
          side._1.map { case (v, (d, s)) => (role, v, d, e6Share(s, m)) }
        }
        out("hub", hub).union(out("authority", auth))
      }
    }
    rows.toDF("role", "node", "deg", "score_e6").orderBy("role", "node")
  }

  /** q_assortativity: Newman's degree assortativity of the co-order
    * graph (Newman 2002) — the Pearson correlation of (deg src,
    * deg dst) over every directed edge: r > 0 means hubs link hubs
    * (an assortative core that salting/bucketing must plan for),
    * r < 0 the star-like disassortative shape where hub-cap
    * strategies (q_link_predict's LpHubCap) pay off. The one-number
    * companion to q_degree_dist's histogram.
    *
    * Exactness: the five sufficient statistics (M, Σx, Σxy, Σx²,
    * with the y-marginal equal by edge symmetry) are EXACT
    * decimal(38,0)/HUGEINT sums; the final r uses the q_wilson_rates
    * IEEE contract — both engines evaluate the identical double tree
    * (n-scaled covariance over √vx·√vy), so the e6 floor is
    * bit-stable. A zero-variance graph (every node the same degree)
    * reports the −9999999 sentinel.
    *
    * Scale shape: degrees are one two-phase agg over the edge set;
    * the edge table joins the node-sized degree table twice (hash
    * equi-joins keyed by node — degree tables never broadcast at
    * 10⁸ nodes); the sufficient statistics are ONE 1-row two-phase
    * agg. No window, no iteration. */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val edges = coOrderEdges(spark, dir)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // build side = the node-sized degree table: the edge list's size
    // estimate is unreliable, and an estimate-driven plan may broadcast it
    val stats = edges
      .join(deg.select(col("src"), col("deg").as("dx"))
        .hint("shuffle_hash"), "src")
      .join(deg.select(col("src").as("dst"), col("deg").as("dy"))
        .hint("shuffle_hash"), "dst")
      .agg(count(lit(1)).as("m"),
        sum("dx").as("sx"), sum("dy").as("sy"),
        sum(expr("cast(dx as decimal(38,0)) * dy")).as("sxy"),
        sum(expr("cast(dx as decimal(38,0)) * dx")).as("sx2"),
        sum(expr("cast(dy as decimal(38,0)) * dy")).as("sy2"))
    stats
      .withColumn("num", expr(
        "cast(cast(m as decimal(38,0)) * sxy - cast(sx as decimal(38,0)) * sy as double)"))
      .withColumn("vx", expr(
        "cast(cast(m as decimal(38,0)) * sx2 - cast(sx as decimal(38,0)) * sx as double)"))
      .withColumn("vy", expr(
        "cast(cast(m as decimal(38,0)) * sy2 - cast(sy as decimal(38,0)) * sy as double)"))
      .withColumn("assort_e6", expr(
        """case when vx = 0.0d or vy = 0.0d then cast(-9999999 as bigint)
          | else cast(floor(num / (sqrt(vx) * sqrt(vy)) * 1000000.0d) as bigint)
          | end""".stripMargin.replace('\n', ' ')))
      .select(col("m"), col("sx").cast("long").as("sx"), col("assort_e6"))
  }

  /** Peel rounds of the k-core ladder (pinned — the oracle unrolls
    * them). Both test SFs converge in ≤ 3 rounds (measured); the
    * ROUND TRAJECTORY, not the fixpoint, is the contract, so an
    * unconverged giant graph still oracle-matches. */
  private[graft] val KcoreRounds = 4

  /** The degree-quantile rungs of the ladder: (label, numerator,
    * denominator) of the whole-bin histogram quantile cut. */
  private[graft] val KcoreRungs =
    Seq(("p50", 1L, 2L), ("p75", 3L, 4L), ("p90", 9L, 10L))

  /** q_kcore: the k-core PEEL LADDER of the co-order graph — for K at
    * the p50/p75/p90 degree quantiles, iteratively delete nodes whose
    * within-subgraph degree drops below K ([[KcoreRounds]] rounds) and
    * report the survivor count after every round. The degeneracy
    * audit that complements q_degree_dist (static histogram) and
    * q_graph_modularity (community quality): a graph with real dense
    * communities keeps a stable core above the median rung, while a
    * degree-homogeneous mixing graph UNRAVELS — each peel lowers
    * every survivor's degree together, so the core collapses to ∅ in
    * 2-3 rounds (exactly what this corpus shows, and the right
    * warning to a recommender that raw co-order adjacency here has no
    * exploitable core; use lift, cf. q_copurchase).
    *
    * Exactness: degrees and survivor counts are exact integers; the
    * quantile rungs use the shared whole-bin histogram formula
    * (cum·den ≥ n·num), so no interpolation anywhere.
    *
    * Scale shape: the rungs come from a degree histogram reduced by
    * key (one row per distinct degree) and cut on the driver. The
    * ladder peels all three rungs in ONE [[Pregel]] loop: a node's
    * state is the bit set of rungs it is alive in, each alive node
    * sends that set to its neighbours, one by-node sum counts alive
    * neighbours per rung, and a narrow zip with the old state keeps
    * the bits whose count reaches K — shuffle ∝ surviving edges per
    * round, never node-quadratic. The round's job returns its per-rung
    * census, so the loop stops as soon as every rung has unraveled
    * (the census then reads 0 for the remaining rounds). */
  def kcore(spark: SparkSession, dir: String): DataFrame = kcoreOf(coOrderEdges(spark, dir))

  /** [[kcore]] over a symmetric edge set (src, dst). */
  private[graft] def kcoreOf(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val (e, part) = Pregel.pairs(edges)
    val census = Pregel.withAdjacency(e, part) { adj =>
      val hist = Pregel.reduceByNode(adj.map { case (_, ds) => (ds.length.toLong, 1L) }, part)(_ + _)
        .collect().sortBy(_._1)
      val n = hist.map(_._2).sum
      val cum = hist.map(_._1).zip(hist.scanLeft(0L)(_ + _._2).tail)
      // the least degree whose cumulative count reaches num/den of the nodes
      val rungs = KcoreRungs.flatMap { case (lbl, num, den) =>
        cum.find { case (_, c) => c * den >= n * num }.map { case (d, _) => (lbl, d) }
      }
      val ks = rungs.map(_._2).toArray
      val (last, alive) = Pregel.iterate(
          adj.mapValues(_ => (1 << ks.length) - 1), if (ks.isEmpty) 0 else KcoreRounds)({ (st, _) =>
        val counts = Pregel.sumByNode(Pregel.scan(adj, st)((_, ds, m) => ds.iterator.map((_, m))),
          part, ks.length)((m, j) => (m >> j & 1).toLong)
        Pregel.zipByNode(st, counts) { (rows, c) =>
          rows.flatMap { case (v, m) =>
            c.get(v).map(cs => (v, ks.indices.foldLeft(0) { (k, j) =>
              if ((m >> j & 1) != 0 && cs(j) >= ks(j)) k | 1 << j else k
            })).filter(_._2 != 0)
          }
        }
      })(_.foldLeft(new Array[Long](ks.length)) { (c, vm) =>
        c.indices.foreach(j => if ((vm._2 >> j & 1) != 0) c(j) += 1); c
      })((a, b) => a.indices.map(j => a(j) + b(j)).toArray,
        fs => fs.nonEmpty && fs.last.forall(_ == 0L))
      Pregel.release(last)
      for {
        ((lbl, k), j) <- rungs.zipWithIndex
        r <- 0 to KcoreRounds
      } yield (lbl, k, r.toLong, if (r == 0) n else alive.lift(r - 1).fold(0L)(_(j)))
    }
    census.toDF("frac", "k", "round", "n_alive").orderBy("frac", "round")
  }

  /** PPR iterations — shares [[PrDampE3]] with q_pagerank so the two
    * walk semantics differ only in the restart vector. */
  private val PprIters = 3

  /** q_ppr: PERSONALIZED PageRank — the random walk with restart to a
    * SEED product (the hub part: max co-order degree, ties → min id),
    * i.e. the "related products for THIS item" ranking every
    * recommender serves, where q_pagerank's uniform restart ranks
    * global importance. Restart mass (1−d)·10⁶ re-injects at the seed
    * each round; every other node keeps only damped inflow, so rank
    * mass decays with walk distance from the seed — locality is the
    * point. All-integer (the q_pagerank e6 discipline): contrib =
    * r div deg per edge, re-rank = restart + (850·Σ) div 1000, nodes
    * flooring to 0 drop (and with them the fringe a serving layer
    * would not show anyway).
    *
    * Scale shape: the frontier grows from ONE node, so early rounds
    * touch only the seed's neighborhood — each [[Pregel]] round sends
    * only from ranked nodes (∝ edges OUT OF the current frontier, never
    * the whole graph), shuffles the contributions by dst once, and
    * stores the ranks with their degrees in one job. The seed is one
    * takeOrdered(1) over the degrees. */
  def ppr(spark: SparkSession, dir: String): DataFrame = {
    val edges = coOrderEdges(spark, dir)
    import spark.implicits._
    val (e, part) = Pregel.pairs(edges)
    val ranks = Pregel.withAdjacency(e, part) { adj =>
      adj.map { case (v, ds) => (-ds.length.toLong, v) }.takeOrdered(1).headOption
        .fold(adj.sparkContext.emptyRDD[(Long, (Long, Long))]) { case (_, seed) =>
          // state: node → (deg, r), ranked nodes only
          val init = adj.filter(_._1 == seed).mapValues(ds => (ds.length.toLong, 1000000L))
          Pregel.rounds(init, PprIters) { (st, _) =>
            val sent = Pregel.scan(adj, st) { case (v, ds, (deg, r)) =>
              val c = r / deg
              // the seed (ranked in every round: it keeps its restart)
              // also sends itself a zero, so its restart lands even
              // with no inflow
              (if (v == seed) Iterator((v, 0L)) else Iterator.empty) ++ ds.iterator.map((_, c))
            }
            Pregel.scan(adj, Pregel.reduceByNode(sent, part)(_ + _)) { (u, ds, s) =>
              val r = PrDampE3 * s / 1000 + (if (u == seed) 150000L else 0L)
              if (r > 0) Some((u, (ds.length.toLong, r))) else None
            }
          }
        }
    }
    ranks.map { case (n, (d, r)) => (n, d, r) }.toDF("node", "deg", "ppr_e6").orderBy("node")
  }

  /** Label-propagation rounds for [[labelProp]]. */
  private val LpaRounds = 3

  /** q_label_prop: COMMUNITY DETECTION by semi-synchronous label
    * propagation (Raghavan et al. 2007) over the co-order graph —
    * every node starts as its own label, then [[LpaRounds]] rounds of
    * "adopt the label most frequent among my neighbors" (ties → min
    * label, so the vote is a total order and the result
    * engine-exact). Where Dedup's connected components answer "what
    * is REACHABLE", LPA answers "where is the EDGE DENSITY" — on the
    * one-giant-component co-order graph (the q_knn_components lesson)
    * CC is a single blob, while LPA carves it into purchase
    * communities a merchandiser can read; q_graph_modularity is the
    * quality score for exactly this kind of partition.
    *
    * Scale shape: each [[Pregel]] round sends every node's label to
    * its neighbours (∝ edges), shuffles those votes by receiver once,
    * gathers each receiver's into one primitive array, and picks the
    * winner from the sorted votes — no window, no (node, label) shuffle
    * key. The classic Pregel reduction — nothing is ever
    * node-pair-quadratic. */
  def labelProp(spark: SparkSession, dir: String): DataFrame =
    labelPropOf(coOrderEdges(spark, dir))

  /** [[labelProp]] over an edge set (src, dst). */
  private[graft] def labelPropOf(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val (e, part) = Pregel.pairs(edges)
    val lab = Pregel.withAdjacency(e, part) { adj =>
      val init = adj.mapPartitions(_.map { case (v, _) => (v, v) }, preservesPartitioning = true)
      Pregel.rounds(init, LpaRounds) { (st, _) =>
        // each node's votes, gathered into one primitive array
        Pregel.gatherByNode(Pregel.scan(adj, st)((_, ds, l) => ds.iterator.map((_, l))), part)
          .mapValues { ls =>
            // the (cnt desc, label asc) winner: the first longest run of
            // the sorted labels
            java.util.Arrays.sort(ls)
            var (best, bestCnt, i) = (ls(0), 0, 0)
            while (i < ls.length) {
              var j = i
              while (j < ls.length && ls(j) == ls(i)) j += 1
              if (j - i > bestCnt) { best = ls(i); bestCnt = j - i }
              i = j
            }
            best
          }
      }
    }.toDF("node", "label")
    val sizes = lab.groupBy("label").agg(count(lit(1)).as("community_size"))
    lab.join(sizes, Seq("label"))
      .select(col("node"), col("label").as("community"),
        col("community_size"))
      .orderBy("node")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ppr" -> (ppr(_, _)),
    "q_label_prop" -> (labelProp(_, _)),
    "q_kcore" -> (kcore(_, _)),
    "q_assortativity" -> (assortativity(_, _)),
    "q_pagerank" -> (pagerank(_, _)),
    "q_degree_dist" -> (degreeDist(_, _)),
    "q_hits" -> (hits(_, _)),
    "q_link_predict" -> (linkPredict(_, _)),
    "q_bfs_hops" -> (bfsHops(_, _)))

  /** The same quantile rungs and peel rounds, unrolled — alive sets
    * MATERIALIZED because each round references its predecessor twice
    * (the hits-oracle exponential-inlining hazard). */
  private val kcoreOracle: String = {
    val rungKs = KcoreRungs.map { case (lbl, num, den) =>
      s"k_$lbl AS (SELECT MIN(deg) AS k FROM cum, nt WHERE cum * $den >= n_nodes * $num)"
    }.mkString(",\n")
    val peels = KcoreRungs.map { case (lbl, _, _) =>
      val rs = (1 to KcoreRounds).map { r =>
        s"""a_${lbl}_$r AS MATERIALIZED (
           |  SELECT e.src AS node FROM edges e
           |  JOIN a_${lbl}_${r - 1} s ON e.src = s.node
           |  JOIN a_${lbl}_${r - 1} t ON e.dst = t.node
           |  GROUP BY e.src
           |  HAVING COUNT(*) >= (SELECT k FROM k_$lbl))""".stripMargin
      }.mkString(",\n")
      s"""a_${lbl}_0 AS MATERIALIZED (SELECT src AS node FROM deg0),
         |$rs""".stripMargin
    }.mkString(",\n")
    val census = KcoreRungs.flatMap { case (lbl, _, _) =>
      (0 to KcoreRounds).map { r =>
        s"""SELECT '$lbl' AS frac, (SELECT k FROM k_$lbl) AS k,
           |  CAST($r AS BIGINT) AS round,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM a_${lbl}_$r) AS n_alive"""
          .stripMargin
      }
    }.mkString("\nUNION ALL\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |edges AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM pairs a JOIN pairs b USING (l_orderkey)
       |  WHERE a.l_partkey <> b.l_partkey),
       |deg0 AS MATERIALIZED (
       |  SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg0),
       |hist AS (SELECT deg, CAST(COUNT(*) AS BIGINT) AS c FROM deg0 GROUP BY deg),
       |cum AS (SELECT deg, CAST(SUM(c) OVER (ORDER BY deg) AS BIGINT) AS cum
       |  FROM hist),
       |$rungKs,
       |$peels
       |$census
       |ORDER BY frac, round""".stripMargin
  }

  /** The same three rounds, unrolled as nested CTEs. */
  private val pagerankOracle: String = {
    val rounds = (1 to PrIters).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |    CAST(150000 + ($PrDampE3 * SUM(p.r // d.deg)) // 1000 AS BIGINT) AS r
         |  FROM r${i - 1} p
         |  JOIN edges e ON e.src = p.node
         |  JOIN deg d ON d.src = p.node
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |edges AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM pairs a JOIN pairs b USING (l_orderkey)
       |  WHERE a.l_partkey <> b.l_partkey),
       |deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
       |$rounds
       |SELECT r$PrIters.node, deg.deg, r$PrIters.r AS pr_e6
       |FROM r$PrIters JOIN deg ON deg.src = r$PrIters.node
       |ORDER BY node""".stripMargin
  }

  /** The same [[HitsRounds]] mutual-reinforcement rounds, unrolled. */
  private val hitsOracle: String = {
    // normalization via MAX(s) OVER () — a scalar subquery would
    // reference each CTE level twice, and DuckDB inlines CTEs, so the
    // plan would expand exponentially with rounds (observed as a
    // temp-disk blowup at sf1); the window keeps every reference linear
    val rounds = (1 to HitsRounds).map { i =>
      s"""a${i}s AS (
         |  SELECT part, SUM(h) AS s
         |  FROM edges JOIN h${i - 1} USING (cust) GROUP BY part),
         |a$i AS (
         |  SELECT part, (s * 1000000) // (MAX(s) OVER ()) AS a
         |  FROM a${i}s),
         |h${i}s AS (
         |  SELECT cust, SUM(a) AS s
         |  FROM edges JOIN a$i USING (part) GROUP BY cust),
         |h$i AS (
         |  SELECT cust, (s * 1000000) // (MAX(s) OVER ()) AS h
         |  FROM h${i}s)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |h0 AS (SELECT DISTINCT cust, CAST(1000000 AS HUGEINT) AS h FROM edges),
       |$rounds,
       |cdeg AS (SELECT cust, CAST(COUNT(*) AS BIGINT) AS deg
       |  FROM edges GROUP BY cust),
       |pdeg AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS deg
       |  FROM edges GROUP BY part)
       |SELECT 'hub' AS role, cust AS node, deg, CAST(h AS BIGINT) AS score_e6
       |FROM h$HitsRounds JOIN cdeg USING (cust)
       |UNION ALL
       |SELECT 'authority' AS role, part AS node, deg, CAST(a AS BIGINT) AS score_e6
       |FROM a$HitsRounds JOIN pdeg USING (part)
       |ORDER BY role, node""".stripMargin
  }

  /** The same PPR rounds unrolled (the pagerank-oracle pattern), with
    * the full-outer restart re-injection and the r>0 cut per round. */
  private val pprOracle: String = {
    val rounds = (1 to PprIters).map { i =>
      s"""s$i AS (
         |  SELECT e.dst AS node, SUM(p.r // d.deg) AS s
         |  FROM p${i - 1} p
         |  JOIN edges e ON e.src = p.node
         |  JOIN deg d ON d.src = p.node
         |  GROUP BY e.dst),
         |p$i AS (
         |  SELECT node, r FROM (
         |    SELECT COALESCE(s.node, sd.node) AS node,
         |      CAST(COALESCE(($PrDampE3 * s.s) // 1000, 0)
         |        + CASE WHEN sd.node IS NOT NULL THEN 150000 ELSE 0 END
         |        AS BIGINT) AS r
         |    FROM s$i s FULL OUTER JOIN seed sd ON sd.node = s.node)
         |  WHERE r > 0)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |edges AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM pairs a JOIN pairs b USING (l_orderkey)
       |  WHERE a.l_partkey <> b.l_partkey),
       |deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
       |seed AS (SELECT src AS node FROM deg ORDER BY deg DESC, src ASC LIMIT 1),
       |p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM seed),
       |$rounds
       |SELECT p$PprIters.node, deg.deg, p$PprIters.r AS ppr_e6
       |FROM p$PprIters JOIN deg ON deg.src = p$PprIters.node
       |ORDER BY node""".stripMargin
  }

  /** The same LPA vote rounds unrolled, ROW_NUMBER argmax with the
    * identical (cnt DESC, label ASC) total order. */
  private val labelPropOracle: String = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""l$i AS (
         |  SELECT node, label FROM (
         |    SELECT e.dst AS node, p.label, COUNT(*) AS cnt,
         |      ROW_NUMBER() OVER (PARTITION BY e.dst
         |        ORDER BY COUNT(*) DESC, p.label ASC) AS rk
         |    FROM l${i - 1} p JOIN edges e ON e.src = p.node
         |    GROUP BY e.dst, p.label)
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |edges AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM pairs a JOIN pairs b USING (l_orderkey)
       |  WHERE a.l_partkey <> b.l_partkey),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
       |$rounds,
       |sz AS (
       |  SELECT label, CAST(COUNT(*) AS BIGINT) AS community_size
       |  FROM l$LpaRounds GROUP BY label)
       |SELECT l.node, l.label AS community, sz.community_size
       |FROM l$LpaRounds l JOIN sz USING (label)
       |ORDER BY node""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    // same restart-injected rounds unrolled, same r>0 cut
    "q_ppr" -> pprOracle,
    // same vote rounds, identical (cnt DESC, label ASC) argmax
    "q_label_prop" -> labelPropOracle,
    // same whole-bin quantile rungs, same unrolled peel rounds
    "q_kcore" -> kcoreOracle,
    // same five exact sufficient statistics, same IEEE n-scaled
    // Pearson tree, same zero-variance sentinel
    "q_assortativity" ->
      """WITH pairs AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |      FROM pairs a JOIN pairs b USING (l_orderkey)
        |      WHERE a.l_partkey <> b.l_partkey),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
        |        FROM e GROUP BY src),
        |j AS (SELECT dx.deg AS dx, dy.deg AS dy
        |      FROM e JOIN deg dx ON e.src = dx.src
        |             JOIN deg dy ON e.dst = dy.src),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
        |  CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
        |  SUM(CAST(dx AS HUGEINT) * dy) AS sxy,
        |  SUM(CAST(dx AS HUGEINT) * dx) AS sx2,
        |  SUM(CAST(dy AS HUGEINT) * dy) AS sy2 FROM j),
        |v AS (SELECT m, sx,
        |  CAST(CAST(m AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) AS num,
        |  CAST(CAST(m AS HUGEINT) * sx2 - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS vx,
        |  CAST(CAST(m AS HUGEINT) * sy2 - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS vy
        |  FROM st)
        |SELECT m, sx,
        |  CASE WHEN vx = 0.0 OR vy = 0.0 THEN CAST(-9999999 AS BIGINT)
        |    ELSE CAST(floor(num / (sqrt(vx) * sqrt(vy)) * 1000000.0) AS BIGINT)
        |  END AS assort_e6
        |FROM v""".stripMargin,
    "q_pagerank" -> pagerankOracle,
    "q_hits" -> hitsOracle,
    // same edges/deg CTEs; bin via binary-string length (exact integer)
    "q_degree_dist" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |edges AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM pairs a JOIN pairs b USING (l_orderkey)
        |  WHERE a.l_partkey <> b.l_partkey),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src)
        |SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  CAST(MIN(deg) AS BIGINT) AS min_deg,
        |  CAST(MAX(deg) AS BIGINT) AS max_deg
        |FROM deg GROUP BY 1 ORDER BY bin""".stripMargin,
    // same edges/deg CTEs; per-term-floored RA sum; unique tie-break
    // chain so the LIMIT boundary can't flap
    "q_link_predict" ->
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |edges AS MATERIALIZED (
         |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
         |  FROM pairs a JOIN pairs b USING (l_orderkey)
         |  WHERE a.l_partkey <> b.l_partkey),
         |deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
         |cand AS (
         |  SELECT e1.src AS part_a, e2.dst AS part_b, d.deg AS deg_z
         |  FROM edges e1
         |  JOIN deg d ON d.src = e1.dst AND d.deg <= $LpHubCap
         |  JOIN edges e2 ON e2.src = e1.dst
         |  WHERE e1.src < e2.dst),
         |nonedge AS (
         |  SELECT c.part_a, c.part_b, c.deg_z FROM cand c
         |  LEFT JOIN edges x ON x.src = c.part_a AND x.dst = c.part_b
         |  WHERE x.src IS NULL)
         |SELECT part_a, part_b, CAST(COUNT(*) AS BIGINT) AS n_common,
         |  CAST(SUM(1000000 // deg_z) AS BIGINT) AS ra_e6
         |FROM nonedge GROUP BY part_a, part_b
         |ORDER BY ra_e6 DESC, n_common DESC, part_a, part_b
         |LIMIT $LpTopN""".stripMargin,
    // the same rounds unrolled as CTEs (the pagerank pattern); the
    // unreached remainder appears as dist -1 via the left join
    "q_bfs_hops" -> {
      // each round references the previous round TWICE (relax join +
      // carry-forward union); DuckDB inlines shared CTEs by default,
      // so without MATERIALIZED the edge join re-evaluates 2^rounds
      // times — at sf1 that blew a 60 GB spill cap. MATERIALIZED is a
      // plan pin, not a semantic change (sf1-certified: 22 s / 30 GB).
      val rounds = (1 to BfsRounds).map { k =>
        s"""d$k AS MATERIALIZED (
           |  SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
           |    SELECT e.dst AS node, p.dist + 1 AS dist
           |    FROM d${k - 1} p JOIN edges e ON e.src = p.node
           |    UNION ALL SELECT node, dist FROM d${k - 1})
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |edges AS MATERIALIZED (
         |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
         |  FROM pairs a JOIN pairs b USING (l_orderkey)
         |  WHERE a.l_partkey <> b.l_partkey),
         |deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
         |seeds AS (SELECT src AS node FROM deg ORDER BY deg DESC, src LIMIT $BfsSeeds),
         |d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds),
         |$rounds
         |SELECT COALESCE(d$BfsRounds.dist, -1) AS dist,
         |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |  CAST(MIN(deg.src) AS BIGINT) AS min_node,
         |  CAST(MAX(deg.src) AS BIGINT) AS max_node
         |FROM deg LEFT JOIN d$BfsRounds ON d$BfsRounds.node = deg.src
         |GROUP BY 1 ORDER BY dist""".stripMargin
    })
}
