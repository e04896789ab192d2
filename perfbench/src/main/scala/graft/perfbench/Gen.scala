package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Seeded input generators. Each one is a pure function of its seed:
  * the same seed gives the same rows, and the rows carry everything the
  * output check needs to know about them, so the check never asks the
  * program under test what the right answer is. */
object Gen {

  // ---------------------------------------------------------------------------
  // stream_pipe: events in the testdata schema
  // ---------------------------------------------------------------------------

  final case class Event(eventId: Long, tsMicros: Long, userId: Long,
      eventType: String, value: Double, props: String)

  val EventTypes: IndexedSeq[String] = Vector("view", "click", "purchase", "signup", "error")

  private def exponential(r: Random, mean: Double): Double = -math.log(1 - r.nextDouble()) * mean

  /** `n` events shaped like the program's testdata `events` table, which
    * holds n = sf × 1,000,000 rows (METRICS.md has the measured shape):
    * the five types uniform, user ids uniform over 15 users per 1,000
    * events, values exponential with mean 50 rounded to cents (so a few
    * are 0.00), and timestamps a Poisson process over 30 days that rises
    * with the event id. */
  def events(seed: Long, n: Int): IndexedSeq[Event] = {
    val r = new Random(seed)
    val users = math.max(1, n * 15 / 1000)
    val meanGapUs = 30.0 * 86400 * 1e6 / n
    var ts = 1704067200000000L // 2024-01-01T00:00:00Z in micros
    (0 until n).map { i =>
      ts += math.round(exponential(r, meanGapUs))
      Event(i.toLong, ts, r.nextInt(users).toLong, EventTypes(r.nextInt(EventTypes.length)),
        math.round(exponential(r, 50.0) * 100) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  /** The `q_stream_pipe` oracle's closed form for one event: the pattern
    * price the positional scan takes, the model's price (true price on
    * the three trained domains, the missing-model sentinel elsewhere),
    * the status machine, and the decided price. */
  final case class PipeRow(eventId: Long, userId: Long, updated: Double, model: Double,
      status: String, decided: Double)

  private def cents2(x: Double): Double =
    BigDecimal(java.lang.Double.toString(x)).setScale(2, BigDecimal.RoundingMode.HALF_EVEN).toDouble

  def pipeOracle(e: Event): PipeRow = {
    val a = cents2(e.value + 100.0)
    val m1 = cents2(math.floor((e.value + 100.0) * 1.05 * 100 + 0.5) / 100)
    val m2 = cents2(math.floor((e.value + 100.0) * 2.07 * 100 + 0.5) / 100)
    val updated = e.eventType match {
      case "error" => 0.0
      case "click" => m1
      case "purchase" => m2
      case _ => a
    }
    val model = if (e.eventType == "error" || e.eventType == "signup") -2.0 else a
    val failedModel = model == -1.0 || model == -2.0
    val patternFailed = math.floor(updated).toInt == 0
    val status =
      if (!failedModel && !patternFailed && math.abs(model - updated) < 0.009) "modeledPatternEquals"
      else if (!failedModel && !patternFailed)
        if (math.abs(updated - model) / math.max(updated, model) <= 0.1) "minorModelPatternConflict"
        else "majorModelPatternConflict"
      else if (failedModel && patternFailed) "bothFailed"
      else if (patternFailed) "patternFailed"
      else if (model == -2.0) "missingModel"
      else "allFalseCandids"
    val decided = status match {
      case "modeledPatternEquals" | "minorModelPatternConflict" | "patternFailed" => model
      case "bothFailed" => 0.0
      case _ => updated
    }
    PipeRow(e.eventId, e.userId, updated, model, status, decided)
  }

  // ---------------------------------------------------------------------------
  // graph_loops: a co-order lineitem table and a planted pair graph
  // ---------------------------------------------------------------------------

  final case class Line(orderKey: Long, partKey: Long, suppKey: Long, lineNumber: Int,
      quantity: Double, extendedPrice: Double, discount: Double, tax: Double,
      returnFlag: String, lineStatus: String, shipDateMicros: Long)

  /** A `lineitem` table shaped like the program's testdata at scale
    * factor `sf` (METRICS.md has the measured shape): sf × 6,000,000
    * lines, each on an order key uniform over sf × 1,500,000 keys (about
    * four lines per order, Poisson-spread), a part key uniform over
    * sf × 200,000 and a supplier uniform over sf × 10,000; line number
    * 1–7, quantity 1–50, extended price 900–105,000, discount 0–0.10,
    * tax 0–0.08, flags and ship date (1995-01-02 .. 2001-11-04) uniform. */
  def lineitems(seed: Long, sf: Double): IndexedSeq[Line] = {
    val r = new Random(seed)
    def keys(perSf: Double): Int = math.max(1, math.round(sf * perSf).toInt)
    val (orders, parts, supps) = (keys(1.5e6), keys(2e5), keys(1e4))
    (0 until keys(6e6)).map { _ =>
      Line(r.nextInt(orders).toLong, r.nextInt(parts).toLong, r.nextInt(supps).toLong,
        1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble, (90000 + r.nextInt(10410000)) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        "ANR".substring(r.nextInt(3)).take(1), "FO".substring(r.nextInt(2)).take(1),
        789004800000000L + r.nextInt(2499) * 86400000000L)
    }
  }

  /** Canonical (src < dst) co-order edges: two distinct parts linked
    * when they share an order. */
  def coOrderEdges(lines: IndexedSeq[Line]): Set[(Long, Long)] =
    lines.groupBy(_.orderKey).valuesIterator.flatMap { ls =>
      val ps = ls.map(_.partKey).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet

  final case class PairGraph(pairs: IndexedSeq[(Long, Long)], sizes: IndexedSeq[Int],
      minLabel: Map[Long, Long], rounds: Int)

  /** Rounds `Dedup.componentLabels` runs on `pairs`, by its own rule:
    * each round every node takes the least label among itself and its
    * neighbours, then makes one pointer jump (the stepped label of its
    * label); the loop ends on the first round whose label sum does not
    * change. */
  def labelRounds(pairs: Seq[(Long, Long)]): Int = {
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
    var label = adj.map { case (v, _) => v -> v }
    var prev = BigInt(-1)
    var rounds = 0
    var done = false
    while (!done) {
      val stepped = adj.map { case (v, ns) => v -> math.min(label(v), ns.map(label).min) }
      label = stepped.map { case (v, l) => v -> math.min(l, stepped(l)) }
      rounds += 1
      val sum = label.valuesIterator.foldLeft(BigInt(0))(_ + _)
      done = sum == prev
      prev = sum
    }
    rounds
  }

  private def chainPairs(members: IndexedSeq[Long]): IndexedSeq[(Long, Long)] =
    (1 until members.size).map(i => (members(i), members(i - 1)))

  /** Planted components for the connected-components loop: many small
    * random trees with extra edges over random ids, `sortedChains` long
    * chains whose ids rise along the chain, and `randomChains` chains
    * over random ids. A sorted chain's minimum sits at one end and must
    * cross the whole chain, which pointer jumping does in O(log length)
    * rounds. A random-id chain is the case where `Dedup.componentLabels`
    * needs O(length) rounds; how many depends on the id order (5 to 16
    * for 20 nodes), so each random chain is redrawn until it needs
    * exactly `randomRounds`, and every seed carries the same rounds of
    * work. A fix that makes the loop O(log diameter) on these chains
    * shows in `components_s`. */
  def pairGraph(seed: Long, nodes: Int, sortedChains: Int, sortedLen: Int,
      randomChains: Int, randomLen: Int, randomRounds: Int, maxTree: Int): PairGraph = {
    val r = new Random(seed)
    val ids = r.shuffle((0L until (nodes.toLong * 7)).toVector).take(nodes)
    var next = 0
    val pairs = ArrayBuffer.empty[(Long, Long)]
    val sizes = ArrayBuffer.empty[Int]
    val minLabel = scala.collection.mutable.HashMap.empty[Long, Long]
    def take(size: Int): IndexedSeq[Long] = { next += size; ids.slice(next - size, next) }
    def plant(members: IndexedSeq[Long], edges: IndexedSeq[(Long, Long)]): Unit = {
      pairs ++= edges
      sizes += members.size
      val m = members.min
      members.foreach(minLabel(_) = m)
    }
    (0 until sortedChains).foreach { _ =>
      val members = take(sortedLen).sorted
      plant(members, chainPairs(members))
    }
    (0 until randomChains).foreach { _ =>
      var members = take(randomLen)
      var tries = 0
      while (labelRounds(chainPairs(members)) != randomRounds) {
        tries += 1
        require(tries < 100000, s"no $randomLen-node chain needs $randomRounds rounds")
        members = r.shuffle(members)
      }
      plant(members, chainPairs(members))
    }
    while (next < nodes) {
      val size = math.min(nodes - next, math.min(maxTree, 2 + math.pow(1 - r.nextDouble(), -1 / 1.5).toInt))
      if (size < 2) next = nodes
      else {
        val members = take(size)
        val extra = (0 until size / 4).map(_ => (members(r.nextInt(size)), members(r.nextInt(size))))
        plant(members, (1 until size).map(i => (members(i), members(r.nextInt(i)))) ++
          extra.filter { case (a, b) => a != b })
      }
    }
    val shuffled = r.shuffle(pairs.toVector)
    PairGraph(shuffled, sizes.toIndexedSeq, minLabel.toMap, labelRounds(shuffled))
  }
}
