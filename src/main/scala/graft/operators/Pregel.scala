package graft.operators

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.reflect.ClassTag

/** The partitioned Pregel layout every graft graph loop runs on
  * (GraphX's vertex/edge co-partitioning, without its `Pregel` API,
  * which cannot express CC's p(p(v)) shortcut).
  *
  * - Entry: the loop's edge frame becomes an adjacency
  *   `(src, distinct dsts)`, hash-partitioned by src ONCE (see
  *   [[pairs]] for the partition count), persisted for the loop and
  *   released when it returns.
  * - Round: vertex state is keyed by node and hash-partitioned alike,
  *   so a narrow [[scan]] of adjacency and state builds the
  *   messages, one keyed reduction into the same partitioner shuffles
  *   them (combined map-side), and [[materialize]] stores the new state
  *   with one job that also returns the round's figure (a census, a
  *   sum).
  * - Exit: the caller converts the last state to a DataFrame once.
  *
  * A round therefore shuffles its messages, never the edge list, and
  * costs one Spark job whatever its figure. */
private[graft] object Pregel {

  type Adjacency = RDD[(Long, Array[Long])]

  /** The (src, dst) bigint pairs of an edge frame's first two columns,
    * and the hash partitioning an adjacency over them and every state
    * share: one partition per session shuffle partition, but no more
    * than the larger of the pairs' own partition count (what AQE sized
    * the edge list to) and the session's parallelism. AQE coalesces a
    * small graph's SQL shuffles; these RDD shuffles cannot be, so a tiny
    * graph under a cluster-width setting would otherwise run thousands
    * of empty tasks per stage. */
  def pairs(edges: DataFrame): (RDD[(Long, Long)], HashPartitioner) = {
    val rdd = edges.queryExecution.toRdd.map(r => (r.getLong(0), r.getLong(1)))
    val wide = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    (rdd, new HashPartitioner(
      math.min(wide, math.max(rdd.sparkContext.defaultParallelism, rdd.getNumPartitions))))
  }

  /** Runs `body` over the adjacency of `edges`: duplicate edges
    * collapse, a node with no out-edge has no row. The adjacency is
    * shuffled once into `part`, persisted, and released when `body`
    * returns, so whatever `body` hands back must not read it lazily. */
  def withAdjacency[T](edges: RDD[(Long, Long)], part: Partitioner)(body: Adjacency => T): T = {
    val adj = edges.groupByKey(part)
      .mapValues { ds => val a = ds.toArray; java.util.Arrays.sort(a); a.distinct }
      .setName("adjacency")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try body(adj) finally adj.unpersist(blocking = false)
  }

  /** Narrow join of two RDDs partitioned alike by node: `a` streams,
    * `b`'s partition is indexed by node. */
  def zipByNode[A, B, O: ClassTag](a: RDD[(Long, A)], b: RDD[(Long, B)])(
      f: (Iterator[(Long, A)], mutable.LongMap[B]) => Iterator[O]): RDD[O] =
    a.zipPartitions(b) { (as, bs) =>
      val index = mutable.LongMap.empty[B]
      bs.foreach { case (k, v) => index.update(k, v) }
      f(as, index)
    }

  /** f(node, dsts, state) for every node with both an adjacency row
    * and a state: how a round sends messages, and how a reduced message
    * meets the receiver's degree. */
  def scan[S, O: ClassTag](adj: Adjacency, state: RDD[(Long, S)])(
      f: (Long, Array[Long], S) => IterableOnce[O]): RDD[O] =
    zipByNode(adj, state) { (rows, st) =>
      rows.flatMap { case (v, ds) => st.get(v).fold[IterableOnce[O]](Nil)(f(v, ds, _)) }
    }

  /** Stores `state` with ONE job (a local checkpoint, so its lineage
    * ends here) and returns the merge of `figure` over its partitions. */
  def materialize[S, F: ClassTag](state: RDD[S])(figure: Iterator[S] => F)(merge: (F, F) => F): F = {
    state.setName("state").localCheckpoint()
    state.sparkContext.runJob(state, figure).reduce(merge)
  }

  /** Runs `step` (given the state and the round number, from 1) from
    * `init` until `done` accepts the figures so far or `maxRounds`
    * rounds ran. Each round is one [[materialize]] job; a state is
    * released as soon as its successor is stored. Returns the last state
    * and every round's figure. */
  def iterate[S, F: ClassTag](init: RDD[S], maxRounds: Int)(step: (RDD[S], Int) => RDD[S])(
      figure: Iterator[S] => F)(merge: (F, F) => F,
      done: Seq[F] => Boolean = (_: Seq[F]) => false): (RDD[S], Vector[F]) = {
    var state = init
    var figures = Vector.empty[F]
    while (figures.length < maxRounds && !done(figures)) {
      val next = step(state, figures.length + 1)
      figures :+= materialize(next)(figure)(merge)
      state.unpersist(blocking = false)
      state = next
    }
    (state, figures)
  }

  /** [[iterate]] for exactly `n` rounds that need no figure. */
  def rounds[S](init: RDD[S], n: Int)(step: (RDD[S], Int) => RDD[S]): RDD[S] =
    iterate(init, n)(step)(_.foreach(_ => ()))((_, _) => ())._1
}
