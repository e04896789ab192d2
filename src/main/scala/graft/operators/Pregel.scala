package graft.operators

import org.apache.spark.{HashPartitioner, Partition, Partitioner, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.SessionBridge
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.reflect.ClassTag

/** The partitioned Pregel layout every graft graph loop runs on
  * (GraphX's vertex/edge co-partitioning, without its `Pregel` API,
  * which cannot express CC's p(p(v)) shortcut).
  *
  * - Entry: the loop's edge frame becomes an adjacency
  *   `(src, distinct dsts)`, hash-partitioned by src ONCE (see
  *   [[pairs]] for the partition count), stored for the loop and
  *   released when it returns.
  * - Round: vertex state is keyed by node and hash-partitioned alike,
  *   so a narrow [[scan]] of adjacency and state builds the
  *   messages, one by-node reduction into the same partitioning
  *   shuffles them ([[reduceByNode]], [[sumByNode]], [[gatherByNode]],
  *   [[shipByNode]]), and [[materialize]] stores the new state with one
  *   job that also returns the round's figure (a census, a sum).
  * - Exit: the caller converts the last state to a DataFrame once.
  *
  * A round therefore shuffles its messages, never the edge list, and
  * costs one Spark job whatever its figure. No round pays Spark's
  * per-record bookkeeping: a reduction ships one primitive array per
  * pair of partitions through a shuffle with no `Aggregator` (so no
  * `ExternalSorter` or `ExternalAppendOnlyMap`), and a stored adjacency
  * or state is one block per partition (one array of its rows), so the
  * block store sizes one object per partition instead of one per node.
  * Partition i of every adjacency, state and reduction holds the nodes
  * the loop's partitioner sends to i, so they zip by index. */
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
    * shuffled once into `part`, stored as one block per partition, and
    * released when `body` returns, so whatever `body` hands back must
    * not read it lazily. */
  def withAdjacency[T](edges: RDD[(Long, Long)], part: Partitioner)(body: Adjacency => T): T = {
    val adj = new Stored[(Long, Array[Long])](inBlocks(
      gatherByNode(edges, part).mapValues { ds => java.util.Arrays.sort(ds); ds.distinct })
      .setName("adjacency")
      .persist(StorageLevel.MEMORY_AND_DISK))
    try body(adj) finally release(adj)
  }

  /** A partition's rows as one array: the block store then sizes and
    * keeps one object per partition. */
  private def inBlocks[S](rows: RDD[S]): RDD[Array[Any]] =
    rows.mapPartitions(it => Iterator(it.toArray[Any]))

  /** The rows of a stored RDD of blocks, read as a flattened view, one
    * partition per block. */
  private final class Stored[S: ClassTag](val blocks: RDD[Array[Any]]) extends RDD[S](blocks) {
    override protected def getPartitions: Array[Partition] = blocks.partitions
    override def compute(split: Partition, context: TaskContext): Iterator[S] =
      blocks.iterator(split, context).flatMap(_.iterator).asInstanceOf[Iterator[S]]
  }

  /** Drops a stored adjacency or state from the block store; anything
    * else is left as it is. Unlike `RDD.unpersist` on a locally
    * checkpointed RDD, this logs no warning. */
  def release(state: RDD[_]): Unit = state match {
    case s: Stored[_] => SessionBridge.unpersist(s.blocks)
    case _ => ()
  }

  /** Each map partition's messages, bound for the partitions of a
    * node partitioner: one long buffer per reduce partition, a row being
    * the node and then its values. */
  private final class Outbox(part: Partitioner) {
    private val rows = Array.fill(part.numPartitions)(new mutable.ArrayBuilder.ofLong)
    /** The buffer a row for `node` goes to, with the node written. */
    def to(node: Long): mutable.ArrayBuilder.ofLong = rows(part.getPartition(node)) += node
    def posted: Iterator[(Int, Array[Long])] =
      rows.iterator.zipWithIndex.collect { case (b, i) if b.length > 0 => (i, b.result()) }
  }

  /** Routes a record keyed by a partition index to that partition. */
  private final class ByIndex(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** The one message shuffle of the loops. `pack` writes each map
    * partition's rows into an [[Outbox]], one plain shuffle ships one
    * long[] per (map partition, reduce partition), and `unpack` reads a
    * reduce partition's arrays: partition i of the result holds the
    * nodes `part` sends to i, so it zips with the adjacency and the
    * states. There is no Spark `Aggregator`, so Spark writes through
    * its bypass or sort path without a size-tracked combiner map, and a
    * task serializes a few primitive arrays instead of a record per
    * message. They go through Java serialization, which writes a long[]
    * in bulk: Spark would pick Kryo for them, and a bypass writer
    * borrows one Kryo per reduce partition at once, so its pool keeps
    * building new instances. */
  private def exchange[M, O: ClassTag](msgs: RDD[M], part: Partitioner)(
      pack: (Iterator[M], Outbox) => Unit)(unpack: Iterator[Array[Long]] => Iterator[O]): RDD[O] =
    new ShuffledRDD[Int, Array[Long], Array[Long]](
      msgs.mapPartitions { it => val out = new Outbox(part); pack(it, out); out.posted },
      new ByIndex(part.numPartitions))
      .setSerializer(new JavaSerializer(msgs.sparkContext.getConf))
      .mapPartitions(it => unpack(it.map(_._2)))

  /** Every node's messages reduced with `f` (associative and
    * commutative), once in each map partition and once more after the
    * shuffle; per-node values live in a primitive-keyed map. */
  def reduceByNode(msgs: RDD[(Long, Long)], part: Partitioner)(f: (Long, Long) => Long): RDD[(Long, Long)] = {
    def fold(into: mutable.LongMap[Long], k: Long, v: Long): Unit =
      into.update(k, if (into.contains(k)) f(into(k), v) else v)
    exchange(msgs, part) { (it, out) =>
      val m = mutable.LongMap.empty[Long]
      it.foreach { case (k, v) => fold(m, k, v) }
      m.foreach { case (k, v) => out.to(k) += v }
    } { blocks =>
      val m = mutable.LongMap.empty[Long]
      blocks.foreach { b => var i = 0; while (i < b.length) { fold(m, b(i), b(i + 1)); i += 2 } }
      m.iterator
    }
  }

  /** Per-node sums of `width`-long vectors: a message `v` adds
    * `slot(v, j)` to slot j, once in each map partition and once more
    * after the shuffle. */
  def sumByNode[V](msgs: RDD[(Long, V)], part: Partitioner, width: Int)(
      slot: (V, Int) => Long): RDD[(Long, Array[Long])] =
    exchange(msgs, part) { (it, out) =>
      val m = mutable.LongMap.empty[Array[Long]]
      it.foreach { case (k, v) =>
        val c = m.getOrElseUpdate(k, new Array[Long](width))
        var j = 0
        while (j < width) { c(j) += slot(v, j); j += 1 }
      }
      m.foreach { case (k, c) => out.to(k).addAll(c) }
    } { blocks =>
      val m = mutable.LongMap.empty[Array[Long]]
      blocks.foreach { b =>
        var i = 0
        while (i < b.length) {
          val c = m.getOrElseUpdate(b(i), new Array[Long](width))
          var j = 0
          while (j < width) { c(j) += b(i + 1 + j); j += 1 }
          i += 1 + width
        }
      }
      m.iterator
    }

  /** `msgs` moved to their nodes' partitions as they are. */
  def shipByNode(msgs: RDD[(Long, Long)], part: Partitioner): RDD[(Long, Long)] =
    exchange(msgs, part) { (it, out) =>
      it.foreach { case (k, v) => out.to(k) += v }
    } { blocks =>
      blocks.flatMap(b => Iterator.range(0, b.length, 2).map(i => (b(i), b(i + 1))))
    }

  /** Every node's messages gathered into one array, in no fixed order.
    * A map partition's gather is no smaller than its messages, so they
    * ship as they are and only the reduce side gathers. */
  def gatherByNode(msgs: RDD[(Long, Long)], part: Partitioner): RDD[(Long, Array[Long])] =
    shipByNode(msgs, part).mapPartitions { it =>
      val m = mutable.LongMap.empty[mutable.ArrayBuilder.ofLong]
      it.foreach { case (k, v) => m.getOrElseUpdate(k, new mutable.ArrayBuilder.ofLong) += v }
      m.iterator.map { case (k, vs) => (k, vs.result()) }
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

  /** Stores `state` as one block per partition with ONE job (a local
    * checkpoint, so its lineage ends here) and hands back the stored
    * rows with the merge of `figure` over the partitions. Pass the rows
    * to [[release]] once nothing reads them any more. */
  def materialize[S: ClassTag, F: ClassTag](state: RDD[S])(figure: Iterator[S] => F)(
      merge: (F, F) => F): (RDD[S], F) = {
    val blocks = inBlocks(state).setName("state").localCheckpoint()
    val f = state.sparkContext.runJob(blocks,
      (it: Iterator[Array[Any]]) => figure(it.next().iterator.asInstanceOf[Iterator[S]])).reduce(merge)
    (new Stored[S](blocks), f)
  }

  /** Runs `step` (given the state and the round number, from 1) from
    * `init` until `done` accepts the figures so far or `maxRounds`
    * rounds ran. Each round is one [[materialize]] job; a state is
    * released as soon as its successor is stored. Returns the last state
    * and every round's figure. */
  def iterate[S: ClassTag, F: ClassTag](init: RDD[S], maxRounds: Int)(step: (RDD[S], Int) => RDD[S])(
      figure: Iterator[S] => F)(merge: (F, F) => F,
      done: Seq[F] => Boolean = (_: Seq[F]) => false): (RDD[S], Vector[F]) = {
    var state = init
    var figures = Vector.empty[F]
    while (figures.length < maxRounds && !done(figures)) {
      val (next, f) = materialize(step(state, figures.length + 1))(figure)(merge)
      figures :+= f
      release(state)
      state = next
    }
    (state, figures)
  }

  /** [[iterate]] for exactly `n` rounds that need no figure. */
  def rounds[S: ClassTag](init: RDD[S], n: Int)(step: (RDD[S], Int) => RDD[S]): RDD[S] =
    iterate(init, n)(step)(_ => ())((_, _) => ())._1
}
