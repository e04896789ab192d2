package org.apache.spark.graftspec

import org.apache.spark.{ContextCleaner, ShuffleDependency, SparkContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.SparkListener
import org.apache.spark.util.AccumulatorV2
import scala.jdk.CollectionConverters._

/** Every `ShuffleDependency` created while a block of code runs, SQL
  * exchanges included. A dependency registers with the context's
  * `ContextCleaner` when it is built, so the context gets a stand-in
  * cleaner for the block that records each one and passes every
  * registration on to the context's own cleaner. The loops' checkpoints
  * cut their rounds' lineage, so walking a result's dependencies
  * afterwards would miss all but the last round. */
object ShuffleRecorder {
  def record[T](sc: SparkContext)(body: => T): (T, Seq[ShuffleDependency[_, _, _]]) = {
    val slot = classOf[SparkContext].getDeclaredField("_cleaner")
    slot.setAccessible(true)
    val own = sc.cleaner
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[ShuffleDependency[_, _, _]]()
    val recorder = new ContextCleaner(sc, sc.shuffleDriverComponents) {
      override def registerShuffleForCleanup(dep: ShuffleDependency[_, _, _]): Unit = {
        seen.add(dep)
        own.foreach(_.registerShuffleForCleanup(dep))
      }
      override def registerRDDForCleanup(rdd: RDD[_]): Unit = own.foreach(_.registerRDDForCleanup(rdd))
      override def registerAccumulatorForCleanup(a: AccumulatorV2[_, _]): Unit =
        own.foreach(_.registerAccumulatorForCleanup(a))
      override def registerBroadcastForCleanup[B](b: Broadcast[B]): Unit =
        own.foreach(_.registerBroadcastForCleanup(b))
      override def registerRDDCheckpointDataForCleanup[C](rdd: RDD[_], parentId: Int): Unit =
        own.foreach(_.registerRDDCheckpointDataForCleanup(rdd, parentId))
      override def registerSparkListenerForCleanup(owner: AnyRef, l: SparkListener): Unit =
        own.foreach(_.registerSparkListenerForCleanup(owner, l))
    }
    slot.set(sc, Some(recorder))
    try {
      val out = body
      (out, seen.asScala.toSeq)
    } finally {
      slot.set(sc, own)
      recorder.stop()
    }
  }
}
