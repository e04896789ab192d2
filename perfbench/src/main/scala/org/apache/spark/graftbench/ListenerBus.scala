package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is Spark-private; this bridge lives in Spark's
  * package namespace so the benchmark can wait until every posted event
  * has reached its listeners before it reads their counts. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
