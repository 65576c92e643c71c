package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every queued listener event was delivered, so per-layer
  * task metrics are complete before they are read. The listener bus is
  * package-private to Spark, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
