package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the benchmark needs it drained
  * before it reads its counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
