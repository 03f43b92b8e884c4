package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Spark keeps its listener-bus drain package-private. Counters read
  * after `apply` include every event posted before the call. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
