package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; counters are read only after the
  * bus has delivered everything posted so far. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
