package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every posted event, so
  * job counters read after an action are complete. The bus is internal
  * to Spark; this object lives in Spark's package to reach it. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
