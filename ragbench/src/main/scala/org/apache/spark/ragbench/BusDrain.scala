package org.apache.spark.ragbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every posted event. The
  * bus is asynchronous and its drain is package-private to Spark, hence
  * this one-method bridge.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
