package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously and exposes no public
  * way to wait for delivery; the traced run reads its totals only after
  * every posted event has reached the listeners. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
