package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events on an asynchronous bus; its drain call
  * is package-private, so the benchmark reaches it from Spark's package.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
