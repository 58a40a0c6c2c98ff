package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it at op
  * boundaries so asynchronously delivered events land in the right
  * bucket. */
object PerfbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
