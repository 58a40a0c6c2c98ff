package org.apache.spark

/** The listener bus is private to Spark; job-counting specs drain it so
  * every asynchronously delivered job event has landed before they
  * read their counters. */
object GraftTestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
