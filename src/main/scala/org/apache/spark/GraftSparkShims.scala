package org.apache.spark

/** Core-side `private[spark]` bridge (sibling of
  * org.apache.spark.sql.GraftSqlShims): drain the listener bus so
  * metrics listeners observe every event of a just-finished action
  * before we read their accumulators, and report a task's written output
  * the way Spark's file writers do.
  */
object GraftSparkShims {
  /** Add to the running task's output metrics (records and bytes
    * written; the setters are private[spark]). No-op off a task. */
  def addTaskOutput(bytes: Long, records: Long): Unit =
    Option(TaskContext.get()).foreach { ctx =>
      val om = ctx.taskMetrics().outputMetrics
      om.setBytesWritten(om.bytesWritten + bytes)
      om.setRecordsWritten(om.recordsWritten + records)
    }

  def waitUntilListenerBusEmpty(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
