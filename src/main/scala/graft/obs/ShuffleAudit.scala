package graft.obs

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftSparkShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Measured shuffle/spill accounting for one action — "measure, don't
  * guess" for the plan properties PERF.md claims. A broadcast star join
  * should show ~0 shuffle bytes; a fact-to-fact spine join shows the
  * shuffled key+payload volume; partial aggregation shows shuffle volume
  * bounded by groups × partitions, not input rows.
  *
  * Implementation: the thunk runs under a unique job group, `onJobStart`
  * records the stage ids of jobs carrying that group property, and
  * `onTaskEnd` sums TaskMetrics only for those stages — concurrent jobs
  * from other threads are excluded, unlike a bare task-end listener.
  * Counters are AtomicLongs because the listener-bus thread mutates them
  * while the calling thread later reads them; the bus is drained before
  * the totals are read.
  */
object ShuffleAudit {

  /** `stages` counts the stages that ran tasks (a job's skipped,
    * already-materialized parent stages are not counted). */
  final case class Audit(
      shuffleReadBytes: Long,
      shuffleWriteBytes: Long,
      memorySpillBytes: Long,
      diskSpillBytes: Long,
      tasks: Long,
      jobs: Long,
      stages: Long)

  private val auditSeq = new AtomicLong()

  def measure[A](spark: SparkSession)(action: => A): (A, Audit) = {
    val sc = spark.sparkContext
    val group = s"graft-shuffle-audit-${auditSeq.incrementAndGet()}"
    val read, write, memSpill, diskSpill, tasks, jobs = new AtomicLong()
    val stages, ran = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val g = Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        if (group == g) {
          jobs.incrementAndGet()
          js.stageInfos.foreach(si => stages.add(si.stageId))
        }
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null && stages.contains(te.stageId)) {
          read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
          tasks.incrementAndGet()
          ran.add(te.stageId)
          ()
        }
      }
    }
    sc.addSparkListener(listener)
    // Save the caller's job group and restore it afterwards (clearJobGroup
    // would clobber an enclosing measure() or a caller's cancellation
    // group, silently under-counting their jobs).
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    val prevInterrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
    sc.setJobGroup(group, "graft shuffle audit", interruptOnCancel = false)
    try {
      val result = action
      GraftSparkShims.waitUntilListenerBusEmpty(sc)
      (result, Audit(read.get(), write.get(), memSpill.get(), diskSpill.get(),
        tasks.get(), jobs.get(), ran.size.toLong))
    } finally {
      sc.setLocalProperty("spark.jobGroup.id", prevGroup)
      sc.setLocalProperty("spark.job.description", prevDesc)
      sc.setLocalProperty("spark.job.interruptOnCancel", prevInterrupt)
      sc.removeSparkListener(listener)
    }
  }
}
