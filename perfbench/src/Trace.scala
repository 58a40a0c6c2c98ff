package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call from the benchmark into a layer of the program. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. With `enabled = false` (the untraced run) a
  * span is a plain call. Spans are kept in memory and
  * written once the run ends. The innermost open span's name is also set
  * as the Spark local property [[Trace.SpanProperty]], so the listener
  * can attribute jobs, stages and task metrics to the layer that caused
  * them. */
object Trace {
  val SpanProperty = "perfbench.span"

  var enabled = false
  private var sc: SparkContext = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 1
  private var op = -1
  private var owner: Thread = _

  /** Spans are recorded only on the calling thread (the client); calls
    * from other threads, such as the parallel warm-up, run untraced. */
  def init(context: SparkContext, on: Boolean): Unit = {
    sc = context; enabled = on; owner = Thread.currentThread
  }

  def beginOp(id: Int): Unit = op = id

  def span[A](name: String)(f: => A): A =
    if (!enabled || (Thread.currentThread ne owner)) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      stack = (id, name) :: stack
      sc.setLocalProperty(SpanProperty, name)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_._2).orNull)
        spans += Span(id, parent, op, name, t0, t1)
      }
    }

  def recorded: Seq[Span] = spans.toSeq
}

/** Spark engine counters, bucketed by (phase, span name). The phase is
  * switched by the benchmark loop between "op" and "check" after draining
  * the listener bus, so every event lands in the bucket of the code that
  * caused it. Task wait is stage submission to task launch. */
final class Counters extends SparkListener with QueryExecutionListener {
  @volatile var phase = "setup"
  val values = mutable.Map.empty[(String, String), mutable.Map[String, Double]]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val stageSubmit = mutable.Map.empty[Int, Long]

  private def add(span: String, k: String, v: Double): Unit = synchronized {
    val m = values.getOrElseUpdate((phase, Option(span).getOrElse("-")),
      mutable.Map.empty[String, Double])
    m(k) = m.getOrElse(k, 0.0) + v
  }

  private def spanOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Trace.SpanProperty))).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit =
    add(spanOf(e.properties), "jobs", 1)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = spanOf(e.properties)
    stageSpan(e.stageInfo.stageId) = s
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    add(s, "stages", 1)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val submitted = stageSubmit.getOrElse(e.stageId, e.taskInfo.launchTime)
    add(stageSpan.getOrElse(e.stageId, null), "task_wait_ms",
      math.max(0L, e.taskInfo.launchTime - submitted).toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stageSpan.getOrElse(e.stageId, null)
    add(s, "tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(s, "executor_run_ms", m.executorRunTime.toDouble)
      add(s, "executor_cpu_ns", m.executorCpuTime.toDouble)
      add(s, "gc_ms", m.jvmGCTime.toDouble)
      add(s, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(s, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(s, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(s, "input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(s, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => add(null, s"${p}_ms", s.durationMs.toDouble))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
}
