package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import graft.obs.ShuffleAudit

/** Plan-audit diagnostic (builder tooling, not part of the driver
  * contract): prints the formatted physical plan of one or more declared
  * queries plus a measured ShuffleAudit row for each — the raw material
  * for PERF.md's plan table. A `construct` row audits building the
  * query's frame, which is where eager queries (index maintenance,
  * iterative verbs) run their jobs: jobs, stages, tasks, and the node
  * count of every SQL execution's executed plan, counted through AQE
  * stages, subqueries and the cached plans under in-memory scans.
  *
  * Usage: runMain graft.Explain <queryName>[,<queryName>…] [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'; valid: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      println(s"\n================ $name @ $sfDir ================")
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      val listener = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          plans.add(qe.executedPlan)
        override def onFailure(f: String, qe: QueryExecution,
            e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val (df, built) = try ShuffleAudit.measure(spark)(fn(spark, sfDir))
        finally spark.listenerManager.unregister(listener)
      val sizes = plans.toArray(Array.empty[SparkPlan]).toSeq.map(planNodes)
      println(s"[audit] $name construct: jobs=${built.jobs}, " +
        s"stages=${built.stages}, tasks=${built.tasks}, " +
        s"executions=${sizes.size}, plan nodes=${sizes.map(_.size).sum} " +
        s"(max ${sizes.map(_.size).maxOption.getOrElse(0)}), in-memory scans=" +
        sizes.map(_.count(_.isInstanceOf[InMemoryTableScanExec])).sum)
      df.explain("formatted")
      // warmup, then audited run — steady-state shuffle volume, not
      // first-run footer/codegen noise
      df.write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      val (_, audit) = ShuffleAudit.measure(spark) {
        df.write.format("noop").mode("overwrite").save()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[audit] $name: ${sec}%.2f s, " +
        f"shuffleRead=${audit.shuffleReadBytes / 1024.0 / 1024.0}%.2f MB, " +
        f"shuffleWrite=${audit.shuffleWriteBytes / 1024.0 / 1024.0}%.2f MB, " +
        f"memSpill=${audit.memorySpillBytes}, diskSpill=${audit.diskSpillBytes}, " +
        f"jobs=${audit.jobs}, stages=${audit.stages}, tasks=${audit.tasks}")
    }
    spark.stop()
  }

  /** Every node of an executed plan, AQE's final plan and query stages,
    * subqueries and the cached plan under an in-memory scan included. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] =
    p +: ((p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => planNodes(q.plan)
      case m: InMemoryTableScanExec => planNodes(m.relation.cachedPlan)
      case _ => p.children.flatMap(planNodes)
    }) ++ p.subqueries.flatMap(planNodes))
}
