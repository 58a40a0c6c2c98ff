package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deletion-vector scale rehearsal (r14 verdict items 1 and 4): put a
  * NUMBER on the merge-on-read big-delete regime at a key count where a
  * single-task vector write demonstrably bottlenecks.
  *
  * Protocol: build a versioned table of `nRows` across `nGroups`
  * disjoint-range file groups (stats on the key, so routing is 1:1),
  * then MOR-delete `frac` of ALL keys (spread across every group — the
  * quarter-table GDPR-erasure shape), timing
  *   (a) the routed per-group vector WRITE (one task per touched group
  *       after the r15 `repartition(col("__tg"))` fix — ≥10⁷ routed
  *       keys is the regime where the old one-task plan serialized
  *       every key through a single writer);
  *   (b) the MASKED read vs the pre-delete UNMASKED read, through BOTH
  *       read surfaces — `Versioned.read` and the connector's format
  *       lookup, one scan (per-row executor-side hash probe against the
  *       group's own vector) — the per-row mask overhead that decides
  *       whether positional bitmaps (r14 "What's missing" #3) are worth
  *       building. Every read is checked against `spark.range`
  *       arithmetic over the keys that exist and survive.
  *
  * Prints ONE JSON line; append the numbers to PERF.md's rehearsal
  * section. Usage:
  *   runMain graft.DvRehearsal <workDir> [nRows] [nGroups] [frac] [reps]
  */
object DvRehearsal {

  private def bestOf[A](k: Int)(body: => A): (Double, A) = {
    var best = Double.MaxValue
    var last: A = body // warmup
    (1 to k).foreach { _ =>
      val t0 = System.nanoTime()
      last = body
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    (best, last)
  }

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("/tmp/graft_dv_rehearsal")
    val nRows = if (args.length > 1) args(1).toLong else 40000000L
    val nGroups = if (args.length > 2) args(2).toInt else 8
    val frac = if (args.length > 3) args(3).toDouble else 0.25
    val reps = if (args.length > 4) args(4).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .appName("graft-dv-rehearsal").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, work, nRows, nGroups, frac, reps)
    finally spark.stop()
  }

  private def run(spark: SparkSession, work: String, nRows: Long,
      nGroups: Int, frac: Double, reps: Int): Unit = {
    import graft.ops.Versioned
    val dir = s"$work/dv_table"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val per = nRows / nGroups
    val tb0 = System.nanoTime()
    (0 until nGroups).foreach { g =>
      Versioned.commit(
        spark.range(g * per, (g + 1) * per)
          .select(col("id").as("k"), (col("id") % 97).as("v")),
        dir, statsCol = Some("k"))
    }
    val buildSec = (System.nanoTime() - tb0) / 1e9
    val vPre = Versioned.latestVersion(dir)

    def opsRead(v: Int): Long =
      Versioned.read(spark, dir, v).agg(sum("v")).head().getLong(0)
    def connRead(v: Int): Long =
      spark.read.format("graft-versioned").option("path", dir)
        .option("versionAsOf", v.toString).load()
        .agg(sum("v")).head().getLong(0)

    // the committed keys are [0, per * nGroups); `keep` picks survivors
    def want(keep: org.apache.spark.sql.Column): Long =
      spark.range(0, per * nGroups).filter(keep)
        .agg(sum(col("id") % 97)).head().getLong(0)
    def check(what: String, got: Long, expected: Long): Unit =
      require(got == expected, s"$what read: $got, expected $expected")

    val (opsPreSec, opsPreSum) = bestOf(reps)(opsRead(vPre))
    val (connPreSec, connPreSum) = bestOf(reps)(connRead(vPre))
    val wantPre = want(lit(true))
    check("ops pre", opsPreSum, wantPre)
    check("connector pre", connPreSum, wantPre)

    // the delete: every mod-th key — touches EVERY group's range
    val mod = math.max(2L, math.round(1.0 / frac))
    val delKeys = spark.range(0, nRows).filter(col("id") % mod === 0)
      .select(col("id").as("k"))
    val routedKeys = delKeys.count()
    val tw0 = System.nanoTime()
    val vPost = Versioned.deleteCommitMor(delKeys, dir, "k")
    val writeSec = (System.nanoTime() - tw0) / 1e9

    val (opsPostSec, opsPostSum) = bestOf(reps)(opsRead(vPost))
    val (connPostSec, connPostSum) = bestOf(reps)(connRead(vPost))
    val wantPost = want(col("id") % mod =!= 0)
    check("ops masked", opsPostSum, wantPost)
    check("connector masked", connPostSum, wantPost)

    def pct(post: Double, pre: Double): Double =
      math.round((post / pre - 1.0) * 1000.0) / 10.0
    println(s"""{"metric":"dv_rehearsal","rows":$nRows,"groups":$nGroups,""" +
      s""""routed_keys":$routedKeys,"build_sec":${f"$buildSec%.2f"},""" +
      s""""vector_write_sec":${f"$writeSec%.2f"},""" +
      s""""ops_read_pre_sec":${f"$opsPreSec%.2f"},""" +
      s""""ops_read_masked_sec":${f"$opsPostSec%.2f"},""" +
      s""""ops_mask_overhead_pct":${pct(opsPostSec, opsPreSec)},""" +
      s""""conn_read_pre_sec":${f"$connPreSec%.2f"},""" +
      s""""conn_read_masked_sec":${f"$connPostSec%.2f"},""" +
      s""""conn_mask_overhead_pct":${pct(connPostSec, connPreSec)}}""")
  }
}
