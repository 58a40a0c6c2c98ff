package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Typed-column scan rehearsal (r16 — the r15 verdict's top item): put a
  * number on the connector's TIMESTAMP/DECIMAL columnar reads. Before
  * r16 a single such column anywhere in the required schema made the
  * connector scan refuse outright (the v1 type gate), so the only
  * honest A/B is connector-vs-native-parquet PARITY on the same files
  * (the same gate the r15 connector overhaul was graded on), plus the
  * ops-layer read (the same scan, built without the format lookup).
  * Every read is checked against the aggregate of the generating frame.
  *
  * Prints ONE JSON line. Usage:
  *   runMain graft.TypedScanRehearsal <workDir> [nRows] [nGroups] [reps]
  */
object TypedScanRehearsal {

  private def bestOf(k: Int)(body: => Long): (Double, Long) = {
    var best = Double.MaxValue
    var last = body // warmup
    (1 to k).foreach { _ =>
      val t0 = System.nanoTime()
      last = body
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    (best, last)
  }

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("/tmp/graft_typed_rehearsal")
    val nRows = if (args.length > 1) args(1).toLong else 20000000L
    val nGroups = if (args.length > 2) args(2).toInt else 8
    val reps = if (args.length > 3) args(3).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .appName("graft-typed-rehearsal").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, work, nRows, nGroups, reps)
    finally spark.stop()
  }

  private def run(spark: SparkSession, work: String, nRows: Long,
      nGroups: Int, reps: Int): Unit = {
    import graft.ops.Versioned
    val dir = s"$work/typed_table"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val per = nRows / nGroups
    // timestamp lands as Spark's INT96 default; decimals as INT64
    // (p<=18) and FIXED_LEN_BYTE_ARRAY (p>18) — all three physical
    // decimal/timestamp layouts the reader serves
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("k"),
      timestamp_micros(lit(1700000000000000L) + col("id")).as("ts"),
      (col("id").cast("decimal(18,4)") / 7).cast("decimal(18,4)").as("d1"),
      (col("id").cast("decimal(28,6)") * 3).cast("decimal(28,6)").as("d2"))
    (0 until nGroups).foreach { g =>
      Versioned.commit(rows(g * per, (g + 1) * per), dir, statsCol = Some("k"))
    }
    // the aggregate touches every typed column, so column decode — not
    // the agg — dominates; count(ts) + sum of both decimals
    def aggOf(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(count(col("ts")) + sum(col("d1")).cast("long") +
        sum(col("d2")).cast("long")).head().getLong(0)

    def connRead(): Long = aggOf(
      spark.read.format("graft-versioned").option("path", dir).load())
    def opsRead(): Long = aggOf(Versioned.read(spark, dir))
    def nativeRead(): Long = {
      // the same committed parquet files, through Spark's own reader
      val groups = new java.io.File(s"$dir/data").listFiles()
        .filter(_.isDirectory).map(_.toString).toSeq
      aggOf(spark.read.parquet(groups: _*))
    }

    val groupsExist = new java.io.File(s"$dir/data").listFiles() != null
    require(groupsExist, s"no data groups under $dir/data")
    val (nativeSec, nativeSum) = bestOf(reps)(nativeRead())
    val (connSec, connSum) = bestOf(reps)(connRead())
    val (opsSec, opsSum) = bestOf(reps)(opsRead())
    val want = aggOf(rows(0, per * nGroups))
    Seq("connector" -> connSum, "ops" -> opsSum, "native" -> nativeSum)
      .foreach { case (what, got) =>
        require(got == want, s"$what read disagrees: $got vs $want") }
    // the table holds per*nGroups rows (integer division) — report that
    println(s"""{"metric":"typed_scan_rehearsal","rows":${per * nGroups},""" +
      s""""groups":$nGroups,"conn_sec":${f"$connSec%.2f"},""" +
      s""""ops_sec":${f"$opsSec%.2f"},""" +
      s""""native_parquet_sec":${f"$nativeSec%.2f"}}""")
  }
}
