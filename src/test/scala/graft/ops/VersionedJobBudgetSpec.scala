package graft.ops

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Job budgets of the Versioned verbs: group metadata (schemas, delete
  * emptiness, manifest statistics) comes from parquet footers read on
  * the driver, so Spark jobs only move data. Jobs are counted with a
  * SparkListener under a per-test job group; the footer schema is
  * checked against Spark's own inference. */
class VersionedJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"jobbudget_$tag").toString

  /** Spark jobs `thunk` launches on this thread, and its result. */
  private def jobs[T](thunk: => T): (Int, T) = {
    val sc = spark.sparkContext
    val group = s"budget-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == group)) n.incrementAndGet()
    }
    GraftTestListenerBus.drain(sc)
    sc.addSparkListener(l)
    sc.setJobGroup(group, "job budget")
    try {
      val out = thunk
      GraftTestListenerBus.drain(sc)
      (n.get, out)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi, 1, 2).select(col("id").as("k"), (col("id") * 3).as("v"))

  private def manifest(dir: String, v: Int): String =
    new String(Files.readAllBytes(Paths.get(dir, "_manifests", s"v$v.json")), "UTF-8")

  test("planning Versioned.read launches no job, with and without pending deletes") {
    val dir = tmp("plan")
    Versioned.commit(rows(0, 100), dir)
    Versioned.commit(rows(100, 200), dir)
    assert(jobs(Versioned.read(spark, dir))._1 == 0)
    Versioned.deleteCommitMor(Seq(3L, 150L).toDF("k"), dir, "k")
    val (n, df) = jobs(Versioned.read(spark, dir))
    assert(n == 0, s"planning the masked read launched $n jobs")
    assert(df.count() == 198)
    // the per-group `__tg=` layout plans job-free too
    val sdir = tmp("plan_tg")
    Versioned.commit(rows(0, 100), sdir, statsCol = Some("k"))
    Versioned.commit(rows(100, 200), sdir, statsCol = Some("k"))
    Versioned.deleteCommitMor(Seq(3L, 150L, 999L).toDF("k"), sdir, "k")
    assert(Files.isDirectory(Paths.get(sdir, "data", "d3", "__tg=c1")))
    val (ns, sdf) = jobs(Versioned.read(spark, sdir))
    assert(ns == 0, s"planning the routed masked read launched $ns jobs")
    assert(sdf.count() == 198)
  }

  test("a legacy-layout deleteCommitMor launches one job: the write") {
    val dir = tmp("mor")
    Versioned.commit(rows(0, 1000), dir)
    val keys = Seq(5L, 5L, 7L, 2000L).toDF("k")
    val (n, v) = jobs(Versioned.deleteCommitMor(keys, dir, "k"))
    assert(n == 1, s"deleteCommitMor launched $n jobs")
    // deduplicated in the single delete file
    val written = spark.read.parquet(s"$dir/data/d$v")
    assert(written.count() == 3 && written.inputFiles.length == 1)
    assert(Versioned.read(spark, dir).count() == 998)
  }

  test("an empty delete leaves no group directory and still mints a version") {
    Seq(None, Some("k")).foreach { statsCol =>
      val dir = tmp(s"empty_${statsCol.isDefined}")
      Versioned.commit(rows(0, 50), dir, statsCol = statsCol)
      val v = Versioned.deleteCommitMor(Seq.empty[Long].toDF("k"), dir, "k")
      assert(v == 2)
      assert(!Files.exists(Paths.get(dir, "data", "d2")),
        s"empty delete left data/d2 behind (stats $statsCol)")
      assert(Versioned.readDeletes(dir, 2)._1.isEmpty)
      // a delete whose keys are all NULL is empty too
      val v3 = Versioned.deleteCommitMor(
        Seq(Option.empty[Long]).toDF("k"), dir, "k")
      assert(v3 == 3 && !Files.exists(Paths.get(dir, "data", "d3")))
      assert(Versioned.read(spark, dir).count() == 50)
    }
  }

  test("commit with statsCol launches one job and records the footer min/max") {
    val dir = tmp("stats")
    val df = spark.range(0, 500, 1, 3).select(
      (col("id") * 7 - 1000).as("k"), col("id").as("v"))
    val (n, v) = jobs(Versioned.commit(df, dir, statsCol = Some("k")))
    assert(n == 1, s"commit with statsCol launched $n jobs")
    assert(manifest(dir, v).contains("\"stats\":{\"c1\":[-1000,2493]}"),
      manifest(dir, v))
    // all-NULL stats column: no stats entry, still one job
    val ndir = tmp("stats_null")
    val nulls = spark.range(0, 10).select(lit(null).cast("long").as("k"))
    val (nn, nv) = jobs(Versioned.commit(nulls, ndir, statsCol = Some("k")))
    assert(nn == 1)
    assert(!manifest(ndir, nv).contains("\"stats\""), manifest(ndir, nv))
  }

  test("footer schema equals Spark's inference for DECIMAL, TIMESTAMP, " +
      "TIMESTAMP_NTZ and nested columns, with no job") {
    val p = s"${tmp("types")}/t"
    spark.range(0, 20).select(
      col("id").cast("decimal(20,4)").as("d"),
      (col("id").cast("decimal(38,10)") / 3).as("big"),
      timestamp_seconds(col("id") * 86400).as("ts"),
      to_timestamp_ntz(lit("2024-01-02 03:04:05")).as("ntz"),
      struct(col("id").as("a"), array(col("id").cast("string")).as("b"))
        .as("nested"),
      map(col("id"), col("id") * 2).as("m"))
      .write.parquet(p)
    val (n, got) = jobs(ParquetFooters.schema(spark, Seq(p)))
    assert(n == 0, s"footer schema launched $n jobs")
    assert(got == spark.read.parquet(p).schema)
    val (nr, frame) = jobs(ParquetFooters.read(spark, Seq(p)))
    assert(nr == 0)
    assert(frame.schema == spark.read.parquet(p).schema)
    assert(frame.collect().toSeq == spark.read.parquet(p).collect().toSeq)
  }

  test("multi-group footer schema follows Spark's smallest-path choice " +
      "(c1/c2/c10 naming, an evolution-added column) and covers __tg= groups") {
    val dir = tmp("multi")
    Versioned.commit(rows(0, 10), dir)
    Versioned.commit(rows(10, 20), dir, overwrite = true)
    (3 to 9).foreach(i => Versioned.commit(rows(i * 10L, i * 10L + 10), dir))
    // c10 carries an added column; as a string it sorts before c2
    Versioned.commit(rows(100, 110).withColumn("x", lit("new")), dir)
    val groups = Versioned.groupNames(dir)
    assert(groups.head == "c2" && groups.last == "c10")
    val roots = groups.map(g => s"$dir/data/$g")
    val inferred = spark.read.parquet(roots: _*).schema
    assert(inferred.fieldNames.contains("x"), "Spark reads c10's footer")
    assert(ParquetFooters.schema(spark, roots) == inferred)
    assert(ParquetFooters.schema(spark, roots.reverse) == inferred)
    assert(Versioned.read(spark, dir).schema == inferred)
    // a hive-partitioned delete group: partition discovery adds __tg
    val tdir = tmp("tg")
    Versioned.commit(rows(0, 100), tdir, statsCol = Some("k"))
    Versioned.commit(rows(100, 200), tdir, statsCol = Some("k"))
    Versioned.deleteCommitMor(Seq(1L, 101L, 500L).toDF("k"), tdir, "k")
    val dg = s"$tdir/data/d3"
    assert(ParquetFooters.schema(spark, Seq(dg)) ==
      spark.read.parquet(dg).drop("__tg").schema)
    assert(ParquetFooters.read(spark, Seq(dg)).schema ==
      spark.read.parquet(dg).schema)
  }

  test("a delete key of another type is cast to the table's key type") {
    val dir = tmp("cast")
    Versioned.commit(spark.range(0, 20).select(
      col("id").cast("decimal(20,0)").as("k"), col("id").as("v")), dir)
    // BIGINT keys against a DECIMAL key column, plus one that can match
    // no row (it does not survive the cast exactly)
    val v = Versioned.deleteCommitMor(
      Seq(3.0, 4.0, 4.5).toDF("k"), dir, "k")
    val written = spark.read.parquet(s"$dir/data/d$v")
    assert(written.schema("k").dataType.sql == "DECIMAL(20,0)")
    assert(written.as[java.math.BigDecimal].collect().map(_.longValue).sorted
      .toSeq == Seq(3L, 4L))
    assert(Versioned.read(spark, dir).count() == 18)
  }
}
