package graft.ops

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Job budgets of the Versioned verbs: group metadata comes from parquet
  * footers read on the driver (schemas) or from the write tasks' commit
  * messages (row counts, delete emptiness, manifest statistics), so
  * Spark jobs only move data. Jobs are counted with a
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

  test("the masked read plans no exchange and no join over the table, " +
      "routed and flat delete layouts") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    Seq(Some("k"), None).foreach { statsCol =>
      val dir = tmp(s"shape_${statsCol.isDefined}")
      Versioned.commit(rows(0, 100), dir, statsCol = statsCol)
      Versioned.commit(rows(100, 200), dir, statsCol = statsCol)
      Versioned.deleteCommitMor(Seq(3L, 150L, 999L).toDF("k"), dir, "k")
      val df = Versioned.read(spark, dir)
      assert(df.collect().length == 198)
      val helper = new AdaptiveSparkPlanHelper {}
      val plan = df.queryExecution.executedPlan
      assert(helper.collect(plan) { case s: BatchScanExec => s }
        .exists(_.scan.description().contains("morMaskOn=k")), plan.toString)
      assert(helper.collect(plan) {
        case e: Exchange => e
        case j: BaseJoinExec => j
      }.isEmpty, s"layout with stats $statsCol:\n$plan")
    }
  }

  test("prunedRead serves read's schema, whichever groups it plans") {
    val dir = tmp("pruned_schema")
    Versioned.commit(rows(0, 100), dir, statsCol = Some("k"))
    Versioned.commit(rows(100, 200).withColumn("x", lit("new")), dir,
      statsCol = Some("k"))
    val schema = Versioned.read(spark, dir).schema
    assert(schema.fieldNames.toSeq == Seq("k", "v", "x"))
    Seq((0L, 10L, 1), (150L, 160L, 1), (0L, 1000L, 2), (5000L, 6000L, 0))
      .foreach { case (lo, hi, groups) =>
        val (df, planned, _) = Versioned.prunedRead(spark, dir, "k", lo, hi)
        assert(planned == groups)
        assert(df.schema == schema, s"[$lo, $hi]")
        assert(df.count() == math.max(0L, math.min(hi, 199L) - lo + 1))
      }
  }

  test("a versioned read reports its planned bytes: a join with a small " +
      "table broadcasts at plan time") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val dir = tmp("stats")
    Versioned.commit(rows(0, 100), dir)
    Versioned.commit(rows(100, 200), dir)
    def stats(df: DataFrame) = df.queryExecution.optimizedPlan.stats
    val full = stats(Versioned.read(spark, dir))
    assert(full.sizeInBytes > 0 &&
      full.sizeInBytes < spark.sessionState.conf.autoBroadcastJoinThreshold)
    // scaled to the read columns' share of a row
    assert(stats(Versioned.read(spark, dir).select("k")).sizeInBytes <
      full.sizeInBytes)
    val big = spark.range(0, 100000).select(col("id").as("k"))
    assert(big.join(Versioned.read(spark, dir), "k").queryExecution.sparkPlan
      .collect { case j: BroadcastHashJoinExec => j }.nonEmpty)
    // a time-travel read plans its own version's files
    assert(stats(Versioned.read(spark, dir, 1)).sizeInBytes <
      full.sizeInBytes)
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

  /** Every regular file under `root`, as paths relative to it. */
  private def filesUnder(root: String): Seq[String] = {
    val r = Paths.get(root)
    val s = Files.walk(r)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => r.relativize(p).toString).toList.sorted
    finally s.close()
  }

  private def footer(file: String) =
    org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), new org.apache.hadoop.conf.Configuration()),
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)

  test("a commit's group holds only part files (no _SUCCESS, .crc or " +
      "_temporary) and costs one job") {
    val dir = tmp("layout")
    val (n, v) = jobs(Versioned.commit(rows(0, 1000), dir))
    assert(n == 1, s"commit launched $n jobs")
    val files = filesUnder(s"$dir/data/c$v")
    assert(files.nonEmpty && files.forall(f =>
      f.startsWith("part-") && f.endsWith(".parquet")), files)
    assert(filesUnder(s"$dir/_staging").isEmpty)
    assert(Versioned.readCounts(dir, v) == Map(s"c$v" -> 1000L))
    // an empty commit still stages one file carrying the schema
    val e = Versioned.commit(rows(0, 0), dir)
    assert(filesUnder(s"$dir/data/c$e").size == 1)
    assert(Versioned.read(spark, dir, e).columns.toSeq == Seq("k", "v"))
    assert(Versioned.readCounts(dir, e)(s"c$e") == 0L)
  }

  test("a failed write task leaves no group and no manifest; the table " +
      "reads the parent and a retry commits") {
    val dir = tmp("crash")
    Versioned.commit(rows(0, 100), dir)
    val boom = udf { (k: Long) =>
      if (k == 150L) throw new IllegalStateException("boom") else k }
    intercept[Exception](
      Versioned.commit(rows(100, 200).withColumn("k", boom(col("k"))), dir))
    assert(!Files.exists(Paths.get(dir, "data", "c2")))
    assert(!Files.exists(Paths.get(dir, "_manifests", "v2.json")))
    assert(filesUnder(s"$dir/_staging").isEmpty)
    assert(Versioned.latestVersion(dir) == 1)
    assert(Versioned.read(spark, dir).count() == 100)
    assert(Versioned.commit(rows(100, 200), dir) == 2)
    assert(Versioned.read(spark, dir).count() == 200)
    // an occupied data/c3 fails the commit instead of merging into it
    val stray = Paths.get(dir, "data", "c3", "part-stray.parquet")
    Files.createDirectories(stray.getParent)
    Files.write(stray, Array[Byte](1))
    intercept[java.nio.file.FileAlreadyExistsException](
      Versioned.commit(rows(200, 300), dir))
    assert(filesUnder(s"$dir/data/c3") == Seq("part-stray.parquet"))
    assert(Versioned.latestVersion(dir) == 2)
  }

  test("a commit reports its rows and bytes as the tasks' output metrics") {
    val dir = tmp("metrics")
    val sc = spark.sparkContext
    val (records, bytes) = (new AtomicLong(), new AtomicLong())
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          records.addAndGet(m.outputMetrics.recordsWritten)
          bytes.addAndGet(m.outputMetrics.bytesWritten)
        }
    }
    GraftTestListenerBus.drain(sc)
    sc.addSparkListener(l)
    val v = try {
      val v = Versioned.commit(rows(0, 777), dir)
      GraftTestListenerBus.drain(sc)
      v
    } finally sc.removeSparkListener(l)
    assert(records.get == 777L)
    assert(bytes.get == filesUnder(s"$dir/data/c$v")
      .map(f => Files.size(Paths.get(dir, "data", s"c$v", f))).sum)
  }

  test("ops-written and connector-written groups share the footer schema " +
      "and the SNAPPY codec") {
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    val dir = tmp("codec")
    val df = spark.range(0, 50, 1, 2).select(col("id").as("k"),
      col("id").cast("decimal(20,4)").as("d"),
      timestamp_seconds(col("id") * 3600).as("ts"),
      concat(lit("s"), col("id").cast("string")).as("s"),
      struct(col("id").as("a"), array(col("id")).as("b")).as("n"))
    Versioned.commit(df, dir)
    df.write.format("graft-versioned").option("path", dir).mode("append").save()
    val footers = Seq("c1", "c2").map { g =>
      val fs = filesUnder(s"$dir/data/$g")
      assert(fs.nonEmpty)
      fs.map(f => footer(s"$dir/data/$g/$f"))
    }
    val schemas = footers.map(_.map(_.getFileMetaData.getSchema).distinct)
    assert(schemas.forall(_.size == 1) && schemas.flatten.distinct.size == 1,
      schemas)
    footers.flatten.flatMap(_.getBlocks.asScala).flatMap(_.getColumns.asScala)
      .foreach(c => assert(c.getCodec == CompressionCodecName.SNAPPY, c))
    assert(Versioned.read(spark, dir).count() == 100)
  }

  // ── manifest statistics: the exact text every write path records ─────

  /** The manifest's `groups`, `stats` and `stats2` entries of version
    * `v`, or "-" when the version was never committed. */
  private def statsText(dir: String, v: Int): String =
    if (!Files.exists(Paths.get(dir, "_manifests", s"v$v.json"))) "-"
    else {
      val m = manifest(dir, v)
      Seq("\"groups\":\\[[^\\]]*\\]", "\"stats\":\\{[^}]*\\}",
        "\"stats2\":\\{[^}]*\\}").map(_.r.findFirstIn(m).getOrElse("")).mkString
    }

  /** Stats-column cases: (name, SQL expression over the row index `i`,
    * rows). */
  private val statsCases: Seq[(String, String, Int)] = Seq(
    ("bigint", "element_at(array(-1000L, 7L, 1099511627776L, -3L), " +
      "CAST(i AS INT) + 1)", 4),
    ("int", "element_at(array(-7, 0, 123456, 42), CAST(i AS INT) + 1)", 4),
    ("decimal", "CAST(element_at(array('-12.75', '0.5', '99999.99', '-0.99'), " +
      "CAST(i AS INT) + 1) AS DECIMAL(18,2))", 4),
    ("double", "element_at(array(-3.9D, 2.5D, 1e19D, -1e300D, " +
      "double('NaN'), 1e18D), CAST(i AS INT) + 1)", 6),
    ("timestamp", "CAST(element_at(array('1960-05-01 12:34:56.789', " +
      "'1969-12-31 23:59:59.5', '1970-01-01 00:00:00.25'), " +
      "CAST(i AS INT) + 1) AS TIMESTAMP)", 3),
    ("all_null", "CAST(NULL AS BIGINT)", 3),
    ("empty", "i", 0),
    ("string", "concat('s', CAST(i AS STRING))", 3))

  /** Manifest text the writers recorded before the stats moved into the
    * write tasks (generated by running this leg against the footer and
    * aggregation probes it replaced). */
  private val expectedStats: Map[(String, String), String] = Map(
    ("bigint", "commit") -> "\"groups\":[\"c1\"]\"stats\":{\"c1\":[-1000,1099511627776]}",
    ("bigint", "insert") -> "\"groups\":[\"c1\"]\"stats\":{\"c1\":[-1000,1099511627776]}",
    ("bigint", "stream") -> "\"groups\":[\"c1\"]\"stats\":{\"c1\":[-1000,1099511627776]}",
    ("int", "commit") -> "\"groups\":[\"c1\"]\"stats\":{\"c1\":[-7,123456]}",
    ("int", "insert") -> "\"groups\":[\"c1\"]\"stats\":{\"c1\":[-7,123456]}",
    ("int", "stream") -> "\"groups\":[\"c1\"]\"stats\":{\"c1\":[-7,123456]}",
    ("decimal", "commit") -> "\"groups\":[\"c1\"]\"stats\":{\"c1\":[-12,99999]}",
    ("decimal", "insert") -> "\"groups\":[\"c1\"]\"stats\":{\"c1\":[-12,99999]}",
    ("decimal", "stream") -> "\"groups\":[\"c1\"]\"stats\":{\"c1\":[-12,99999]}",
    ("double", "commit") -> "\"groups\":[\"c1\"]\"stats\":{\"c1\":[-3,1000000000000000000]}",
    ("double", "insert") -> "\"groups\":[\"c1\"]\"stats\":{\"c1\":[-3,1000000000000000000]}",
    ("double", "stream") -> "\"groups\":[\"c1\"]\"stats\":{\"c1\":[-3,1000000000000000000]}",
    ("timestamp", "commit") -> "\"groups\":[\"c1\"]\"stats\":{\"c1\":[-305119504,0]}",
    ("timestamp", "insert") -> "\"groups\":[\"c1\"]\"stats\":{\"c1\":[-305119504,0]}",
    ("timestamp", "stream") -> "\"groups\":[\"c1\"]\"stats\":{\"c1\":[-305119504,0]}",
    ("all_null", "commit") -> "\"groups\":[\"c1\"]",
    ("all_null", "insert") -> "\"groups\":[\"c1\"]",
    ("all_null", "stream") -> "\"groups\":[\"c1\"]",
    ("empty", "commit") -> "\"groups\":[\"c1\"]",
    ("empty", "insert") -> "-",
    ("empty", "stream") -> "-",
    ("string", "commit") -> "\"groups\":[\"c1\"]",
    ("string", "insert") -> "\"groups\":[\"c1\"]",
    ("string", "stream") -> "\"groups\":[\"c1\"]",
    ("int_bigint", "zorder") -> "\"groups\":[\"c2/__zb=0\",\"c2/__zb=1\",\"c2/__zb=2\",\"c2/__zb=3\"]\"stats2\":{\"c2/__zb=0\":[0,7,0,5],\"c2/__zb=1\":[10,14,1,7],\"c2/__zb=2\":[2,6,9,15],\"c2/__zb=3\":[8,15,8,13]}",
    ("decimal_double", "zorder") -> "\"groups\":[\"c2/__zb=0\",\"c2/__zb=2\"]\"stats2\":{\"c2/__zb=0\":[0,4,0,7],\"c2/__zb=2\":[0,4,8,11]}",
    ("timestamp_int", "zorder") -> "\"groups\":[\"c2/__zb=0\",\"c2/__zb=1\"]\"stats2\":{\"c2/__zb=0\":[0,7,0,6],\"c2/__zb=1\":[8,15,0,6]}")

  test("manifest stats and stats2 text for every stats-column type, through " +
      "commit, a connector INSERT, a streaming epoch and compactZOrder") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def rowsOf(n: Int, e: String): DataFrame =
      spark.range(0, n, 1, 3).select(col("id").as("i"))
        .selectExpr("i AS k", s"$e AS s")
    val got = scala.collection.mutable.LinkedHashMap.empty[(String, String), String]
    statsCases.foreach { case (name, e, n) =>
      val cd = tmp(s"sc_$name")
      Versioned.commit(rowsOf(n, e), cd, statsCol = Some("s"))
      got((name, "commit")) = statsText(cd, 1)
      val id = tmp(s"si_$name")
      rowsOf(n, e).write.format("graft-versioned").option("path", id)
        .option("statsCol", "s").mode("append").save()
      got((name, "insert")) = statsText(id, 1)
      val sd = tmp(s"ss_$name")
      val mem = MemoryStream[Long]
      val q = mem.toDF().selectExpr("value AS i").selectExpr("i AS k", s"$e AS s")
        .writeStream.format("graft-versioned").option("path", sd)
        .option("statsCol", "s").option("checkpointLocation", s"$sd-ckpt")
        .outputMode("append").start()
      try {
        if (n > 0) mem.addData(0L until n.toLong)
        q.processAllAvailable()
      } finally q.stop()
      got((name, "stream")) = statsText(sd, 1)
    }
    // Z-order: the 2-D statistics of each bucket, cast to BIGINT
    Seq(
      ("int_bigint", "CAST(i % 16 AS INT)", "i * 5 % 16"),
      ("decimal_double", "CAST(i % 5 AS DECIMAL(18,2)) + 0.75",
        "CAST(i AS DOUBLE) / 2 + 0.25"),
      ("timestamp_int", "timestamp_seconds(CAST(i % 16 AS DOUBLE) + 0.5)",
        "CAST(i % 7 AS INT)")
    ).foreach { case (name, a, b) =>
      val zd = tmp(s"sz_$name")
      Versioned.commit(spark.range(0, 24, 1, 3).select(col("id").as("i"))
        .selectExpr("i AS k", s"$a AS a", s"$b AS b"), zd)
      val (zv, _) = Versioned.compactZOrder(spark, zd, "a", "b", 4, 2)
      got((name, "zorder")) = statsText(zd, zv)
    }
    val table = got.map { case ((c, via), t) =>
      s"""    ("$c", "$via") -> ${"\"" + t.replace("\"", "\\\"") + "\""},"""
    }.mkString("\n")
    assert(got.toMap == expectedStats, s"\n$table")
  }

  test("commit with statsCol on an INT, DECIMAL or TIMESTAMP column " +
      "launches one job: the write") {
    // three at the footer-probe commit: the write and an aggregation
    Seq("CAST(id AS INT)", "CAST(id AS DECIMAL(18,2)) - 0.5",
        "timestamp_seconds(id * 60 - 3600)").foreach { e =>
      val dir = tmp("stats_typed")
      val df = spark.range(0, 300, 1, 3).selectExpr("id AS k", s"$e AS s")
      val (n, v) = jobs(Versioned.commit(df, dir, statsCol = Some("s")))
      assert(n == 1, s"commit with stats on $e launched $n jobs")
      assert(manifest(dir, v).contains("\"stats\":{\"c1\":["), manifest(dir, v))
    }
  }

  test("compactZOrder launches two jobs: the bucketing shuffle and the " +
      "write") {
    // four when the 2-D stats were a second aggregation over the buckets
    val dir = tmp("zjobs")
    Versioned.commit(spark.range(0, 400, 1, 4).selectExpr("id AS k",
      "CAST(id % 16 AS INT) AS a", "CAST(id / 25 AS INT) AS b"), dir)
    val (n, (v, g)) = jobs(Versioned.compactZOrder(spark, dir, "a", "b", 4, 2))
    assert(n == 2, s"compactZOrder launched $n jobs")
    assert(g == 4 && manifest(dir, v).contains("\"stats2\":{\"c2/__zb=0\":" +
      "[0,7,0,7],\"c2/__zb=1\":[8,15,0,7],\"c2/__zb=2\":[0,7,8,15]," +
      "\"c2/__zb=3\":[8,15,8,15]}"), manifest(dir, v))
  }
}
