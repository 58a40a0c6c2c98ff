package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import graft.SparkSpec
import graft.ops.{ReferenceRead, Versioned}

class VersionedSourceSpec extends SparkSpec {
  import spark.implicits._

  /** Four stats-annotated commits over k = 0..399: quartile ranges
    * [0,100), [100,200), [200,300), [300,400). */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("dsv2_versioned").toString
    (0 until 4).foreach { q =>
      val part = spark.range(q * 100L, (q + 1) * 100L)
        .select(col("id").as("k"), (col("id") * 2).as("v"),
          concat(lit("s"), col("id") % 7).as("tag"),
          (col("id").cast("double") / 4.0).as("x"))
      Versioned.commit(part, d, statsCol = Some("k"))
    }
    d
  }

  private def load(version: Int = 0) = {
    val r = spark.read.format("graft-versioned").option("path", dir)
    (if (version > 0) r.option("versionAsOf", version.toString) else r).load()
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
    // sparkPlan, not executedPlan: AQE wraps exchange-bearing plans in
    // AdaptiveSparkPlanExec, which hides the scan from tree traversal
    df.queryExecution.sparkPlan.collectFirst { case s: BatchScanExec => s }
      .getOrElse(fail("no BatchScanExec in plan"))

  /** Total parquet FILES the scan planned — the pruning observable.
    * Partition COUNT stopped being one (r15): files pack into bins
    * whose target tracks the planned byte total / parallelism (Spark's
    * maxSplitBytes shape), so a pruned scan re-splits finer for core
    * utilization and may plan the SAME number of partitions over fewer
    * files. */
  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Int =
    scanOf(df).partitions.flatten.collect {
      case p: VersionedFilePartition => p.files.size
    }.sum

  test("connector read equals Versioned.read, all columns and types") {
    val got = load().orderBy("k").collect().toSeq
    val want = ReferenceRead.read(spark, dir).orderBy("k").collect().toSeq
    assert(got == want)
    assert(load().schema == ReferenceRead.read(spark, dir).schema)
  }

  test("time travel: versionAsOf serves each historical snapshot") {
    for (v <- 1 to 4) {
      val got = load(v).agg(count(lit(1)), sum("k")).collect().head
      val want = ReferenceRead.read(spark, dir, v)
        .agg(count(lit(1)), sum("k")).collect().head
      assert(got == want, s"v$v mismatch")
    }
    assert(load(1).count() == 100L)
  }

  test("manifest-stats pruning: a range filter plans fewer input files") {
    val all = plannedFiles(load())
    val pruned = plannedFiles(load().filter(col("k") >= 250L && col("k") < 260L))
    assert(pruned > 0 && pruned < all,
      s"expected strict pruning, got $pruned of $all")
    // correctness under pruning
    assert(load().filter(col("k") >= 250L && col("k") < 260L).count() == 10L)
    // equality filter prunes to one group's files
    val one = plannedFiles(load().filter(col("k") === 42L))
    assert(one <= all / 4)
    assert(load().filter(col("k") === 42L).select("v").as[Long].head() == 84L)
  }

  test("disjoint range plans zero partitions and returns zero rows") {
    val df = load().filter(col("k") >= 1000L)
    assert(scanOf(df).inputRDD.getNumPartitions == 0)
    assert(df.count() == 0L)
  }

  test("column pruning and filters reach the scan (plan surfaces)") {
    val df = load().filter(col("k") >= 250L).select("v")
    val desc = scanOf(df).scan.description()
    assert(desc.contains("cols=[k,v]") || desc.contains("cols=[v,k]"),
      s"projection not pruned: $desc")
    assert(desc.contains("GreaterThanOrEqual"), s"filter not pushed: $desc")
    assert(!desc.contains("tag"), s"unrequested column materialized: $desc")
    assert(df.as[Long].collect().sorted.toSeq == (250L until 400L).map(_ * 2))
  }

  test("residual semantics: non-prunable filters still evaluate exactly") {
    // tag is a string column with no manifest stats; double filter mixes in
    val got = load().filter(col("tag") === "s3" && col("x") > 50.0)
      .select("k").as[Long].collect().sorted.toSeq
    val want = (0L until 400L).filter(k => k % 7 == 3 && k / 4.0 > 50.0)
    assert(got == want)
  }

  test("parquet predicate compiles for long/string/double, skips the rest") {
    import org.apache.spark.sql.sources._
    val present = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/data")
      val conf = new org.apache.hadoop.conf.Configuration()
      val f = VersionedScan.listParquetFiles(p, conf).head
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf))
      try r.getFooter.getFileMetaData.getSchema.getFields
        .asInstanceOf[java.util.List[org.apache.parquet.schema.Type]]
      finally r.close()
    }
    import scala.jdk.CollectionConverters._
    val prim = present.asScala.collect {
      case p: org.apache.parquet.schema.PrimitiveType => p.getName -> p
    }.toMap
    val pred = VersionedColumnarReader.toParquetPredicate(
      Array(GreaterThanOrEqual("k", 5L), EqualTo("tag", "s3"),
        LessThan("x", 9.5), EqualTo("missing_col", 1L)), prim)
    assert(pred.isDefined)
    val s = pred.get.toString
    assert(s.contains("k") && s.contains("tag") && s.contains("x"))
    assert(!s.contains("missing_col"))
  }

  test("filterBounds folds conjunctions; unrelated columns ignored") {
    import org.apache.spark.sql.sources._
    assert(VersionedScan.filterBounds(
      Array(GreaterThanOrEqual("k", 10L), LessThan("k", 20L),
        EqualTo("other", 99L)), "k") == ((10L, 19L)))
    assert(VersionedScan.filterBounds(
      Array(And(GreaterThan("k", 5L), LessThanOrEqual("k", 7L))), "k")
      == ((6L, 7L)))
    assert(VersionedScan.filterBounds(Array(EqualTo("k", 3L)), "k")
      == ((3L, 3L)))
  }

  test("connector serves pending states instead of refusing (round 15)") {
    // merge-on-read deletes become a per-reader row mask — the Delta
    // deletion-vector read shape; connector read ≡ Versioned.read
    val d2 = java.nio.file.Files.createTempDirectory("dsv2_mor").toString
    Versioned.commit(spark.range(10)
      .select(col("id").as("k"), (col("id") * 7).as("v")), d2,
      statsCol = Some("k"))
    Versioned.deleteCommitMor(
      spark.range(3).select(col("id").as("k")), d2, "k")
    val mor = spark.read.format("graft-versioned").option("path", d2).load()
    assert(mor.count() == 7L)
    assert(mor.select("k").as[Long].collect().sorted.toSeq == (3L until 10L))
    assert(mor.orderBy("k").collect().toSeq ==
      ReferenceRead.read(spark, d2).orderBy("k").collect().toSeq)
    // the mask applies even when the key column is NOT projected
    assert(mor.select("v").as[Long].collect().sorted.toSeq ==
      (3L until 10L).map(_ * 7))
    // aggregate pushdown DECLINES under a pending mask (the manifest
    // still counts/bounds the masked rows)
    val agg = mor.agg(count(lit(1)))
    assert(!scanOf(agg).scan.description().contains("aggPushed"))
    assert(agg.as[Long].head() == 7L)
    // pre-delete time travel serves all rows, mask-free
    assert(spark.read.format("graft-versioned").option("path", d2)
      .option("versionAsOf", "1").load().count() == 10L)

    // pending column renames are SERVED too: the logical↔physical
    // mapping rides the scan and applies per file
    val d3 = java.nio.file.Files.createTempDirectory("dsv2_ren").toString
    Versioned.commit(spark.range(10).select(col("id").as("k")), d3)
    Versioned.renameColumnCommit(spark, d3, "k", "kk")
    val df = spark.read.format("graft-versioned").option("path", d3).load()
    assert(df.schema.fieldNames.toSeq == Seq("kk"))
    assert(df.agg(sum("kk")).collect()(0).getLong(0) == 45L)
  }

  test("write path: append + overwrite commit real versions, read back exactly") {
    val d = java.nio.file.Files.createTempDirectory("dsv2_write").toString
    val part1 = spark.range(0, 50)
      .select(col("id").as("k"), (col("id") * 3).as("v"),
        concat(lit("w"), col("id") % 5).as("tag"))
    part1.write.format("graft-versioned").option("path", d)
      .option("statsCol", "k").mode("append").save()
    assert(Versioned.latestVersion(d) == 1)
    spark.range(50, 100)
      .select(col("id").as("k"), (col("id") * 3).as("v"),
        concat(lit("w"), col("id") % 5).as("tag"))
      .write.format("graft-versioned").option("path", d)
      .option("statsCol", "k").mode("append").save()
    assert(Versioned.latestVersion(d) == 2)
    // both the library read and the connector read serve the union
    val viaLib = ReferenceRead.read(spark, d).orderBy("k").collect().toSeq
    val viaConn = spark.read.format("graft-versioned").option("path", d)
      .load().orderBy("k").collect().toSeq
    assert(viaLib == viaConn && viaLib.size == 100)
    assert(viaLib.head.getAs[String]("tag") == "w0")
    // connector-written stats drive pruning: v1's group excluded
    val scan = spark.read.format("graft-versioned").option("path", d)
      .load().filter(col("k") >= 80L)
    assert(plannedFiles(scan) < plannedFiles(
      spark.read.format("graft-versioned").option("path", d).load()))
  }

  test("overwrite mode commits a fresh snapshot, history retained") {
    val d = java.nio.file.Files.createTempDirectory("dsv2_ow").toString
    spark.range(0, 20).select(col("id").as("k"))
      .write.format("graft-versioned").option("path", d).mode("append").save()
    spark.range(100, 105).select(col("id").as("k"))
      .write.format("graft-versioned").option("path", d)
      .mode("overwrite").save()
    assert(Versioned.latestVersion(d) == 2)
    assert(Versioned.read(spark, d).count() == 5)
    assert(Versioned.read(spark, d, 1).count() == 20) // time travel intact
    // an empty APPEND is a silent no-op (SQL INSERT ... WHERE false
    // semantics — ADVICE r12): no error, version log untouched
    spark.range(0, 0).select(col("id").as("k"))
      .write.format("graft-versioned").option("path", d)
      .mode("append").save()
    assert(Versioned.latestVersion(d) == 2)
    // an empty OVERWRITE genuinely truncates — still refused loudly
    val e = intercept[Exception] {
      spark.range(0, 0).select(col("id").as("k"))
        .write.format("graft-versioned").option("path", d)
        .mode("overwrite").save()
    }
    assert(e.getMessage.contains("empty OVERWRITE") ||
      Option(e.getCause).exists(_.getMessage.contains("empty OVERWRITE")))
    assert(Versioned.latestVersion(d) == 2)
  }

  test("staged append refuses schema drift and stays invisible") {
    val d = java.nio.file.Files.createTempDirectory("dsv2_drift").toString
    spark.range(0, 5).select(col("id").as("k"))
      .write.format("graft-versioned").option("path", d).mode("append").save()
    intercept[Exception] {
      spark.range(0, 5).select(col("id").as("other"))
        .write.format("graft-versioned").option("path", d)
        .mode("append").save()
    }
    // TYPE drift under a matching name is refused too — a name-only
    // check would publish a poison version every later read dies on
    intercept[Exception] {
      spark.range(0, 5).select(col("id").cast("int").as("k"))
        .write.format("graft-versioned").option("path", d)
        .mode("append").save()
    }
    assert(Versioned.latestVersion(d) == 1)
    assert(Versioned.read(spark, d).columns.toSeq == Seq("k"))
    assert(Versioned.read(spark, d).count() == 5) // still readable
  }

  test("versionAsOf option: non-integer and 0 refuse with a typed message") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-versioned").option("path", dir)
        .option("versionAsOf", "latest").load().count()
    }
    assert(e.getMessage.contains("versionAsOf must be an integer"))
    val e2 = intercept[IllegalArgumentException] {
      spark.read.format("graft-versioned").option("path", dir)
        .option("versionAsOf", "0").load().count()
    }
    assert(e2.getMessage.contains("versions start at 1"))
  }

  test("aggregate pushdown: global MIN/MAX answered from the manifest, zero files") {
    val df = load().agg(min("k").as("lo"), max("k").as("hi"))
    val scan = scanOf(df)
    assert(scan.scan.description().contains("aggPushed"),
      s"MIN/MAX not answered from metadata: ${scan.scan.description()}")
    assert(scan.inputRDD.getNumPartitions == 1)
    assert(df.as[(Long, Long)].head() == ((0L, 399L)))
    // per-version bounds
    val v2 = spark.read.format("graft-versioned").option("path", dir)
      .option("versionAsOf", "2").load().agg(min("k"), max("k"))
    assert(v2.as[(Long, Long)].head() == ((0L, 199L)))
  }

  test("aggregate pushdown declines when it cannot be exact") {
    // residual filter → bounds would lie
    val f = load().filter(col("tag") === "s3").agg(min("k"))
    assert(!scanOf(f).scan.description().contains("aggPushed"))
    assert(f.as[Long].head() == 3L)
    // grouped aggregate → no per-group manifest bounds
    val g = load().groupBy("tag").agg(min("k"))
    assert(!scanOf(g).scan.description().contains("aggPushed"))
    // non-stats column → manifest holds no bounds for v
    val o = load().agg(min("v"))
    assert(!scanOf(o).scan.description().contains("aggPushed"))
    assert(o.as[Long].head() == 0L)
    // mixed MIN + COUNT(*) both answer from the manifest (stats +
    // exact per-group row counts) — complete pushdown, values exact
    val m = load().agg(min("k"), count(lit(1)))
    assert(scanOf(m).scan.description().contains("aggPushed"))
    assert(m.as[(Long, Long)].head() == ((0L, 400L)))
    // ...but COUNT on a COLUMN counts non-nulls — the manifest cannot
    // know null counts, so it declines
    val c = load().agg(count(col("v")))
    assert(!scanOf(c).scan.description().contains("aggPushed"))
    assert(c.as[Long].head() == 400L)
  }

  test("COUNT(*) answers from the manifest alone: one metadata partition") {
    val df = load().agg(count(lit(1)).as("n"))
    val scan = scanOf(df)
    assert(scan.scan.description().contains("count(*)"),
      s"count leg not pushed: ${scan.scan.description()}")
    assert(scan.inputRDD.getNumPartitions == 1)
    assert(df.as[Long].head() == 400L)
    // and against a pinned historical snapshot
    val h = load(2).agg(count(lit(1)).as("n"))
    assert(scanOf(h).scan.description().contains("count(*)"))
    assert(h.as[Long].head() == 200L)
  }

  test("streaming source: versions are offsets, appends arrive incrementally, overwrite refuses") {
    val base = java.nio.file.Files.createTempDirectory("dsv2_stream")
    val (table, sink, ckpt) =
      (s"$base/table", s"$base/sink", s"$base/ckpt")
    Versioned.commit(spark.range(0, 10).select(col("id").as("k")), table)
    Versioned.commit(spark.range(10, 25).select(col("id").as("k")), table)
    def pass(): Long = {
      val q = spark.readStream.format("graft-versioned")
        .option("path", table).load()
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally { if (q.isActive) q.stop() }
      spark.read.parquet(sink).count()
    }
    assert(pass() == 25L) // v1+v2 in the first run
    assert(pass() == 25L) // no new version → no-op resume
    Versioned.commit(spark.range(25, 31).select(col("id").as("k")), table)
    assert(pass() == 31L) // only v3's 6 rows appended
    // streamed content equals the table
    assert(spark.read.parquet(sink).as[Long].collect().sorted.toSeq ==
      (0L until 31L))
    // an overwrite step refuses (consumed snapshot replaced)
    Versioned.commit(spark.range(0, 3).select(col("id").as("k")), table,
      overwrite = true)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft-versioned")
        .option("path", table).load()
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally { if (q.isActive) q.stop() }
    }
    assert(e.getMessage.contains("OVERWRITE") ||
      Option(e.getCause).exists(_.getMessage.contains("OVERWRITE")))
  }

  test("missing path option and empty table fail loudly") {
    intercept[IllegalArgumentException] {
      spark.read.format("graft-versioned").load().count()
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft-versioned")
        .option("path", "/tmp/does_not_exist_graft").load().count()
    }
  }

  test("snapshot pinning: a planned scan ignores commits landing mid-query") {
    val d = java.nio.file.Files.createTempDirectory("dsv2_pin").toString
    Versioned.commit(spark.range(0, 50).select(col("id").as("k")), d)
    val df = spark.read.format("graft-versioned").option("path", d).load()
    df.queryExecution.executedPlan // force planning: the builder pins v1
    Versioned.commit(spark.range(50, 80).select(col("id").as("k")), d)
    // execute the SAME query execution (count()/as[] would re-plan)
    assert(df.collect().length == 50,
      "scan re-resolved 'latest' after planning — snapshot not pinned")
    // a FRESH read sees the new commit
    assert(spark.read.format("graft-versioned").option("path", d)
      .load().count() == 80L)
    // pinned aggregate answer: plan the agg, land a commit, execute
    val agg = spark.read.format("graft-versioned").option("path", d)
      .load().agg(count(lit(1)).as("n"))
    agg.queryExecution.executedPlan
    Versioned.commit(spark.range(80, 90).select(col("id").as("k")), d)
    assert(agg.collect()(0).getLong(0) == 80L)
  }

  test("schema across heterogeneous groups: union served, conflicts refused") {
    val d = java.nio.file.Files.createTempDirectory("dsv2_hetero").toString
    Versioned.commit(spark.range(0, 10).select(col("id").as("k")), d)
    // a later append added a column via plain commit (no normalization)
    Versioned.commit(
      spark.range(10, 15).select(col("id").as("k"), (col("id") * 2).as("v")),
      d)
    val df = spark.read.format("graft-versioned").option("path", d).load()
    assert(df.schema.fieldNames.toSeq == Seq("k", "v"),
      s"union schema not served: ${df.schema.fieldNames.toSeq}")
    assert(df.count() == 15L)
    // old group's rows serve NULL for the evolution-added column
    assert(df.filter(col("v").isNull).count() == 10L)
    assert(df.filter(col("v") === 28L).select("k").as[Long].head() == 14L)
    // conflicting TYPES for one name refuse loudly
    val d2 = java.nio.file.Files.createTempDirectory("dsv2_conflict").toString
    Versioned.commit(spark.range(0, 5).select(col("id").as("k")), d2)
    Versioned.commit(
      spark.range(5, 8).select(col("id").cast("int").as("k")), d2)
    val e = intercept[Exception] {
      spark.read.format("graft-versioned").option("path", d2).load()
    }
    assert(e.getMessage.contains("conflicting types"))
  }

  test("connector serves pending schema evolution per file, zero data rewritten") {
    val d = java.nio.file.Files.createTempDirectory("dsv2_evo").toString
    Versioned.commit(spark.range(0, 10)
      .select(col("id").as("k"), (col("id") * 2).as("v")), d,
      statsCol = Some("k"))
    def conn = spark.read.format("graft-versioned").option("path", d).load()
    // ADD COLUMN ... DEFAULT: metadata-only; the old group serves it
    Versioned.addColumnCommit(spark, d, "status", "string", "fresh")
    assert(Versioned.groupNames(d) == Seq("c1"))
    assert(conn.schema.fieldNames.toSeq == Seq("k", "v", "status"))
    assert(conn.filter(col("status") === "fresh").count() == 10L)
    assert(conn.orderBy("k").collect().toSeq ==
      ReferenceRead.read(spark, d).orderBy("k").collect().toSeq)
    // DROP COLUMN: projected out at head, still in the v1 read
    Versioned.applyDefaultsCommit(spark, d) // materialize to allow DROP mix
    Versioned.dropColumnCommit(spark, d, "v")
    assert(conn.schema.fieldNames.toSeq == Seq("k", "status"))
    assert(conn.count() == 10L)
    // RENAME COLUMN: mapping applied per file, pushdown follows
    Versioned.applyDropsCommit(spark, d)
    Versioned.renameColumnCommit(spark, d, "k", "key_id")
    assert(conn.schema.fieldNames.toSeq == Seq("key_id", "status"))
    assert(conn.filter(col("key_id") >= 5L).count() == 5L)
    assert(conn.orderBy("key_id").select("key_id").as[Long].collect().toSeq
      == (0L until 10L))
    // the whole journey matches the ops-layer read at each step
    assert(conn.orderBy("key_id").collect().toSeq ==
      ReferenceRead.read(spark, d).orderBy("key_id").collect().toSeq)
  }

  test("streaming source freezes the AvailableNow end offset at query start") {
    val d = java.nio.file.Files.createTempDirectory("dsv2_anow").toString
    Versioned.commit(spark.range(0, 5).select(col("id").as("k")), d)
    Versioned.commit(spark.range(5, 9).select(col("id").as("k")), d)
    val stream = new VersionedMicroBatchStream(d,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))), Array.empty)
    stream.prepareForTriggerAvailableNow() // freeze at v2
    Versioned.commit(spark.range(9, 12).select(col("id").as("k")), d)
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    // the admission-control offset serves the FROZEN end, not the head
    assert(stream.latestOffset(stream.initialOffset(),
      ReadLimit.allAvailable()).json() == """{"version":2}""")
    // the plain (non-AvailableNow) path still tracks the live head
    assert(stream.latestOffset().json() == """{"version":3}""")
  }

  test("mid-stream ALTER survives: RENAME commits the next epoch under " +
      "the new mapping; ADD COLUMN fills the default for epoch groups") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("dsv2_srename")
    val (table, ckpt) = (s"$base/table", s"$base/ckpt")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Long]
    Versioned.commit(spark.range(0, 5).select(col("id").as("k")), table)
    val q = mem.toDF().select(col("value").as("k"))
      .writeStream.format("graft-versioned")
      .option("path", table).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      mem.addData(10L, 11L)
      q.processAllAvailable()
      assert(Versioned.read(spark, table).count() == 7)
      // RENAME between epochs of the RUNNING query: physical names are
      // rename-stable, so the query-start logical→physical translation
      // stays correct and the next epoch commits cleanly — no restart
      Versioned.renameColumnCommit(spark, table, "k", "key")
      mem.addData(12L, 13L)
      q.processAllAvailable()
      val afterRename = load0(table)
      assert(afterRename.schema.fieldNames.toSeq == Seq("key"))
      assert(afterRename.count() == 9)
      assert(Versioned.read(spark, table).agg(sum("key")).as[Long].head() ==
        (0L until 5L).sum + 10L + 11L + 12L + 13L)
    } finally q.stop()
    // ADD COLUMN with a DEFAULT mid-stream (separate table — ADD after
    // RENAME is gated by design): the stream's writer schema was fixed
    // at query start, so epoch groups OMIT the new column — the staged
    // commit tolerates omitted DEFAULTED columns and both read paths
    // fill them per group by physical absence
    val table2 = s"$base/table2"
    val mem2 = MemoryStream[Long]
    Versioned.commit(spark.range(0, 5).select(col("id").as("k")), table2)
    val q2 = mem2.toDF().select(col("value").as("k"))
      .writeStream.format("graft-versioned")
      .option("path", table2).option("checkpointLocation", s"$base/ckpt2")
      .outputMode("append").start()
    try {
      mem2.addData(10L)
      q2.processAllAvailable()
      Versioned.addColumnCommit(spark, table2, "src", "STRING", "stream")
      mem2.addData(14L)
      q2.processAllAvailable()
      val afterAdd = load0(table2)
      assert(afterAdd.schema.fieldNames.toSet == Set("k", "src"))
      assert(afterAdd.count() == 7)
      assert(afterAdd.filter(col("k") === 14L).select("src")
        .as[String].head() == "stream")
      assert(Versioned.read(spark, table2).filter(col("k") === 14L)
        .select("src").as[String].head() == "stream")
    } finally q2.stop()
  }

  test("review pins (r15): LongMorMask cross-numeric equality + capacity " +
      "guard; batch appends may NOT omit defaulted columns") {
    // the boxed-set era matched Double(5.0) against a Long-built mask
    // (Scala cooperative equality), as does the ops layer's anti-join —
    // the primitive mask must agree or connector reads resurrect rows
    val m = LongMorMask.build(Array(5L, 0L, -3L, Long.MaxValue), 4)
    assert(m.containsLong(5L) && m.containsLong(0L) && m.containsLong(-3L))
    assert(m.containsAny(5.0) && m.containsAny(5.0f) && m.containsAny(5L))
    assert(!m.containsAny(5.5) && !m.containsAny(4L) && !m.containsAny("5"))
    // 2^63-1 rounds to 2^63 in double; cooperative equality (and the
    // ops layer's long=double cast-compare) treats them equal — parity
    assert(m.containsAny(Long.MaxValue) &&
      m.containsAny(Long.MaxValue.toDouble))
    // capacity math is LONG-safe: a key count that would overflow the
    // Int doubling loop refuses loudly instead of hanging the executor
    val big = intercept[IllegalArgumentException](
      LongMorMask.build(Array.empty[Long], Int.MaxValue))
    assert(big.getMessage.contains("deletion vector too large"))
    // BATCH strictness: only the RUNNING streaming sink may omit a
    // defaulted column (its writer schema predates the ALTER); a batch
    // append omitting one is schema drift and refuses loudly
    val d = java.nio.file.Files.createTempDirectory("dsv2_batchdef").toString
    Versioned.commit(spark.range(0, 5).select(col("id").as("k")), d)
    Versioned.addColumnCommit(spark, d, "src", "STRING", "x")
    intercept[Exception] {
      spark.range(5, 8).select(col("id").as("k"))
        .write.format("graft-versioned").option("path", d)
        .mode("append").save()
    }
    // nothing landed: the omission refused (at analysis or at the
    // staged commit — either is the loud path), snapshot unchanged
    assert(load0(d).count() == 5L)
  }

  test("native streaming sink: epoch appends land exactly-once across restarts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("dsv2_ssink")
    val (table, ckpt) = (s"$base/table", s"$base/ckpt")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Long]
    mem.addData(0L until 10L: _*)
    def runPass(): Unit = {
      val q = mem.toDF().select(col("value").as("k"))
        .writeStream.format("graft-versioned")
        .option("path", table).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000); ()
    }
    runPass()
    assert(Versioned.read(spark, table).count() == 10L)
    val vAfter1 = Versioned.latestVersion(table)
    // restart from the same checkpoint with NO new data: nothing commits
    runPass()
    assert(Versioned.latestVersion(table) == vAfter1,
      "replayed epoch re-committed — not exactly-once")
    assert(Versioned.read(spark, table).count() == 10L)
    // new data appends incrementally
    mem.addData(10L until 25L: _*)
    runPass()
    assert(Versioned.read(spark, table).count() == 25L)
    assert(Versioned.read(spark, table).agg(sum("k")).as[Long].head() ==
      (0L until 25L).sum)
    // the committed steps are appends — the streaming SOURCE can serve them
    (vAfter1 to Versioned.latestVersion(table)).foreach(v =>
      assert(Versioned.stepIsAppend(table, v)))
  }

  test("per-group deletion vectors: keys route to touched groups only; " +
      "readers load their own vector executor-side") {
    val d = java.nio.file.Files.createTempDirectory("dsv2_dv").toString
    (0 until 4).foreach { q =>
      Versioned.commit(
        spark.range(q * 100L, (q + 1) * 100L)
          .select(col("id").as("k"), (col("id") * 2).as("v")),
        d, statsCol = Some("k"))
    }
    // delete keys 150..159 — entirely inside c2's [100,200) stats range
    Versioned.deleteCommitMor(
      spark.range(150, 160).select(col("id").as("k")), d, "k")
    // on-disk layout: the delete group is __tg=-partitioned and holds a
    // vector ONLY for the touched group (c2)
    val dGroups = new java.io.File(s"$d/data/d5").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dGroups == Set("__tg=c2"), s"got $dGroups")
    // planning: only c2 gets a vector entry — untouched groups pay zero
    val p = Versioned.connectorPlan(d)
    val vecs = VersionedScan.morVectorFiles(p,
      spark.sessionState.newHadoopConf())
    assert(vecs.keySet == Set("c2"), s"got ${vecs.keySet}")
    // connector read masks exactly; ops read agrees; time travel clean
    val conn = load0(d)
    assert(conn.count() == 390L)
    assert(conn.filter(col("k") >= 150L && col("k") < 160L).count() == 0L)
    assert(conn.agg(sum("k")).as[Long].head() ==
      ReferenceRead.read(spark, d).agg(sum("k")).as[Long].head())
    assert(spark.read.format("graft-versioned").option("path", d)
      .option("versionAsOf", "4").load().count() == 400L)
    // a second MOR delete accumulates (union across delete groups)
    Versioned.deleteCommitMor(
      spark.range(350, 355).select(col("id").as("k")), d, "k")
    assert(load0(d).count() == 385L)
    val vecs2 = VersionedScan.morVectorFiles(Versioned.connectorPlan(d),
      spark.sessionState.newHadoopConf())
    assert(vecs2.keySet == Set("c2", "c4"), s"got ${vecs2.keySet}")
    // keys matching NO group's range persist under the reserved
    // __tg=__none partition: they cannot exist in any in-scope group
    // (outside every [min,max]), but the carried-forward-mask contract
    // says a deleted key stays masked if a LATER append re-inserts it —
    // identical to the legacy flat layout's semantics (advice r15)
    val vBefore = Versioned.latestVersion(d)
    Versioned.deleteCommitMor(
      spark.range(5000, 5010).select(col("id").as("k")), d, "k")
    assert(Versioned.latestVersion(d) == vBefore + 1)
    assert(Versioned.readDeletes(d, vBefore + 1)._1.size ==
      Versioned.readDeletes(d, vBefore)._1.size + 1)
    val noneDirs = new java.io.File(s"$d/data/d${vBefore + 1}").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(noneDirs == Set("__tg=__none"), s"got $noneDirs")
    assert(load0(d).count() == 385L)
    // in-scope groups pay NOTHING for the unrouted keys: the per-group
    // vector map is unchanged (__none matches no data group)
    val vecs3 = VersionedScan.morVectorFiles(Versioned.connectorPlan(d),
      spark.sessionState.newHadoopConf())
    assert(vecs3.keySet == Set("c2", "c4"), s"got ${vecs3.keySet}")
    // a LATER append re-inserting an unrouted key is OUT of the
    // delete's recorded scope → the full union (incl. __none) masks it
    Versioned.commit(spark.range(5000, 5002).select(col("id").as("k")),
      d, statsCol = Some("k"))
    assert(load0(d).count() == 385L)
    assert(Versioned.read(spark, d).count() == 385L)
    // fold: applyDeletesCommit still clears everything
    Versioned.applyDeletesCommit(spark, d)
    assert(load0(d).count() == 385L)
    assert(Versioned.readDeletes(d, Versioned.latestVersion(d))._1.isEmpty)
  }

  private def load0(d: String) =
    spark.read.format("graft-versioned").option("path", d).load()

  test("deletion vectors fall back to flat layout when the delete key " +
      "is not the stats column; reads stay exact") {
    val d = java.nio.file.Files.createTempDirectory("dsv2_dvflat").toString
    (0 until 2).foreach { q =>
      Versioned.commit(
        spark.range(q * 50L, (q + 1) * 50L)
          .select(col("id").as("k"), (col("id") % 10).as("cat")),
        d, statsCol = Some("k"))
    }
    // delete ON cat (not the stats column) → no per-group routing is
    // possible; the conservative FLAT layout serves every group
    Versioned.deleteCommitMor(
      spark.range(0, 1).select(lit(3L).as("cat")), d, "cat")
    val dGroups = new java.io.File(s"$d/data/d3").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dGroups.isEmpty, s"expected flat layout, got $dGroups")
    val vecs = VersionedScan.morVectorFiles(Versioned.connectorPlan(d),
      spark.sessionState.newHadoopConf())
    assert(vecs.keySet == Set("c1", "c2"), s"got ${vecs.keySet}")
    // 10 of 100 rows have cat == 3
    assert(load0(d).count() == 90L)
    assert(load0(d).filter(col("cat") === 3L).count() == 0L)
    assert(Versioned.read(spark, d).count() == 90L)
  }

  test("TRUNCATE discards pending MOR deletes; the tombstone reads empty " +
      "through the connector") {
    val d = java.nio.file.Files.createTempDirectory("dsv2_trmor").toString
    Versioned.commit(
      spark.range(0, 40).select(col("id").as("k"), (col("id") * 2).as("v")),
      d, statsCol = Some("k"))
    Versioned.deleteCommitMor(
      spark.range(0, 5).select(col("id").as("k")), d, "k")
    assert(load0(d).count() == 35L)
    Versioned.truncateCommit(spark, d)
    val v = Versioned.latestVersion(d)
    // the tombstone carries NO delete state and serves a typed empty frame
    assert(Versioned.readDeletes(d, v)._1.isEmpty)
    assert(load0(d).count() == 0L)
    assert(load0(d).schema.fieldNames.toSeq == Seq("k", "v"))
    // the masked pre-truncate snapshot still time-travels WITH its mask
    assert(spark.read.format("graft-versioned").option("path", d)
      .option("versionAsOf", "2").load().count() == 35L)
    // re-insert: fresh table semantics against the recorded schema
    spark.range(100, 110).select(col("id").as("k"), (col("id") * 2).as("v"))
      .write.format("graft-versioned").option("path", d).mode("append").save()
    assert(load0(d).count() == 10L)
  }

  test("crash-orphan sweep is ATTRIBUTED: own txn orphan swept, foreign " +
      "orphan refuses loudly") {
    val d = java.nio.file.Files.createTempDirectory("dsv2_orphan").toString
    spark.range(0, 10).select(col("id").as("k"))
      .write.format("graft-versioned").option("path", d).mode("append").save()
    // simulate a crash of app "epochapp" between its staged dir's
    // ATOMIC_MOVE and the manifest publish: data/c2 exists (with the
    // app's txn marker, as commitStagedGroup stamps pre-move) but
    // manifest v2 was never published — the restarted epoch must sweep
    // it and commit instead of wedging forever (ADVICE r13)
    val orphan = java.nio.file.Paths.get(d, "data", "c2")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("part-orphan.parquet"),
      Array[Byte](1, 2, 3))
    java.nio.file.Files.write(orphan.resolve("_graft_txn"),
      "epochapp\n7".getBytes("UTF-8"))
    val staged = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(d), "_stage").toString
    spark.range(10, 15).select(col("id").as("k"))
      .coalesce(1).write.mode("overwrite").parquet(staged)
    val committed = Versioned.commitStagedGroupIdempotent(spark, d, staged,
      appId = "epochapp", txnVersion = 7L,
      written = Seq(VersionedCommitMessage(Some(staged), 5L)))
    assert(committed.contains(2))
    val got = Versioned.read(spark, d)
    assert(got.count() == 15L) // the orphan bytes are gone, not served
    assert(got.agg(sum("k")).as[Long].head() == (0L until 15L).sum)
    // a FOREIGN orphan (no marker / another app's marker) must refuse
    // loudly — an unconditional sweep could eat a live racer's
    // just-moved data (review r16)
    val orphan3 = java.nio.file.Paths.get(d, "data", "c3")
    java.nio.file.Files.createDirectories(orphan3)
    java.nio.file.Files.write(orphan3.resolve("part-x.parquet"),
      Array[Byte](9))
    val e = intercept[java.util.ConcurrentModificationException] {
      spark.range(0, 3).select(col("id").as("k"))
        .write.format("graft-versioned").option("path", d)
        .mode("append").save()
    }
    assert(e.getMessage.contains("unattributed"))
    val staged2 = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(d), "_stage").toString
    spark.range(0, 3).select(col("id").as("k"))
      .coalesce(1).write.mode("overwrite").parquet(staged2)
    intercept[java.util.ConcurrentModificationException] {
      Versioned.commitStagedGroupIdempotent(spark, d, staged2,
        appId = "otherapp", txnVersion = 1L,
        written = Seq(VersionedCommitMessage(Some(staged2), 3L)))
    }
    assert(Versioned.latestVersion(d) == 2) // nothing published past it
  }

  test("re-inserted key after a routed MOR delete stays masked: connector " +
      "and ops read agree") {
    val d = java.nio.file.Files.createTempDirectory("dsv2_reins").toString
    Versioned.commit(
      spark.range(0, 100).select(col("id").as("k"), (col("id") * 2).as("v")),
      d, statsCol = Some("k"))
    Versioned.deleteCommitMor(
      spark.range(50, 55).select(col("id").as("k")), d, "k") // routed → c1
    // APPEND a group that re-inserts a deleted key (k=50): appends carry
    // the pending delete files, so the key must stay masked EVERYWHERE
    // until applyDeletesCommit — the post-delete group is outside the
    // delete's recorded routing scope and gets the full union
    Versioned.commit(
      spark.range(0, 2).select((col("id") * 50 + 50).as("k"),
        lit(-1L).as("v")), d, statsCol = Some("k")) // keys 50, 100
    val ops = ReferenceRead.read(spark, d)
    val conn = load0(d)
    assert(ops.filter(col("k") === 50L).count() == 0L, "ops read leaked")
    assert(conn.filter(col("k") === 50L).count() == 0L,
      "connector served a re-inserted deleted key")
    assert(conn.count() == ops.count())
    assert(conn.agg(sum("v")).as[Long].head() ==
      ops.agg(sum("v")).as[Long].head())
    // the fresh key (k=100) in the new group IS served
    assert(conn.filter(col("k") === 100L).count() == 1L)
    // fold: everything agrees after applyDeletesCommit too
    Versioned.applyDeletesCommit(spark, d)
    assert(load0(d).count() == ReferenceRead.read(spark, d).count())
    assert(load0(d).filter(col("k") === 50L).count() == 0L)
  }

  test("ALTER / MOR delete / restore / clone on a TRUNCATE tombstone keep " +
      "the recorded schema (no wedged head)") {
    val d = java.nio.file.Files.createTempDirectory("dsv2_tralter").toString
    Versioned.commit(
      spark.range(0, 10).select(col("id").as("k"), (col("id") * 2).as("v")), d)
    Versioned.truncateCommit(spark, d) // v2 tombstone
    // metadata verbs on the tombstone rewrite the recorded DDL directly
    Versioned.renameColumnCommit(spark, d, "v", "val") // v3
    assert(Versioned.read(spark, d).columns.toSeq == Seq("k", "val"))
    Versioned.addColumnCommit(spark, d, "tag", "STRING", "x") // v4
    assert(Versioned.read(spark, d).columns.toSeq == Seq("k", "val", "tag"))
    Versioned.dropColumnCommit(spark, d, "tag") // v5
    assert(Versioned.read(spark, d).columns.toSeq == Seq("k", "val"))
    // no pending state was left behind: a plain append works and serves
    assert(Versioned.readRenames(d, 5).isEmpty &&
      Versioned.readDefaults(d, 5).isEmpty && Versioned.readDrops(d, 5).isEmpty)
    // MOR delete from the tombstone is a no-op, never a wedged manifest
    val v = Versioned.deleteCommitMor(
      spark.range(0, 1).select(col("id").as("k")), d, "k")
    assert(v == 5 && Versioned.readDeletes(d, 5)._1.isEmpty)
    // restore TO the tombstone re-publishes its schema
    Versioned.commit(spark.range(0, 3)
      .select(col("id").as("k"), col("id").as("val")), d) // v6 data
    Versioned.restore(spark, d, 5) // v7 = the (altered) tombstone again
    assert(Versioned.read(spark, d).count() == 0L)
    assert(Versioned.read(spark, d).columns.toSeq == Seq("k", "val"))
    // clone of a tombstone-headed table serves the schema too
    val dst = java.nio.file.Files.createTempDirectory("dsv2_trclone").toString
    java.nio.file.Files.delete(java.nio.file.Paths.get(dst))
    Versioned.cloneShallow(d, dst)
    assert(Versioned.read(spark, dst).count() == 0L)
    assert(Versioned.read(spark, dst).columns.toSeq == Seq("k", "val"))
  }

  test("append lands under a pending column RENAME via physical-name staging") {
    val d = java.nio.file.Files.createTempDirectory("dsv2_rnapp").toString
    spark.range(0, 10).select(col("id").as("k"), (col("id") * 2).as("v"))
      .write.format("graft-versioned").option("path", d).mode("append").save()
    Versioned.renameColumnCommit(spark, d, "v", "val") // metadata-only, v2
    // the connector append arrives with LOGICAL names (k, val); the
    // writer stages in PHYSICAL names so the snapshot stays homogeneous
    spark.range(10, 20).select(col("id").as("k"), (col("id") * 2).as("val"))
      .write.format("graft-versioned").option("path", d).mode("append").save()
    assert(Versioned.latestVersion(d) == 3)
    // on-disk homogeneity: the staged group carries the PHYSICAL name
    assert(spark.read.parquet(s"$d/data/c3").columns.toSet == Set("k", "v"))
    // both read surfaces serve the LOGICAL schema over all 20 rows
    val lib = Versioned.read(spark, d)
    assert(lib.columns.toSeq.sorted == Seq("k", "val"))
    assert(lib.count() == 20L)
    val conn = spark.read.format("graft-versioned").option("path", d).load()
    assert(conn.columns.toSeq.sorted == Seq("k", "val"))
    assert(conn.filter(col("val") >= 20L).count() == 10L)
    assert(conn.agg(sum("val")).as[Long].head() == (0L until 20L).map(_ * 2).sum)
    // a STALE-shape append (old logical name) still refuses loudly
    intercept[Exception] {
      spark.range(0, 3).select(col("id").as("k"), col("id").as("wrong"))
        .write.format("graft-versioned").option("path", d)
        .mode("append").save()
    }
    assert(Versioned.latestVersion(d) == 3)
  }
}
