package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import graft.SparkSpec
import graft.ops.{ReferenceRead, Versioned}

/** R16 optimization pins: the connector's served type set now includes
  * TIMESTAMP and DECIMAL (both stay on the VECTORIZED path — previously
  * one such column anywhere in the schema refused the scan), and
  * pending deletion vectors no longer drop the scan to the row path
  * (per-batch mask probe + survivor compaction in
  * [[VersionedColumnarReader]]). Every test gates results against an
  * independent reader ([[ReferenceRead]] / the source frame) — the same
  * equality discipline the s49–s55 declared queries run under the
  * DuckDB oracle. */
class VersionedTypedScanSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"dsv2_typed_$tag").toString

  private def load(dir: String, version: Int = 0) = {
    val r = spark.read.format("graft-versioned").option("path", dir)
    (if (version > 0) r.option("versionAsOf", version.toString) else r).load()
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
    df.queryExecution.sparkPlan.collectFirst { case s: BatchScanExec => s }
      .getOrElse(fail("no BatchScanExec in plan"))

  /** Typed source frame: timestamp + small/large decimal + the 7 old
    * types' representatives. */
  private def typedFrame(lo: Long, hi: Long) =
    spark.range(lo, hi).select(
      col("id").as("k"),
      (col("id") * 2).as("v"),
      to_timestamp(lit("2024-03-01 00:00:00")).plus(
        expr("make_interval(0, 0, 0, 0, 0, 0, id)")).as("ts"),
      (col("id").cast("decimal(10,2)") / 4.0).cast("decimal(10,2)").as("d1"),
      (col("id").cast("decimal(28,6)") * 1000000.5).cast("decimal(28,6)")
        .as("d2"))

  test("timestamp + decimal ride the connector WRITE path and read back " +
      "exactly, on the vectorized (columnar) scan") {
    val dir = tmp("wr")
    typedFrame(0, 500).write.format("graft-versioned")
      .option("path", dir).option("statsCol", "k").mode("append").save()
    val back = load(dir)
    assert(back.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(back.schema("d2").dataType.sql == "DECIMAL(28,6)")
    // the scan must be COLUMNAR — the r16 pin: before, any timestamp or
    // decimal column refused the scan outright
    assert(scanOf(back).supportsColumnar, "typed scan fell off the " +
      "vectorized path")
    val got = back.orderBy("k").collect().toSeq
    val want = typedFrame(0, 500).orderBy("k").collect().toSeq
    assert(got == want)
    // manifest pruning still plans fewer files with the typed columns
    val all = scanOf(load(dir)).partitions.flatten.collect {
      case p: VersionedFilePartition => p.files.size }.sum
    typedFrame(500, 1000).write.format("graft-versioned")
      .option("path", dir).option("statsCol", "k").mode("append").save()
    val pruned = scanOf(load(dir).filter(col("k") < 100L))
      .partitions.flatten.collect {
        case p: VersionedFilePartition => p.files.size }.sum
    assert(pruned <= all, s"pruning regressed: $pruned planned of $all")
    assert(load(dir).filter(col("k") < 100L).agg(sum("v")).as[Long].head()
      == (0L until 100L).map(_ * 2).sum)
  }

  test("ops-layer-written timestamps (Spark's INT96 default) + decimals " +
      "serve through the connector equal to Versioned.read") {
    val dir = tmp("ops")
    Versioned.commit(typedFrame(0, 300), dir, statsCol = Some("k"))
    Versioned.commit(typedFrame(300, 600), dir, statsCol = Some("k"))
    val got = load(dir).orderBy("k").collect().toSeq
    val want = ReferenceRead.read(spark, dir).orderBy("k").collect().toSeq
    assert(got == want)
    assert(scanOf(load(dir)).supportsColumnar)
  }

  test("evolution defaults of TIMESTAMP and DECIMAL columns fill old " +
      "groups, through both read paths") {
    val dir = tmp("evo")
    Versioned.commit(spark.range(0, 100).select(col("id").as("k")), dir)
    Versioned.addColumnCommit(spark, dir, "seen_at", "TIMESTAMP",
      "2024-06-01 12:30:00")
    Versioned.addColumnCommit(spark, dir, "price", "DECIMAL(12,3)", "1.250")
    val conn = load(dir)
    assert(scanOf(conn).supportsColumnar)
    val got = conn.orderBy("k").collect().toSeq
    val want = ReferenceRead.read(spark, dir).orderBy("k").collect().toSeq
    assert(got == want)
    val rendered = conn
      .select(date_format(col("seen_at"), "yyyy-MM-dd HH:mm:ss").as("t"),
        col("price").cast("string").as("p"))
      .distinct().collect().toSeq
    assert(rendered.size == 1 &&
      rendered.head.getString(0) == "2024-06-01 12:30:00" &&
      rendered.head.getString(1) == "1.250")
  }

  test("pending deletion vectors stay on the COLUMNAR path: per-batch " +
      "mask + compaction equals the ops-layer anti-join") {
    val dir = tmp("mor")
    (0 until 4).foreach { q =>
      Versioned.commit(
        spark.range(q * 1000L, (q + 1) * 1000L)
          .select(col("id").as("k"), (col("id") % 97).as("v")),
        dir, statsCol = Some("k"))
    }
    // delete every 3rd key of groups 1-2 plus ALL of group 0 (a fully
    // masked file exercises the kept==0 compaction edge)
    val delKeys = spark.range(0, 3000).filter(col("id") < 1000L ||
      col("id") % 3 === 0).select(col("id").as("k"))
    Versioned.deleteCommitMor(delKeys, dir, "k")
    val conn = load(dir)
    // THE r16 pin: a pending DV no longer drops the scan to the row path
    assert(scanOf(conn).supportsColumnar,
      "masked scan fell back to the row path")
    val got = conn.orderBy("k").collect().toSeq
    val want = ReferenceRead.read(spark, dir).orderBy("k").collect().toSeq
    assert(got == want)
    assert(got.size == 4000 - 1000 - 666) // 666 multiples of 3 in [1000,3000)
    // mask key NOT projected: the reader must decode it anyway
    val gotV = conn.select("v").as[Long].collect().sorted.toSeq
    val wantV = ReferenceRead.read(spark, dir).select("v").as[Long]
      .collect().sorted.toSeq
    assert(gotV == wantV)
    // aggregate pushdown still declines under a pending mask (the
    // manifest's counts include masked rows)
    assert(conn.count() == want.size.toLong)
  }

  test("BIGINT delete keys against a DECIMAL key column mask the same " +
      "rows through the connector and the ops read") {
    val dir = tmp("morDecLong")
    Versioned.commit(spark.range(0, 300).select(
      col("id").cast("decimal(20,0)").as("k"), col("id").as("v")), dir)
    Versioned.deleteCommitMor(spark.range(0, 300, 7).select(col("id").as("k")),
      dir, "k")
    val conn = load(dir)
    assert(conn.count() == 300 - 43)
    assert(conn.orderBy("k").collect().toSeq ==
      ReferenceRead.read(spark, dir).select(conn.columns.map(col): _*)
        .orderBy("k").collect().toSeq)
  }

  test("a LONG-built mask matches DECIMAL probes by exact whole value") {
    import org.apache.spark.sql.types.Decimal
    val mask = LongMorMask.build(Array(5L, 0L, Long.MaxValue), 3)
    assert(mask.containsAny(Decimal(5L, 20, 0)))
    assert(mask.containsAny(Decimal(BigDecimal("5.000"), 20, 3)))
    assert(mask.containsAny(Decimal(BigDecimal("0.00"), 10, 2)))
    assert(mask.containsAny(Decimal(BigDecimal(Long.MaxValue), 38, 0)))
    assert(!mask.containsAny(Decimal(BigDecimal("5.5"), 10, 1)))
    assert(!mask.containsAny(Decimal(6L, 20, 0)))
    assert(!mask.containsAny(Decimal(BigDecimal(Long.MaxValue) + 1, 38, 0)))
  }

  test("deletion vectors keyed by INT64 TIMESTAMP(MILLIS) mask exactly; " +
      "NANOS ones fail loudly") {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types => PTypes}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.spark.sql.types.{StructField, StructType, TimestampType}
    val base = tmp("dvUnit")
    // data: micros incl. pre-epoch and a sub-millisecond instant
    val micros = Seq(-2000000L, -1000L, 0L, 1000L, 1500L, 7000L)
    micros.toDF("m").select(timestamp_micros(col("m")).as("ts"))
      .coalesce(1).write.parquet(s"$base/data")
    val data = new java.io.File(s"$base/data").listFiles().map(_.getPath)
      .find(_.endsWith(".parquet")).get
    // parquet-mr's example writer, since Spark cannot write NANOS
    def dvFile(name: String, unit: LogicalTypeAnnotation.TimeUnit,
        ticks: Seq[Long]): String = {
      val schema = PTypes.buildMessage()
        .addField(PTypes.optional(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(true, unit)).named("ts"))
        .named("dv")
      val f = s"$base/$name.parquet"
      val w = ExampleParquetWriter.builder(new HPath(f)).withType(schema)
        .build()
      val groups = new SimpleGroupFactory(schema)
      try ticks.foreach(t => w.write(groups.newGroup().append("ts", t)))
      finally w.close()
      f
    }
    def survivors(dv: String): Seq[Long] = {
      val r = new VersionedColumnarReader(data, "c1",
        StructType(Seq(StructField("ts", TimestampType))), Array.empty,
        Map.empty, Map.empty, Some("ts"), Seq(dv))
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      try while (r.next()) {
        val b = r.get()
        (0 until b.numRows()).foreach(i => out += b.column(0).getLong(i))
      } finally r.close()
      out.toSeq.sorted
    }
    // -2 s, -1 ms and +1 ms are deleted; 1.5 ms is not a whole millisecond
    val millis = dvFile("millis", LogicalTypeAnnotation.TimeUnit.MILLIS,
      Seq(-2000L, -1L, 1L))
    assert(survivors(millis) == Seq(0L, 1500L, 7000L))
    val nanos = dvFile("nanos", LogicalTypeAnnotation.TimeUnit.NANOS,
      Seq(-2000000000L, -1000000L, 1000000L))
    val err = intercept[Exception](survivors(nanos))
    assert(err.getMessage.contains("NANOS"), err.getMessage)
  }

  test("a deletion-vector probe of an unhandled key type fails loudly") {
    import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
    val base = tmp("probe")
    def part(d: String): String = {
      spark.range(0, 10).select(col("id").cast("string").cast("binary").as("k"))
        .coalesce(1).write.parquet(d)
      new java.io.File(d).listFiles().map(_.getPath)
        .find(_.endsWith(".parquet")).get
    }
    val data = part(s"$base/data")
    val deletes = part(s"$base/deletes")
    val err = intercept[IllegalStateException] {
      new VersionedColumnarReader(data, "c1",
        StructType(Seq(StructField("k", BinaryType))), Array.empty, Map.empty,
        Map.empty, Some("k"), Seq(deletes))
    }
    assert(err.getMessage.contains("BinaryType"))
  }

  test("NaN, -0.0 and 0.0 delete keys mask like the ops-layer anti-join") {
    val dir = tmp("morNaN")
    Versioned.commit(Seq(Double.NaN, -0.0, 0.0, 1.5, -2.5, Double.NaN)
      .zipWithIndex.toDF("k", "v"), dir)
    Versioned.deleteCommitMor(Seq(Double.NaN, 0.0).toDF("k"), dir, "k")
    val conn = load(dir)
    assert(scanOf(conn).supportsColumnar)
    assert(conn.orderBy("v").collect().toSeq ==
      ReferenceRead.read(spark, dir).select(conn.columns.map(col): _*)
        .orderBy("v").collect().toSeq)
    // Spark's join equality: NaN matches NaN, and 0.0 matches -0.0
    assert(conn.select("v").as[Int].collect().sorted.toSeq == Seq(3, 4))
  }

  /** Key column of one SQL type over `id`; every 50th key is NULL. */
  private def keyed(sqlType: String, lo: Long, hi: Long) = {
    val id = col("id")
    val k = sqlType match {
      case "DATE" => date_add(lit("2020-01-01").cast("date"), id.cast("int"))
      case "STRING" => concat(lit("k"), id.cast("string"))
      case "DOUBLE" => id.cast("double") / 4.0
      case "TIMESTAMP" => timestamp_seconds(id * 37L - 5000L)
      case d if d.startsWith("DECIMAL") => (id.cast(d) / 4).cast(d)
      case t => id.cast(t)
    }
    spark.range(lo, hi).select(
      when(id % 50 =!= 49, k).as("k"), id.as("v"))
  }

  Seq(
    ("BIGINT", "ops"), ("INT", "ops"), ("DATE", "ops"), ("STRING", "ops"),
    ("DOUBLE", "ops"), ("TIMESTAMP", "ops"), ("TIMESTAMP", "connector"),
    ("DECIMAL(9,2)", "ops"), ("DECIMAL(18,4)", "ops"),
    ("DECIMAL(28,6)", "ops")
  ).foreach { case (sqlType, writer) =>
    test(s"deletion vectors keyed on $sqlType ($writer-written) mask like " +
        "Versioned.read") {
      val dir = tmp("morKey")
      Seq((0L, 100L), (100L, 200L), (200L, 300L)).foreach { case (lo, hi) =>
        val df = keyed(sqlType, lo, hi)
        if (writer == "ops") Versioned.commit(df, dir)
        else df.write.format("graft-versioned").option("path", dir)
          .mode("append").save()
      }
      Versioned.deleteCommitMor(
        keyed(sqlType, 0L, 300L).filter(col("v") % 3 === 0).select("k"),
        dir, "k")
      val conn = load(dir)
      assert(conn.schema("k").dataType.sql == sqlType)
      assert(scanOf(conn).supportsColumnar)
      assert(conn.orderBy("v").collect().toSeq ==
        ReferenceRead.read(spark, dir).select(conn.columns.map(col): _*)
          .orderBy("v").collect().toSeq)
      // NULL keys never match; every other multiple of 3 is deleted
      val want = (0L until 300L).filter(v => v % 50 == 49 || v % 3 != 0)
      assert(conn.select("v").as[Long].collect().sorted.toSeq == want)
    }
  }

  test("an array column is served through the micro-batch scan") {
    import org.apache.spark.sql.streaming.Trigger
    val base = tmp("gate")
    def vecs(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id").as("k"),
      array(col("id").cast("double"), lit(-0.5)).as("vec"))
    Versioned.commit(vecs(0, 10), s"$base/table")
    Versioned.commit(vecs(10, 15), s"$base/table")
    val q = spark.readStream.format("graft-versioned")
      .option("path", s"$base/table").load()
      .writeStream.format("memory").queryName("typed_mb_array")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally { if (q.isActive) q.stop() }
    val got = spark.table("typed_mb_array")
    assert(got.schema("vec").dataType.sql == "ARRAY<DOUBLE>")
    assert(got.orderBy("k").collect().toSeq ==
      vecs(0, 15).orderBy("k").collect().toSeq)
  }

  test("the micro-batch scan reads columnar") {
    import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.streaming.Trigger
    val base = tmp("mbColumnar")
    Versioned.commit(typedFrame(0, 200), s"$base/table")
    Versioned.commit(typedFrame(200, 300), s"$base/table")
    val q = spark.readStream.format("graft-versioned")
      .option("path", s"$base/table").load()
      .writeStream.format("memory").queryName("typed_mb_columnar")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally { if (q.isActive) q.stop() }
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan
    val scan = plan.collectFirst { case s: MicroBatchScanExec => s }
      .getOrElse(fail(s"no MicroBatchScanExec in $plan"))
    assert(scan.supportsColumnar, "micro-batch scan fell off the " +
      "vectorized path")
    assert(spark.table("typed_mb_columnar").orderBy("k").collect().toSeq ==
      typedFrame(0, 300).orderBy("k").collect().toSeq)
  }

  test("the row-level UPDATE and MERGE scans read columnar") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    val warehouse = tmp("rlColumnar")
    spark.conf.set("spark.sql.catalog.tscat", classOf[VersionedCatalog].getName)
    spark.conf.set("spark.sql.catalog.tscat.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tscat.ns")
    val t = "tscat.ns.typed"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT, ts TIMESTAMP, " +
      "d1 DECIMAL(10,2), d2 DECIMAL(28,6)) TBLPROPERTIES ('statsCol'='k')")
    Seq((0L, 100L), (100L, 200L)).foreach { case (lo, hi) =>
      typedFrame(lo, hi).createOrReplaceTempView("typed_src")
      spark.sql(s"INSERT INTO $t SELECT * FROM typed_src")
    }
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    val helper = new AdaptiveSparkPlanHelper {}
    def rowLevelScans(sql: String): Seq[BatchScanExec] = {
      plans.clear()
      spark.listenerManager.register(listener)
      try {
        spark.sql(sql)
        org.apache.spark.GraftTestListenerBus.drain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      plans.toArray(Array.empty[SparkPlan]).toSeq.flatMap(p =>
        helper.collect(p) {
          case s: BatchScanExec if s.scan.isInstanceOf[VersionedRowLevelScan] => s
        })
    }
    val upd = rowLevelScans(s"UPDATE $t SET v = -v WHERE k >= 120 AND k < 130")
    assert(upd.nonEmpty && upd.forall(_.supportsColumnar),
      s"UPDATE scan not columnar: $upd")
    typedFrame(190, 210).createOrReplaceTempView("typed_merge")
    val mrg = rowLevelScans(s"""MERGE INTO $t AS tgt USING typed_merge AS s
      ON tgt.k = s.k
      WHEN MATCHED THEN UPDATE SET v = 0
      WHEN NOT MATCHED THEN INSERT *""")
    assert(mrg.nonEmpty && mrg.forall(_.supportsColumnar),
      s"MERGE scan not columnar: $mrg")
    val got = spark.table(t).orderBy("k").collect().toSeq
    val want = typedFrame(0, 210).select(col("k"),
      when(col("k") >= 120L && col("k") < 130L, -col("v"))
        .when(col("k") >= 190L && col("k") < 200L, lit(0L))
        .otherwise(col("v")).as("v"), col("ts"), col("d1"), col("d2"))
      .orderBy("k").collect().toSeq
    assert(got == want)
  }
}
