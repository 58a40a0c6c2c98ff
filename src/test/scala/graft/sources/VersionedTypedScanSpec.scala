package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import graft.SparkSpec
import graft.ops.Versioned

/** R16 optimization pins: the connector's served type set now includes
  * TIMESTAMP and DECIMAL (both stay on the VECTORIZED path — previously
  * one such column anywhere in the schema refused the scan), and
  * pending deletion vectors no longer drop the scan to the row path
  * (per-batch mask probe + survivor compaction in
  * [[VersionedColumnarReader]]). Every test gates results against the
  * ops layer ([[Versioned.read]] / the source frame) — the same
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
    val want = Versioned.read(spark, dir).orderBy("k").collect().toSeq
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
    val want = Versioned.read(spark, dir).orderBy("k").collect().toSeq
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
    val want = Versioned.read(spark, dir).orderBy("k").collect().toSeq
    assert(got == want)
    assert(got.size == 4000 - 1000 - 666) // 666 multiples of 3 in [1000,3000)
    // mask key NOT projected: the reader must decode it anyway
    val gotV = conn.select("v").as[Long].collect().sorted.toSeq
    val wantV = Versioned.read(spark, dir).select("v").as[Long]
      .collect().sorted.toSeq
    assert(gotV == wantV)
    // aggregate pushdown still declines under a pending mask (the
    // manifest's counts include masked rows)
    assert(conn.count() == want.size.toLong)
  }

  test("deletion vectors keyed on TIMESTAMP and DECIMAL columns mask " +
      "identically through columnar and ops reads") {
    val dir = tmp("morTyped")
    Versioned.commit(typedFrame(0, 400), dir, statsCol = Some("k"))
    // timestamp-keyed delete: drop the first 50 seconds
    val delTs = typedFrame(0, 50).select("ts")
    Versioned.deleteCommitMor(delTs, dir, "ts")
    val afterTs = load(dir)
    assert(scanOf(afterTs).supportsColumnar)
    // ops-layer reads put the MOR key column FIRST (the using-column
    // anti-join's output order) — align explicitly; values must match
    assert(afterTs.orderBy("k").collect().toSeq ==
      Versioned.read(spark, dir).select(afterTs.columns.map(col): _*)
        .orderBy("k").collect().toSeq)
    assert(afterTs.count() == 350)
    // decimal-keyed delete on a fresh table (applyDeletesCommit re-keys
    // stats onto the delete key and its stats reader is BIGINT-only — a
    // pre-existing ops-layer scope line, irrelevant to the scan)
    val dirD = tmp("morDec")
    Versioned.commit(typedFrame(0, 400), dirD, statsCol = Some("k"))
    val delD = typedFrame(50, 100).select("d1")
    Versioned.deleteCommitMor(delD, dirD, "d1")
    val afterD = load(dirD)
    assert(scanOf(afterD).supportsColumnar)
    assert(afterD.orderBy("k").collect().toSeq ==
      Versioned.read(spark, dirD).select(afterD.columns.map(col): _*)
        .orderBy("k").collect().toSeq)
    assert(afterD.count() == 350)
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
      Versioned.read(spark, dir).select(conn.columns.map(col): _*)
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

  test("INT64 timestamp scaling floors pre-epoch NANOS and refuses a " +
      "MILLIS overflow") {
    val out = new Array[Any](1)
    new TimestampScaleSlotConverter(out, 0, 1L, 1000L).addLong(-1L)
    assert(out(0) == -1L, "-1 ns is 1 µs before the epoch, not the epoch")
    new TimestampScaleSlotConverter(out, 0, 1L, 1000L).addLong(-1500L)
    assert(out(0) == -2L)
    new TimestampScaleSlotConverter(out, 0, 1000L, 1L).addLong(-7L)
    assert(out(0) == -7000L)
    intercept[ArithmeticException] {
      new TimestampScaleSlotConverter(out, 0, 1000L, 1L)
        .addLong(Long.MaxValue / 10)
    }
  }

  test("a deletion-vector probe of an unhandled key type fails loudly") {
    import org.apache.spark.sql.types.{ShortType, StructField, StructType}
    val base = tmp("probe")
    def part(d: String): String = {
      spark.range(0, 10).select(col("id").cast("short").as("k"))
        .coalesce(1).write.parquet(d)
      new java.io.File(d).listFiles().map(_.getPath)
        .find(_.endsWith(".parquet")).get
    }
    val data = part(s"$base/data")
    val deletes = part(s"$base/deletes")
    val err = intercept[IllegalStateException] {
      new VersionedColumnarReader(data, "c1",
        StructType(Seq(StructField("k", ShortType))), Array.empty, Map.empty,
        Map.empty, Some("k"), Seq(deletes))
    }
    assert(err.getMessage.contains("ShortType"))
  }
}
