package graft.ops

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** [[Versioned.read]] is a frame over the connector's scan. These legs pin
  * what that read serves — schema, types, column order and the hazards of
  * pending table state — against the connector and against
  * [[ReferenceRead]], an independent reader built from the public
  * metadata readers. */
class VersionedReadPathSpec extends SparkSpec {
  import spark.implicits._
  import VersionedReadPathSpec.Snap

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"readpath_$tag").toString + "/t"

  private def conn(dir: String, version: Int = 0): DataFrame = {
    val r = spark.read.format("graft-versioned").option("path", dir)
    (if (version > 0) r.option("versionAsOf", version.toString) else r).load()
  }

  /** Rows of `df` in `cols` order, sorted — a column-order-free compare. */
  private def rowsOf(df: DataFrame, cols: Seq[String], key: String = "k")
      : Seq[Row] =
    df.select(cols.map(col): _*).orderBy(key).collect().toSeq

  test("head read serves the union schema: a column a later append adds " +
      "is visible, older rows null") {
    val dir = tmp("union")
    Versioned.commit(spark.range(0, 5).select(col("id").as("k")), dir)
    // c2 carries x; the path-smallest file is c1's, which lacks it
    Versioned.commit(spark.range(5, 8).select(col("id").as("k"),
      (col("id") * 10).as("x")), dir)
    val head = Versioned.read(spark, dir)
    assert(head.schema == conn(dir).schema)
    assert(head.columns.toSeq == Seq("k", "x"))
    assert(rowsOf(head, Seq("k", "x")) ==
      (0L until 5L).map(k => Row(k, null)) ++
        (5L until 8L).map(k => Row(k, k * 10)))
    assert(Versioned.readMerged(spark, dir).schema == head.schema)
    assert(Versioned.read(spark, dir, 1).columns.toSeq == Seq("k"))
  }

  /** Nested, small integral, BINARY and TIMESTAMP_NTZ columns, NULL on
    * every 5th row. */
  private val typedColumns: Seq[(String, Column => Column)] = Seq(
    "array<double>" -> (id => array(id.cast("double"), id / 4,
      lit(null).cast("double"))),
    "map<string,bigint>" -> (id => map(concat(lit("m"), id.cast("string")),
      id * 3, lit("z"), lit(null).cast("long"))),
    "struct<a:int,b:string,c:array<int>>" -> (id => struct(id.cast("int").as("a"),
      concat(lit("b"), id.cast("string")).as("b"),
      array(id.cast("int"), lit(7)).as("c"))),
    "smallint" -> (id => (id * 7 % 60000 - 30000).cast("short")),
    "tinyint" -> (id => (id % 120 - 60).cast("byte")),
    "binary" -> (id => concat(lit("bytes-"), id.cast("string")).cast("binary")),
    "timestamp_ntz" -> (id => timestamp_seconds(id * 86399L - 100000L)))

  private def typedFrame(sqlType: String, f: Column => Column, lo: Long,
      hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("k"),
      when(col("id") % 5 =!= 4, f(col("id"))).cast(sqlType).as("c"))

  typedColumns.foreach { case (sqlType, f) =>
    test(s"$sqlType: the connector and Versioned.read equal ReferenceRead") {
      val dir = tmp("typed")
      Versioned.commit(typedFrame(sqlType, f, 0, 40), dir)
      Versioned.commit(typedFrame(sqlType, f, 40, 60), dir)
      val want = rowsOf(ReferenceRead.read(spark, dir), Seq("k", "c"))
      assert(want.size == 60)
      assert(conn(dir).schema("c").dataType ==
        DataType.fromDDL(sqlType))
      assert(rowsOf(conn(dir), Seq("k", "c")) == want)
      assert(rowsOf(Versioned.read(spark, dir), Seq("k", "c")) == want)
      assert(rowsOf(typedFrame(sqlType, f, 0, 60), Seq("k", "c")) == want)
    }
  }

  test("nested columns serve whatever the session's vectorized-reader " +
      "confs say") {
    val dir = tmp("nestedConf")
    val f = typedColumns.toMap.apply("array<double>")
    Versioned.commit(typedFrame("array<double>", f, 0, 20), dir)
    val key = "spark.sql.parquet.enableNestedColumnVectorizedReader"
    spark.conf.set(key, "false")
    try {
      assert(rowsOf(Versioned.read(spark, dir), Seq("k", "c")) ==
        rowsOf(typedFrame("array<double>", f, 0, 20), Seq("k", "c")))
    } finally spark.conf.unset(key)
  }

  Seq("smallint", "tinyint", "timestamp_ntz").foreach { sqlType =>
    val f = typedColumns.toMap.apply(sqlType)
    test(s"a merge-on-read delete keyed on a $sqlType column masks every " +
        "read path and folds") {
      Seq(Some("c"), None).foreach { statsCol =>
        val dir = tmp("typedKey")
        Versioned.commit(typedFrame(sqlType, f, 0, 40), dir, statsCol = statsCol)
        Versioned.commit(typedFrame(sqlType, f, 40, 60), dir, statsCol = statsCol)
        val v = Versioned.deleteCommitMor(typedFrame(sqlType, f, 0, 60)
          .filter(col("k") % 3 === 0).select("c"), dir, "c")
        // k=100 re-inserts a deleted key (k=0's value); k=101 does not
        val appended = typedFrame(sqlType, f, 0, 2)
          .select((col("k") + 100).as("k"), col("c"))
        Versioned.commit(appended, dir, statsCol = statsCol)
        // NULL keys never match a delete
        val want = rowsOf(typedFrame(sqlType, f, 0, 60).unionByName(appended)
          .filter(col("k") % 3 =!= 0 && col("k") =!= 100 || col("c").isNull),
          Seq("k", "c"))
        assert(rowsOf(ReferenceRead.read(spark, dir), Seq("k", "c")) == want,
          s"statsCol $statsCol")
        assert(rowsOf(conn(dir), Seq("k", "c")) == want)
        assert(rowsOf(Versioned.read(spark, dir), Seq("k", "c")) == want)
        assert(Versioned.changes(spark, dir, v, v + 1, "c").select("k")
          .collect().map(_.getLong(0)).toSeq == Seq(101L))
        val (folded, _, _) = Versioned.applyDeletesCommit(spark, dir)
        assert(Versioned.readDeletes(dir, folded)._2.isEmpty)
        assert(rowsOf(Versioned.read(spark, dir), Seq("k", "c")) == want)
        assert(rowsOf(Versioned.read(spark, dir, v), Seq("k", "c")) ==
          want.filterNot(_.getLong(0) == 101L))
      }
    }
  }

  test("a merge-on-read delete keyed on a column no deletion vector can " +
      "compare refuses before writing") {
    Seq("binary", "array<double>").foreach { sqlType =>
      val f = typedColumns.toMap.apply(sqlType)
      val dir = tmp("badKey")
      Versioned.commit(typedFrame(sqlType, f, 0, 20), dir)
      val err = intercept[IllegalStateException] {
        Versioned.deleteCommitMor(typedFrame(sqlType, f, 0, 5).select("c"),
          dir, "c")
      }
      assert(err.getMessage.contains("no branch for key type"), sqlType)
      assert(Versioned.latestVersion(dir) == 1)
      assert(!new java.io.File(s"$dir/data/d2").exists)
      assert(Versioned.read(spark, dir).count() == 20L)
    }
  }

  /** One table holding every typed column, four groups. */
  private def wideTable(dir: String, statsCol: Option[String]): Unit =
    Seq((0L, 1500L), (1500L, 3000L), (3000L, 4500L), (4500L, 9000L))
      .foreach { case (lo, hi) =>
        Versioned.commit(spark.range(lo, hi).select(
          col("id").as("k") +: typedColumns.zipWithIndex.map {
            case ((t, f), i) =>
              when(col("id") % 5 =!= 4, f(col("id"))).cast(t).as(s"c$i")
          }: _*), dir, statsCol = statsCol)
      }

  test("every typed column survives the masked read's batch compaction, " +
      "routed and flat deletion vectors") {
    Seq(Some("k"), None).foreach { statsCol =>
      val dir = tmp("typedMor")
      wideTable(dir, statsCol)
      // every 3rd key, plus all of [4500, 5000): every batch compacts
      Versioned.deleteCommitMor(spark.range(0, 9000)
        .filter(col("id") % 3 === 0 || (col("id") >= 4500 && col("id") < 5000))
        .select(col("id").as("k")), dir, "k")
      val cols = conn(dir).columns.toSeq
      val want = rowsOf(ReferenceRead.read(spark, dir), cols)
      assert(want.size == 9000 - 3000 - 333, s"statsCol $statsCol")
      assert(rowsOf(conn(dir), cols) == want, s"statsCol $statsCol")
      assert(rowsOf(Versioned.read(spark, dir), cols) == want)
      // the key column not projected: the reader decodes it for the probe
      assert(Versioned.read(spark, dir).select("c0", "c6").collect().length
        == want.size)
    }
  }

  test("a renamed nested column reads under its new name on both paths") {
    val dir = tmp("typedRename")
    wideTable(dir, None)
    Versioned.renameColumnCommit(spark, dir, "c0", "vec")
    Versioned.renameColumnCommit(spark, dir, "c2", "rec")
    val cols = Versioned.read(spark, dir).columns.toSeq
    assert(cols.contains("vec") && cols.contains("rec"))
    val want = rowsOf(ReferenceRead.read(spark, dir), cols)
    assert(rowsOf(conn(dir), cols) == want)
    assert(rowsOf(Versioned.read(spark, dir), cols) == want)
    assert(Versioned.read(spark, dir)
      .filter(col("rec.a") === 11 && element_at(col("vec"), 1) === 11.0)
      .count() == 1L)
  }

  test("pending deletes: read serves table column order, the reference " +
      "puts the key first") {
    val dir = tmp("order")
    Versioned.commit(spark.range(0, 30).select(
      concat(lit("a"), col("id").cast("string")).as("a"),
      col("id").as("k"), (col("id") * 2).as("v")), dir)
    Versioned.deleteCommitMor(spark.range(0, 30, 4).select(col("id").as("k")),
      dir, "k")
    val read = Versioned.read(spark, dir)
    assert(read.columns.toSeq == Seq("a", "k", "v"))
    assert(read.columns.toSeq == conn(dir).columns.toSeq)
    val ref = ReferenceRead.read(spark, dir)
    assert(ref.columns.toSeq == Seq("k", "a", "v"))
    assert(rowsOf(read, read.columns) == rowsOf(ref, read.columns))
    assert(read.count() == 30 - 8)
  }

  test("a TRUNCATE tombstone reads as a typed empty frame") {
    val dir = tmp("tomb")
    Versioned.commit(spark.range(0, 3).select(col("id").as("k"),
      col("id").cast("decimal(10,2)").as("d"),
      array(col("id")).as("xs")), dir)
    val schema = Versioned.read(spark, dir).schema
    val v = Versioned.truncateCommit(spark, dir)
    val empty = Versioned.read(spark, dir, v)
    assert(empty.count() == 0L)
    assert(empty.schema.map(f => f.name -> f.dataType) ==
      schema.map(f => f.name -> f.dataType))
    assert(Versioned.read(spark, dir, v - 1).count() == 3L)
  }

  test("a table without that version's manifest fails loudly") {
    val never = tmp("never")
    val e = intercept[IllegalArgumentException](Versioned.read(spark, never))
    assert(e.getMessage.contains("no manifest"), e.getMessage)
    val dir = tmp("vacuumed")
    (0 until 3).foreach(i =>
      Versioned.commit(spark.range(i * 10L, i * 10L + 10).toDF("k"), dir))
    Versioned.vacuum(spark, dir, retainFromVersion = 3, orphanGraceMs = 0L)
    intercept[IllegalArgumentException](Versioned.read(spark, dir, 1))
    intercept[IllegalArgumentException](Versioned.read(spark, dir, 4))
    assert(Versioned.read(spark, dir, 3).count() == 30L)
  }

  /** Every regular file under `root`, relative to it, sorted. */
  private def filesUnder(root: String): Seq[String] = {
    val r = java.nio.file.Paths.get(root)
    val s = Files.walk(r)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => r.relativize(p).toString).toList.sorted
    finally s.close()
  }

  test("vacuum sweeps staged dirs older than the grace window and keeps " +
      "fresh ones") {
    val dir = tmp("staging")
    Versioned.commit(spark.range(0, 10).toDF("k"), dir)
    Versioned.commit(spark.range(10, 20).toDF("k"), dir)
    val staging = java.nio.file.Paths.get(dir, "_staging")
    val stale = staging.resolve("qcrashed")
    val fresh = staging.resolve("qinflight")
    Seq(stale, fresh).foreach { d =>
      Files.createDirectories(d)
      Files.write(d.resolve("part-0-0.parquet"), Array[Byte](1, 2, 3))
    }
    val hourMs = 60L * 60L * 1000L
    Files.setLastModifiedTime(stale, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 2 * hourMs))
    Versioned.vacuum(spark, dir, retainFromVersion = 2, orphanGraceMs = hourMs)
    assert(!Files.exists(stale))
    assert(Files.exists(fresh.resolve("part-0-0.parquet")))
    assert(Versioned.read(spark, dir).count() == 20L)
  }

  test("routed merge-on-read deletes and Z-order compaction publish the " +
      "partition dirs and rows Spark's partitioned writer lays out") {
    val dir = tmp("tg")
    Versioned.commit(spark.range(0, 100).select(col("id").as("k")), dir,
      statsCol = Some("k"))
    Versioned.commit(spark.range(100, 200).select(col("id").as("k")), dir,
      statsCol = Some("k"))
    val d = Versioned.deleteCommitMor(Seq(3L, 150L, 151L, 999L).toDF("k"),
      dir, "k")
    val dg = s"$dir/data/d$d"
    val files = filesUnder(dg)
    assert(files.filterNot(_ == "_scope").map(_.split('/').head).toSet ==
      Set("__tg=c1", "__tg=c2", s"__tg=${Versioned.NoneGroup}"), files)
    assert(files.count(_.endsWith(".parquet")) == 3, files)
    assert(spark.read.parquet(dg).as[(Long, String)].collect().sorted.toSeq ==
      Seq((3L, "c1"), (150L, "c2"), (151L, "c2"), (999L, Versioned.NoneGroup)))
    assert(Versioned.read(spark, dir).count() == 197L)

    // Z-order buckets against the same frame written with partitionBy
    val zdir = tmp("zb")
    val grid = spark.range(0, 256).select((col("id") % 16).as("a"),
      (col("id") / 16).cast("long").as("b"), col("id").as("k"))
    Versioned.commit(grid, zdir)
    val (zv, n) = Versioned.compactZOrder(spark, zdir, "a", "b", 4, 2)
    val ref = tmp("zb_ref")
    grid.withColumn("__zb",
        shiftright(ZOrder.zValue(col("a"), col("b")), 6).cast("int"))
      .write.partitionBy("__zb").parquet(ref)
    def dirs(root: String) =
      filesUnder(root).filter(_.endsWith(".parquet")).map(_.split('/').head)
        .distinct
    assert(n == 4 && dirs(s"$zdir/data/c$zv") == dirs(ref))
    dirs(ref).foreach { b =>
      def rows(p: String) = spark.read.parquet(p).orderBy("k").collect().toSeq
      assert(rows(s"$zdir/data/c$zv/$b") == rows(s"$ref/$b"), b)
    }
  }

  test("shallow clones and stats-less flat deletes read like the reference") {
    val src = tmp("cloneSrc")
    Versioned.commit(spark.range(0, 50).select(col("id").as("k"),
      (col("id") % 7).as("v")), src)
    Versioned.commit(spark.range(50, 80).select(col("id").as("k"),
      (col("id") % 7).as("v")), src)
    // no statsCol: the legacy flat layout serves every group
    Versioned.deleteCommitMor(spark.range(0, 80, 9).select(col("id").as("k")),
      src, "k")
    val dst = tmp("cloneDst")
    Versioned.cloneShallow(src, dst)
    Versioned.commit(spark.range(80, 90).select(col("id").as("k"),
      (col("id") % 7).as("v")), dst)
    val want = (0L until 90L).filter(k => k >= 80 || k % 9 != 0)
    Seq(src -> want.filter(_ < 80), dst -> want).foreach { case (d, ks) =>
      val got = rowsOf(Versioned.read(spark, d), Seq("k", "v"))
      assert(got.map(_.getLong(0)) == ks)
      assert(got == rowsOf(ReferenceRead.read(spark, d), Seq("k", "v")))
    }
  }

  test("a key deleted before a later append stays masked in the appended " +
      "group, on every read path") {
    Seq(Some("k"), None).foreach { statsCol =>
      val dir = tmp("reappend")
      Versioned.commit(spark.range(0, 20).select(col("id").as("k"),
        lit(0L).as("v")), dir, statsCol = statsCol)
      // 7 is in c1's range; 500 in no group's (routed to `__none`)
      Versioned.deleteCommitMor(Seq(7L, 500L).toDF("k"), dir, "k")
      val v = Versioned.commit(Seq((7L, 1L), (500L, 1L), (21L, 1L))
        .toDF("k", "v"), dir, statsCol = statsCol)
      val keys = Versioned.read(spark, dir).select("k").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(keys == (0L until 20L).filterNot(_ == 7L) :+ 21L, s"$statsCol")
      assert(Versioned.changes(spark, dir, v - 1, v, "k")
        .select("k").collect().map(_.getLong(0)).toSeq == Seq(21L))
      val (pruned, _, _) = Versioned.prunedRead(spark, dir, "k", 0L, 1000L)
      assert(pruned.count() == 20L)
    }
  }

  // ── one history, every version: read ≡ reference ≡ model ──────────────

  /** JSON of every row with its columns in name order, per version — one
    * job for all versions, independent of column order. */
  private def jsonRows(frames: Seq[(Int, DataFrame)]): Map[Int, Seq[String]] =
    frames.map { case (v, df) =>
      df.select(lit(v).as("__v"),
        to_json(struct(df.columns.sorted.map(col): _*)).as("__j"))
    }.reduce(_ unionAll _).collect().toSeq
      .groupBy(_.getInt(0)).map { case (v, rs) => v -> rs.map(_.getString(1)).sorted }

  test("one seeded history over BIGINT, DECIMAL, TIMESTAMP and STRING keys: " +
      "every version reads like the reference and the model after every step") {
    val rng = new scala.util.Random(20261017L)
    Seq[(String, Column => Column)](
      "bigint" -> (id => id),
      "decimal(12,2)" -> (id => id.cast("decimal(12,2)") + lit(0.25)),
      "timestamp" -> (id => timestamp_seconds(id * 3600L - 7200L)),
      "string" -> (id => format_string("key-%03d", id))
    ).foreach { case (keyType, keyOf) =>
      val dir = tmp(s"model_${keyType.takeWhile(_.isLetter)}")
      val kt = DataType.fromDDL(keyType)
      // key values as the engine renders them, for the model's rows
      val key: Map[Long, Any] = spark.range(0, 40)
        .select(col("id"), keyOf(col("id")).cast(keyType)).collect()
        .map(r => r.getLong(0) -> r.get(1)).toMap
      // one file per group: tiny tables, few tasks
      def keys(ids: Seq[Long]): DataFrame =
        spark.range(0, 40, 1, 1).filter(col("id").isin(ids: _*))
          .select(keyOf(col("id")).cast(keyType).as("k"))
      def rows(lo: Long, hi: Long, cols: (String, Column => Column)*)
          : DataFrame =
        spark.range(lo, hi, 1, 1).select(keyOf(col("id")).cast(keyType).as("k") +:
          cols.map { case (n, f) => f(col("id")).as(n) }: _*)

      val model = scala.collection.mutable.LinkedHashMap.empty[Int, Snap]
      // the model's live table: id → named values, in table column order
      var cols: Seq[(String, DataType)] = Seq("k" -> kt, "v" -> LongType)
      var live = scala.collection.immutable.TreeMap.empty[Long, Map[String, Any]]
      def snapshot(v: Int): Unit = model(v) = Snap(
        StructType(cols.map { case (n, t) => StructField(n, t) }),
        live.toSeq.map { case (id, vals) =>
          Row.fromSeq(cols.map { case (n, _) =>
            if (n == "k") key(id) else vals.getOrElse(n, null) })
        })

      val want = scala.collection.mutable.Map.empty[Int, Seq[String]]
      def check(step: String): Unit = {
        val versions = model.keys.toSeq
        val reads = versions.map(v => v -> Versioned.read(spark, dir, v))
        val refs = versions.map(v => v -> ReferenceRead.read(spark, dir, v))
        val (got, ref) = (jsonRows(reads), jsonRows(refs))
        val last = versions.last
        want(last) = jsonRows(Seq(last -> spark.createDataFrame(
          java.util.Arrays.asList(model(last).rows: _*), model(last).schema)))
          .getOrElse(last, Nil)
        reads.zip(refs).foreach { case ((v, read), (_, reference)) =>
          val what = s"$keyType after $step, v$v"
          assert(read.schema.map(f => f.name -> f.dataType) ==
            model(v).schema.map(f => f.name -> f.dataType), what)
          assert(reference.columns.toSet == read.columns.toSet, what)
          assert(got.getOrElse(v, Nil) == want(v), what)
          assert(ref.getOrElse(v, Nil) == want(v), what)
        }
      }
      def step(name: String)(commit: => Int): Int = {
        val v = commit
        snapshot(v)
        check(name)
        v
      }

      def put(ids: Seq[Long], vals: Long => Map[String, Any]): Unit =
        ids.foreach(id => live += id -> vals(id))
      put(0L until 20L, id => Map("v" -> id * 10))
      step("append")(Versioned.commit(
        rows(0, 20, "v" -> (_ * 10L)), dir))
      val deleted = rng.shuffle((0L until 20L).toList).take(3)
      live --= deleted
      step("MOR delete")(Versioned.deleteCommitMor(keys(deleted), dir, "k"))
      // a deleted key re-inserted by a later append stays masked
      val again = deleted.head
      put(20L until 25L, id => Map("v" -> id * 10))
      step("append re-inserting a deleted key")(Versioned.commit(
        rows(20, 25, "v" -> (_ * 10L)).unionAll(
          rows(again, again + 1, "v" -> (_ => lit(-1L)))), dir))
      cols = Seq("k" -> kt, "w" -> LongType)
      live = live.map { case (id, m) => id -> Map[String, Any]("w" -> m("v")) }
      step("rename")(Versioned.renameColumnCommit(spark, dir, "v", "w"))
      step("materialize rename")(Versioned.applyRenamesCommit(spark, dir))
      cols = cols :+ ("tag" -> StringType)
      live = live.map { case (id, m) => id -> (m + ("tag" -> "dflt")) }
      step("add-default")(Versioned.addColumnCommit(spark, dir, "tag",
        "STRING", "dflt"))
      put(25L until 30L, id => Map("w" -> id * 10, "tag" -> s"t$id"))
      step("append")(Versioned.commit(rows(25, 30, "w" -> (_ * 10L),
        "tag" -> (id => concat(lit("t"), id.cast("string")))), dir))
      cols = cols.filterNot(_._1 == "w")
      live = live.map { case (id, m) => id -> (m - "w") }
      step("drop")(Versioned.dropColumnCommit(spark, dir, "w"))
      step("materialize default and drop")(
        Versioned.applyDefaultsCommit(spark, dir))
      val deleted2 = rng.shuffle(live.keys.filter(_ >= 20L).toList).take(2)
      live --= deleted2
      step("MOR delete")(Versioned.deleteCommitMor(keys(deleted2), dir, "k"))
      step("apply_deletes")(Versioned.applyDeletesCommit(spark, dir)._1)
      put(35L until 38L, id => Map("tag" -> s"t$id"))
      val beforeCompact = step("append")(Versioned.commit(rows(35, 38,
        "tag" -> (id => concat(lit("t"), id.cast("string")))), dir))
      step("compact")(Versioned.compact(spark, dir))
      val kept = live
      live = scala.collection.immutable.TreeMap.empty
      step("truncate")(Versioned.truncateCommit(spark, dir))
      live = kept
      step("restore")(Versioned.restore(spark, dir, beforeCompact))
      assert(model.size == 15)
    }
  }

  test("a history holding both delete layouts: changes across both deletes " +
      "and the fold equal the reference and the model; the delete keys are " +
      "no snapshot") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    import graft.sources.VersionedMvBridge
    val dir = tmp("mixed")
    def rows(ks: Seq[Option[Long]], v0: Long): DataFrame =
      ks.zipWithIndex.map { case (k, i) => (k, v0 + i) }.toDF("k", "v")
    def dirsUnder(d: String): Seq[String] = {
      val s = Files.list(java.nio.file.Paths.get(dir, "data", d))
      try s.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).toList.sorted
      finally s.close()
    }
    Versioned.commit(rows((0L until 10L).map(Some(_)), 0), dir,
      statsCol = Some("k"))
    Versioned.commit(rows((10L until 20L).map(Some(_)), 10), dir,
      statsCol = Some("k"))
    // every group carries stats on k: the delete is routed per group
    val d1 = Versioned.deleteCommitMor(Seq(3L, 15L, 500L).toDF("k"), dir, "k")
    assert(dirsUnder(s"d$d1") == Seq("__tg=__none", "__tg=c1", "__tg=c2"))
    // an all-NULL stats column: the appended group records no stats, so
    // the next delete is written flat
    val a = Versioned.commit(rows(Seq(None, None), 100), dir,
      statsCol = Some("k"))
    assert(!new String(Files.readAllBytes(java.nio.file.Paths.get(dir,
      "_manifests", s"v$a.json")), "UTF-8").contains(s"\"c$a\":["))
    val d2 = Versioned.deleteCommitMor(Seq(4L, 16L, 17L).toDF("k"), dir, "k")
    assert(dirsUnder(s"d$d2").isEmpty)

    // the model: (k, v) rows after each step, and the change rows
    val base = (0L until 20L).map(i => Row(i, i))
    val nulls = Seq(Row(null, 100L), Row(null, 101L))
    def without(rs: Seq[Row], ks: Long*) = rs.filterNot(r =>
      !r.isNullAt(0) && ks.contains(r.getLong(0)))
    val atD2 = without(base, 3L, 15L, 4L, 16L, 17L) ++ nulls
    val modelChanges = Seq(
      Row(3L, 3L, "delete", 3L), Row(15L, 15L, "delete", 3L),
      Row(null, 100L, "insert", 4L), Row(null, 101L, "insert", 4L),
      Row(4L, 4L, "delete", 5L), Row(16L, 16L, "delete", 5L),
      Row(17L, 17L, "delete", 5L))
    def sorted(rs: Seq[Row]): Seq[Row] =
      rs.sortBy(r => (r.getLong(3), r.getLong(1)))
    val got = Versioned.changes(spark, dir, d1 - 1, d2, "k")
      .select("k", "v", "_change_type", "_commit_version").collect().toSeq
    def ref(w: Int) = ReferenceRead.read(spark, dir, w).select("k", "v")
    val refChanges = (d1 to d2).flatMap { w =>
      def tag(df: DataFrame, kind: String) =
        df.collect().toSeq.map(r => Row(r.get(0), r.get(1), kind, w.toLong))
      tag(ref(w).except(ref(w - 1)), "insert") ++
        tag(ref(w - 1).except(ref(w)), "delete")
    }
    assert(sorted(got) == modelChanges)
    assert(sorted(refChanges) == modelChanges)

    // the delete keys of both layouts, read as one group-subset frame
    val (dgs, dk) = Versioned.readDeletes(dir, d2)
    assert(dgs == Seq(s"d$d1", s"d$d2") && dk.contains("k"))
    val keys = Versioned.deleteKeys(spark, dir, d2, dgs, "k")
    assert(keys.as[Long].collect().sorted.toSeq ==
      Seq(3L, 4L, 15L, 16L, 17L, 500L))
    def scans(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan }
    assert(scans(keys).nonEmpty &&
      scans(keys).forall(VersionedMvBridge.scanInfo(_).isEmpty))
    assert(scans(Versioned.read(spark, dir, d2))
      .map(VersionedMvBridge.scanInfo) == Seq(Some((dir, d2))))

    val (fv, touched, _) = Versioned.applyDeletesCommit(spark, dir)
    assert(touched.contains(s"c$a"), "a group without stats is touched")
    def byV(df: DataFrame) = df.select("k", "v").collect().toSeq
      .sortBy(_.getLong(1))
    assert(byV(Versioned.read(spark, dir, fv)) == atD2.sortBy(_.getLong(1)))
    assert(byV(ReferenceRead.read(spark, dir, fv)) == atD2.sortBy(_.getLong(1)))
    assert(Versioned.readDeletes(dir, fv)._1.isEmpty)
  }
}

object VersionedReadPathSpec {
  /** A version's expected content: its schema and rows. */
  final case class Snap(schema: StructType, rows: Seq[Row])
}
