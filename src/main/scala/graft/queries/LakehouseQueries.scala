package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.io.Tables
import Q.{dsum, sqlDsum}

/** SURVEY extension family: the VERSIONED LAKEHOUSE verbs (s17-s48) —
  * zone-map/bloom/Z-order/DPP data skipping, time travel, MERGE
  * (table/COW/MOR), OPTIMIZE, CDC, VACUUM, clone, RESTORE, OCC,
  * idempotent and cross-table transactions, CHECK constraints, schema
  * evolution, CSV quarantine, incremental view maintenance — all over
  * [[graft.ops.Versioned]]'s manifest log. Split from SinkSqlQueries
  * (r13 hygiene); query names and bodies are unchanged.
  */

object LakehouseQueries {

  /** Per-PROCESS sink root — see [[SinkSqlQueries.sinkRoot]]'s rationale
    * (concurrent Verify/Bench isolation; stable within the process). */
  private val sinkRoot: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_sink_${ProcessHandle.current().pid()}"

  private def tmp(name: String): String = s"$sinkRoot/$name"

  /** s17's clustered copy of lineitem + manifest, written once per
    * (session, sfDir) — the table is immutable derived data, so warmup
    * and measured reps share it (the eventSource/cachedCount discipline). */
  private val skipDirCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), String]()

  private def clusteredLineitem(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val key = (s, d)
    val hit = skipDirCache.get(key)
    if (hit != null) return hit
    skipDirCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s17_skip_${Integer.toHexString(d.hashCode)}")
    graft.ops.DataSkipping.writeClustered(
      Tables.lineitem(s, d).withColumn("l_shipdate", col("l_shipdate").cast("date")),
      dir, "l_shipdate", nFiles = 16)
    skipDirCache.put(key, dir)
    dir
  }

  /** s18's nation-partitioned copy of customer, written once per
    * (session, sfDir) — same immutable-derived-data discipline as
    * [[clusteredLineitem]], so warmup and measured reps share one write. */
  private val dppDirCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), String]()

  private def partitionedCustomer(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val key = (s, d)
    val hit = dppDirCache.get(key)
    if (hit != null) return hit
    dppDirCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s18_dpp_${Integer.toHexString(d.hashCode)}")
    Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("c_custkey"),
        col("c_acctbal").cast("double").as("c_acctbal"),
        col("c_nationkey").cast("int").as("c_nationkey"))
      .write.mode("overwrite").partitionBy("c_nationkey").parquet(dir)
    dppDirCache.put(key, dir)
    dir
  }

  /** s19's two-commit versioned table, built once per (session, sfDir)
    * (immutable derived data — the s17/s18 discipline). Any stale dir
    * from a crashed build is cleared before committing. */
  private val versionedCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), String]()

  private def versionedOrders(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val key = (s, d)
    val hit = versionedCache.get(key)
    if (hit != null) return hit
    versionedCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s19_versioned_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    val v1 = graft.ops.Versioned.commit(
      o.filter(col("o_orderkey") % 2 === 0), dir)
    val v2 = graft.ops.Versioned.commit(
      o.filter(col("o_orderkey") % 2 =!= 0), dir) // append
    require(v1 == 1 && v2 == 2, s"unexpected versions ($v1, $v2)")
    versionedCache.put(key, dir)
    dir
  }

  /** s31's shallow clone of [[versionedOrders]] + a divergent DELETE on
    * the clone. Returns (cloneDir, zeroCopy) where zeroCopy was observed
    * BEFORE the clone's own first commit (no local `data/` dir — the
    * clone was metadata-only). Built once per (session, sfDir). */
  private val cloneCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), (String, Boolean)]()

  private def clonedOrders(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Boolean) = {
    val key = (s, d)
    val hit = cloneCache.get(key)
    if (hit != null) return hit
    cloneCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val srcDir = versionedOrders(s, d)
    val dir = tmp(s"s31_clone_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    graft.ops.Versioned.cloneShallow(srcDir, dir)
    val zeroCopy =
      !java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, "data"))
    val v2 = graft.ops.Versioned.deleteCommit(s, dir, col("o_orderkey") % 4 === 0)
    require(v2 == 2, s"unexpected clone delete version $v2")
    val out = (dir, zeroCopy)
    cloneCache.put(key, out)
    out
  }

  /** s32's concurrently-appended versioned table: v1 = the quarter with
    * o_orderkey ≡ 1 (mod 4); three THREADS then race `commitAppendOcc`
    * with the remaining quarters. Returns (dir, allCommitted — the
    * racers landed as versions {2,3,4}, serialHistory — group count
    * strictly grows 1..4). Built once per (session, sfDir). */
  private val occCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), (String, Boolean, Boolean)]()

  private def occOrders(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Boolean, Boolean) = {
    val key = (s, d)
    val hit = occCache.get(key)
    if (hit != null) return hit
    occCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s32_occ_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    graft.ops.Versioned.commit(o.filter(col("o_orderkey") % 4 === 1), dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val landed = try {
      val futures = Seq(0, 2, 3).map { r =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = graft.ops.Versioned.commitAppendOcc(
            o.filter(col("o_orderkey") % 4 === r), dir, s"q$r")
        })
      }
      futures.map(_.get()).sorted
    } finally pool.shutdown()
    val allCommitted = landed == Seq(2, 3, 4)
    val serialHistory =
      (1 to 4).map(graft.ops.Versioned.groupCount(dir, _)) == (1 to 4)
    val out = (dir, allCommitted, serialHistory)
    occCache.put(key, out)
    out
  }

  /** s33's idempotently-loaded versioned table: batch 1 committed, the
    * SAME batch replayed (must skip), batch 2 committed — the Delta
    * txnAppId/txnVersion exactly-once sink mechanism. Returns
    * (dir, retrySkipped). Built once per (session, sfDir). */
  private val idemCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), (String, Boolean)]()

  private def idempotentOrders(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Boolean) = {
    val key = (s, d)
    val hit = idemCache.get(key)
    if (hit != null) return hit
    idemCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s33_idem_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    val b1 = o.filter(col("o_orderkey") % 3 === 0)
    require(graft.ops.Versioned.idempotentCommit(b1, dir, "loader", 1L)
      .contains(1), "first batch must commit as v1")
    val retrySkipped =
      graft.ops.Versioned.idempotentCommit(b1, dir, "loader", 1L).isEmpty
    require(graft.ops.Versioned.idempotentCommit(
      o.filter(col("o_orderkey") % 3 === 1), dir, "loader", 2L).contains(2),
      "second batch must commit as v2")
    val out = (dir, retrySkipped)
    idemCache.put(key, out)
    out
  }

  /** s34's timestamp-stamped versioned table: three thirds of orders
    * committed at injected ts 1000/2000/3000 (the F9 clock-injection
    * discipline). Built once per (session, sfDir). */
  private val tsCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), String]()

  private def timestampedOrders(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val key = (s, d)
    val hit = tsCache.get(key)
    if (hit != null) return hit
    tsCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s34_ts_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    for ((r, ts) <- Seq(0 -> 1000L, 1 -> 2000L, 2 -> 3000L))
      graft.ops.Versioned.commit(o.filter(col("o_orderkey") % 3 === r), dir,
        commitTs = Some(ts))
    tsCache.put(key, dir)
    dir
  }

  /** s35's file-granularity COW-merged table: four year-bucket commits of
    * orders carrying od (epoch-day) manifest stats — the s21 shape — then
    * a COW merge of a 1996-ONLY price bump (+500.00). The merge's stats
    * planning must rewrite exactly the 1996 group; the other three carry
    * over by name. Cached value = (dir, preMergeGroups, rewritten,
    * carried) — the planning output the gate pins. */
  private val cowCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), (String, Seq[String], Seq[String], Seq[String])]()

  private def cowMergedOrders(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Seq[String], Seq[String], Seq[String]) = {
    val key = (s, d)
    val hit = cowCache.get(key)
    if (hit != null) return hit
    cowCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s35_cow_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d).select(
      col("o_orderkey").cast("long").as("o_orderkey"),
      col("o_totalprice").cast("double").as("o_totalprice"),
      datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("od"))
    val yr = year(date_add(lit("1970-01-01").cast("date"),
      col("od").cast("int")))
    // buckets chosen NON-EMPTY over the testdata's 1995-2001 order-date
    // domain at every scale (an empty bucket has no stats and would be
    // conservatively rewritten, defeating the narrowing this gate pins)
    Seq(yr <= 1995, yr === 1996, yr === 1997, yr >= 1998)
      .foreach(cond => graft.ops.Versioned.commit(o.filter(cond), dir,
        statsCol = Some("od")))
    val pre = graft.ops.Versioned.groupNames(dir)
    require(pre.size == 4, s"expected 4 pre-merge groups, got $pre")
    val updates = o.filter(yr === 1996).select(col("o_orderkey"),
      (col("o_totalprice") + 500.0).as("o_totalprice"), col("od"))
    val (v, rewritten, carried) = graft.ops.Versioned.mergeCommitCow(
      updates, dir, "o_orderkey", "od")
    require(v == 5, s"unexpected COW merge version $v")
    val out = (dir, pre, rewritten, carried)
    cowCache.put(key, out)
    out
  }

  /** s36's bin-packed table: two BIG groups (6/8 of orders) + two SMALL
    * groups (1/8 each), then OPTIMIZE at targetBytes = max(small) + 1 —
    * so both bigs sit above target (must carry over verbatim) and the
    * smalls pack into exactly ceil(totalSmall/target) = 2 files. Cached
    * value = (dir, preGroups, preSizes, target, binCount, packed,
    * carried) — everything the gate recomputes its expectations from. */
  private val packCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), (String, Seq[String], Map[String, Long], Long, Int, Seq[String], Seq[String])]()

  private def binPackedOrders(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Seq[String], Map[String, Long], Long, Int, Seq[String], Seq[String]) = {
    val key = (s, d)
    val hit = packCache.get(key)
    if (hit != null) return hit
    packCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s36_pack_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    val m8 = col("o_orderkey") % 8
    Seq(m8 <= 2, m8 >= 3 && m8 <= 5, m8 === 6, m8 === 7)
      .foreach(cond => graft.ops.Versioned.commit(o.filter(cond), dir))
    val pre = graft.ops.Versioned.groupNames(dir)
    val sizes = graft.ops.Versioned.groupSizes(s, dir).toMap
    val bigs = pre.take(2)
    // target just above the LARGER small group: both smalls are under
    // target (they pack, into ceil(sum/target) = 2 bins since the sum
    // exceeds one target), both bigs are comfortably above (they carry)
    val target = pre.drop(2).map(sizes).max + 1
    require(bigs.forall(sizes(_) >= target),
      s"big groups must sit above target=$target, sizes=$sizes")
    val (v, bins, packed, carried) = graft.ops.Versioned.compactBinPacked(
      s, dir, statsCol = None, targetBytes = target)
    require(v == 5, s"unexpected OPTIMIZE version $v")
    val out = (dir, pre, sizes, target, bins, packed, carried)
    packCache.put(key, out)
    out
  }

  /** s38/s39's merge-on-read table: four KEY-QUARTILE commits of orders
    * (manifest stats on o_orderkey), then two MOR equality deletes of
    * narrow key bands — one inside quartile 3 (v5), one inside quartile 1
    * (v6) — then applyDeletesCommit (v7), whose stats planning must
    * rewrite exactly quartiles {1, 3} and carry {2, 4} verbatim. Cached
    * value = (dir, preGroups, rewritten, carried, mx) where mx is the max
    * order key both engines derive the band arithmetic from. */
  private val morCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), (String, Seq[String], Seq[String], Seq[String], Long)]()

  private def morOrders(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Seq[String], Seq[String], Seq[String], Long) = {
    val key = (s, d)
    val hit = morCache.get(key)
    if (hit != null) return hit
    morCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s38_mor_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    val mx = o.agg(max(col("o_orderkey"))).head().getLong(0)
    val k = col("o_orderkey")
    Seq(k <= mx / 4, k > mx / 4 && k <= mx / 2,
        k > mx / 2 && k <= 3 * (mx / 4), k > 3 * (mx / 4))
      .foreach(cond => graft.ops.Versioned.commit(o.filter(cond), dir,
        statsCol = Some("o_orderkey")))
    val pre = graft.ops.Versioned.groupNames(dir)
    require(pre.size == 4, s"expected 4 quartile groups, got $pre")
    // band A inside quartile 3, band B inside quartile 1 (see the gate's
    // oracle: both engines derive the thresholds from MAX(o_orderkey))
    graft.ops.Versioned.deleteCommitMor(
      o.filter(k > mx / 2 && k <= mx / 2 + mx / 20).select("o_orderkey"),
      dir, "o_orderkey")
    graft.ops.Versioned.deleteCommitMor(
      o.filter(k <= mx / 20).select("o_orderkey"), dir, "o_orderkey")
    val (v7, rewritten, carried) =
      graft.ops.Versioned.applyDeletesCommit(s, dir)
    require(v7 == 7, s"unexpected apply version $v7")
    val out = (dir, pre, rewritten, carried, mx)
    morCache.put(key, out)
    out
  }

  /** s40's restored table: v1 = full orders, v2 = DELETE of keys
    * divisible by 5, v3 = RESTORE TO VERSION 1. */
  private val restoreCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), String]()

  private def restoredOrders(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val key = (s, d)
    val hit = restoreCache.get(key)
    if (hit != null) return hit
    restoreCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s40_restore_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    graft.ops.Versioned.commit(o, dir)
    graft.ops.Versioned.deleteCommit(s, dir, col("o_orderkey") % 5 === 0)
    val v3 = graft.ops.Versioned.restore(s, dir, 1)
    require(v3 == 3, s"unexpected restore version $v3")
    restoreCache.put(key, dir)
    dir
  }

  /** s46's dropped-column table: v1 = even-key orders WITH
    * o_orderpriority, v2 = DROP COLUMN o_orderpriority (metadata only),
    * v3 = the odd half appended STILL CARRYING the column (stripped at
    * write). Built once per (session, sfDir) — delete-and-rebuild, so a
    * crashed partial build or regenerated testdata can never serve a
    * stale or half-built table. Cached value = (dir, metadataOnly,
    * v1HasCol, v3Stripped). */
  private val dropCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), (String, Boolean, Boolean, Boolean)]()

  private def droppedOrders(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Boolean, Boolean, Boolean) = {
    val key = (s, d)
    val hit = dropCache.get(key)
    if (hit != null) return hit
    dropCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s46_drop_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"),
        col("o_orderpriority"))
    graft.ops.Versioned.commit(o.filter(col("o_orderkey") % 2 === 0), dir)
    graft.ops.Versioned.dropColumnCommit(s, dir, "o_orderpriority")
    graft.ops.Versioned.commit(o.filter(col("o_orderkey") % 2 =!= 0), dir)
    val metadataOnly = graft.ops.Versioned.groupNames(dir, 2) ==
      graft.ops.Versioned.groupNames(dir, 1)
    val v1HasCol = graft.ops.Versioned.read(s, dir, 1)
      .columns.contains("o_orderpriority")
    val v3Stripped = !s.read.parquet(s"$dir/data/c3")
      .columns.contains("o_orderpriority")
    val out = (dir, metadataOnly, v1HasCol, v3Stripped)
    dropCache.put(key, out)
    out
  }

  /** s45's defaulted table: v1 = keys ≡ 0 mod 3 (id, price), v2 = ADD
    * COLUMN channel STRING DEFAULT 'store' (metadata only), v3 = keys
    * ≡ 1 mod 3 appended WITH explicit channel values, v4 = keys ≡ 2
    * mod 3 appended WITHOUT the column (write-path fill). Cached value
    * = (dir, metadataOnly, v1LacksCol, v4Materialized). */
  private val defaultsCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), (String, Boolean, Boolean, Boolean)]()

  private def defaultedOrders(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Boolean, Boolean, Boolean) = {
    val key = (s, d)
    val hit = defaultsCache.get(key)
    if (hit != null) return hit
    defaultsCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s45_defaults_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    graft.ops.Versioned.commit(o.filter(col("o_orderkey") % 3 === 0), dir)
    val pre = graft.ops.Versioned.groupNames(dir)
    val v2 = graft.ops.Versioned.addColumnCommit(
      s, dir, "channel", "string", "store")
    val metadataOnly = v2 == 2 && graft.ops.Versioned.groupNames(dir) == pre
    val v1LacksCol = !graft.ops.Versioned.read(s, dir, 1)
      .columns.contains("channel")
    graft.ops.Versioned.commit(
      o.filter(col("o_orderkey") % 3 === 1)
        .withColumn("channel",
          concat(lit("web_"), (col("o_orderkey") % 2).cast("string"))),
      dir)
    graft.ops.Versioned.commit(o.filter(col("o_orderkey") % 3 === 2), dir)
    // the omitted-column batch must be PHYSICALLY complete on disk
    // (write-path fill) — no read-side default was needed for it
    val v4Materialized = s.read.parquet(s"$dir/data/c4")
      .columns.contains("channel")
    val out = (dir, metadataOnly, v1LacksCol, v4Materialized)
    defaultsCache.put(key, out)
    out
  }

  /** s42's renamed table: v1 = even-key orders (o_orderkey,
    * o_totalprice), v2 = RENAME COLUMN o_totalprice -> price (metadata
    * only), v3 = the odd-key half appended under the LOGICAL name.
    * Cached value = (dir, metadataOnly, oldNameAtV1). */
  private val renameCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), (String, Boolean, Boolean)]()

  private def renamedOrders(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Boolean, Boolean) = {
    val key = (s, d)
    val hit = renameCache.get(key)
    if (hit != null) return hit
    renameCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s42_rename_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    // range split (not parity) so the two groups' key stats are DISJOINT
    // and the post-rename pruning probe can plan exactly one group
    graft.ops.Versioned.commit(o.filter(col("o_orderkey") < 1000), dir,
      statsCol = Some("o_orderkey"))
    val pre = graft.ops.Versioned.groupNames(dir)
    val v2 = graft.ops.Versioned.renameColumnCommit(
      s, dir, "o_totalprice", "price")
    val metadataOnly = v2 == 2 && graft.ops.Versioned.groupNames(dir) == pre
    val oldNameAtV1 = graft.ops.Versioned.read(s, dir, 1).columns.toSeq ==
      Seq("o_orderkey", "o_totalprice")
    graft.ops.Versioned.commit(
      o.filter(col("o_orderkey") >= 1000)
        .withColumnRenamed("o_totalprice", "price"),
      dir, statsCol = Some("o_orderkey"))
    val out = (dir, metadataOnly, oldNameAtV1)
    renameCache.put(key, out)
    out
  }

  /** s41's CHECK-constrained table: v1 = even-key orders, then two
    * constraints declared, then the odd-key half appended THROUGH the
    * check gate; a corrupted batch (negated prices on keys ≡ 1 mod 10)
    * and a retroactively-false constraint are both refused. Cached
    * value = (dir, violationCount, appendBlocked, retroBlocked). */
  private val checkCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), (String, Long, Boolean, Boolean)]()

  private def checkedOrders(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Long, Boolean, Boolean) = {
    val key = (s, d)
    val hit = checkCache.get(key)
    if (hit != null) return hit
    checkCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s41_check_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_custkey").cast("long").as("o_custkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    graft.ops.Versioned.commit(o.filter(col("o_orderkey") % 2 === 0), dir)
    graft.ops.Versioned.addConstraintCommit(s, dir,
      "positive_price", "o_totalprice > 0.0")
    graft.ops.Versioned.addConstraintCommit(s, dir,
      "cust_present", "o_custkey IS NOT NULL")
    val odd = o.filter(col("o_orderkey") % 2 === 1)
    val v2 = graft.ops.Versioned.commitChecked(odd, dir)
    require(v2 == 2, s"unexpected checked-append version $v2")
    val bad = odd.withColumn("o_totalprice",
      when(col("o_orderkey") % 10 === 1, -col("o_totalprice"))
        .otherwise(col("o_totalprice")))
    val nBad = graft.ops.Versioned.checkViolations(
      bad, graft.ops.Versioned.constraints(dir))("positive_price")
    val appendBlocked =
      try { graft.ops.Versioned.commitChecked(bad, dir); false }
      catch { case _: IllegalArgumentException =>
        graft.ops.Versioned.latestVersion(dir) == 2 }
    val retroBlocked =
      try {
        graft.ops.Versioned.addConstraintCommit(s, dir,
          "price_cap", "o_totalprice < 100.0"); false
      } catch { case _: IllegalArgumentException =>
        graft.ops.Versioned.constraints(dir).map(_._1) ==
          Seq("positive_price", "cust_present") }
    val out = (dir, nBad, appendBlocked, retroBlocked)
    checkCache.put(key, out)
    out
  }

  /** s37's Z-ORDER-optimized version log: the s26 grid (both key
    * dimensions normalized to 0..1023 exact BIGINT arithmetic) committed
    * in four UNCLUSTERED key-mod slices — every group spans the full
    * (ag, bg) domain and carries NO 2-d stats, so a pre-optimize box read
    * conservatively plans all 4 — then `OPTIMIZE ... ZORDER BY (ag, bg)`
    * re-clusters into 2^3 = 8 quadtree-cell groups with 2-d manifest
    * stats. Cached value = (dir, plannedPre, totalPre). */
  private val zoptCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), (String, Int, Int)]()

  private def zorderOptimizedOrders(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Int, Int) = {
    val key = (s, d)
    val hit = zoptCache.get(key)
    if (hit != null) return hit
    zoptCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s37_zopt_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d).select(
      col("o_orderkey").cast("long").as("o_orderkey"),
      col("o_custkey").cast("long").as("o_custkey"),
      col("o_totalprice").cast("double").as("o_totalprice"),
      datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("od"))
    val b = o.agg(max(col("o_custkey")), min(col("od")), max(col("od"))).head()
    val (maxCust, minOd, maxOd) = (b.getLong(0), b.getLong(1), b.getLong(2))
    val gridded = o
      .withColumn("ag", expr(s"(o_custkey * 1024) div ($maxCust + 1)"))
      .withColumn("bg", expr(s"((od - $minOd) * 1024) div ($maxOd - $minOd + 1)"))
      .select("o_orderkey", "o_totalprice", "ag", "bg")
    (0 to 3).foreach(r => graft.ops.Versioned.commit(
      gridded.filter(col("o_orderkey") % 4 === r), dir))
    val (_, pPre, tPre) = graft.ops.Versioned.boxPrunedRead(
      s, dir, "ag", "bg", 256L, 511L, 256L, 511L)
    val (v, _) = graft.ops.Versioned.compactZOrder(s, dir, "ag", "bg",
      gridBits = 10, bucketBits = 3)
    require(v == 5, s"unexpected ZORDER OPTIMIZE version $v")
    val out = (dir, pPre, tPre)
    zoptCache.put(key, out)
    out
  }

  /** s20's merged versioned table: v1 = even-key orders, v2 = MERGE of
    * an update batch (price bump on keys ≡ 0 mod 10, inserts on keys
    * ≡ 1 mod 10). Built once per (session, sfDir). */
  private val mergedCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), String]()

  private def mergedOrders(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val key = (s, d)
    val hit = mergedCache.get(key)
    if (hit != null) return hit
    mergedCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s20_merge_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    graft.ops.Versioned.commit(o.filter(col("o_orderkey") % 2 === 0), dir)
    val updates = o.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") + 1000.0).as("o_totalprice"))
      .unionAll(o.filter(col("o_orderkey") % 10 === 1))
    val v2 = graft.ops.Versioned.mergeCommit(updates, dir, "o_orderkey")
    require(v2 == 2, s"unexpected merge version $v2")
    mergedCache.put(key, dir)
    dir
  }

  /** s21's statistics-carrying versioned table: four year-bucket commits
    * of orders, each with min/max epoch-day stats in the manifest. */
  private val statsTableCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), String]()

  private[queries] def versionedByYear(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val key = (s, d)
    val hit = statsTableCache.get(key)
    if (hit != null) return hit
    statsTableCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s21_stats_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d).select(
      col("o_orderkey").cast("long").as("o_orderkey"),
      col("o_totalprice").cast("double").as("o_totalprice"),
      datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("od"))
    val yr = year(date_add(lit("1970-01-01").cast("date"),
      col("od").cast("int")))
    Seq(yr <= 1993, yr === 1994 || yr === 1995, yr === 1996, yr >= 1997)
      .foreach(cond => graft.ops.Versioned.commit(o.filter(cond), dir,
        statsCol = Some("od")))
    statsTableCache.put(key, dir)
    dir
  }

  /** s22's compacted table: the s21 four-commit shape in its own dir
    * (compacting s21's table would break its pruning contract), then
    * one OPTIMIZE pass. */
  private val compactedCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), String]()

  private def compactedOrders(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val key = (s, d)
    val hit = compactedCache.get(key)
    if (hit != null) return hit
    compactedCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s22_compact_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d).select(
      col("o_orderkey").cast("long").as("o_orderkey"),
      col("o_totalprice").cast("double").as("o_totalprice"),
      datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("od"))
    val yr = year(date_add(lit("1970-01-01").cast("date"),
      col("od").cast("int")))
    Seq(yr <= 1993, yr === 1994 || yr === 1995, yr === 1996, yr >= 1997)
      .foreach(cond => graft.ops.Versioned.commit(o.filter(cond), dir,
        statsCol = Some("od")))
    require(graft.ops.Versioned.groupCount(dir) == 4,
      "expected 4 pre-compaction groups")
    graft.ops.Versioned.compact(s, dir, statsCol = Some("od"))
    compactedCache.put(key, dir)
    dir
  }

  /** s25's vacuumed table: the s19 two-commit shape in its own dir, then
    * OPTIMIZE + VACUUM(retain latest) — the standard storage-reclaim
    * composition. Cached value carries the vacuum's removal counts (the
    * one-time effect the query pins). */
  private val vacuumCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), (String, Int, Int)]()

  private def vacuumedOrders(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Int, Int) = {
    val key = (s, d)
    val hit = vacuumCache.get(key)
    if (hit != null) return hit
    vacuumCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s25_vacuum_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    graft.ops.Versioned.commit(o.filter(col("o_orderkey") % 2 === 0), dir)
    graft.ops.Versioned.commit(o.filter(col("o_orderkey") % 2 =!= 0), dir)
    val v3 = graft.ops.Versioned.compact(s, dir)
    require(v3 == 3, s"unexpected compacted version $v3")
    val (m, g) = graft.ops.Versioned.vacuum(s, dir, retainFromVersion = 3, orphanGraceMs = 0)
    val entry = (dir, m, g)
    vacuumCache.put(key, entry)
    entry
  }

  /** s26's z-ordered copy of orders: both key dimensions normalized to a
    * 0..1023 integer grid (z-order on raw uneven domains wastes bits —
    * the [[graft.ops.ZOrder]] doc's bucket-first rule; the grid arithmetic
    * is exact BIGINT in both engines), then written z-clustered into 16
    * files with the 2-d min/max manifest. */
  private val zorderCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), String]()

  private def zorderedOrders(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val key = (s, d)
    val hit = zorderCache.get(key)
    if (hit != null) return hit
    zorderCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s26_zorder_${Integer.toHexString(d.hashCode)}")
    val o = Tables.orders(s, d).select(
      col("o_orderkey").cast("long").as("o_orderkey"),
      col("o_custkey").cast("long").as("o_custkey"),
      col("o_totalprice").cast("double").as("o_totalprice"),
      datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("od"))
    val b = o.agg(max(col("o_custkey")), min(col("od")), max(col("od"))).head()
    val (maxCust, minOd, maxOd) = (b.getLong(0), b.getLong(1), b.getLong(2))
    val gridded = o
      .withColumn("ag", expr(s"(o_custkey * 1024) div ($maxCust + 1)"))
      .withColumn("bg", expr(s"((od - $minOd) * 1024) div ($maxOd - $minOd + 1)"))
    graft.ops.ZOrder.writeZOrderedWithManifest(gridded, "ag", "bg", dir,
      nFiles = 16)
    zorderCache.put(key, dir)
    dir
  }

  /** s28's schema-evolved versioned table: v1 = even-key orders (2 cols),
    * v2 = appended odd half carrying an ADDED o_flag column. */
  private val evolvedCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), String]()

  private def evolvedOrders(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val key = (s, d)
    val hit = evolvedCache.get(key)
    if (hit != null) return hit
    evolvedCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s28_evolve_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    graft.ops.Versioned.commit(o.filter(col("o_orderkey") % 2 === 0), dir)
    graft.ops.Versioned.commit(
      o.filter(col("o_orderkey") % 2 =!= 0)
        .withColumn("o_flag", (col("o_orderkey") % 3).cast("long")),
      dir)
    evolvedCache.put(key, dir)
    dir
  }

  /** s29's deleted-from versioned table: v1 = full orders, v2 = DELETE of
    * keys divisible by 5. */
  private val deletedCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), String]()

  private def deletedOrders(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val key = (s, d)
    val hit = deletedCache.get(key)
    if (hit != null) return hit
    deletedCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s29_delete_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    graft.ops.Versioned.commit(o, dir)
    val v2 = graft.ops.Versioned.deleteCommit(s, dir, col("o_orderkey") % 5 === 0)
    require(v2 == 2, s"unexpected delete version $v2")
    deletedCache.put(key, dir)
    dir
  }

  /** s27's bloom-indexed copy of orders: UNCLUSTERED write (round-robin,
    * every file spans the full key range — the layout zone maps cannot
    * prune) + per-file bloom manifest on the order key. */
  private val bloomDirCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), String]()

  private def bloomOrders(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val key = (s, d)
    val hit = bloomDirCache.get(key)
    if (hit != null) return hit
    bloomDirCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s27_bloom_${Integer.toHexString(d.hashCode)}")
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    graft.ops.DataSkipping.writeWithBloom(o, dir, "o_orderkey",
      nFiles = 16, numBits = 1 << 17, numHashes = 7)
    bloomDirCache.put(key, dir)
    dir
  }

  val all: Seq[Q] = Seq(


    // S17: manifest-driven data skipping — the zone-map mechanism every
    // lakehouse format builds on (ops.DataSkipping scaladoc). Lineitem is
    // written range-clustered by l_shipdate with a per-file min/max
    // manifest; the read plans ONLY the manifest-selected files for a
    // one-year predicate, then aggregates. The `pruned` column is the
    // emb6-style contract gate: it is TRUE only if the scan actually
    // touched fewer files than the table holds, and the oracle asserts
    // it — so file skipping itself is under the hash gate, not just the
    // result values.
    Q("s17_data_skipping_scan",
      (s, d) => {
        val dir = clusteredLineitem(s, d)
        val (scan, nRead, nTotal) = graft.ops.DataSkipping.prunedRead(
          s, dir, "l_shipdate",
          lit("1996-01-01").cast("date"), lit("1996-12-31").cast("date"))
        scan.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_price"))
          .withColumn("pruned", lit(nRead < nTotal && nRead > 0))
          .orderBy("l_returnflag")
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n,
                      ${sqlDsum("l_quantity")} AS sum_qty,
                      ${sqlDsum("l_extendedprice")} AS sum_price,
                      TRUE AS pruned
               FROM lineitem
               WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
                 AND CAST(l_shipdate AS DATE) <= DATE '1996-12-31'
               GROUP BY l_returnflag ORDER BY l_returnflag""")),


    // S18: DYNAMIC partition pruning — the mechanism a 100x star schema
    // lives on (the reference's partition-pruning demo,
    // sql/performance_examples.sql:22-26, covers STATIC pruning via j6 +
    // s17; this is the runtime half): the fact is written hive-partitioned
    // by nation key, the ONLY filter sits on the dim side (region 1), and
    // Spark's DPP injects the dim-join subquery into the fact scan's
    // PartitionFilters at runtime — the fact reads ~5 of 25 partitions
    // without any literal fact predicate. `dpp_planned` pins the
    // mechanism IN the gated row: it is TRUE only if the pre-AQE physical
    // plan carries a `dynamicpruning` partition filter on the fact scan,
    // so a regression that silently falls back to a full fact scan
    // hash-fails the row (PlanSpec asserts the same marker + the runtime
    // partition count). The oracle replays the join from source tables.
    Q("s18_dynamic_partition_pruning",
      (s, d) => {
        val fact = s.read.parquet(partitionedCustomer(s, d))
        val dim = Tables.nation(s, d).filter(col("n_regionkey") === 1)
          .select(col("n_nationkey").cast("int").as("nk"), col("n_name"))
        val joined = fact.join(dim, fact("c_nationkey") === dim("nk"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_acctbal"))
          .orderBy("n_name")
        val planned = joined.queryExecution.sparkPlan.toString
          .contains("dynamicpruning")
        joined.withColumn("dpp_planned", lit(planned))
      },
      Some(s"""SELECT n_name, COUNT(*) AS n_cust,
                      ${sqlDsum("c_acctbal")} AS total_acctbal,
                      TRUE AS dpp_planned
               FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
               WHERE n.n_regionkey = 1
               GROUP BY n_name ORDER BY n_name""")),


    // S19: snapshot versioning + TIME TRAVEL (ops.Versioned — the
    // manifest-log mechanism of Delta/Iceberg in its minimal Spark-first
    // form): commit 1 writes the even-key half of orders, commit 2
    // APPENDS the odd half as a new immutable file group + manifest.
    // The query time-travels: reading v1 AFTER v2 was committed must
    // still see only the even half (historical versions are byte-stable
    // — the property the manifest log exists for), and v2 sees the full
    // table. The oracle replays both versions' predicates from the
    // source table, so version isolation itself is under the hash gate.
    Q("s19_versioned_time_travel",
      (s, d) => {
        val dir = versionedOrders(s, d)
        def snap(v: Int) = graft.ops.Versioned.read(s, dir, v)
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .select(lit(v.toLong).as("version"), col("n"), col("total"))
        snap(1).unionAll(snap(2)).orderBy("version")
      },
      Some(s"""SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n,
                      ${sqlDsum("o_totalprice")} AS total
               FROM orders WHERE o_orderkey % 2 = 0
               UNION ALL
               SELECT CAST(2 AS BIGINT), COUNT(*), ${sqlDsum("o_totalprice")}
               FROM orders
               ORDER BY version""")),


    // S20: row-level MERGE INTO the versioned table — the Delta/Iceberg
    // MERGE shape over the s19 manifest log: v1 = the even-key half of
    // orders; v2 = mergeCommit of an update batch (+1000.00 on keys
    // divisible by 10, INSERTs for keys ≡ 1 mod 10) as a new OVERWRITE
    // version. The gated rows read BOTH snapshots after the merge: v1
    // must still show the pre-merge table (audit diff-ability — the
    // reason the log keeps history) and v2 the exact merge semantics
    // (update wins wholesale, inserts present, unmatched pass through),
    // all replayed by the oracle from the source table.
    Q("s20_versioned_merge",
      (s, d) => {
        val dir = mergedOrders(s, d)
        def snap(v: Int) = graft.ops.Versioned.read(s, dir, v)
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .select(lit(v.toLong).as("version"), col("n"), col("total"))
        snap(1).unionAll(snap(2)).orderBy("version")
      },
      Some(s"""SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n,
                      ${sqlDsum("o_totalprice")} AS total
               FROM orders WHERE o_orderkey % 2 = 0
               UNION ALL
               SELECT CAST(2 AS BIGINT), COUNT(*),
                      CAST(SUM(CAST(
                        CASE WHEN o_orderkey % 10 = 0
                             THEN CAST(o_totalprice AS DOUBLE) + 1000.0
                             ELSE CAST(o_totalprice AS DOUBLE) END
                        AS DECIMAL(18,2))) AS DOUBLE)
               FROM orders
               WHERE o_orderkey % 2 = 0 OR o_orderkey % 10 = 1
               ORDER BY version""")),


    // S21: manifest-STATISTICS pruning over the version log — the
    // Iceberg planning path composed from s19's manifests and s17's
    // zone-map idea: each of four year-bucket commits records its
    // epoch-day min/max in the manifest, and the snapshot read plans
    // ONLY the groups intersecting the predicate range (1996 → 1 of 4
    // groups) before applying the residual filter. `pruned` is the
    // s17-style contract column (planned strictly between 0 and total)
    // the oracle asserts TRUE; values replay from the source table.
    Q("s21_versioned_stats_pruning",
      (s, d) => {
        val dir = versionedByYear(s, d)
        val (lo, hi) = (java.time.LocalDate.of(1996, 1, 1).toEpochDay,
          java.time.LocalDate.of(1996, 12, 31).toEpochDay)
        val (scan, nPlanned, nTotal) =
          graft.ops.Versioned.prunedRead(s, dir, "od", lo, hi)
        scan.agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("pruned", lit(nPlanned < nTotal && nPlanned > 0))
      },
      Some(s"""SELECT COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total,
                      TRUE AS pruned
               FROM orders
               WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
                 AND CAST(o_orderdate AS DATE) <= DATE '1996-12-31'""")),


    // S22: OPTIMIZE/compaction on the version log — the remaining
    // lakehouse verb (Delta OPTIMIZE / Iceberg rewrite_data_files): an
    // s21-shaped four-group table is compacted into ONE group published
    // as a new overwrite version. Gated contracts: content invariance
    // (the post-compaction aggregate must equal the source-table replay
    // — compaction may move bytes, never rows), `compacted` (4 groups →
    // 1), and `stats_preserved` (the compacted manifest still carries
    // min/max — a disjoint-range pruned read plans ZERO groups, so the
    // planning metadata survived the rewrite).
    Q("s22_versioned_compaction",
      (s, d) => {
        val dir = compactedOrders(s, d)
        val nGroups = graft.ops.Versioned.groupCount(dir)
        val (_, p0, _) = graft.ops.Versioned.prunedRead(
          s, dir, "od", 100000L, 200000L)
        graft.ops.Versioned.read(s, dir)
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("compacted", lit(nGroups == 1))
          .withColumn("stats_preserved", lit(p0 == 0))
      },
      Some(s"""SELECT COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total,
                      TRUE AS compacted, TRUE AS stats_preserved
               FROM orders""")),


    // S23: CHANGE-DATA FEED over the version log (Delta CDF / Iceberg
    // incremental scan) — the key-level diff path: on s20's merged table,
    // changes(v1 → v2) must emit exactly the merge's effect as tagged
    // change rows (inserts for the new keys, update pre/post pairs for
    // the touched keys, NOTHING for untouched rows — suppression is as
    // much the contract as emission). The oracle replays every change
    // class from the source table, so the diff semantics (null-safe
    // column compare, one joined pass) sit under the hash gate.
    Q("s23_versioned_changes",
      (s, d) => {
        val dir = mergedOrders(s, d)
        graft.ops.Versioned.changes(s, dir, 1, 2, "o_orderkey")
          .groupBy("_change_type")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy("_change_type")
      },
      Some(s"""SELECT 'insert' AS _change_type, COUNT(*) AS n,
                      ${sqlDsum("o_totalprice")} AS total
               FROM orders WHERE o_orderkey % 10 = 1
               UNION ALL
               SELECT 'update_postimage', COUNT(*),
                      CAST(SUM(CAST(CAST(o_totalprice AS DOUBLE) + 1000.0
                        AS DECIMAL(18,2))) AS DOUBLE)
               FROM orders WHERE o_orderkey % 10 = 0
               UNION ALL
               SELECT 'update_preimage', COUNT(*), ${sqlDsum("o_totalprice")}
               FROM orders WHERE o_orderkey % 10 = 0
               ORDER BY _change_type""")),


    // S24: the CDC FILE-LEVEL fast path — on s19's append-only table,
    // changes(v1 → v2) must be served by scanning ONLY the file group
    // commit 2 added (cost bounded by the new data — the property that
    // makes incremental consumption viable at 100 TB; a snapshot diff
    // would shuffle the whole table). `file_level` pins that the step
    // was actually planned as an append; the rows replay as the odd-key
    // half tagged insert.
    Q("s24_versioned_incremental",
      (s, d) => {
        val dir = versionedOrders(s, d)
        val fast = graft.ops.Versioned.stepIsAppend(dir, 2)
        graft.ops.Versioned.changes(s, dir, 1, 2, "o_orderkey")
          .groupBy("_change_type")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("file_level", lit(fast))
      },
      Some(s"""SELECT 'insert' AS _change_type, COUNT(*) AS n,
                      ${sqlDsum("o_totalprice")} AS total, TRUE AS file_level
               FROM orders WHERE o_orderkey % 2 = 1""")),


    // S25: VACUUM — storage reclaim after OPTIMIZE (expire_snapshots +
    // remove_orphan_files): a two-commit table is compacted (v3), then
    // vacuumed retaining only v3. Pinned: exactly 2 manifests and 2
    // superseded file groups removed (integers, not booleans — the
    // sweep is group-name set arithmetic, bounded by commit count), the
    // retained snapshot replays content-identical to the source table,
    // and time travel to an expired version now FAILS (`expired_gone` —
    // vacuum's contract is precisely that it trades history for space).
    Q("s25_versioned_vacuum",
      (s, d) => {
        val (dir, m, g) = vacuumedOrders(s, d)
        val expiredGone =
          scala.util.Try(graft.ops.Versioned.read(s, dir, 1)).isFailure
        graft.ops.Versioned.read(s, dir)
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("manifests_removed", lit(m.toLong))
          .withColumn("groups_removed", lit(g.toLong))
          .withColumn("expired_gone", lit(expiredGone))
      },
      Some(s"""SELECT COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total,
                      CAST(2 AS BIGINT) AS manifests_removed,
                      CAST(2 AS BIGINT) AS groups_removed,
                      TRUE AS expired_gone
               FROM orders""")),


    // S26: Z-ORDER clustering under the gate — the multi-dimensional
    // layout verb (Delta/Iceberg Z-ORDER BY): orders gridded to 0..1023
    // on BOTH (customer, order-day) — exact BIGINT arithmetic both
    // engines replay — written Morton-clustered into 16 files with a 2-d
    // min/max manifest. Contracts: the 2-d box scan AND each
    // single-dimension predicate plan strictly fewer than all files
    // (`pruned_*` — a 1-d sort can only ever prune its own sort column;
    // pruning on EITHER dimension is what Z-ORDER buys), and the box
    // aggregate replays exactly from the source table through the
    // residual filter (manifest pruning is a superset test, never a
    // row-eliminator).
    Q("s26_zorder_box_skipping",
      (s, d) => {
        val dir = zorderedOrders(s, d)
        val (box, r2, tot) = graft.ops.ZOrder.boxPrunedRead(
          s, dir, "ag", "bg", 256, 511, 256, 511)
        val (_, ra, _) = graft.ops.ZOrder.boxPrunedRead(
          s, dir, "ag", "bg", 256, 511, 0, 1023)
        val (_, rb, _) = graft.ops.ZOrder.boxPrunedRead(
          s, dir, "ag", "bg", 0, 1023, 256, 511)
        box.agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("pruned_box", lit(r2 > 0 && r2 < tot))
          .withColumn("pruned_a_only", lit(ra < tot))
          .withColumn("pruned_b_only", lit(rb < tot))
      },
      Some(s"""WITH g AS (
                 SELECT o_totalprice,
                        (o_custkey * 1024)
                          // ((SELECT MAX(o_custkey) FROM orders) + 1) AS ag,
                        ((CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                           - (SELECT MIN(CAST(o_orderdate AS DATE)
                                         - DATE '1970-01-01') FROM orders))
                          * 1024)
                          // ((SELECT MAX(CAST(o_orderdate AS DATE)
                                          - DATE '1970-01-01') FROM orders)
                              - (SELECT MIN(CAST(o_orderdate AS DATE)
                                            - DATE '1970-01-01') FROM orders)
                              + 1) AS bg
                 FROM orders)
               SELECT COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total,
                      TRUE AS pruned_box, TRUE AS pruned_a_only,
                      TRUE AS pruned_b_only
               FROM g
               WHERE ag BETWEEN 256 AND 511 AND bg BETWEEN 256 AND 511""")),


    // S27: BLOOM-filter file skipping — the index the table formats add
    // precisely where zone maps stop working (Delta bloom indexes,
    // Parquet/Iceberg bloom filters): a point lookup on a
    // high-cardinality key over an UNCLUSTERED layout intersects every
    // file's [min,max], but the per-file bloom (built by the custom
    // graft_bloom TypedImperativeAggregate, probed driver-side per FILE)
    // answers definitely-not-here with no clustering requirement. The
    // lookup key is the smallest order key (both engines derive it), the
    // row replays exactly, and `pruned` pins that the bloom planned
    // strictly fewer than all files — false positives would be removed
    // by the residual equality, false negatives are impossible.
    Q("s27_bloom_point_skipping",
      (s, d) => {
        val dir = bloomOrders(s, d)
        val key = Tables.orders(s, d)
          .agg(min(col("o_orderkey").cast("long"))).head().getLong(0)
        val (hit, read, tot) = graft.ops.DataSkipping.bloomPrunedRead(
          s, dir, "o_orderkey", key.toString)
        hit.agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("pruned", lit(read >= 1 && read < tot))
      },
      Some(s"""SELECT COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total,
                      TRUE AS pruned
               FROM orders
               WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM orders)""")),


    // S28: SCHEMA EVOLUTION over the version log — a later append
    // carries an ADDED column (Delta's mergeSchema append / Iceberg
    // add-column): v2's group writes o_flag, v1's group never did;
    // `Versioned.readMerged` reconciles the planned groups' footers and
    // null-fills the old rows. Gated: total count + price replay, the
    // non-null o_flag population is EXACTLY the evolved half, and the
    // new column aggregates correctly over it — all from source.
    // Evolution is additive, never retroactive: a v1 time-travel read
    // still sees two columns (pinned via `old_schema_stable`).
    Q("s28_versioned_schema_evolution",
      (s, d) => {
        val dir = evolvedOrders(s, d)
        val oldCols = graft.ops.Versioned.read(s, dir, 1).columns.length
        graft.ops.Versioned.readMerged(s, dir)
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice")).as("total"),
            count(col("o_flag")).as("n_flagged"),
            sum(col("o_flag")).as("flag_sum"))
          .withColumn("old_schema_stable", lit(oldCols == 2))
      },
      Some(s"""SELECT COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total,
                      COUNT(CASE WHEN o_orderkey % 2 = 1 THEN 1 END)
                        AS n_flagged,
                      CAST(SUM(CASE WHEN o_orderkey % 2 = 1
                               THEN o_orderkey % 3 END) AS BIGINT)
                        AS flag_sum,
                      TRUE AS old_schema_stable
               FROM orders""")),


    // S29: row-level DELETE — the remaining CRUD verb (Delta/Iceberg
    // DELETE FROM ... WHERE): v2 = deleteCommit of keys divisible by 5.
    // The gate reads BOTH snapshots after the delete: v1 must still be
    // the full table (history preserved — the audit property), v2
    // exactly the survivors; both halves replay from source. The CDC
    // composition is covered by construction: changes across a delete
    // step emits the deleted rows (VersionedSpec).
    Q("s29_versioned_delete",
      (s, d) => {
        val dir = deletedOrders(s, d)
        def snap(v: Int) = graft.ops.Versioned.read(s, dir, v)
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .select(lit(v.toLong).as("version"), col("n"), col("total"))
        snap(1).unionAll(snap(2)).orderBy("version")
      },
      Some(s"""SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n,
                      ${sqlDsum("o_totalprice")} AS total
               FROM orders
               UNION ALL
               SELECT CAST(2 AS BIGINT), COUNT(*), ${sqlDsum("o_totalprice")}
               FROM orders WHERE o_orderkey % 5 != 0
               ORDER BY version""")),


    // S30: CDC APPLY — the consumer side of the change feed, and the
    // contract that makes s23/s24 useful downstream: a follower table
    // holding snapshot v1 plus the (1→2] feed must reconstruct snapshot
    // v2 EXACTLY, without ever re-reading the log. `applyChanges`
    // collapses the feed to the last effective change per key (one
    // key-shuffle — the Upsert.merge cost shape) and splices it into the
    // base. Gated twice over: the rebuilt table's aggregate replays the
    // merge semantics from source (the s20 v2 oracle), and
    // `identical_to_snapshot` pins a two-way exceptAll against the real
    // v2 at zero rows.
    Q("s30_versioned_cdc_apply",
      (s, d) => {
        val dir = mergedOrders(s, d)
        // read by both exceptAll counts and the returned aggregate
        val rebuilt = graft.ops.Versioned.applyChanges(
            graft.ops.Versioned.read(s, dir, 1),
            graft.ops.Versioned.changes(s, dir, 1, 2, "o_orderkey"),
            "o_orderkey")
          .localCheckpoint()
        val snap = graft.ops.Versioned.read(s, dir, 2)
        val sym = rebuilt.exceptAll(snap).count() +
          snap.exceptAll(rebuilt).count()
        rebuilt
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("identical_to_snapshot", lit(sym == 0L))
      },
      Some(s"""SELECT COUNT(*) AS n,
                      CAST(SUM(CAST(
                        CASE WHEN o_orderkey % 10 = 0
                             THEN CAST(o_totalprice AS DOUBLE) + 1000.0
                             ELSE CAST(o_totalprice AS DOUBLE) END
                        AS DECIMAL(18,2))) AS DOUBLE) AS total,
                      TRUE AS identical_to_snapshot
               FROM orders
               WHERE o_orderkey % 2 = 0 OR o_orderkey % 10 = 1""")),


    // S31: SHALLOW CLONE — the zero-copy table fork (Delta CLONE
    // SHALLOW): the clone's v1 manifest references the source's file
    // groups by absolute path (metadata-only, O(commits) not O(rows) —
    // `zero_copy` pins that no local data dir existed post-clone), then
    // the two tables diverge: a DELETE commits on the CLONE only. The
    // gate reads three snapshots — clone-at-fork (≡ full source), clone
    // post-delete (survivors), source latest (untouched by the clone's
    // delete) — all replayed from the source table, so fork isolation
    // in BOTH directions sits under the hash.
    Q("s31_versioned_clone",
      (s, d) => {
        val (cloneDir, zeroCopy) = clonedOrders(s, d)
        val srcDir = versionedOrders(s, d)
        def snap(label: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
            .select(lit(label).as("snap"), col("n"), col("total"))
        snap("clone_v1", graft.ops.Versioned.read(s, cloneDir, 1))
          .unionAll(snap("clone_v2", graft.ops.Versioned.read(s, cloneDir, 2)))
          .unionAll(snap("source_latest", graft.ops.Versioned.read(s, srcDir)))
          .withColumn("zero_copy", lit(zeroCopy))
          .orderBy("snap")
      },
      Some(s"""SELECT 'clone_v1' AS snap, COUNT(*) AS n,
                      ${sqlDsum("o_totalprice")} AS total, TRUE AS zero_copy
               FROM orders
               UNION ALL
               SELECT 'clone_v2', COUNT(*), ${sqlDsum("o_totalprice")}, TRUE
               FROM orders WHERE o_orderkey % 4 != 0
               UNION ALL
               SELECT 'source_latest', COUNT(*), ${sqlDsum("o_totalprice")},
                      TRUE
               FROM orders
               ORDER BY snap""")),


    // S32: OPTIMISTIC CONCURRENCY — three genuinely concurrent appenders
    // (threads) race `commitAppendOcc` onto the same version log: each
    // writes its data group once, losers rebase their manifest onto the
    // winner's and republish at the next version (append-append is a
    // false conflict; the hard-link put-if-absent publish makes a lost
    // update impossible). Gates: the final snapshot is EXACTLY the union
    // of all four quarters (no lost update — replayed from source),
    // `all_committed` pins that the racers landed as versions {2,3,4} in
    // some order, and `serial_history` pins a strictly growing group
    // list (v_k has k groups — every commit extended its parent).
    Q("s32_concurrent_appends",
      (s, d) => {
        val (dir, allCommitted, serialHistory) = occOrders(s, d)
        graft.ops.Versioned.read(s, dir)
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("all_committed", lit(allCommitted))
          .withColumn("serial_history", lit(serialHistory))
      },
      Some(s"""SELECT COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total,
                      TRUE AS all_committed, TRUE AS serial_history
               FROM orders""")),


    // S33: IDEMPOTENT transactional commits — the Delta txnAppId/
    // txnVersion mechanism that turns an at-least-once writer (a
    // streaming foreachBatch sink, a retried batch loader) into
    // exactly-once on the table: the log records each app's txn
    // high-water mark, and a REPLAY of an already-committed transaction
    // is a no-op. The builder commits batch 1, replays batch 1 (must
    // skip — `retry_skipped`), commits batch 2; the gate reads the final
    // snapshot, which must hold each batch EXACTLY once (the replay
    // would double batch 1's rows), and pins `two_versions` (the retry
    // minted no version).
    Q("s33_idempotent_commits",
      (s, d) => {
        val (dir, retrySkipped) = idempotentOrders(s, d)
        graft.ops.Versioned.read(s, dir)
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("retry_skipped", lit(retrySkipped))
          .withColumn("two_versions",
            lit(graft.ops.Versioned.latestVersion(dir) == 2))
      },
      Some(s"""SELECT COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total,
                      TRUE AS retry_skipped, TRUE AS two_versions
               FROM orders WHERE o_orderkey % 3 IN (0, 1)""")),


    // S34: time travel BY TIMESTAMP (`TIMESTAMP AS OF`) — three thirds
    // of orders committed at INJECTED ts 1000/2000/3000 (wall clocks are
    // nondeterministic; replayable tables pin theirs — the F9
    // discipline). Reading as-of 2500 must see exactly the first two
    // commits; as-of 9999 the full table. Both snapshots replay from
    // source, so the ts→version resolution sits under the hash.
    Q("s34_time_travel_by_timestamp",
      (s, d) => {
        val dir = timestampedOrders(s, d)
        def snap(ts: Long) = graft.ops.Versioned.readAsOfTimestamp(s, dir, ts)
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .select(lit(ts).as("as_of_ts"), col("n"), col("total"))
        snap(2500L).unionAll(snap(9999L)).orderBy("as_of_ts")
      },
      Some(s"""SELECT CAST(2500 AS BIGINT) AS as_of_ts, COUNT(*) AS n,
                      ${sqlDsum("o_totalprice")} AS total
               FROM orders WHERE o_orderkey % 3 IN (0, 1)
               UNION ALL
               SELECT CAST(9999 AS BIGINT), COUNT(*), ${sqlDsum("o_totalprice")}
               FROM orders
               ORDER BY as_of_ts""")),


    // S35: FILE-GRANULARITY copy-on-write MERGE — the 100 TB merge shape
    // (Delta/Iceberg file-level COW; s20 is the whole-table fallback for
    // stats-less tables): four year-bucket groups with od manifest
    // stats, then a 1996-only price bump. The stats planning (one
    // broadcast range-join of the update keys against the group ranges)
    // must rewrite EXACTLY the 1996 group. Gated contracts:
    // `rewrite_narrowed` (1 of 4 groups rewritten),
    // `untouched_carried_verbatim` (the other three appear in the
    // post-merge manifest under their ORIGINAL names, in order),
    // `carried_stats_prune` (their manifest stats survived — a ≤1993
    // pruned read still plans exactly 1 of 4 groups),
    // `history_stable` (the pre-merge snapshot still has its 4 groups),
    // and the post-merge content replays from source (values + the bump).
    Q("s35_versioned_cow_merge",
      (s, d) => {
        val (dir, pre, rewritten, carried) = cowMergedOrders(s, d)
        val post = graft.ops.Versioned.groupNames(dir)
        val narrowed = rewritten.size == 1 && carried.size == 3
        val verbatim = post.size == 4 && post.init == carried &&
          carried == pre.filterNot(rewritten.toSet)
        val d95 = java.time.LocalDate.of(1995, 12, 31).toEpochDay
        val (_, p93, t93) = graft.ops.Versioned.prunedRead(
          s, dir, "od", Long.MinValue, d95)
        graft.ops.Versioned.read(s, dir)
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("rewrite_narrowed", lit(narrowed))
          .withColumn("untouched_carried_verbatim", lit(verbatim))
          .withColumn("carried_stats_prune", lit(p93 == 1 && t93 == 4))
          .withColumn("history_stable",
            lit(graft.ops.Versioned.groupCount(dir, 4) == 4))
      },
      Some(s"""SELECT COUNT(*) AS n,
                      CAST(SUM(CAST(
                        CASE WHEN EXTRACT(year FROM CAST(o_orderdate AS DATE)) = 1996
                             THEN CAST(o_totalprice AS DOUBLE) + 500.0
                             ELSE CAST(o_totalprice AS DOUBLE) END
                        AS DECIMAL(18,2))) AS DOUBLE) AS total,
                      TRUE AS rewrite_narrowed,
                      TRUE AS untouched_carried_verbatim,
                      TRUE AS carried_stats_prune,
                      TRUE AS history_stable
               FROM orders""")),


    // S36: BIN-PACKED OPTIMIZE — compaction planned the way the real
    // systems plan it (Delta OPTIMIZE file selection / Iceberg
    // rewrite_data_files): only UNDER-target groups rewrite; groups
    // already at/above target carry over by name. The builder makes two
    // big groups (3/8 of orders each) + two small ones (1/8 each) and
    // packs at target = max(smallBytes) + 1. The gate RECOMPUTES the
    // expectation from the observed pre-optimize sizes: `bins_expected`
    // (ceil arithmetic, = 2) must equal the library's bin count AND the
    // parquet file count observed on disk in the packed group;
    // `bigs_carried_verbatim` pins the untouched names; the max packed
    // file must not blow past target (1.5x slack for re-encoding — bin
    // packing bounds what one task writes); content replays from source.
    Q("s36_binpacked_optimize",
      (s, d) => {
        val (dir, pre, sizes, target, bins, packed, carried) =
          binPackedOrders(s, d)
        val smallBytes = pre.filter(g => sizes(g) < target).map(sizes).sum
        val expected = math.max(1L, (smallBytes + target - 1) / target).toInt
        val post = graft.ops.Versioned.groupNames(dir)
        val packedDir = new java.io.File(s"$dir/data/${post.last}")
        val files = packedDir.listFiles().filter(_.getName.endsWith(".parquet"))
        val maxFile = files.map(_.length()).max
        graft.ops.Versioned.read(s, dir)
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("bins_at_computed_target",
            lit(bins == expected && files.length == expected && expected == 2))
          .withColumn("bigs_carried_verbatim",
            lit(carried == pre.take(2) && post.take(2) == pre.take(2)
              && packed == pre.drop(2) && post.size == 3))
          .withColumn("task_write_bounded",
            lit(maxFile <= target * 3 / 2))
      },
      Some(s"""SELECT COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total,
                      TRUE AS bins_at_computed_target,
                      TRUE AS bigs_carried_verbatim,
                      TRUE AS task_write_bounded
               FROM orders""")),


    // S37: OPTIMIZE ... ZORDER BY over the version log — s26's Morton
    // layout composed INTO the log's compaction verb (Delta's
    // `OPTIMIZE ... ZORDER BY`): four unclustered commits (no 2-d stats
    // — a box read conservatively plans all 4, pinned by
    // `pre_conservative`), then one Z-ORDER rewrite into 8 quadtree-cell
    // groups whose 2-d manifest stats let the same box plan STRICTLY
    // fewer groups (`pruned_post`, `strictly_fewer_than_pre`) — and
    // prune on EITHER single dimension (`pruned_a_only`/`pruned_b_only`,
    // what Z-ORDER buys over a 1-d sort). The box aggregate replays
    // exactly from source through the s26 grid arithmetic (pruning is a
    // superset test, never a row-eliminator), and the rewrite is
    // content-invariant (`content_invariant` — the s22 gate over the
    // whole snapshot count).
    Q("s37_zorder_optimize",
      (s, d) => {
        val (dir, pPre, tPre) = zorderOptimizedOrders(s, d)
        val (box, pPost, tPost) = graft.ops.Versioned.boxPrunedRead(
          s, dir, "ag", "bg", 256L, 511L, 256L, 511L)
        val (_, pa, _) = graft.ops.Versioned.boxPrunedRead(
          s, dir, "ag", "bg", 256L, 511L, 0L, 1023L)
        val (_, pb, _) = graft.ops.Versioned.boxPrunedRead(
          s, dir, "ag", "bg", 0L, 1023L, 256L, 511L)
        val nAll = graft.ops.Versioned.read(s, dir).count()
        val nSrc = Tables.orders(s, d).count()
        box.agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("pre_conservative", lit(pPre == 4 && tPre == 4))
          .withColumn("pruned_post", lit(pPost > 0 && pPost < tPost))
          .withColumn("strictly_fewer_than_pre", lit(pPost < pPre))
          .withColumn("pruned_a_only", lit(pa < tPost))
          .withColumn("pruned_b_only", lit(pb < tPost))
          .withColumn("content_invariant", lit(nAll == nSrc))
      },
      Some(s"""WITH g AS (
                 SELECT o_totalprice,
                        (o_custkey * 1024)
                          // ((SELECT MAX(o_custkey) FROM orders) + 1) AS ag,
                        ((CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                           - (SELECT MIN(CAST(o_orderdate AS DATE)
                                         - DATE '1970-01-01') FROM orders))
                          * 1024)
                          // ((SELECT MAX(CAST(o_orderdate AS DATE)
                                          - DATE '1970-01-01') FROM orders)
                              - (SELECT MIN(CAST(o_orderdate AS DATE)
                                            - DATE '1970-01-01') FROM orders)
                              + 1) AS bg
                 FROM orders)
               SELECT COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total,
                      TRUE AS pre_conservative, TRUE AS pruned_post,
                      TRUE AS strictly_fewer_than_pre,
                      TRUE AS pruned_a_only, TRUE AS pruned_b_only,
                      TRUE AS content_invariant
               FROM g
               WHERE ag BETWEEN 256 AND 511 AND bg BETWEEN 256 AND 511""")),


    // S38: MERGE-ON-READ equality delete (Iceberg v2 delete files /
    // Delta deletion vectors) — the third point on the delete
    // write-amplification spectrum (s29 rewrites the table, s35's COW
    // the touched groups, this rewrites NOTHING): two narrow key-band
    // deletes land as SMALL delete files; the gate reads the snapshot
    // with both pending (v6). Contracts: the masked read replays from
    // source through the band arithmetic both engines derive from
    // MAX(o_orderkey); `zero_rewrite` — the data-group list is the
    // pre-delete list VERBATIM (nothing was rewritten, the whole point);
    // `two_pending` — both delete files ride the manifest;
    // `history_stable` — the pre-delete snapshot still reads full;
    // `pruned_masked` — a stats-pruned read composes with the mask
    // (plans 1 of 4 groups AND applies the band's deletions).
    Q("s38_mor_delete",
      (s, d) => {
        val (dir, pre, _, _, mx) = morOrders(s, d)
        val zeroRewrite = graft.ops.Versioned.groupNames(dir, 6) == pre
        val twoPending = graft.ops.Versioned.readDeletes(dir, 6)._1.size == 2
        val historyStable =
          graft.ops.Versioned.readDeletes(dir, 4)._1.isEmpty
        val (pr, planned, total) = graft.ops.Versioned.prunedRead(
          s, dir, "o_orderkey", 1L, mx / 4, version = 6)
        val prunedMasked = planned == 1 && total == 4
        graft.ops.Versioned.read(s, dir, 6)
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("n_pruned_masked", lit(prunedMasked))
          .crossJoin(pr.agg(count(lit(1)).as("n_q1")))
          .withColumn("zero_rewrite", lit(zeroRewrite))
          .withColumn("two_pending", lit(twoPending))
          .withColumn("history_stable", lit(historyStable))
          .select("n", "total", "n_q1", "n_pruned_masked", "zero_rewrite",
            "two_pending", "history_stable")
      },
      Some(s"""WITH m AS (SELECT MAX(CAST(o_orderkey AS BIGINT)) AS mx
                          FROM orders),
                    o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
                                 o_totalprice
                          FROM orders),
                    kept AS (SELECT k, o_totalprice FROM o, m
                             WHERE NOT (k > mx // 2 AND k <= mx // 2 + mx // 20)
                               AND NOT (k <= mx // 20))
               SELECT (SELECT COUNT(*) FROM kept) AS n,
                      (SELECT ${sqlDsum("o_totalprice")} FROM kept) AS total,
                      (SELECT COUNT(*) FROM kept, m WHERE k <= mx // 4)
                        AS n_q1,
                      TRUE AS n_pruned_masked, TRUE AS zero_rewrite,
                      TRUE AS two_pending, TRUE AS history_stable""")),


    // S39: APPLY the pending MOR deletes — the maintenance verb (Iceberg
    // rewrite on deletes / Delta PURGE): the stats planning (broadcast
    // range-join of the UNION of delete files against the group ranges)
    // must rewrite exactly the two quartiles the bands live in and carry
    // quartiles 2 and 4 by name, stats intact; the published version is
    // delete-free and content-identical to the masked read (the apply
    // moves bytes, never rows — replayed from source).
    Q("s39_mor_apply",
      (s, d) => {
        val (dir, pre, rewritten, carried, _) = morOrders(s, d)
        val post = graft.ops.Versioned.groupNames(dir, 7)
        val narrowed = rewritten.toSet == Set(pre(0), pre(2)) &&
          carried == Seq(pre(1), pre(3))
        val verbatim = post.init == carried && post.size == 3
        val deleteFree = graft.ops.Versioned.readDeletes(dir, 7)._1.isEmpty
        graft.ops.Versioned.read(s, dir, 7)
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("rewrite_narrowed", lit(narrowed))
          .withColumn("untouched_carried_verbatim", lit(verbatim))
          .withColumn("delete_free", lit(deleteFree))
      },
      Some(s"""WITH m AS (SELECT MAX(CAST(o_orderkey AS BIGINT)) AS mx
                          FROM orders),
                    o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
                                 o_totalprice
                          FROM orders)
               SELECT COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total,
                      TRUE AS rewrite_narrowed,
                      TRUE AS untouched_carried_verbatim,
                      TRUE AS delete_free
               FROM o, m
               WHERE NOT (k > mx // 2 AND k <= mx // 2 + mx // 20)
                 AND NOT (k <= mx // 20)""")),


    // S40: RESTORE TO VERSION AS OF (Delta RESTORE) — the undo verb:
    // after a DELETE (v2), restore(v1) republishes v1's file-group list
    // as v3, ZERO-copy (`zero_copy_restore` pins the manifest lists
    // identical by name). The gate reads the aborted timeline (v2,
    // survivors) and the restored head (v3, the full table) — both
    // replayed from source — and `undo_diff` pins that the restore
    // step's change feed is exactly the deleted rows coming back as
    // inserts.
    Q("s40_restore",
      (s, d) => {
        val dir = restoredOrders(s, d)
        val zeroCopy = graft.ops.Versioned.groupNames(dir, 3) ==
          graft.ops.Versioned.groupNames(dir, 1)
        val undo = graft.ops.Versioned.changes(s, dir, 2, 3, "o_orderkey")
          .groupBy("_change_type").agg(count(lit(1)).as("cnt"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        def snap(v: Int) = graft.ops.Versioned.read(s, dir, v)
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .select(lit(v.toLong).as("version"), col("n"), col("total"))
        val full = Tables.orders(s, d).count()
        val undoOk = undo.keySet == Set("insert") &&
          undo("insert") == full - graft.ops.Versioned.read(s, dir, 2).count()
        snap(2).unionAll(snap(3))
          .withColumn("zero_copy_restore", lit(zeroCopy))
          .withColumn("undo_diff", lit(undoOk))
          .orderBy("version")
      },
      Some(s"""SELECT CAST(2 AS BIGINT) AS version, COUNT(*) AS n,
                      ${sqlDsum("o_totalprice")} AS total,
                      TRUE AS zero_copy_restore, TRUE AS undo_diff
               FROM orders WHERE o_orderkey % 5 != 0
               UNION ALL
               SELECT CAST(3 AS BIGINT), COUNT(*), ${sqlDsum("o_totalprice")},
                      TRUE, TRUE
               FROM orders
               ORDER BY version""")),


    // S41: CHECK constraints on the version log (Delta's ALTER TABLE ADD
    // CONSTRAINT + write-path enforcement, ANSI CHECK semantics): a
    // declared predicate refuses any violating batch BEFORE data or
    // manifest lands (history stays at v2 — `bad_append_blocked`), a
    // retroactively-false constraint is refused against the existing
    // snapshot (`retro_add_blocked`), and a clean batch flows through
    // the same gate (`n`/`total` replay the WHOLE orders table — both
    // halves committed, proving enforcement doesn't perturb the data
    // path). `n_violations` is the refused batch's violating-row count
    // REPLAYED by the oracle (keys ≡ 1 mod 10, whose prices the builder
    // negated) — the violation counter itself sits under the hash.
    Q("s41_check_constraints",
      (s, d) => {
        val (dir, nBad, appendBlocked, retroBlocked) = checkedOrders(s, d)
        graft.ops.Versioned.read(s, dir)
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("n_violations", lit(nBad))
          .withColumn("two_constraints",
            lit(graft.ops.Versioned.constraints(dir).map(_._1) ==
              Seq("positive_price", "cust_present")))
          .withColumn("bad_append_blocked", lit(appendBlocked))
          .withColumn("retro_add_blocked", lit(retroBlocked))
      },
      Some(s"""SELECT COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total,
                      (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 1)
                        AS n_violations,
                      TRUE AS two_constraints,
                      TRUE AS bad_append_blocked,
                      TRUE AS retro_add_blocked
               FROM orders""")),


    // S42: ALTER TABLE RENAME COLUMN on the version log (Delta column
    // mapping, name mode): the rename is a zero-rewrite metadata commit
    // (`metadata_only` pins the file-group list unchanged across it),
    // time travel still reads v1 under the OLD name (`old_name_at_v1`),
    // and the post-rename append speaks the LOGICAL name while files
    // keep physical names (`n`/`total` replay the whole orders table
    // under the renamed `price` column — a mistranslated append would
    // null out half the sum). Pruned reads plan on carried stats across
    // the rename (`stats_survive_rename`: the odd-half group alone).
    Q("s42_rename_column",
      (s, d) => {
        val (dir, metadataOnly, oldNameAtV1) = renamedOrders(s, d)
        val (_, planned, total) = graft.ops.Versioned.prunedRead(
          s, dir, "o_orderkey", 0L, 999L)
        graft.ops.Versioned.read(s, dir)
          .agg(count(lit(1)).as("n"), dsum(col("price")).as("total"))
          .withColumn("metadata_only", lit(metadataOnly))
          .withColumn("old_name_at_v1", lit(oldNameAtV1))
          .withColumn("stats_survive_rename", lit(planned == 1 && total == 2))
      },
      Some(s"""SELECT COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total,
                      TRUE AS metadata_only,
                      TRUE AS old_name_at_v1,
                      TRUE AS stats_survive_rename
               FROM orders""")),


    // S43: malformed-row QUARANTINE on CSV ingest — the PERMISSIVE +
    // columnNameOfCorruptRecord front door every production loader needs
    // (the medallion bronze contract: never drop silently, never fail the
    // batch on one bad row). Three corruption classes are injected
    // (unparseable key, unparseable double, extra tokens); the gate pins
    // good rows replaying from the source dim (count + key sum), the
    // quarantined count, losslessness (good + corrupt = written lines)
    // and that DROPMALFORMED agrees with the PERMISSIVE partition.
    Q("s43_csv_quarantine",
      (s, d) => {
        val dir = tmp("s43_quarantine")
        val rows = Tables.region(s, d)
          .select(col("r_regionkey").cast("long"), col("r_name"))
          .orderBy("r_regionkey").collect() // 5-row dim
        val good = rows.map(r => s"${r.getLong(0)},${r.getString(1)},1.5")
        val bad = Seq("notanumber,CORRUPT_A,9.9",
          "7,CORRUPT_B,notadouble", "8,CORRUPT_C,2.5,extra")
        val p = java.nio.file.Paths.get(dir, "in.csv")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p,
          (("k,name,v" +: good) ++ bad).mkString("\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val schema = StructType(Seq(StructField("k", LongType),
          StructField("name", StringType), StructField("v", DoubleType),
          StructField("_corrupt", StringType)))
        // CSV column pruning parses ONLY referenced columns, and an
        // unparsed column can never flag malformation — the documented
        // workaround is to materialize the full schema once (an eager
        // localCheckpoint) before touching the corrupt column; the
        // DROPMALFORMED count needs the same, or it parses no column and
        // drops nothing
        val parsed = s.read.schema(schema)
          .option("header", "true").option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt")
          .csv(p.toString).localCheckpoint()
        val dropped = s.read
          .schema(StructType(schema.fields.filter(_.name != "_corrupt")))
          .option("header", "true").option("mode", "DROPMALFORMED")
          .csv(p.toString).localCheckpoint().count()
        parsed.agg(
          sum(when(col("_corrupt").isNull, 1L).otherwise(0L)).as("n_good"),
          sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L))
            .as("n_corrupt"),
          sum(when(col("_corrupt").isNull, col("k"))).as("good_key_sum"))
          .withColumn("lossless",
            col("n_good") + col("n_corrupt") === lit(good.length + 3L))
          .withColumn("dropmalformed_agrees", col("n_good") === lit(dropped))
      },
      Some("""SELECT COUNT(*) AS n_good, CAST(3 AS BIGINT) AS n_corrupt,
                     CAST(SUM(r_regionkey) AS BIGINT) AS good_key_sum,
                     TRUE AS lossless, TRUE AS dropmalformed_agrees
              FROM region""")),


    // S44: incremental view maintenance over the version log's change
    // feed — the materialized-aggregate shape every warehouse serves:
    // a grouped count+sum view kept current by folding ONLY the CDC
    // delta (insert/update_postimage → +1/+price, delete/
    // update_preimage → −1/−price) into the prior view, never
    // rescanning the base table. Maintenance cost is ∝ the delta (an
    // append step's feed is file-bounded) + the view size — the 100 TB
    // reason IVM exists; the full recompute here is the GATE's
    // verification (`matches_recompute` pins maintained ≡ recomputed
    // bit-for-bit), not part of the operator. Both paths carry the sum
    // as exact DECIMAL until one final double cast, so the equality is
    // exact, not approximate: v1-sum + Σ(post − pre) + Σ inserts is
    // literally the final sum in decimal arithmetic.
    Q("s44_incremental_view_maintenance",
      (s, d) => {
        val dir = mergedOrders(s, d)
        def viewDec(df: org.apache.spark.sql.DataFrame) = df
          .groupBy((col("o_orderkey") % 8L).as("bucket"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)")).as("tot_dec"))
        val baseView = viewDec(graft.ops.Versioned.read(s, dir, 1))
        val feed = graft.ops.Versioned.changes(s, dir, 1, 2, "o_orderkey")
        val delta = feed
          .withColumn("sgn",
            when(col("_change_type").isin("insert", "update_postimage"), 1L)
              .otherwise(-1L))
          .groupBy((col("o_orderkey") % 8L).as("bucket"))
          .agg(sum(col("sgn")).as("dn"),
            sum(when(col("sgn") === 1L,
                col("o_totalprice").cast("decimal(18,2)"))
              .otherwise(-col("o_totalprice").cast("decimal(18,2)")))
              .as("dtot_dec"))
        val zeroDec = lit(0).cast("decimal(28,2)")
        val maintained = baseView.join(delta, Seq("bucket"), "full_outer")
          .select(col("bucket"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n"),
            (coalesce(col("tot_dec"), zeroDec)
              + coalesce(col("dtot_dec"), zeroDec)).as("tot_dec"))
          .filter(col("n") > 0)
        val recomputed = viewDec(graft.ops.Versioned.read(s, dir, 2))
        def cmp(df: org.apache.spark.sql.DataFrame) =
          df.select(col("bucket"), col("n"),
            col("tot_dec").cast("decimal(30,2)").as("t"))
        val diff = cmp(maintained).exceptAll(cmp(recomputed)).count() +
          cmp(recomputed).exceptAll(cmp(maintained)).count()
        maintained
          .select(col("bucket"), col("n"),
            col("tot_dec").cast("double").as("total"))
          .withColumn("matches_recompute", lit(diff == 0L))
          .orderBy("bucket")
      },
      Some("""WITH fin AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
                                  CASE WHEN o_orderkey % 10 = 0
                                       THEN CAST(o_totalprice AS DOUBLE) + 1000.0
                                       ELSE CAST(o_totalprice AS DOUBLE) END
                                    AS price
                           FROM orders
                           WHERE o_orderkey % 2 = 0 OR o_orderkey % 10 = 1)
              SELECT k % 8 AS bucket, COUNT(*) AS n,
                     CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
                       AS total,
                     TRUE AS matches_recompute
              FROM fin GROUP BY 1 ORDER BY 1""")),


    // S46: DROP COLUMN as a METADATA-ONLY commit — the dual of s45
    // (Delta DROP COLUMN under column mapping): files keep the bytes,
    // reads project the column out, a post-DROP append still carrying
    // it is STRIPPED at write (pinned: the c3 group is physically
    // free of it), time travel keeps pre-DROP schemas, and re-adding
    // the dropped name is refused (stale-value resurrection guard).
    Q("s46_drop_column",
      (s, d) => {
        val (dir, metadataOnly, v1HasCol, v3Stripped) = droppedOrders(s, d)
        val latest = graft.ops.Versioned.read(s, dir)
        latest
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("col_gone",
            lit(!latest.columns.contains("o_orderpriority")))
          .withColumn("metadata_only", lit(metadataOnly))
          .withColumn("v1_has_col", lit(v1HasCol))
          .withColumn("v3_stripped", lit(v3Stripped))
      },
      Some(s"""SELECT COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total,
                      TRUE AS col_gone, TRUE AS metadata_only,
                      TRUE AS v1_has_col, TRUE AS v3_stripped
               FROM orders""")),


    // S47: DESCRIBE HISTORY — the metadata-table verb: the commit log
    // of s20's merged table as a DataFrame (version, parent, overwrite,
    // group/delete counts, txn + pending-schema-action flags), built
    // from O(commits) manifest reads with zero data touched. The
    // history of a DETERMINISTIC build replays as a VALUES oracle —
    // the log itself sits under the hash.
    Q("s47_describe_history",
      (s, d) => {
        val dir = mergedOrders(s, d)
        graft.ops.Versioned.history(s, dir).orderBy("version")
      },
      Some("""SELECT * FROM (VALUES
                (CAST(1 AS BIGINT), CAST(0 AS BIGINT), FALSE,
                 CAST(1 AS BIGINT), CAST(0 AS BIGINT), FALSE,
                 CAST(0 AS BIGINT)),
                (CAST(2 AS BIGINT), CAST(1 AS BIGINT), TRUE,
                 CAST(1 AS BIGINT), CAST(0 AS BIGINT), FALSE,
                 CAST(0 AS BIGINT)))
              AS t(version, parent, overwrite, n_groups, n_delete_groups,
                   has_txn, schema_actions)
              ORDER BY version""")),


    // S45: ADD COLUMN ... DEFAULT as a METADATA-ONLY commit (Iceberg
    // initial-default / Delta DEFAULT feature): pre-ALTER file groups
    // read the default without any rewrite, an append WITH the column
    // keeps its values, an append WITHOUT it gets the write-path fill
    // (physically complete on disk — `v4_materialized`), and time
    // travel is per-version (`v1_lacks_col`: the v1 schema has no such
    // column). The gate replays the per-key channel assignment from the
    // source dim, so WHICH rows read the default sits under the hash
    // alongside the three contract columns. At 100 TB: an O(1) schema
    // change where a naive engine pays a full-table rewrite.
    Q("s45_add_column_default",
      (s, d) => {
        val (dir, metadataOnly, v1LacksCol, v4Materialized) =
          defaultedOrders(s, d)
        graft.ops.Versioned.read(s, dir)
          .groupBy("channel")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("metadata_only", lit(metadataOnly))
          .withColumn("v1_lacks_col", lit(v1LacksCol))
          .withColumn("v4_materialized", lit(v4Materialized))
          .orderBy("channel")
      },
      Some(s"""SELECT CASE WHEN o_orderkey % 3 = 1
                           THEN 'web_' || CAST(o_orderkey % 2 AS VARCHAR)
                           ELSE 'store' END AS channel,
                      COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total,
                      TRUE AS metadata_only,
                      TRUE AS v1_lacks_col,
                      TRUE AS v4_materialized
               FROM orders GROUP BY 1 ORDER BY 1""")),


    // S48: cross-TABLE atomic transaction (ops.MultiTxn — the catalog
    // commit protocol): a fact batch and its audit row publish together or
    // not at all. The run stages txn2 and CRASHES the coordinator before
    // the catalog record (fault-injection seam), reads both tables THROUGH
    // the catalog mid-crash (the gated crash_* rows — any leaked staging
    // visibility inflates them), vacuums the orphaned staged versions,
    // re-runs the transaction, and gates the final state plus the sweep
    // count. The oracle recomputes every row from `orders` alone.
    Q("s48_multi_table_txn",
      (s, d) => {
        import graft.ops.MultiTxn
        import graft.ops.MultiTxn.Write
        val root = txnDir()
        val orders = Tables.orders(s, d).select(
          col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        val b1 = orders.where(col("o_orderkey") % 2 === 1)
        val b2 = orders.where(col("o_orderkey") % 2 === 0)
        def auditRow(batchId: Long,
            df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_rows"),
              dsum(col("o_totalprice")).as("sum_price"))
            .withColumn("batch_id", lit(batchId))
        MultiTxn.commit(root,
          Seq(Write("fact", b1), Write("audit", auditRow(1L, b1))))
        MultiTxn.commit(root,
          Seq(Write("fact", b2), Write("audit", auditRow(2L, b2))),
          crashBeforePublish = true)
        def stepAgg(df: org.apache.spark.sql.DataFrame, step: String,
            priceCol: String) =
          df.agg(count(lit(1)).as("n"),
              sum(col(priceCol).cast("decimal(18,2)")).cast("double")
                .as("sum_price"))
            .select(lit(step).as("step"), col("n"), col("sum_price"))
        val crashFact = stepAgg(MultiTxn.read(s, root, "fact"),
          "crash_fact", "o_totalprice")
        val crashAudit = stepAgg(MultiTxn.read(s, root, "audit"),
          "crash_audit", "sum_price")
        val sweptN = MultiTxn.vacuumOrphans(root).size.toLong
        MultiTxn.commit(root,
          Seq(Write("fact", b2), Write("audit", auditRow(2L, b2))))
        val finalFact = stepAgg(MultiTxn.read(s, root, "fact"),
          "final_fact", "o_totalprice")
        val finalAudit = stepAgg(MultiTxn.read(s, root, "audit"),
          "final_audit", "sum_price")
        val swept = crashFact.sparkSession.range(1).select(
          lit("swept_orphans").as("step"), lit(sweptN).as("n"),
          lit(null).cast("double").as("sum_price"))
        crashFact.unionByName(crashAudit).unionByName(finalFact)
          .unionByName(finalAudit).unionByName(swept)
          .orderBy("step")
      },
      Some(s"""WITH b1 AS (SELECT o_totalprice FROM orders
                           WHERE o_orderkey % 2 = 1)
               SELECT 'crash_audit' AS step, CAST(1 AS BIGINT) AS n,
                      ${sqlDsum("o_totalprice")} AS sum_price FROM b1
               UNION ALL
               SELECT 'crash_fact', COUNT(*), ${sqlDsum("o_totalprice")}
               FROM b1
               UNION ALL
               SELECT 'final_audit', CAST(2 AS BIGINT),
                      ${sqlDsum("o_totalprice")} FROM orders
               UNION ALL
               SELECT 'final_fact', COUNT(*), ${sqlDsum("o_totalprice")}
               FROM orders
               UNION ALL
               SELECT 'swept_orphans', CAST(2 AS BIGINT),
                      CAST(NULL AS DOUBLE)
               ORDER BY step"""))
  )


  /** Fresh catalog root for each s48 run (Versioned tables are append-only
    * and the txn protocol must run exactly once per measurement — the t45
    * fresh-dir discipline: run N sweeps run N−1, a shutdown hook sweeps the
    * whole pid-scoped root). */
  private val txnRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  private val txnRoot =
    s"${System.getProperty("java.io.tmpdir")}/graft_mtxn_" +
      s"${ProcessHandle.current().pid()}"

  private def deleteTreeAt(path: String): Unit = {
    val root = new java.io.File(path)
    if (!root.exists()) return
    java.nio.file.Files.walk(root.toPath)
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { p.toFile.delete(); () })
  }

  java.lang.Runtime.getRuntime.addShutdownHook(
    new Thread(() => deleteTreeAt(txnRoot), "graft-mtxn-sweep"))

  private def txnDir(): String = {
    val run = txnRuns.incrementAndGet()
    if (run > 1) deleteTreeAt(s"$txnRoot/${run - 1}")
    s"$txnRoot/$run"
  }
}
