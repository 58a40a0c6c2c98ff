package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.io.Tables
import graft.plans.Mv

/** Materialized-view auto-rewrite family (`mv*`): the query is written
  * against the BASE fact table; [[graft.plans.MvRewrite]] swaps the scan for
  * a registered partial-aggregate MV at optimization time. The DuckDB oracle
  * replays the SAME SQL over the base `lineitem` rows, so a green row proves
  * the rewritten (MV-scanning) plan is bit-identical to the base-table
  * aggregate — the whole point of the rewrite.
  *
  * Reference behavior: the reference pre-aggregates marts
  * (`dbt/clinical_dbt/models/marts/fact_subject_outcomes.sql`,
  * `analytics/queries.py:22,44`) and its dashboards must *know* to query the
  * mart. Here the engine redirects automatically and provably.
  *
  * Each query ASSERTS the rewrite fired (optimized plan scans the MV path and
  * not the base path) before returning — a silently-disabled rule fails the
  * row loudly instead of passing through the base plan.
  *
  * 100 TB shape: the MV has |distinct(l_returnflag, l_linestatus)| rows
  * (single digits) vs the fact's billions; a rewritten dashboard aggregate is
  * a metadata-sized scan. MV build is one map-side-combined shuffle, once per
  * load.
  */
object MvQueries {

  private val mvRoot =
    s"${System.getProperty("java.io.tmpdir")}/graft_mv_${ProcessHandle.current().pid()}"

  // pid-scoped lineitem copies + MVs are multi-hundred-MB at rehearsal
  // scales — sweep the whole root on exit (the t45/s48 tmp discipline)
  java.lang.Runtime.getRuntime.addShutdownHook(
    new Thread(() => {
      val root = new java.io.File(mvRoot)
      if (root.exists()) {
        java.nio.file.Files.walk(root.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { p.toFile.delete(); () })
      }
    }, "graft-mv-sweep"))

  /** Base-table copy + MV, built once per (session, sfDir) — the s17/s18
    * cached-immutable-artifact discipline (warmup and measured reps share one
    * write). The base is a column-projection COPY of lineitem (identical
    * rows, so the DuckDB oracle can replay over `lineitem` itself) written to
    * a private path: registering the rewrite on a private path means no other
    * query on the board can ever be rewritten by accident. */
  private val mvCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (String, String)]()

  private def baseAndMv(s: SparkSession, d: String): (String, String) = {
    val key = (s, d)
    val hit = mvCache.get(key)
    // hit path: create() already registered for THIS session (cache key);
    // only the extension setup is per-call cheap insurance
    if (hit != null) { graft.GraftExtensions.setup(s); return hit }
    mvCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val h = Integer.toHexString(d.hashCode)
    val basePath = s"$mvRoot/mv_base_$h"
    val mvPath = s"$mvRoot/mv_agg_$h"
    if (!new java.io.File(basePath, "_SUCCESS").isFile) {
      Tables.lineitem(s, d)
        .select("l_returnflag", "l_linestatus", "l_quantity",
          "l_extendedprice", "l_suppkey")
        .write.mode("overwrite").parquet(basePath)
    }
    register(s, basePath, mvPath)
    mvCache.put(key, (basePath, mvPath))
    (basePath, mvPath)
  }

  private def register(s: SparkSession, basePath: String, mvPath: String): Unit = {
    graft.GraftExtensions.setup(s)
    Mv.create(s, basePath, mvPath,
      groupCols = Seq("l_returnflag", "l_linestatus"),
      measures = Seq(
        ("sum", "l_quantity", Some(DecimalType(18, 2))),
        ("min", "l_extendedprice", None),
        ("max", "l_extendedprice", None),
        ("count", "l_suppkey", None),
        // mv4's AVG folds: SUM+COUNT over the SAME (column, cast) pair —
        // a decimal pair for avg(CAST(q AS DEC)) and a bare pair for
        // avg(q) (a cast can null on overflow, so the count must see
        // exactly what the sum sees)
        ("count", "l_quantity", Some(DecimalType(18, 2))),
        ("sum", "l_quantity", None),
        ("count", "l_quantity", None)))
  }

  /** mv3's incrementally-maintained MV: base starts at 3/4 of lineitem,
    * the remaining quarter is APPENDED, and the MV is refreshed by folding
    * only the delta's partials ([[Mv.refresh]] — never rescanning the base).
    * Built once per (session, sfDir); the whole build-append-refresh
    * protocol must run exactly once (a second append would duplicate rows),
    * which the cache guarantees within a process and the pid-scoped root
    * guarantees across processes. */
  private val incrCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (String, String)]()

  private def incrementalBaseAndMv(s: SparkSession, d: String): (String, String) = {
    val key = (s, d)
    val hit = incrCache.get(key)
    if (hit != null) { graft.GraftExtensions.setup(s); return hit }
    incrCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val h = Integer.toHexString(d.hashCode)
    val basePath = s"$mvRoot/mv3_base_$h"
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice")
    li.where(col("l_orderkey") % 4 =!= 0)
      .write.mode("overwrite").parquet(basePath)
    graft.GraftExtensions.setup(s)
    val v1 = Mv.create(s, basePath, s"$mvRoot/mv3_agg_${h}_v1",
      groupCols = Seq("l_returnflag", "l_linestatus"),
      measures = Seq(
        ("sum", "l_quantity", Some(DecimalType(18, 2))),
        ("max", "l_extendedprice", None),
        ("count", "l_extendedprice", None)))
    val delta = li.where(col("l_orderkey") % 4 === 0)
    delta.write.mode("append").parquet(basePath)
    val v2 = Mv.refresh(s, v1, delta, s"$mvRoot/mv3_agg_${h}_v2")
    incrCache.put(key, (basePath, v2.mvPath))
    (basePath, v2.mvPath)
  }

  /** Loud gate: the optimized plan must scan the MV and must NOT scan the
    * base — the rewrite either fired or the query row fails. */
  private def assertScansMv(df: DataFrame, mvPath: String, basePath: String): DataFrame = {
    val paths = Mv.scanPaths(df)
    require(paths.contains(Mv.canonical(mvPath)),
      s"MV rewrite did not fire — scans: ${paths.mkString(", ")}")
    require(!paths.contains(Mv.canonical(basePath)),
      s"MV rewrite left a base scan — scans: ${paths.mkString(", ")}")
    df
  }

  def all: Seq[Q] = Seq(

    // MV1: same-grain aggregate over the base table — COUNT(*), exact
    // decimal SUM, MIN/MAX, COUNT(col) all fold from the MV partials.
    Q("mv1_rewrite_agg",
      (s, d) => {
        val (basePath, mvPath) = baseAndMv(s, d)
        val df = s.read.parquet(basePath)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            count(lit(1)).as("cnt"),
            Q.dsum(col("l_quantity")).as("sum_qty"),
            min("l_extendedprice").as("min_price"),
            max("l_extendedprice").as("max_price"),
            count(col("l_suppkey")).as("cnt_supp"))
          .orderBy("l_returnflag", "l_linestatus")
        assertScansMv(df, mvPath, basePath)
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               MIN(l_extendedprice) AS min_price,
               MAX(l_extendedprice) AS max_price,
               COUNT(l_suppkey) AS cnt_supp
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // MV2: COARSER grain + filter — the query groups by a SUBSET of the MV's
    // grouping columns and filters on an MV grouping column that is not in
    // its own GROUP BY; the rule pushes the filter onto the MV and
    // re-aggregates the partials (roll-up).
    Q("mv2_rewrite_rollup_filter",
      (s, d) => {
        val (basePath, mvPath) = baseAndMv(s, d)
        val df = s.read.parquet(basePath)
          .where(col("l_linestatus") === "F")
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("cnt"),
            Q.dsum(col("l_quantity")).as("sum_qty"),
            max("l_extendedprice").as("max_price"))
          .orderBy("l_returnflag")
        assertScansMv(df, mvPath, basePath)
      },
      Some("""
        SELECT l_returnflag,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               MAX(l_extendedprice) AS max_price
        FROM lineitem
        WHERE l_linestatus = 'F'
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // MV3: INCREMENTAL maintenance — the base is appended to after the MV
    // is built, the MV is refreshed by folding only the delta's partials
    // (Mv.refresh, O(|delta| + |groups|)), and the query is answered from
    // the REFRESHED MV. The oracle aggregates the full lineitem (base ∪
    // delta reconstructs it exactly), so any fold error — a lost group, a
    // double-counted partial, a drifted decimal — flips the row.
    Q("mv3_incremental_refresh",
      (s, d) => {
        val (basePath, mvPath) = incrementalBaseAndMv(s, d)
        val df = s.read.parquet(basePath)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            count(lit(1)).as("cnt"),
            Q.dsum(col("l_quantity")).as("sum_qty"),
            max("l_extendedprice").as("max_price"),
            count(col("l_extendedprice")).as("cnt_price"))
          .orderBy("l_returnflag", "l_linestatus")
        assertScansMv(df, mvPath, basePath)
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               MAX(l_extendedprice) AS max_price,
               COUNT(l_extendedprice) AS cnt_price
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // MV4: AVG folds from the partials — SUM-partial / COUNT-partial
    // (MvRewrite replicates Average.evaluateExpression's exact division
    // tree, so the fold is bit-identical to the base plan — spec-pinned
    // on rounding-boundary fixtures). The oracle replays Spark's DECIMAL
    // avg EXACTLY in integer arithmetic: l_quantity is integral, so the
    // exact sum S and count n give avg = round6(round12(S/n)) — the
    // double rounding through Spark's division type Decimal(38,12) then
    // its result type Decimal(22,6), both HALF_UP, replayed as HUGEINT
    // floor((2a+b)/2b) steps. The plain-double AVG leg is exact because
    // integral doubles sum exactly in any order and IEEE division is
    // correctly rounded — identical in both engines.
    Q("mv4_rewrite_avg",
      (s, d) => {
        val (basePath, mvPath) = baseAndMv(s, d)
        val df = s.read.parquet(basePath)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            avg(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
              .as("avg_qty"),
            avg(col("l_quantity")).as("avg_dbl"),
            count(lit(1)).as("cnt"))
          .orderBy("l_returnflag", "l_linestatus")
        assertScansMv(df, mvPath, basePath)
      },
      Some("""
        WITH g AS (
          SELECT l_returnflag, l_linestatus,
                 CAST(SUM(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS s,
                 CAST(COUNT(l_quantity) AS HUGEINT) AS n,
                 AVG(l_quantity) AS avg_dbl,
                 COUNT(*) AS cnt
          FROM lineitem
          GROUP BY l_returnflag, l_linestatus)
        SELECT l_returnflag, l_linestatus,
               CAST(((2 * ((2 * s * 1000000000000 + n) // (2 * n))
                      + 1000000) // 2000000) AS DOUBLE) / 1000000.0
                 AS avg_qty,
               avg_dbl, cnt
        FROM g
        ORDER BY l_returnflag, l_linestatus""")),

    // MV5: the MV rewrite over the LAKEHOUSE — the two flagship features
    // composed (round 16): the base is a VERSIONED table read through
    // the DSv2 connector, the MV is registered WITH the snapshot version
    // it was built from, and the rewrite fires ONLY on scans pinned to
    // exactly that version (connector scans pin at builder construction
    // — race-free). The gated protocol walks the lifecycle: (a) query at
    // the built version answers from the MV; (b) after an APPEND the
    // same query is STALE-DECLINED and answers from the base plan — the
    // new rows are served, never a wrong acceleration; (c) after
    // Mv.refreshVersioned folds ONLY the appended file groups (the
    // version log IS the delta — connectorStreamStep refuses anything
    // the fold could not replay exactly) the rewrite fires again over
    // the full content. `mv_used` pins the per-leg plan shape.
    Q("mv5_rewrite_catalog_table",
      (s, d) => {
        val (dir, legAB, mv2Path) = versionedMvOrders(s, d)
        def conn() = s.read.format("graft-versioned").option("path", dir)
          .load()
        val c = conn().groupBy("o_orderstatus")
          .agg(count(lit(1)).as("cnt"),
            Q.dsum(col("o_totalprice")).as("total"))
        val cUsed = Mv.scanPaths(c).contains(Mv.canonical(mv2Path)) &&
          !Mv.scanPaths(c).contains(Mv.canonical(dir))
        legAB.unionAll(
          c.select(lit("c_refreshed_mv").as("leg"), col("o_orderstatus"),
            col("cnt"), col("total"), lit(cUsed).as("mv_used")))
          .orderBy("leg", "o_orderstatus")
      },
      Some(s"""WITH o AS (SELECT o_orderstatus, o_totalprice,
                                 CAST(o_orderkey AS BIGINT) AS k
                          FROM orders)
               SELECT 'a_built_version_mv' AS leg, o_orderstatus,
                      COUNT(*) AS cnt, ${Q.sqlDsum("o_totalprice")} AS total,
                      TRUE AS mv_used
               FROM o WHERE k % 2 = 0 GROUP BY o_orderstatus
               UNION ALL
               SELECT 'b_stale_declined', o_orderstatus, COUNT(*),
                      ${Q.sqlDsum("o_totalprice")}, TRUE
               FROM o GROUP BY o_orderstatus
               UNION ALL
               SELECT 'c_refreshed_mv', o_orderstatus, COUNT(*),
                      ${Q.sqlDsum("o_totalprice")}, TRUE
               FROM o GROUP BY o_orderstatus
               ORDER BY leg, o_orderstatus""")),

    // MV6: DISTINCT-preserving MV (round 17) — the MV grain is
    // groupCols ++ distinctCols (o_orderstatus × o_custkey), so EXACT
    // COUNT(DISTINCT o_custkey) folds to a distinct count over the
    // |status × customers|-row MV instead of shuffling the fact, with
    // mv5's version-pinned staleness discipline on a lakehouse base.
    // Two legs assert the rewrite fired in-plan: per-status, and the
    // GLOBAL rollup (grouping by a subset of the MV's group keys keeps
    // the distinct exact — COUNT DISTINCT is duplicate-insensitive).
    // SUM(DISTINCT x) folds by the same replay (the grain holds the
    // exact post-dedup value set), and scalar folds (COUNT(*), exact
    // decimal SUM) ride the same finer-grain MV unchanged. Decline
    // shapes — distinct over an unregistered column, non-column
    // children, a stale pinned version — are pinned in MvRewriteSpec.
    Q("mv6_rewrite_count_distinct",
      (s, d) => {
        val (dir, mvPath) = distinctMvOrders(s, d)
        def conn() = s.read.format("graft-versioned").option("path", dir)
          .load()
        val per = conn().groupBy("o_orderstatus")
          .agg(countDistinct(col("o_custkey")).as("cust_uniq"),
            sum_distinct(col("o_custkey")).as("cust_sum"),
            count(lit(1)).as("cnt"),
            Q.dsum(col("o_totalprice")).as("total"))
        val global = conn()
          .agg(countDistinct(col("o_custkey")).as("cust_uniq"),
            sum_distinct(col("o_custkey")).as("cust_sum"),
            count(lit(1)).as("cnt"),
            Q.dsum(col("o_totalprice")).as("total"))
          .select(lit("_all").as("o_orderstatus"), col("cust_uniq"),
            col("cust_sum"), col("cnt"), col("total"))
        assertScansMv(per, mvPath, dir)
        assertScansMv(global, mvPath, dir)
        per.unionByName(global).orderBy("o_orderstatus")
      },
      Some(s"""
        SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS cust_uniq,
               CAST(SUM(DISTINCT o_custkey) AS BIGINT) AS cust_sum,
               COUNT(*) AS cnt, ${Q.sqlDsum("o_totalprice")} AS total
        FROM orders GROUP BY o_orderstatus
        UNION ALL
        SELECT '_all', COUNT(DISTINCT o_custkey),
               CAST(SUM(DISTINCT o_custkey) AS BIGINT), COUNT(*),
               ${Q.sqlDsum("o_totalprice")}
        FROM orders
        ORDER BY o_orderstatus"""))
  )

  /** mv5's versioned base + its two MV generations. Protocol runs once
    * per (session, sfDir): commit even keys (v1) → build+register MV@v1
    * → capture leg a (fires) → commit odd keys (v2) → capture leg b
    * (stale-declined, base plan serves the full table) → refreshVersioned
    * (folds only the v2 group) → caller captures leg c against the
    * refreshed registration. Legs a/b are captured AT PROTOCOL TIME
    * (they depend on registry state that later steps change) and
    * localCheckpointed so re-evaluation in the gated union is stable. */
  private val vmvCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (String, DataFrame, String)]()

  private def versionedMvOrders(s: SparkSession, d: String)
      : (String, DataFrame, String) = {
    val key = (s, d)
    val hit = vmvCache.get(key)
    if (hit != null) { graft.GraftExtensions.setup(s); return hit }
    vmvCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val h = Integer.toHexString(d.hashCode)
    val dir = s"$mvRoot/mv5_table_$h"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d).select(
      col("o_orderstatus").cast("string").as("o_orderstatus"),
      col("o_totalprice").cast("double").as("o_totalprice"),
      col("o_orderkey").cast("long").as("o_orderkey"))
    graft.ops.Versioned.commit(o.filter(col("o_orderkey") % 2 === 0), dir)
    graft.GraftExtensions.setup(s)
    val e1 = Mv.createVersioned(s, dir, s"$mvRoot/mv5_agg_${h}_v1",
      groupCols = Seq("o_orderstatus"),
      measures = Seq(("sum", "o_totalprice",
        Some(org.apache.spark.sql.types.DecimalType(18, 2)))))
    def q() = s.read.format("graft-versioned").option("path", dir).load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), Q.dsum(col("o_totalprice")).as("total"))
    val a = q()
    val aUsed = Mv.scanPaths(a).contains(Mv.canonical(e1.mvPath)) &&
      !Mv.scanPaths(a).contains(Mv.canonical(dir))
    val legA = a.select(lit("a_built_version_mv").as("leg"),
      col("o_orderstatus"), col("cnt"), col("total"),
      lit(aUsed).as("mv_used")).localCheckpoint()
    graft.ops.Versioned.commit(o.filter(col("o_orderkey") % 2 =!= 0), dir)
    val b = q()
    val bDeclined = !Mv.scanPaths(b).contains(Mv.canonical(e1.mvPath))
    val legB = b.select(lit("b_stale_declined").as("leg"),
      col("o_orderstatus"), col("cnt"), col("total"),
      lit(bDeclined).as("mv_used")).localCheckpoint()
    val mv2Path = s"$mvRoot/mv5_agg_${h}_v2"
    Mv.refreshVersioned(s, e1, mv2Path)
    val out = (dir, legA.unionAll(legB), mv2Path)
    val prev = vmvCache.putIfAbsent(key, out)
    if (prev != null) prev else out
  }

  /** mv6's versioned base + its DISTINCT-preserving MV (grain
    * o_orderstatus × o_custkey), built once per (session, sfDir). */
  private val dmvCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (String, String)]()

  private def distinctMvOrders(s: SparkSession, d: String): (String, String) = {
    val key = (s, d)
    val hit = dmvCache.get(key)
    if (hit != null) { graft.GraftExtensions.setup(s); return hit }
    dmvCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val h = Integer.toHexString(d.hashCode)
    val dir = s"$mvRoot/mv6_table_$h"
    val mvPath = s"$mvRoot/mv6_agg_$h"
    if (graft.ops.Versioned.latestVersion(dir) == 0) {
      val o = Tables.orders(s, d).select(
        col("o_orderstatus").cast("string").as("o_orderstatus"),
        col("o_custkey").cast("long").as("o_custkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
      graft.ops.Versioned.commit(o, dir)
    }
    graft.GraftExtensions.setup(s)
    Mv.createVersioned(s, dir, mvPath,
      groupCols = Seq("o_orderstatus"),
      measures = Seq(("sum", "o_totalprice", Some(DecimalType(18, 2)))),
      distinctCols = Seq("o_custkey"))
    val out = (dir, mvPath)
    val prev = dmvCache.putIfAbsent(key, out)
    if (prev != null) prev else out
  }
}
