package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.io.Tables
import Q.{dsum, sqlDsum}

/** The EXTERNAL SURFACE tier of the lakehouse: the DataSourceV2
  * connector (s49 read + pushdown + time travel, s50 write +
  * metadata-only MIN/MAX/COUNT aggregates) and the SQL TableCatalog
  * (s51 pure-SQL DDL/DML, s52 row-level MERGE INTO / UPDATE as
  * group-based copy-on-write, s53 metadata-only ALTER TABLE). Split
  * from SinkSqlQueries (r13 hygiene).
  */

object ConnectorQueries {

  /** Per-PROCESS sink root — see [[SinkSqlQueries.sinkRoot]]'s rationale
    * (concurrent Verify/Bench isolation; stable within the process). */
  private val sinkRoot: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_sink_${ProcessHandle.current().pid()}"

  private def tmp(name: String): String = s"$sinkRoot/$name"

  /** s50's connector-written table: two year-split appends through
    * df.write.format("graft-versioned") (executors stage parquet
    * files, commit publishes the manifest) with od stats. Built once
    * per (session, sfDir) — the s17/s18 immutable-derived-data
    * discipline. */
  private val dsv2WriteCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), String]()

  private def dsv2WrittenOrders(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val key = (s, d)
    val hit = dsv2WriteCache.get(key)
    if (hit != null) return hit
    dsv2WriteCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s50_dsv2_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d).select(
      col("o_orderkey").cast("long").as("o_orderkey"),
      col("o_totalprice").cast("double").as("o_totalprice"),
      datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("od"))
    val yr = year(date_add(lit("1970-01-01").cast("date"),
      col("od").cast("int")))
    // testdata orders span 1995..2001 — split at the midpoint so both
    // connector-written groups are materially sized
    Seq(yr <= 1997, yr >= 1998).foreach(cond =>
      o.filter(cond).write.format("graft-versioned").option("path", dir)
        .option("statsCol", "od").mode("append").save())
    require(graft.ops.Versioned.latestVersion(dir) == 2,
      s"connector write did not land two versions at $dir")
    dsv2WriteCache.put(key, dir)
    dir
  }

  /** s51's SQL-catalog table: a per-sfDir VersionedCatalog (catalog
    * name + warehouse keyed on the sfDir hash — catalog confs are
    * session-global) populated via CTAS (even keys, v1) + INSERT INTO
    * (odd keys, v2). Returns the fully-qualified table name. Built once
    * per (session, sfDir). */
  private val catalogCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), String]()

  private def catalogOrders(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val key = (s, d)
    val hit = catalogCache.get(key)
    if (hit != null) return hit
    catalogCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val suffix = Integer.toHexString(d.hashCode)
    val cat = s"graftlake_$suffix"
    val wh = tmp(s"s51_wh_$suffix")
    val p = new org.apache.hadoop.fs.Path(wh)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.VersionedCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val view = s"s51_src_$suffix"
    Tables.orders(s, d).select(
      col("o_orderkey").cast("long").as("o_orderkey"),
      col("o_totalprice").cast("double").as("o_totalprice"))
      .createOrReplaceTempView(view)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.lake")
    s.sql(s"""CREATE TABLE $cat.lake.orders_v AS
              SELECT * FROM $view WHERE o_orderkey % 2 = 0""")
    s.sql(s"""INSERT INTO $cat.lake.orders_v
              SELECT * FROM $view WHERE o_orderkey % 2 != 0""")
    s.sql(s"DELETE FROM $cat.lake.orders_v WHERE o_orderkey <= 100")
    require(graft.ops.Versioned.latestVersion(s"$wh/lake/orders_v") == 3,
      s"SQL catalog DML did not land three versions under $wh")
    val name = s"$cat.lake.orders_v"
    catalogCache.put(key, name)
    name
  }

  val all: Seq[Q] = Seq(


    // S49: the versioned table behind a STANDARD Spark API — the
    // DataSourceV2 connector (graft.sources.VersionedSource, registered
    // as format "graft-versioned"): spark.read.format(...).load() plans
    // from the manifest, pushes the 1996 range filter onto the
    // manifest's od stats (whole groups pruned before any file opens),
    // compiles it to parquet row-group predicates executor-side, and
    // decodes each file with Spark's vectorized parquet reader.
    // `pruned` pins the planning mechanism in the gated row (the
    // filtered scan planned strictly fewer input partitions than the
    // full-table scan); the second leg time-travels to v1 via the
    // versionAsOf option. The oracle replays both legs from source, so
    // the whole connector read path (planning, projection, parquet
    // decode, version isolation) sits under the hash.
    Q("s49_dsv2_versioned_read",
      (s, d) => {
        val dir = LakehouseQueries.versionedByYear(s, d)
        val (lo, hi) = (java.time.LocalDate.of(1996, 1, 1).toEpochDay,
          java.time.LocalDate.of(1996, 12, 31).toEpochDay)
        def conn(v: Int) = {
          val r = s.read.format("graft-versioned").option("path", dir)
          (if (v > 0) r.option("versionAsOf", v.toString) else r).load()
        }
        def partsOf(df: org.apache.spark.sql.DataFrame): Int =
          df.queryExecution.executedPlan.collectFirst {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              b.inputRDD.getNumPartitions
          }.getOrElse(-1)
        val filtered = conn(0).filter(col("od") >= lo && col("od") <= hi)
        val nf = partsOf(filtered)
        val pruned = nf > 0 && nf < partsOf(conn(0))
        val leg1996 = filtered
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .select(lit("1996_latest").as("leg"), col("n"), col("total"),
            lit(pruned).as("pruned"))
        val legV1 = conn(1)
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .select(lit("v1_time_travel").as("leg"), col("n"), col("total"),
            lit(pruned).as("pruned"))
        leg1996.unionAll(legV1).orderBy("leg")
      },
      Some(s"""SELECT '1996_latest' AS leg, COUNT(*) AS n,
                      ${sqlDsum("o_totalprice")} AS total, TRUE AS pruned
               FROM orders
               WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
                 AND CAST(o_orderdate AS DATE) <= DATE '1996-12-31'
               UNION ALL
               SELECT 'v1_time_travel', COUNT(*),
                      ${sqlDsum("o_totalprice")}, TRUE
               FROM orders
               WHERE year(CAST(o_orderdate AS DATE)) <= 1993
               ORDER BY leg""")),


    // S50: the connector WRITE path + metadata-only aggregates. The
    // table is built ENTIRELY through df.write.format("graft-versioned")
    // — two appends whose executors stage parquet via Spark's writer and
    // whose commit publishes a Versioned manifest (atomic staged-group
    // rename; Versioned.commitStagedGroup). The gated row reads it back
    // through the connector: full-table count + exact decimal total
    // (write→read round-trip under the hash), plus global MIN/MAX of
    // the stats column answered FROM THE MANIFEST — `meta_only` pins
    // that the aggregate scan planned exactly one metadata partition
    // with aggPushed in its description (zero data files opened — the
    // Iceberg/Delta answer-from-stats path). Oracle replays everything
    // from the source table.
    Q("s50_dsv2_write_read",
      (s, d) => {
        val dir = dsv2WrittenOrders(s, d)
        def conn = s.read.format("graft-versioned").option("path", dir).load()
        def isMetaOnly(df: org.apache.spark.sql.DataFrame): Boolean =
          df.queryExecution.sparkPlan.collectFirst {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              b.scan.description().contains("aggPushed") &&
                b.inputRDD.getNumPartitions == 1
          }.getOrElse(false)
        // MIN/MAX answered from the manifest's per-group stats, COUNT(*)
        // from its per-group exact row counts — one metadata partition,
        // zero data files opened, for all three legs together
        val aggDf = conn.agg(min("od").as("od_lo"), max("od").as("od_hi"),
          count(lit(1)).as("n_meta"))
        val metaOnly = isMetaOnly(aggDf)
        // `n` comes from a REAL scan (the decimal sum declines pushdown),
        // so the manifest count and the data itself sit under one hash
        conn.agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .crossJoin(aggDf)
          .withColumn("meta_only", lit(metaOnly))
      },
      Some(s"""SELECT COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total,
                      CAST(MIN(datediff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE))) AS BIGINT) AS od_lo,
                      CAST(MAX(datediff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE))) AS BIGINT) AS od_hi,
                      COUNT(*) AS n_meta,
                      TRUE AS meta_only
               FROM orders""")),


    // S51: the lakehouse through PURE SQL — the TableCatalog plugin
    // (sources.VersionedCatalog) maps catalog identifiers onto Versioned
    // dirs, so CTAS, INSERT INTO (append commit), DELETE FROM (survivor
    // group-narrowed row-level COW since r13), SELECT, and VERSION AS OF
    // time travel all run as SQL statements with no DataFrame calls in
    // the user's hands (Delta's catalog-integration surface). The gated
    // rows read the post-DELETE head, the pre-DELETE v2, and the CTAS v1
    // through SQL; the oracle replays all three from source — catalog
    // resolution, the connector write path under INSERT, SQL DELETE
    // semantics, and SQL time travel all sit under one hash.
    Q("s51_sql_catalog_dml",
      (s, d) => {
        val t = catalogOrders(s, d)
        def leg(name: String, from: String) =
          s"""SELECT '$name' AS leg, COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS total
              FROM $from"""
        s.sql(s"""${leg("a_post_delete", t)}
                  UNION ALL ${leg("b_pre_delete", s"$t VERSION AS OF 2")}
                  UNION ALL ${leg("c_ctas_half", s"$t VERSION AS OF 1")}
                  ORDER BY leg""")
      },
      Some(s"""SELECT 'a_post_delete' AS leg, COUNT(*) AS n,
                      ${sqlDsum("o_totalprice")} AS total
               FROM orders WHERE o_orderkey > 100
               UNION ALL
               SELECT 'b_pre_delete', COUNT(*), ${sqlDsum("o_totalprice")}
               FROM orders
               UNION ALL
               SELECT 'c_ctas_half', COUNT(*), ${sqlDsum("o_totalprice")}
               FROM orders WHERE o_orderkey % 2 = 0
               ORDER BY leg""")),

    // S52: ROW-LEVEL SQL DML — UPDATE and MERGE INTO as pure SQL over
    // the catalog (SupportsRowLevelOperations, group-based copy-on-write:
    // Spark's rewrite rules + runtime group filtering narrow the rewrite
    // to the file groups that actually hold matches, and the commit
    // carries every untouched group BY NAME — sources/VersionedRowLevel).
    // The table is three disjoint year-range INSERTs (manifest od-stats);
    // the UPDATE's window lives entirely in group c2, the MERGE's matched
    // keys entirely in c3 (plus brand-new inserted keys). `upd_cow` and
    // `mrg_cow` pin the NARROWING itself: they are true only if the
    // post-DML manifests carried the untouched groups verbatim
    // ([c1,c3,c4] then [c1,c4,c5]) — a full rewrite hash-fails the row.
    // Values (count / exact decimal total / key sum) replay in DuckDB by
    // applying the same two DML effects to the source table.
    Q("s52_sql_merge_update",
      (s, d) => {
        val (t, updCow, mrgCow) = rowLevelDml(s, d)
        s.sql(s"SELECT * FROM $t")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
            sum(col("o_orderkey")).cast("long").as("key_sum"))
          .withColumn("upd_cow", lit(updCow))
          .withColumn("mrg_cow", lit(mrgCow))
      },
      Some(s"""WITH base AS (
                 SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS p,
                        datediff('day', DATE '1970-01-01',
                          CAST(o_orderdate AS DATE)) AS od,
                        year(CAST(o_orderdate AS DATE)) AS yr
                 FROM orders),
               final AS (
                 SELECT o_orderkey,
                        CASE WHEN yr >= 1999 THEN -1.0
                             WHEN od BETWEEN ${S52.updLo} AND ${S52.updHi}
                               THEN 0.5
                             ELSE p END AS p
                 FROM base
                 UNION ALL
                 SELECT -o_orderkey, 999.0 FROM base
                 WHERE o_orderkey BETWEEN 1 AND 100)
               SELECT COUNT(*) AS n,
                      ${sqlDsum("p")} AS total,
                      CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
                      TRUE AS upd_cow, TRUE AS mrg_cow
               FROM final"""))
    ,

    // S53: SQL ALTER TABLE — ADD COLUMN ... DEFAULT / RENAME COLUMN /
    // DROP COLUMN as O(1) METADATA-ONLY commits through the catalog
    // (VersionedCatalog.alterTable → Versioned.{addColumn,renameColumn,
    // dropColumn}Commit), with the table STAYING readable through the
    // connector: the scan serves the evolution per file (default fill
    // for pre-ALTER groups, logical↔physical name mapping, dropped
    // columns projected out) — zero data rewritten, which at 100 TB is
    // the difference between an O(1) DDL and a full-table rewrite.
    // `meta_only` is TRUE per leg only if the ALTER minted NO data group
    // (manifest group list unchanged) AND the evolution semantics held
    // (default served to pre-ALTER rows only / reads+pruning follow the
    // new name / dropped column gone at head, present under time
    // travel). Values replay from source.
    Q("s53_sql_alter_table",
      (s, d) => {
        val legs = alteredTables(s, d)
        legs.orderBy("leg")
      },
      Some(s"""SELECT 'a_default_fill' AS leg, COUNT(*) AS n,
                      ${sqlDsum("o_totalprice")} AS total, TRUE AS meta_only
               FROM orders WHERE year(CAST(o_orderdate AS DATE)) <= 1997
               UNION ALL
               SELECT 'b_renamed_read', COUNT(*), ${sqlDsum("o_totalprice")},
                      TRUE
               FROM orders
               UNION ALL
               SELECT 'c_dropped_read', COUNT(*), ${sqlDsum("o_totalprice")},
                      TRUE
               FROM orders
               UNION ALL
               SELECT 'd_rename_append', COUNT(*),
                      ${sqlDsum("o_totalprice")}, TRUE
               FROM orders
               ORDER BY leg""")),

    // S54: MERGE-ON-READ deletes served THROUGH the connector as
    // PER-GROUP DELETION VECTORS (the Iceberg/Delta DV sidecar read
    // shape, round 16): deleteCommitMor routes each delete key to the
    // file group(s) whose manifest stats could hold it and lays the
    // delete group out __tg=<group>-partitioned; each file reader
    // then loads ONLY its own group's vector, executor-side — nothing
    // is collected on the driver and there is NO mask size cap, so the
    // big-delete regime (leg b masks ~a quarter of the table) is SERVED
    // instead of refused. `mor_served` pins the mechanism: morMaskOn=
    // in-plan, aggregate pushdown declined under the pending mask,
    // per-group routing on disk (each delete commit's vector targets
    // exactly its one touched group), and connector == ops-layer read.
    // The time-travel leg reads the pre-delete snapshot mask-free.
    // Values replay from source; the big-delete cut is the
    // data-independent expression max/2 + max/4 in exact BIGINT.
    Q("s54_mor_connector_read",
      (s, d) => {
        val (dir, vSmall, morServed) = morMaskedOrders(s, d)
        def conn(v: Int) = {
          val r = s.read.format("graft-versioned").option("path", dir)
          (if (v > 0) r.option("versionAsOf", v.toString) else r).load()
        }
        def leg(name: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
            .select(lit(name).as("leg"), col("n"), col("total"),
              lit(morServed).as("mor_served"))
        leg("a_small_masked", conn(vSmall))
          .unionAll(leg("b_big_masked_head", conn(0)))
          .unionAll(leg("c_pre_delete_travel", conn(2)))
          .orderBy("leg")
      },
      Some(s"""SELECT 'a_small_masked' AS leg, COUNT(*) AS n,
                      ${sqlDsum("o_totalprice")} AS total, TRUE AS mor_served
               FROM orders WHERE o_orderkey > 100
               UNION ALL
               SELECT 'b_big_masked_head', COUNT(*),
                      ${sqlDsum("o_totalprice")}, TRUE
               FROM orders WHERE o_orderkey > 100 AND o_orderkey <=
                 (SELECT MAX(o_orderkey) // 2 + MAX(o_orderkey) // 4
                  FROM orders)
               UNION ALL
               SELECT 'c_pre_delete_travel', COUNT(*),
                      ${sqlDsum("o_totalprice")}, TRUE
               FROM orders
               ORDER BY leg""")),

    // S55: SQL TRUNCATE TABLE as a first-class O(1) TOMBSTONE verb
    // (round 16 — previously full-table DELETE was a mid-plan refusal):
    // the commit publishes an EMPTY snapshot recording the logical
    // schema as DDL; no data file is touched (VACUUM reclaims later), so
    // every pre-truncate version still time-travels, the tombstone
    // itself serves a TYPED empty frame through the connector, and an
    // INSERT after the truncate is an ordinary first-group commit.
    // `meta_only` pins the mechanism: exactly one metadata version for
    // the truncate, zero groups in its manifest, the pre-truncate data
    // files still on disk, and the step marked overwrite (the streaming
    // source must refuse consuming it).
    Q("s55_truncate_tombstone",
      (s, d) => {
        val (t, metaOk) = truncatedOrders(s, d)
        def conn(v: Int) = {
          val sel = if (v > 0) s"SELECT * FROM $t VERSION AS OF $v"
                    else s"SELECT * FROM $t"
          s.sql(sel)
        }
        def leg(name: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n"),
              coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total"))
            .select(lit(name).as("leg"), col("n"), col("total"),
              lit(metaOk).as("meta_only"))
        leg("a_post_truncate_insert", conn(0))
          .unionAll(leg("b_tombstone", conn(3)))
          .unionAll(leg("c_pre_truncate_travel", conn(2)))
          .orderBy("leg")
      },
      Some(s"""SELECT 'a_post_truncate_insert' AS leg, COUNT(*) AS n,
                      ${sqlDsum("o_totalprice")} AS total, TRUE AS meta_only
               FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1999
               UNION ALL
               SELECT 'b_tombstone', 0, 0.0, TRUE
               UNION ALL
               SELECT 'c_pre_truncate_travel', COUNT(*),
                      ${sqlDsum("o_totalprice")}, TRUE
               FROM orders
               ORDER BY leg"""))
  )

  /** s55's truncated table: INSERT ≤1997 (v1) + INSERT ≥1998 (v2) +
    * TRUNCATE TABLE (v3, tombstone) + INSERT the 1999 slice (v4). The
    * meta pin rides [[truncMetaOk]]. Built once per (session, sfDir). */
  private val truncCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), (String, Boolean)]()

  private def truncatedOrders(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Boolean) = {
    val key = (s, d)
    val hit = truncCache.get(key)
    if (hit != null) return hit
    truncCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val suffix = Integer.toHexString(d.hashCode)
    val cat = s"grafttr_$suffix"
    val wh = tmp(s"s55_wh_$suffix")
    val p = new org.apache.hadoop.fs.Path(wh)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.VersionedCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val view = s"s55_src_$suffix"
    Tables.orders(s, d).select(
      col("o_orderkey").cast("long").as("o_orderkey"),
      col("o_totalprice").cast("double").as("o_totalprice"),
      year(col("o_orderdate").cast("date")).cast("long").as("yr"))
      .createOrReplaceTempView(view)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.lake")
    val t = s"$cat.lake.orders_tr"
    s.sql(s"CREATE TABLE $t (o_orderkey BIGINT, o_totalprice DOUBLE, yr BIGINT)")
    s.sql(s"INSERT INTO $t SELECT * FROM $view WHERE yr <= 1997")
    s.sql(s"INSERT INTO $t SELECT * FROM $view WHERE yr >= 1998")
    s.sql(s"TRUNCATE TABLE $t")
    s.sql(s"INSERT INTO $t SELECT * FROM $view WHERE yr = 1999")
    val dir = s"$wh/lake/orders_tr"
    // the pin rides the CACHE VALUE, per (session, sfDir) — a global
    // flag would cross-contaminate multi-sfDir sessions (rehearsals)
    val metaOk =
      graft.ops.Versioned.latestVersion(dir) == 4 &&
        graft.ops.Versioned.groupNames(dir, 3).isEmpty &&
        new java.io.File(s"$dir/data/c1").exists() &&
        !graft.ops.Versioned.stepIsAppend(dir, 3)
    val out = (t, metaOk)
    truncCache.put(key, out)
    out
  }

  /** s54's MOR-masked table: two range-split stats-annotated commits of
    * orders (c1 = keys ≤ max/2, c2 = the rest), a SMALL deleteCommitMor
    * (keys ≤ 100 — lands entirely in c1's range) and a BIG one (keys >
    * max/2 + max/4 — ~a quarter of the table, entirely in c2's range);
    * zero data rewritten throughout. The returned version is the
    * small-delete snapshot; the boolean pins mor_served: morMaskOn= in
    * the head scan's plan, aggregate pushdown declined under the mask,
    * PER-GROUP ROUTING on disk (d3's vector targets exactly __tg=c1,
    * d4's exactly __tg=c2 — proof no global union exists), and the
    * connector's masked count equals the ops-layer read. Built once per
    * (session, sfDir). */
  private val morCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), (String, Int, Boolean)]()

  private def morMaskedOrders(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Int, Boolean) = {
    val key = (s, d)
    val hit = morCache.get(key)
    if (hit != null) return hit
    morCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = tmp(s"s54_mor_${Integer.toHexString(d.hashCode)}")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val o = Tables.orders(s, d).select(
      col("o_orderkey").cast("long").as("o_orderkey"),
      col("o_totalprice").cast("double").as("o_totalprice"))
    val mx = o.agg(max("o_orderkey")).head().getLong(0)
    val pivot = mx / 2           // exact BIGINT, replayed as // in DuckDB
    val bigCut = pivot + mx / 4
    graft.ops.Versioned.commit(o.filter(col("o_orderkey") <= pivot), dir,
      statsCol = Some("o_orderkey"))
    graft.ops.Versioned.commit(o.filter(col("o_orderkey") > pivot), dir,
      statsCol = Some("o_orderkey"))
    graft.ops.Versioned.deleteCommitMor(
      o.filter(col("o_orderkey") <= 100).select("o_orderkey"), dir,
      "o_orderkey")              // v3: small-delete regime, targets c1
    val vSmall = 3
    graft.ops.Versioned.deleteCommitMor(
      o.filter(col("o_orderkey") > bigCut).select("o_orderkey"), dir,
      "o_orderkey")              // v4: BIG-delete regime, targets c2
    def tgs(dg: String): Set[String] =
      Option(new java.io.File(s"$dir/data/$dg").listFiles())
        .map(_.filter(_.isDirectory).map(_.getName).toSet)
        .getOrElse(Set.empty)
    val routed = tgs("d3") == Set("__tg=c1") && tgs("d4") == Set("__tg=c2")
    val head = s.read.format("graft-versioned").option("path", dir).load()
    val desc = head.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description()
    }.getOrElse("")
    val aggDeclined = !head.agg(count(lit(1)))
      .queryExecution.sparkPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.description()
      }.getOrElse("").contains("aggPushed")
    val morServed = desc.contains("morMaskOn=o_orderkey") && aggDeclined &&
      routed && head.count() == graft.ops.Versioned.read(s, dir).count()
    val out = (dir, vSmall, morServed)
    val prev = morCache.putIfAbsent(key, out)
    if (prev != null) prev else out
  }

  /** s53's three ALTERed tables (one per DDL verb — the rename/default/
    * drop states are mutually exclusive on one log by design) + the
    * gated three-leg result frame. Built once per (session, sfDir). */
  private val alterCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), org.apache.spark.sql.DataFrame]()

  private def alteredTables(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val key = (s, d)
    val hit = alterCache.get(key)
    if (hit != null) return hit
    alterCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val suffix = Integer.toHexString(d.hashCode)
    val cat = s"graftalt_$suffix"
    val wh = tmp(s"s53_wh_$suffix")
    val p = new org.apache.hadoop.fs.Path(wh)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.VersionedCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val view = s"s53_src_$suffix"
    Tables.orders(s, d).select(
      col("o_orderkey").cast("long").as("o_orderkey"),
      col("o_totalprice").cast("double").as("o_totalprice"),
      datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("od"),
      year(col("o_orderdate").cast("date")).as("yr"))
      .createOrReplaceTempView(view)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.lake")
    def groups(t: String) = graft.ops.Versioned.groupNames(s"$wh/lake/$t")

    // a) ADD COLUMN ... DEFAULT: pre-ALTER group serves the default,
    //    post-ALTER INSERT carries the column physically
    s.sql(s"""CREATE TABLE $cat.lake.alt_add (o_orderkey BIGINT,
              o_totalprice DOUBLE, od BIGINT)
              TBLPROPERTIES ('statsCol'='od')""")
    s.sql(s"""INSERT INTO $cat.lake.alt_add
              SELECT o_orderkey, o_totalprice, od FROM $view
              WHERE yr <= 1997""")
    s.sql(s"""ALTER TABLE $cat.lake.alt_add
              ADD COLUMN tier STRING DEFAULT 'legacy'""")
    val addMetaOnly = groups("alt_add") == Seq("c1")
    s.sql(s"""INSERT INTO $cat.lake.alt_add
              SELECT o_orderkey, o_totalprice, od, 'modern' FROM $view
              WHERE yr >= 1998""")
    // group names are version-numbered: insert v1 → c1, the ALTER is the
    // (group-less) v2, the post-ALTER insert v3 → c3
    val addOk = addMetaOnly && groups("alt_add") == Seq("c1", "c3")

    // b) RENAME COLUMN: reads, aggregation, and stats pruning follow the
    //    new logical name; files never change
    s.sql(s"""CREATE TABLE $cat.lake.alt_ren (o_orderkey BIGINT,
              o_totalprice DOUBLE, od BIGINT)
              TBLPROPERTIES ('statsCol'='od')""")
    s.sql(s"""INSERT INTO $cat.lake.alt_ren
              SELECT o_orderkey, o_totalprice, od FROM $view""")
    s.sql(s"ALTER TABLE $cat.lake.alt_ren RENAME COLUMN o_totalprice TO price")
    val renOk = groups("alt_ren") == Seq("c1") &&
      s.table(s"$cat.lake.alt_ren").schema.fieldNames.toSeq ==
        Seq("o_orderkey", "price", "od")

    // d) APPEND UNDER A PENDING RENAME (round 16 — the write-side twin
    //    of the evolved read): INSERT after RENAME stages its files in
    //    PHYSICAL names (Versioned.stagedWriteSchema), so the snapshot
    //    stays homogeneous and BOTH cohorts read under the one logical
    //    schema; metadata-only pins intact (the rename consumed v2, the
    //    post-rename insert is group c3, and c3's files carry the
    //    ORIGINAL physical name on disk)
    s.sql(s"""CREATE TABLE $cat.lake.alt_renapp (o_orderkey BIGINT,
              o_totalprice DOUBLE, od BIGINT)
              TBLPROPERTIES ('statsCol'='od')""")
    s.sql(s"""INSERT INTO $cat.lake.alt_renapp
              SELECT o_orderkey, o_totalprice, od FROM $view
              WHERE yr <= 1997""")
    s.sql(
      s"ALTER TABLE $cat.lake.alt_renapp RENAME COLUMN o_totalprice TO price")
    s.sql(s"""INSERT INTO $cat.lake.alt_renapp
              SELECT o_orderkey, o_totalprice, od FROM $view
              WHERE yr >= 1998""")
    val renAppOk = groups("alt_renapp") == Seq("c1", "c3") &&
      s.read.parquet(s"$wh/lake/alt_renapp/data/c3")
        .columns.contains("o_totalprice") &&
      s.table(s"$cat.lake.alt_renapp").schema.fieldNames.toSeq ==
        Seq("o_orderkey", "price", "od")

    // c) DROP COLUMN: gone at head, still readable under time travel
    s.sql(s"""CREATE TABLE $cat.lake.alt_drop (o_orderkey BIGINT,
              o_totalprice DOUBLE, junk STRING)""")
    s.sql(s"""INSERT INTO $cat.lake.alt_drop
              SELECT o_orderkey, o_totalprice, concat('j', o_orderkey)
              FROM $view""")
    s.sql(s"ALTER TABLE $cat.lake.alt_drop DROP COLUMN junk")
    val dropOk = groups("alt_drop") == Seq("c1") &&
      !s.table(s"$cat.lake.alt_drop").schema.fieldNames.contains("junk") &&
      s.sql(s"SELECT * FROM $cat.lake.alt_drop VERSION AS OF 1")
        .schema.fieldNames.contains("junk")

    def dsumSql(c: String) =
      s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"
    val out = s.sql(
      s"""SELECT 'a_default_fill' AS leg, COUNT(*) AS n,
                 ${dsumSql("o_totalprice")} AS total, $addOk AS meta_only
          FROM $cat.lake.alt_add WHERE tier = 'legacy'
          UNION ALL
          SELECT 'b_renamed_read', COUNT(*), ${dsumSql("price")}, $renOk
          FROM $cat.lake.alt_ren
          UNION ALL
          SELECT 'c_dropped_read', COUNT(*), ${dsumSql("o_totalprice")},
                 $dropOk
          FROM $cat.lake.alt_drop
          UNION ALL
          SELECT 'd_rename_append', COUNT(*), ${dsumSql("price")},
                 $renAppOk
          FROM $cat.lake.alt_renapp""")
    val prev = alterCache.putIfAbsent(key, out)
    if (prev != null) prev else out
  }

  /** Epoch-day bounds of s52's UPDATE window — 1997-03-01..1997-06-30,
    * strictly inside the middle (1997–1998) file group. */
  private object S52 {
    val updLo: Long = java.time.LocalDate.of(1997, 3, 1).toEpochDay
    val updHi: Long = java.time.LocalDate.of(1997, 6, 30).toEpochDay
  }

  /** s52's table after the full SQL DML protocol: CREATE (statsCol=od) →
    * three year-range INSERTs (groups c1/c2/c3) → UPDATE (c2's window) →
    * MERGE INTO (c3's keys matched + negated-key inserts). Returns
    * (tableName, updNarrowed, mergeNarrowed). Built once per
    * (session, sfDir). */
  private val dmlCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), (String, Boolean, Boolean)]()

  private def rowLevelDml(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Boolean, Boolean) = {
    val key = (s, d)
    val hit = dmlCache.get(key)
    if (hit != null) return hit
    dmlCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val suffix = Integer.toHexString(d.hashCode)
    val cat = s"graftrl_$suffix"
    val wh = tmp(s"s52_wh_$suffix")
    val p = new org.apache.hadoop.fs.Path(wh)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.VersionedCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val view = s"s52_src_$suffix"
    Tables.orders(s, d).select(
      col("o_orderkey").cast("long").as("o_orderkey"),
      col("o_totalprice").cast("double").as("o_totalprice"),
      datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("od"),
      year(col("o_orderdate").cast("date")).as("yr"))
      .createOrReplaceTempView(view)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.lake")
    val t = s"$cat.lake.rl_orders"
    s.sql(s"""CREATE TABLE $t (o_orderkey BIGINT, o_totalprice DOUBLE,
              od BIGINT) TBLPROPERTIES ('statsCol'='od')""")
    Seq("yr <= 1996", "yr BETWEEN 1997 AND 1998", "yr >= 1999").foreach(w =>
      s.sql(s"""INSERT INTO $t SELECT o_orderkey, o_totalprice, od
                FROM $view WHERE $w"""))
    val dir = s"$wh/lake/rl_orders"
    require(graft.ops.Versioned.groupNames(dir) == Seq("c1", "c2", "c3"),
      s"s52 fixture: unexpected groups ${graft.ops.Versioned.groupNames(dir)}")
    s.sql(s"""UPDATE $t SET o_totalprice = 0.5
              WHERE od BETWEEN ${S52.updLo} AND ${S52.updHi}""")
    val updCow =
      graft.ops.Versioned.groupNames(dir).sorted == Seq("c1", "c3", "c4")
    s.sql(s"""MERGE INTO $t AS tgt
              USING (SELECT o_orderkey, -1.0 AS o_totalprice, od
                     FROM $view WHERE yr >= 1999
                     UNION ALL
                     SELECT -o_orderkey, 999.0, od
                     FROM $view WHERE o_orderkey BETWEEN 1 AND 100) AS src
              ON tgt.o_orderkey = src.o_orderkey
              WHEN MATCHED THEN UPDATE SET o_totalprice = src.o_totalprice
              WHEN NOT MATCHED THEN
                INSERT (o_orderkey, o_totalprice, od)
                VALUES (src.o_orderkey, src.o_totalprice, src.od)""")
    val mrgCow =
      graft.ops.Versioned.groupNames(dir).sorted == Seq("c1", "c4", "c5")
    val out = (t, updCow, mrgCow)
    dmlCache.put(key, out)
    out
  }
}
