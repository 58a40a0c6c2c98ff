package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables
import Q.{davg, dsum, sqlDavg, sqlDsum}

/** SURVEY.md §2.4 aggregations (A1–A13).
  * Reference semantics: grouped counts (`feature_eng.py:33`), conditional
  * counts/rates (`int_subject_summary.sql:14-16`, `analytics/queries.py:26,
  * 43`), summary stats (`analytics/queries.py:60-62`), count-distinct
  * (`int_subject_summary.sql:27-29`), exact median for `approx_quantile`
  * (`dim_study_overview.sql:27` — pinned exact per SURVEY §7.3), sorted
  * distinct string_agg (`int_subject_summary.sql:50`), whole-table and
  * two-level aggregates (`ui/dashboard.py:190-200`, `dim_study_overview.sql`).
  *
  * All are hash aggregations with map-side partial aggregation; shuffle
  * volume is #groups × #partitions, tiny even at 100 TB because every key
  * here is low-cardinality.
  */
object AggQueries {

  val all: Seq[Q] = Seq(

    Q("a1_group_count",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n
              FROM lineitem GROUP BY l_returnflag, l_linestatus
              ORDER BY l_returnflag, l_linestatus""")),

    Q("a2_conditional_count",
      (s, d) => Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(
          sum(when(col("o_totalprice") > 100000, 1L).otherwise(0L)).as("n_large"),
          sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("n_urgent"),
          count(lit(1)).as("n_total"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
                     CAST(SUM(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_large,
                     CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
                     COUNT(*) AS n_total
              FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // A3: AVG(CASE WHEN … 1 ELSE 0) — 0/1 doubles sum exactly, so the single
    // final division is bit-identical across engines.
    Q("a3_conditional_rate",
      (s, d) => Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(avg(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1.0)
          .otherwise(0.0)).as("urgent_rate"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
                     AVG(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                              THEN 1.0 ELSE 0.0 END) AS urgent_rate
              FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    Q("a4_stats_summary",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          davg(col("l_quantity")).as("avg_qty"),
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag,
                      ${sqlDavg("l_quantity")} AS avg_qty,
                      ROUND(STDDEV_SAMP(l_quantity), 6) AS sd_qty,
                      MIN(l_quantity) AS min_qty,
                      MAX(l_quantity) AS max_qty,
                      COUNT(*) AS n
               FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    Q("a5_count_distinct",
      (s, d) => Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          countDistinct(col("o_orderpriority")).as("n_priorities"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
                     COUNT(DISTINCT o_custkey) AS n_customers,
                     COUNT(DISTINCT o_orderpriority) AS n_priorities
              FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // A6: exact median (reference uses approx_quantile; pinned exact so the
    // oracle hash matches — SURVEY §7.3 risk #1).
    Q("a6_median",
      (s, d) => Tables.customer(s, d)
        .groupBy("c_mktsegment")
        .agg(round(expr("percentile(c_acctbal, 0.5)"), 6).as("median_bal"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment,
                     ROUND(quantile_cont(c_acctbal, 0.5), 6) AS median_bal
              FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    Q("a7_group_max",
      (s, d) => Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(max(col("s_acctbal")).as("max_bal"), count(lit(1)).as("n_suppliers"))
        .orderBy("n_name"),
      Some("""SELECT n_name, MAX(s_acctbal) AS max_bal, COUNT(*) AS n_suppliers
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
              GROUP BY n_name ORDER BY n_name""")),

    // A8: sorted distinct string aggregation (order pinned per SURVEY §7.3).
    Q("a8_string_agg_sorted",
      (s, d) => Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(concat_ws(", ", array_sort(collect_set(col("n_name")))).as("nations"))
        .orderBy("r_name"),
      Some("""SELECT r_name, string_agg(n_name, ', ' ORDER BY n_name) AS nations
              FROM (SELECT DISTINCT r_name, n_name
                    FROM nation JOIN region ON n_regionkey = r_regionkey)
              GROUP BY r_name ORDER BY r_name""")),

    Q("a9_whole_table_agg",
      (s, d) => Tables.lineitem(s, d)
        .agg(
          count(lit(1)).as("n_rows"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(expr("l_extendedprice * (1 - l_discount)"), 4).as("revenue"),
          davg(col("l_discount")).as("avg_discount")),
      Some(s"""SELECT COUNT(*) AS n_rows,
                      ${sqlDsum("l_quantity")} AS sum_qty,
                      ${sqlDsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
                      ${sqlDavg("l_discount")} AS avg_discount
               FROM lineitem""")),

    Q("a10_multi_metric_agg",
      (s, d) => Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(
          davg(col("o_totalprice")).as("mean_price"),
          dsum(col("o_totalprice")).as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus"),
      Some(s"""SELECT o_orderstatus,
                      ${sqlDavg("o_totalprice")} AS mean_price,
                      ${sqlDsum("o_totalprice")} AS sum_price,
                      COUNT(*) AS n
               FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // A11: row-normalized crosstab in long form (pivot + per-row normalize).
    Q("a11_crosstab_normalized",
      (s, d) => {
        val joined = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment", "o_orderstatus")
          .agg(count(lit(1)).as("n"))
        joined
          .withColumn("share",
            col("n").cast("double") /
              sum(col("n")).over(Window.partitionBy("c_mktsegment")).cast("double"))
          .select(col("c_mktsegment"), col("o_orderstatus"), col("n"),
            round(col("share"), 6).as("share"))
          .orderBy("c_mktsegment", "o_orderstatus")
      },
      Some("""SELECT c_mktsegment, o_orderstatus, n,
                     ROUND(CAST(n AS DOUBLE) /
                           CAST(SUM(n) OVER (PARTITION BY c_mktsegment) AS DOUBLE), 6)
                       AS share
              FROM (SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n
                    FROM orders JOIN customer ON o_custkey = c_custkey
                    GROUP BY c_mktsegment, o_orderstatus)
              ORDER BY c_mktsegment, o_orderstatus""")),

    Q("a12_group_size_histogram",
      (s, d) => Tables.orders(s, d)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus", "o_orderpriority"),
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
              FROM orders GROUP BY o_orderstatus, o_orderpriority
              ORDER BY o_orderstatus, o_orderpriority""")),

    // A-extension: ROLLUP hierarchy totals (SURVEY §2.4 "available if we
    // extend reporting"); grouping_id disambiguates the null rows.
    Q("a14_rollup",
      (s, d) => Tables.orders(s, d)
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      Some(s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
                      ${sqlDsum("o_totalprice")} AS total,
                      CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                           AS BIGINT) AS gid
               FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
               ORDER BY gid, o_orderstatus ASC NULLS FIRST,
                        o_orderpriority ASC NULLS FIRST""")),

    // A-extension: explicit GROUPING SETS — the general form rollup/cube
    // specialize ("per-status totals AND per-priority totals AND the grand
    // total in one pass"). One Expand feeds a single hash aggregate, so
    // the input is scanned once for all three groupings instead of three
    // times; same two-phase partial-agg shape as any groupBy at scale.
    Q("a17_grouping_sets",
      (s, d) => Tables.orders(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      Some(s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
                      ${sqlDsum("o_totalprice")} AS total,
                      CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                           AS BIGINT) AS gid
               FROM orders
               GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
               ORDER BY gid, o_orderstatus ASC NULLS FIRST,
                        o_orderpriority ASC NULLS FIRST""")),

    // A-extension: CUBE over two dims. Via the SQL entry point: the
    // DataFrame cube() after a join trips Spark's ambiguous-self-join
    // detector (Expand duplicates the joined subtree's dataset-id tags) —
    // the SQL path plans the identical Expand without the tags.
    Q("a15_cube",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("v_a15_orders")
        Tables.customer(s, d).createOrReplaceTempView("v_a15_customer")
        s.sql("""SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n,
                        CAST(GROUPING(c_mktsegment) * 2 + GROUPING(o_orderstatus)
                             AS BIGINT) AS gid
                 FROM v_a15_orders JOIN v_a15_customer ON o_custkey = c_custkey
                 GROUP BY CUBE (c_mktsegment, o_orderstatus)
                 ORDER BY gid, c_mktsegment ASC NULLS FIRST,
                          o_orderstatus ASC NULLS FIRST""")
      },
      Some("""SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n,
                     CAST(GROUPING(c_mktsegment) * 2 + GROUPING(o_orderstatus)
                          AS BIGINT) AS gid
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY CUBE (c_mktsegment, o_orderstatus)
              ORDER BY gid, c_mktsegment ASC NULLS FIRST,
                       o_orderstatus ASC NULLS FIRST""")),

    // A-extension: Misra–Gries heavy hitters under its theorem contract
    // (the third sketch row alongside the GK quantile and HLL distinct
    // gates). The candidate SET beyond the guarantee depends on merge
    // order, so the declared query emits the deterministic facts: how
    // many TRUE heavy hitters exist (freq > n/(k+1), exact arithmetic)
    // and whether every one of them appears among the sketch candidates
    // — which the Misra–Gries bound makes provably TRUE. A seeded
    // 'whale' key (half of all orders) guarantees the gate is exercised
    // by a real heavy hitter, not vacuously.
    Q("a18_heavy_hitters",
      (s, d) => {
        graft.GraftExtensions.setup(s)
        val key = when(col("o_orderkey") % 4 < 2, lit("whale"))
          .otherwise(col("o_custkey").cast("string"))
        val items = Tables.orders(s, d).select(key.as("item"))
        val cands = items.agg(
          call_function("graft_heavy_hitters", col("item"), lit(20)).as("cands"))
        val counts = items.groupBy("item").agg(count(lit(1)).as("cnt"))
        // total derives from the already-grouped counts — no third scan
        val totals = counts.agg(sum(col("cnt")).as("n_total"))
        val trueHH = counts.crossJoin(totals)
          .filter(col("cnt").cast("double") * 21.0 > col("n_total").cast("double"))
        trueHH.crossJoin(cands)
          .agg(count(lit(1)).as("n_true_hh"),
            coalesce(min(when(array_contains(col("cands"), col("item")), 1L)
              .otherwise(0L)), lit(1L)).as("__cap"))
          .select(col("n_true_hh"), (col("__cap") === 1L).as("all_captured"))
      },
      Some("""WITH items AS (SELECT CASE WHEN o_orderkey % 4 < 2 THEN 'whale'
                                         ELSE CAST(o_custkey AS VARCHAR) END AS item
                             FROM orders),
                   counts AS (SELECT item, COUNT(*) AS cnt FROM items GROUP BY item),
                   hh AS (SELECT item FROM counts
                          WHERE CAST(cnt AS DOUBLE) * 21.0
                                > (SELECT CAST(COUNT(*) AS DOUBLE) FROM items))
              SELECT COUNT(*) AS n_true_hh, TRUE AS all_captured FROM hh""")),

    // A13: aggregate over an aggregate (mart → study overview shape).
    Q("a13_two_level_agg",
      (s, d) => {
        val perCustomer = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
          .groupBy("c_custkey", "c_mktsegment")
          .agg(dsum(col("o_totalprice")).as("cust_total"))
        perCustomer.groupBy("c_mktsegment")
          .agg(
            davg(col("cust_total"), 2).as("avg_cust_total"),
            max(col("cust_total")).as("max_cust_total"),
            count(lit(1)).as("n_customers"))
          .orderBy("c_mktsegment")
      },
      Some(s"""SELECT c_mktsegment,
                      ${sqlDavg("cust_total")} AS avg_cust_total,
                      MAX(cust_total) AS max_cust_total,
                      COUNT(*) AS n_customers
               FROM (SELECT c_custkey, c_mktsegment,
                            ${sqlDsum("o_totalprice")} AS cust_total
                     FROM orders JOIN customer ON o_custkey = c_custkey
                     GROUP BY c_custkey, c_mktsegment)
               GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // A19: Count-Min sketch point queries (Cormode & Muthukrishnan 2005)
    // over supplier frequencies in lineitem — the mergeable-summary
    // counterpart to a18's Misra–Gries: d=4 fixed integer hash rows,
    // w=256 buckets (deliberately << 1000 distinct keys at sf0.1, so the
    // one-sided-error contract is exercised by real collisions). Because
    // the hashes are fixed BIGINT arithmetic, the ESTIMATES themselves
    // replay in ANSI SQL — cells, mins and all — so the gate pins the
    // sketch bit-for-bit, plus the `never_under` contract column
    // (est ≥ true count always, the CM guarantee). See
    // [[graft.stats.CountMin]] for the 100 TB shape (one map-side-
    // combinable group-by into d·w cells).
    Q("a19_countmin_point_query",
      (s, d) => {
        val keys = Tables.lineitem(s, d)
          .select(col("l_suppkey").cast("long").as("k"))
        val cells = graft.stats.CountMin.cells(s, keys, w = 256)
        val exact = keys.groupBy("k").agg(count(lit(1)).as("cnt"))
        val est = graft.stats.CountMin.estimate(
          s, cells, exact.select("k"), w = 256)
        exact.join(est, "k")
          .select(col("k"), col("cnt"), col("est"),
            (col("est") >= col("cnt")).as("never_under"),
            (col("est") - col("cnt")).as("overest"))
          .orderBy(col("cnt").desc, col("k"))
          .limit(20)
      },
      Some("""WITH params AS (SELECT * FROM (VALUES
                      (0, 1000003, 12345), (1, 999983, 54321),
                      (2, 777767, 98765), (3, 333667, 13579))
                    AS t(i, a, b)),
                   keys AS (SELECT CAST(l_suppkey AS BIGINT) AS k
                            FROM lineitem),
                   cells AS (SELECT i,
                                    ((a * k + b) % 2147483647) % 256 AS bucket,
                                    COUNT(*) AS c
                             FROM keys CROSS JOIN params GROUP BY 1, 2),
                   exact AS (SELECT k, COUNT(*) AS cnt FROM keys GROUP BY k),
                   est AS (SELECT e.k, MIN(COALESCE(c.c, 0)) AS est
                           FROM exact e
                           CROSS JOIN params p
                           LEFT JOIN cells c
                             ON c.i = p.i
                            AND c.bucket = ((p.a * e.k + p.b) % 2147483647) % 256
                           GROUP BY e.k)
              SELECT x.k, x.cnt, s.est,
                     s.est >= x.cnt AS never_under,
                     s.est - x.cnt AS overest
              FROM exact x JOIN est s ON s.k = x.k
              ORDER BY x.cnt DESC, x.k LIMIT 20""")),

    // A20: AMS tug-of-war F₂ sketch (stats.Ams) — the fourth sketch row
    // (GK quantile, HLL distinct, Count-Min frequency, AMS moment). The
    // 16 signed sums are FIXED-integer arithmetic, so the sketch STATE
    // replays verbatim in ANSI SQL and sits under the hash gate; the
    // estimate accuracy rides a measured contract band (mean-of-16
    // est/F₂ observed 0.64/1.76/1.07 at sf0.01/0.001/0.1 — AMS variance
    // at 1.5k-key support is ~0.35·F₂, so [0.3, 3] holds with margin).
    // One scan, 16 partial sums, no shuffle wider than 16 rows.
    Q("a20_ams_f2_sketch",
      (s, d) => {
        val keys = Tables.lineitem(s, d)
          .select(col("l_orderkey").cast("long").as("k"))
        val sk = graft.stats.Ams.sketch(keys)
        val exact = keys.groupBy("k").agg(count(lit(1)).as("cnt"))
          .agg(sum(col("cnt") * col("cnt")).as("exact_f2"))
        val est = graft.stats.Ams.estimate(sk)
        sk.crossJoin(broadcast(exact)).crossJoin(broadcast(est))
          .select(col("i"), col("s"), (col("s") * col("s")).as("est_i"),
            col("exact_f2"),
            round(col("est_f2") / col("exact_f2").cast("double"), 6)
              .as("ratio"),
            (col("est_f2") >= col("exact_f2").cast("double") * 0.3 &&
              col("est_f2") <= col("exact_f2").cast("double") * 3.0)
              .as("within_band"))
          .orderBy("i")
      },
      Some(s"""WITH params(i, a3, a2, a1, a0) AS (VALUES ${
        graft.stats.Ams.Params.map { case (i, a3, a2, a1, a0) =>
          s"($i, $a3, $a2, $a1, $a0)" }.mkString(", ")}),
                   keys AS (SELECT CAST(l_orderkey AS BIGINT) AS k
                            FROM lineitem),
                   kr AS (SELECT k, k % 2147483647 AS r FROM keys),
                   signs AS (SELECT i,
                               SUM(CASE WHEN (a3 * (((r*r) % 2147483647) * r
                                                    % 2147483647)
                                            + a2 * ((r*r) % 2147483647)
                                            + a1 * r + a0) % 2147483647
                                             < 1073741824
                                        THEN 1 ELSE -1 END) AS s
                             FROM kr CROSS JOIN params GROUP BY i),
                   exact AS (SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS exact_f2
                             FROM (SELECT COUNT(*) AS cnt
                                   FROM keys GROUP BY k) t),
                   m AS (SELECT CAST(SUM(s * s) AS DOUBLE) / 16.0 AS est_f2
                         FROM signs)
              SELECT i, CAST(s AS BIGINT) AS s,
                     CAST(s * s AS BIGINT) AS est_i, exact_f2,
                     ROUND(est_f2 / CAST(exact_f2 AS DOUBLE), 6) AS ratio,
                     est_f2 >= CAST(exact_f2 AS DOUBLE) * 0.3
                       AND est_f2 <= CAST(exact_f2 AS DOUBLE) * 3.0
                       AS within_band
              FROM signs CROSS JOIN exact CROSS JOIN m
              ORDER BY i"""))
  )
}
