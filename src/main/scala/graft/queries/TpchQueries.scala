package graft.queries

import org.apache.spark.sql.functions._
import graft.io.Tables
import Q.{davg, dsum, sqlDavg, sqlDsum}

/** The classic TPC-H analytics shapes (Q3 / Q5 / Q10, adapted to the
  * testdata's column subset) as end-to-end flagship queries — the
  * canonical multi-join + aggregate + top-k OLAP patterns every engine
  * is measured by, composed from operators the board already gates
  * individually (broadcast dim joins j1/j6, exact decimal aggregation
  * a9/a10, fused top-k o2).
  *
  * Plan shapes (the 100 TB story): every dimension side — customer,
  * supplier, nation⋈region — broadcasts (dims are MBs at any SF); the
  * only shuffle is the lineitem⋈orders fact join keyed on l_orderkey
  * plus the final small aggregation; date filters push to the parquet
  * scans, so each query reads exactly the fact fraction its predicate
  * selects. Revenue follows the a9 exactness discipline: the per-row
  * double product l_extendedprice·(1−l_discount) is IEEE-identical in
  * both engines, then summed EXACTLY as DECIMAL(18,4) — partial
  * aggregation order can never move a bit.
  */
object TpchQueries {

  val all: Seq[Q] = Seq(

    // Q3: shipping priority — revenue of not-yet-shipped BUILDING-segment
    // orders, top 10.
    Q("q3_shipping_priority",
      (s, d) => {
        val cutoff = lit("1998-06-01").cast("date")
        val cust = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val ord = Tables.orders(s, d)
          .filter(col("o_orderdate").cast("date") < cutoff)
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"))
        Tables.lineitem(s, d)
          .filter(col("l_shipdate").cast("date") > cutoff)
          .select("l_orderkey", "l_extendedprice", "l_discount")
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(dsum(expr("l_extendedprice * (1 - l_discount)"), 4).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
                      CAST(o_orderdate AS DATE) AS o_orderdate,
                      ${sqlDsum("l_extendedprice * (1 - l_discount)", 4)}
                        AS revenue
               FROM customer
               JOIN orders ON o_custkey = c_custkey
               JOIN lineitem ON l_orderkey = o_orderkey
               WHERE c_mktsegment = 'BUILDING'
                 AND CAST(o_orderdate AS DATE) < DATE '1998-06-01'
                 AND CAST(l_shipdate AS DATE) > DATE '1998-06-01'
               GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
               ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    // Q5: local supplier volume — revenue shipped within each ASIA
    // nation where customer and supplier share the nation, 1997 orders.
    Q("q5_local_supplier_volume",
      (s, d) => {
        val asiaNations = Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d)
              .filter(col("r_name") === "ASIA").select("r_regionkey")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
        val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
        val ord = Tables.orders(s, d)
          .filter(col("o_orderdate").cast("date") >= lit("1997-01-01").cast("date")
            && col("o_orderdate").cast("date") < lit("1998-01-01").cast("date"))
          .select("o_orderkey", "o_custkey")
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey")
            && col("s_nationkey") === col("c_nationkey"))
          .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(dsum(expr("l_extendedprice * (1 - l_discount)"), 4).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some(s"""SELECT n_name,
                      ${sqlDsum("l_extendedprice * (1 - l_discount)", 4)}
                        AS revenue
               FROM lineitem
               JOIN orders ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               JOIN supplier ON l_suppkey = s_suppkey
                            AND s_nationkey = c_nationkey
               JOIN nation ON s_nationkey = n_nationkey
               JOIN region ON n_regionkey = r_regionkey
               WHERE r_name = 'ASIA'
                 AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
                 AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
               GROUP BY n_name
               ORDER BY revenue DESC, n_name""")),

    // Q10: returned-item reporting — top 20 customers by revenue lost to
    // returns in 1997 Q4.
    Q("q10_returned_items",
      (s, d) => {
        val ord = Tables.orders(s, d)
          .filter(col("o_orderdate").cast("date") >= lit("1997-10-01").cast("date")
            && col("o_orderdate").cast("date") < lit("1998-01-01").cast("date"))
          .select("o_orderkey", "o_custkey")
        val custNation = Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)
              .select(col("n_nationkey"), col("n_name"))),
            col("c_nationkey") === col("n_nationkey"))
          .select("c_custkey", "c_name", "c_acctbal", "n_name")
        Tables.lineitem(s, d)
          .filter(col("l_returnflag") === "R")
          .select("l_orderkey", "l_extendedprice", "l_discount")
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(custNation), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
          .agg(dsum(expr("l_extendedprice * (1 - l_discount)"), 4).as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some(s"""SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
                      c_acctbal, n_name,
                      ${sqlDsum("l_extendedprice * (1 - l_discount)", 4)}
                        AS revenue
               FROM lineitem
               JOIN orders ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               JOIN nation ON c_nationkey = n_nationkey
               WHERE l_returnflag = 'R'
                 AND CAST(o_orderdate AS DATE) >= DATE '1997-10-01'
                 AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
               GROUP BY c_custkey, c_name, c_acctbal, n_name
               ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // Q1: pricing summary — THE canonical scan-heavy aggregate every
    // engine leads its benchmark page with: one full fact scan, a
    // 4-group hash aggregate with 8 measures, everything map-side
    // partial. All sums ride the exact-decimal discipline (the triple
    // product disc_price·(1+tax) is ONE double expression identical in
    // both engines, then cast to DECIMAL(18,6) before summing), and the
    // averages are exact decimal-sum / count — partial-aggregation
    // order can never move a bit anywhere in the row.
    Q("q1_pricing_summary",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate").cast("date") <= lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity"), 2).as("sum_qty"),
          dsum(col("l_extendedprice"), 2).as("sum_base_price"),
          dsum(expr("l_extendedprice * (1 - l_discount)"), 4)
            .as("sum_disc_price"),
          dsum(expr("l_extendedprice * (1 - l_discount) * (1 + l_tax)"), 6)
            .as("sum_charge"),
          davg(col("l_quantity"), 2).as("avg_qty"),
          davg(col("l_extendedprice"), 2).as("avg_price"),
          davg(col("l_discount"), 2).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
                      ${sqlDsum("l_quantity", 2)} AS sum_qty,
                      ${sqlDsum("l_extendedprice", 2)} AS sum_base_price,
                      ${sqlDsum("l_extendedprice * (1 - l_discount)", 4)}
                        AS sum_disc_price,
                      ${sqlDsum(
                        "l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)}
                        AS sum_charge,
                      ${sqlDavg("l_quantity", 2)} AS avg_qty,
                      ${sqlDavg("l_extendedprice", 2)} AS avg_price,
                      ${sqlDavg("l_discount", 2)} AS avg_disc,
                      COUNT(*) AS count_order
               FROM lineitem
               WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
               GROUP BY l_returnflag, l_linestatus
               ORDER BY l_returnflag, l_linestatus""")),

    // Q6: forecasting revenue change — the pure predicate-pushdown
    // flagship: a conjunctive filter (date window, discount band,
    // quantity cap) that must reach the parquet scan, one global
    // decimal-exact sum, zero joins and zero shuffles beyond the final
    // single-row combine. PlanSpec pins all three predicates pushed.
    Q("q6_forecast_revenue",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate").cast("date") >= lit("1997-01-01").cast("date")
          && col("l_shipdate").cast("date") < lit("1998-01-01").cast("date")
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(dsum(expr("l_extendedprice * l_discount"), 4).as("revenue")),
      Some(s"""SELECT ${sqlDsum("l_extendedprice * l_discount", 4)} AS revenue
               FROM lineitem
               WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
                 AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
                 AND l_discount BETWEEN 0.05 AND 0.07
                 AND l_quantity < 24""")),

    // Q4: order-priority checking — orders in a three-quarter window with
    // at least one late lineitem (shipped > 60 days after the order),
    // counted by priority. The EXISTS shape: a fact↔fact LEFT SEMI join
    // on the order key — deliberately NOT broadcast (both sides scale
    // with the fact at 100 TB); one shuffle per side on l_orderkey, then
    // a 5-row aggregate. The 60-day lateness predicate lives in the join
    // condition, so each order counts once however many lines are late.
    Q("q4_order_priority",
      (s, d) => {
        val ord = Tables.orders(s, d)
          .select(col("o_orderkey"),
            col("o_orderdate").cast("date").as("o_date"),
            col("o_orderpriority"))
          .filter(col("o_date") >= lit("1997-01-01").cast("date") &&
            col("o_date") < lit("1997-10-01").cast("date"))
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_shipdate").cast("date").as("l_date"))
        ord.join(li,
            col("o_orderkey") === col("l_orderkey") &&
              col("l_date") > date_add(col("o_date"), 60),
            "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
              FROM orders
              WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
                AND CAST(o_orderdate AS DATE) < DATE '1997-10-01'
                AND EXISTS (SELECT 1 FROM lineitem
                            WHERE l_orderkey = o_orderkey
                              AND CAST(l_shipdate AS DATE)
                                  > CAST(o_orderdate AS DATE) + 60)
              GROUP BY o_orderpriority
              ORDER BY o_orderpriority""")),

    // Q17: small-quantity-order revenue — average yearly revenue lost if
    // orders below 20% of a part's average quantity were not filled, for
    // one brand×type slice. The correlated-subquery shape: the per-part
    // average broadcasts back onto the same filtered fact slice. Plan:
    // the brand×type part list broadcasts into the fact scan FIRST (so
    // the per-part average aggregates only the slice's lines — the
    // correlation never touches the full fact twice), then one partkey
    // shuffle for the average and a second broadcast join back. The
    // threshold is exact: decimal sum / count, one double multiply —
    // bit-identical across engines, so row membership can't flip.
    Q("q17_small_qty_revenue",
      (s, d) => {
        val pr = Tables.part(s, d)
          .filter(col("p_brand") === "Brand#17" && col("p_type") === "ECONOMY")
          .select("p_partkey")
        val lines = Tables.lineitem(s, d)
          .select("l_partkey", "l_quantity", "l_extendedprice")
          .join(broadcast(pr), col("l_partkey") === col("p_partkey"))
        val thr = lines.groupBy("p_partkey")
          .agg((davg(col("l_quantity")) * 0.2).as("qty_thr"))
        lines.join(broadcast(thr), Seq("p_partkey"))
          .filter(col("l_quantity") < col("qty_thr"))
          .agg((dsum(col("l_extendedprice"), 2) / 7.0).as("avg_yearly"))
      },
      Some(s"""SELECT ${sqlDsum("l_extendedprice", 2)} / 7.0 AS avg_yearly
               FROM lineitem JOIN part ON p_partkey = l_partkey
               WHERE p_brand = 'Brand#17' AND p_type = 'ECONOMY'
                 AND l_quantity < (SELECT 0.2 * (${sqlDavg("l2.l_quantity")})
                                   FROM lineitem l2
                                   WHERE l2.l_partkey = p_partkey)""")),

    // Q18: large-volume customers — orders whose total quantity exceeds
    // the threshold, with their customer. The HAVING-subquery shape: one
    // fact shuffle keyed on l_orderkey for the quantity sum, the
    // surviving ~0.5% of orders join orders/customer WITHOUT broadcast
    // hints (at 100 TB the filtered set and both dims all scale — AQE
    // picks broadcast at test scale, shuffle join at fleet scale). The
    // quantity sum is exact decimal, so the > 250 cut is engine-stable.
    Q("q18_large_volume_orders",
      (s, d) => {
        val qty = Tables.lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty_dec"))
          .filter(col("sum_qty_dec") > 250)
        val ord = Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        val cust = Tables.customer(s, d).select("c_custkey", "c_name")
        ord.join(qty, col("o_orderkey") === col("l_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate").cast("date").as("o_orderdate"),
            col("o_totalprice"),
            col("sum_qty_dec").cast("double").as("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
      },
      Some("""SELECT c_name, CAST(c_custkey AS BIGINT) AS c_custkey,
                     CAST(o_orderkey AS BIGINT) AS o_orderkey,
                     CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
                     CAST(sum_qty_dec AS DOUBLE) AS sum_qty
              FROM (SELECT l_orderkey,
                           SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty_dec
                    FROM lineitem GROUP BY l_orderkey
                    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250) q
              JOIN orders ON o_orderkey = l_orderkey
              JOIN customer ON c_custkey = o_custkey
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    // Q7: volume shipping between nation groups — the ROLE-PLAYING
    // dimension shape: nation joins the fact TWICE under different
    // roles (supplier's nation, customer's nation), revenue grouped by
    // the directed (supp_nation, cust_nation, year) triple. Nation
    // broadcasts (25 rows at any SF); the supplier/customer joins stay
    // unhinted — both scale with the fact at 100 TB, AQE picks
    // broadcast at test scale. Adapted selectivity: supplier nations
    // 0–4 shipping to customer nations 20–24 (the named-pair form of
    // TPC-H Q7 selects zero rows at sf0.001's 15-customer population).
    Q("q7_nation_trade",
      (s, d) => {
        val n = Tables.nation(s, d)
        val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
          .join(broadcast(n.filter(col("n_nationkey") < 5)
              .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "supp_nation")
        val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
          .join(broadcast(n.filter(col("n_nationkey") >= 20)
              .select(col("n_nationkey").as("cnk"),
                col("n_name").as("cust_nation"))),
            col("c_nationkey") === col("cnk"))
          .select("c_custkey", "cust_nation")
        val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
          .join(cust, col("o_custkey") === col("c_custkey"))
          .select("o_orderkey", "cust_nation")
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_shipdate",
            "l_extendedprice", "l_discount")
          .join(supp, col("l_suppkey") === col("s_suppkey"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .agg(dsum(expr("l_extendedprice * (1 - l_discount)"), 4)
            .as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                      CAST(date_part('year', l_shipdate) AS BIGINT)
                        AS l_year,
                      ${sqlDsum("l_extendedprice * (1 - l_discount)", 4)}
                        AS revenue
               FROM lineitem
               JOIN orders ON l_orderkey = o_orderkey
               JOIN supplier ON s_suppkey = l_suppkey
               JOIN customer ON c_custkey = o_custkey
               JOIN nation n1 ON n1.n_nationkey = s_nationkey
               JOIN nation n2 ON n2.n_nationkey = c_nationkey
               WHERE n1.n_nationkey < 5 AND n2.n_nationkey >= 20
               GROUP BY 1, 2, 3
               ORDER BY supp_nation, cust_nation, l_year""")),

    // Q19: discounted revenue under a DISJUNCTION of conjunctive
    // clauses — the predicate-normalization shape: three OR'd
    // brand/type × quantity-band conditions spanning BOTH join sides.
    // The join key stays a clean equi-join; the DNF filter evaluates
    // post-join with its single-side implications (quantity bounds)
    // available for scan pushdown. Part broadcasts at test scale.
    Q("q19_disjunctive_revenue",
      (s, d) => {
        val pr = Tables.part(s, d).select("p_partkey", "p_brand", "p_type")
        Tables.lineitem(s, d)
          .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
          .join(broadcast(pr), col("l_partkey") === col("p_partkey"))
          .filter(
            (col("p_brand") === "Brand#17" && col("l_quantity") < 15) ||
            (col("p_brand") === "Brand#2" &&
              col("l_quantity").between(10, 30)) ||
            (col("p_type") === "ECONOMY" && col("l_quantity") > 40))
          .agg(dsum(expr("l_extendedprice * (1 - l_discount)"), 4)
              .as("revenue"),
            count(lit(1)).as("n_lines"))
      },
      Some(s"""SELECT ${sqlDsum("l_extendedprice * (1 - l_discount)", 4)}
                        AS revenue,
                      COUNT(*) AS n_lines
               FROM lineitem JOIN part ON p_partkey = l_partkey
               WHERE (p_brand = 'Brand#17' AND l_quantity < 15)
                  OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 30)
                  OR (p_type = 'ECONOMY' AND l_quantity > 40)""")),

    // Q15: top supplier — the ARGMAX-BY-SUBQUERY shape: an aggregate
    // view (per-supplier revenue), then equality against the view's own
    // MAX. The equality is on the EXACT decimal sum, so the argmax set
    // can never flip on a last-bit difference; the one-row max
    // broadcasts back onto the view.
    Q("q15_top_supplier",
      (s, d) => {
        // rev feeds TWO consumers (its own MAX and the equality join) —
        // materialized so the lineitem fact is scanned and aggregated
        // ONCE (the two branches infer different filters, so AQE does not
        // reuse the exchange); the frame is |suppliers| rows
        val rev = Tables.lineitem(s, d)
          .groupBy(col("l_suppkey").as("s_key"))
          .agg(sum(expr("l_extendedprice * (1 - l_discount)")
            .cast("decimal(18,4)")).as("rev_dec"))
          .localCheckpoint()
        val top = rev.agg(max(col("rev_dec")).as("max_rev"))
        rev.join(broadcast(top), col("rev_dec") === col("max_rev"))
          .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
            col("s_key") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            col("rev_dec").cast("double").as("total_revenue"))
          .orderBy("s_suppkey")
      },
      Some(s"""WITH r AS (SELECT l_suppkey,
                                 SUM(CAST(l_extendedprice * (1 - l_discount)
                                          AS DECIMAL(18,4))) AS rev
                          FROM lineitem GROUP BY l_suppkey)
               SELECT CAST(l_suppkey AS BIGINT) AS s_suppkey, s_name,
                      CAST(rev AS DOUBLE) AS total_revenue
               FROM r JOIN supplier ON s_suppkey = l_suppkey
               WHERE rev = (SELECT MAX(rev) FROM r)
               ORDER BY s_suppkey""")),

    // Q22: global-sales opportunity — above-average-balance customers
    // with no RECENT order (every synthetic customer has SOME order, so
    // the anti-join is against the date-filtered fact), grouped by
    // nation. Shapes composed: scalar-subquery threshold (a one-row
    // broadcast), date-filtered LEFT ANTI join on the fact, small agg.
    // The average is exact decimal/count so the balance cut can't flip.
    Q("q22_inactive_customers",
      (s, d) => {
        val cust = Tables.customer(s, d)
        val thr = cust.filter(col("c_acctbal") > 0)
          .agg(davg(col("c_acctbal")).as("avg_bal"))
        val recent = Tables.orders(s, d)
          .filter(col("o_orderdate").cast("date") >= lit("2000-01-01").cast("date"))
          .select("o_custkey")
        cust.crossJoin(broadcast(thr))
          .filter(col("c_acctbal") > col("avg_bal"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_custs"), dsum(col("c_acctbal"), 2).as("total_bal"))
          .orderBy("c_nationkey")
      },
      Some(s"""SELECT c_nationkey, COUNT(*) AS n_custs,
                      ${sqlDsum("c_acctbal", 2)} AS total_bal
               FROM customer
               WHERE c_acctbal > (SELECT ${sqlDavg("c_acctbal")}
                                  FROM customer WHERE c_acctbal > 0)
                 AND NOT EXISTS (SELECT 1 FROM orders
                                 WHERE o_custkey = c_custkey
                                   AND CAST(o_orderdate AS DATE)
                                       >= DATE '2000-01-01')
               GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // Q2: minimum-cost supplier — the CORRELATED-MIN-SUBQUERY shape.
    // The testdata has no partsupp table (reference parity ends at the
    // 8-table subset), so the part↔supplier relation is derived from the
    // fact (DISTINCT l_partkey, l_suppkey — one fact-projection shuffle,
    // computed once and persisted) and "cost" is the supplier's account
    // balance: per qualifying part, the EUROPE supplier(s) with the
    // MINIMUM balance. The min is over doubles both engines read
    // verbatim from the same parquet, so the equality join back can
    // never flip. Candidate set after the part filter is tiny →
    // broadcast; ties (same min balance) all surface, pinned by the
    // (p_partkey, s_name) order.
    Q("q2_min_cost_supplier",
      (s, d) => {
        val eur = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)
              .filter(col("r_name") === "EUROPE").select("r_regionkey")),
            col("n_regionkey") === col("r_regionkey"))
          .select("s_suppkey", "s_name", "s_acctbal", "n_name")
        val parts = Tables.part(s, d)
          .filter(col("p_size") === 15 && col("p_type") === "SMALL")
          .select("p_partkey", "p_name")
        val ps = Tables.lineitem(s, d)
          .select("l_partkey", "l_suppkey").distinct()
        // cand feeds the per-part minimum and the join back onto it; both
        // branches share the lineitem distinct's exchange (AQE exchange
        // reuse), so only the dim-sized broadcast joins run twice
        val cand = ps
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .join(broadcast(eur), col("l_suppkey") === col("s_suppkey"))
          .select("p_partkey", "p_name", "s_name", "s_acctbal", "n_name")
        val minBal = cand.groupBy("p_partkey")
          .agg(min(col("s_acctbal")).as("min_bal"))
        cand.join(broadcast(minBal), "p_partkey")
          .filter(col("s_acctbal") === col("min_bal"))
          .select(col("p_partkey"), col("p_name"), col("s_name"),
            col("s_acctbal"), col("n_name"))
          .orderBy(col("s_acctbal").desc, col("p_partkey"), col("s_name"))
      },
      Some("""WITH eur AS (SELECT s_suppkey, s_name, s_acctbal, n_name
                           FROM supplier
                           JOIN nation ON s_nationkey = n_nationkey
                           JOIN region ON n_regionkey = r_regionkey
                           WHERE r_name = 'EUROPE'),
                   ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
                   cand AS (SELECT p_partkey, p_name, s_name, s_acctbal, n_name
                            FROM ps
                            JOIN part ON l_partkey = p_partkey
                            JOIN eur ON l_suppkey = s_suppkey
                            WHERE p_size = 15 AND p_type = 'SMALL')
              SELECT CAST(p_partkey AS BIGINT) AS p_partkey, p_name, s_name,
                     s_acctbal, n_name
              FROM cand c
              WHERE s_acctbal = (SELECT MIN(s_acctbal) FROM cand c2
                                 WHERE c2.p_partkey = c.p_partkey)
              ORDER BY s_acctbal DESC, p_partkey, s_name""")),

    // Q8: national market share — per order year, one nation's share of
    // ECONOMY-part revenue sold into the AMERICA market. Two aggregates
    // over the same grouped rows (the CASE'd numerator and the plain
    // denominator), both exact decimal, one double division at the end —
    // the classic role-playing-dimension query (nation joins twice:
    // customer side scopes the market, supplier side names the share).
    Q("q8_market_share",
      (s, d) => {
        val amerNations = Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d)
              .filter(col("r_name") === "AMERICA").select("r_regionkey")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))
        val cust = Tables.customer(s, d)
          .join(broadcast(amerNations), col("c_nationkey") === col("n_nationkey"))
          .select("c_custkey")
        val suppNat = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
              .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "supp_nation")
        val eco = Tables.part(s, d)
          .filter(col("p_type") === "ECONOMY").select("p_partkey")
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_partkey", "l_suppkey",
            "l_extendedprice", "l_discount")
          .join(broadcast(eco), col("l_partkey") === col("p_partkey"))
          .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
              year(col("o_orderdate").cast("date")).cast("long").as("o_year")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("o_year"))
          .agg((dsum(when(col("supp_nation") === "NATION_3",
                expr("l_extendedprice * (1 - l_discount)")).otherwise(lit(0.0)), 4)
              / dsum(expr("l_extendedprice * (1 - l_discount)"), 4))
            .as("mkt_share"))
          .orderBy(col("o_year"))
      },
      Some(s"""SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
                      ${sqlDsum("CASE WHEN n2.n_name = 'NATION_3' " +
                        "THEN l_extendedprice * (1 - l_discount) " +
                        "ELSE 0.0 END", 4)}
                        / ${sqlDsum("l_extendedprice * (1 - l_discount)", 4)}
                        AS mkt_share
               FROM lineitem
               JOIN part ON p_partkey = l_partkey
               JOIN orders ON o_orderkey = l_orderkey
               JOIN customer ON c_custkey = o_custkey
               JOIN nation n1 ON c_nationkey = n1.n_nationkey
               JOIN region ON n1.n_regionkey = r_regionkey
               JOIN supplier ON s_suppkey = l_suppkey
               JOIN nation n2 ON s_nationkey = n2.n_nationkey
               WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
               GROUP BY 1 ORDER BY 1""")),

    // Q9: product-line profit by supplier nation and year. The testdata
    // has no ps_supplycost, so unit cost is the deterministic proxy
    // 0.1·p_retailprice — profit per line =
    // extendedprice·(1−discount) − quantity·retailprice·0.1, ONE double
    // expression evaluated identically in both engines, then summed
    // exactly as DECIMAL(18,4). 'red%' parts, nation twice-removed
    // (supplier side only — the role-playing twin of q8's two-sided use).
    Q("q9_product_profit",
      (s, d) => {
        val redParts = Tables.part(s, d)
          .filter(col("p_name").like("red%"))
          .select("p_partkey", "p_retailprice")
        val suppNat = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
              .select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "n_name")
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "l_extendedprice", "l_discount")
          .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
          .join(Tables.orders(s, d).select(col("o_orderkey"),
              year(col("o_orderdate").cast("date")).cast("long").as("o_year")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("n_name"), col("o_year"))
          .agg(dsum(expr("l_extendedprice * (1 - l_discount) - " +
            "l_quantity * p_retailprice * 0.1"), 4).as("sum_profit"))
          .orderBy(col("n_name"), col("o_year").desc)
      },
      Some(s"""SELECT n_name,
                      CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
                      ${sqlDsum("l_extendedprice * (1 - l_discount) - " +
                        "l_quantity * p_retailprice * 0.1", 4)} AS sum_profit
               FROM lineitem
               JOIN part ON p_partkey = l_partkey
               JOIN orders ON o_orderkey = l_orderkey
               JOIN supplier ON s_suppkey = l_suppkey
               JOIN nation ON s_nationkey = n_nationkey
               WHERE p_name LIKE 'red%'
               GROUP BY 1, 2 ORDER BY n_name, o_year DESC""")),

    // Q11: important parts — per-part revenue above a fraction of the
    // total: GROUP BY + HAVING against a SCALAR SUBQUERY over the same
    // aggregate. The per-part frame feeds two consumers (the threshold
    // and the filter) → computed once and materialized; sums stay DECIMAL
    // until the single final double cast on BOTH sides of the compare,
    // so the cut can never flip on aggregation order.
    Q("q11_important_parts",
      (s, d) => {
        val perPart = Tables.lineitem(s, d)
          .groupBy(col("l_partkey"))
          .agg(sum(expr("l_extendedprice * (1 - l_discount)")
            .cast("decimal(18,4)")).as("v"))
          .localCheckpoint()
        val thr = perPart.agg(sum(col("v")).as("t"))
          .select((col("t").cast("double") * 0.0001).as("thr"))
        perPart.crossJoin(broadcast(thr))
          .filter(col("v").cast("double") > col("thr"))
          .select(col("l_partkey"), col("v").cast("double").as("part_value"))
          .orderBy(col("part_value").desc, col("l_partkey"))
      },
      Some("""WITH pv AS (SELECT l_partkey,
                                 SUM(CAST(l_extendedprice * (1 - l_discount)
                                          AS DECIMAL(18,4))) AS v
                          FROM lineitem GROUP BY 1)
              SELECT CAST(l_partkey AS BIGINT) AS l_partkey,
                     CAST(v AS DOUBLE) AS part_value
              FROM pv
              WHERE CAST(v AS DOUBLE) >
                    (SELECT CAST(SUM(v) AS DOUBLE) * 0.0001 FROM pv)
              ORDER BY part_value DESC, l_partkey""")),

    // Q12: late-shipment priority census — the fact⋈fact join with
    // conditional counts: lines shipped more than 60 days after their
    // order date, split urgent/non-urgent per returnflag. Counts are
    // Spark BIGINT sums of 0/1; the oracle CASTs its HUGEINT sums back
    // to BIGINT (the g-family rule).
    Q("q12_late_priority_census",
      (s, d) => {
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_returnflag"),
            col("l_shipdate").cast("date").as("ship"))
          .join(Tables.orders(s, d).select(col("o_orderkey"),
              col("o_orderdate").cast("date").as("odate"),
              col("o_orderpriority")),
            col("l_orderkey") === col("o_orderkey"))
          .filter(col("ship") > date_add(col("odate"), 60))
          .groupBy(col("l_returnflag"))
          .agg(sum(when(col("o_orderpriority") === "1-URGENT"
                || col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
              .as("high_line_count"),
            sum(when(col("o_orderpriority") =!= "1-URGENT"
                && col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L))
              .as("low_line_count"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
                     CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                   THEN 1 ELSE 0 END) AS BIGINT)
                       AS high_line_count,
                     CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                                   THEN 1 ELSE 0 END) AS BIGINT)
                       AS low_line_count
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 60
              GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Q13: customer order-count distribution — the LEFT-JOIN-then-
    // histogram shape: orders per customer (zero included — the left
    // join's whole point) under a predicate pushed INTO the join
    // condition (not a WHERE, which would drop order-less customers),
    // then the distribution of those counts.
    Q("q13_order_count_distribution",
      (s, d) => {
        val ord = Tables.orders(s, d)
          .filter(col("o_orderpriority") =!= "5-LOW")
          .select("o_orderkey", "o_custkey")
        val perCust = Tables.customer(s, d).select("c_custkey")
          .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
        perCust.groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""WITH co AS (SELECT c_custkey, COUNT(o_orderkey) AS c_count
                          FROM customer
                          LEFT JOIN orders ON c_custkey = o_custkey
                                          AND o_orderpriority <> '5-LOW'
                          GROUP BY c_custkey)
              SELECT c_count, COUNT(*) AS custdist
              FROM co GROUP BY c_count
              ORDER BY custdist DESC, c_count DESC""")),

    // Q14: promo revenue share — two exact-decimal sums over one month
    // of the fact, one final double expression (100·promo/total, same
    // association order both sides).
    Q("q14_promo_revenue",
      (s, d) => {
        Tables.lineitem(s, d)
          .filter(col("l_shipdate").cast("date") >= lit("1997-09-01").cast("date")
            && col("l_shipdate").cast("date") < lit("1997-10-01").cast("date"))
          .select("l_partkey", "l_extendedprice", "l_discount")
          .join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
            col("l_partkey") === col("p_partkey"))
          .agg((lit(100.0)
              * dsum(when(col("p_type") === "PROMO",
                  expr("l_extendedprice * (1 - l_discount)")).otherwise(lit(0.0)), 4)
              / dsum(expr("l_extendedprice * (1 - l_discount)"), 4))
            .as("promo_revenue"))
      },
      Some(s"""SELECT CAST(100 AS DOUBLE)
                        * ${sqlDsum("CASE WHEN p_type = 'PROMO' " +
                          "THEN l_extendedprice * (1 - l_discount) " +
                          "ELSE 0.0 END", 4)}
                        / ${sqlDsum("l_extendedprice * (1 - l_discount)", 4)}
                        AS promo_revenue
               FROM lineitem JOIN part ON p_partkey = l_partkey
               WHERE CAST(l_shipdate AS DATE) >= DATE '1997-09-01'
                 AND CAST(l_shipdate AS DATE) < DATE '1997-10-01'""")),

    // Q16: supplier census per part descriptor — COUNT DISTINCT over the
    // fact-derived part↔supplier relation with a NOT-IN anti-join
    // (negative-balance suppliers stand in for the complaints list) and
    // a disjunctive dimension filter (brand exclusion + size IN-list).
    Q("q16_supplier_census",
      (s, d) => {
        val ps = Tables.lineitem(s, d)
          .select("l_partkey", "l_suppkey").distinct()
        val badSupp = Tables.supplier(s, d)
          .filter(col("s_acctbal") < 0).select("s_suppkey")
        val dims = Tables.part(s, d)
          .filter(col("p_brand") =!= "Brand#9" && col("p_type") =!= "PROMO"
            && col("p_size").isin(1, 5, 15, 25, 35))
          .select(col("p_partkey"), col("p_brand"), col("p_type"),
            col("p_size").cast("long").as("p_size"))
        ps.join(broadcast(badSupp),
            col("l_suppkey") === col("s_suppkey"), "left_anti")
          .join(broadcast(dims), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
            col("p_size"))
      },
      Some("""SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
                     COUNT(DISTINCT l_suppkey) AS supplier_cnt
              FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
              JOIN part ON p_partkey = l_partkey
              WHERE p_brand <> 'Brand#9' AND p_type <> 'PROMO'
                AND p_size IN (1, 5, 15, 25, 35)
                AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                      WHERE s_acctbal < 0)
              GROUP BY 1, 2, 3
              ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")),

    // Q20: excess shipments — the NESTED-IN shape: suppliers who moved
    // more than 50 units of any single 'red%' part during 1997. The
    // quantity cut is an exact DECIMAL comparison; the inner aggregate
    // is the only fact shuffle, the supplier list joins back as a
    // broadcast semi-join.
    Q("q20_excess_shipments",
      (s, d) => {
        val redParts = Tables.part(s, d)
          .filter(col("p_name").like("red%")).select("p_partkey")
        val heavy = Tables.lineitem(s, d)
          .filter(col("l_shipdate").cast("date") >= lit("1997-01-01").cast("date")
            && col("l_shipdate").cast("date") < lit("1998-01-01").cast("date"))
          .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_suppkey"), col("l_partkey"))
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
          .filter(col("qty") > lit(50))
          .select("l_suppkey").distinct()
        Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
              .select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
          .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select(col("s_suppkey"), col("s_name"), col("n_name"))
          .orderBy(col("s_suppkey"))
      },
      Some("""SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, n_name
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
              WHERE s_suppkey IN
                    (SELECT l_suppkey
                     FROM lineitem JOIN part ON p_partkey = l_partkey
                     WHERE p_name LIKE 'red%'
                       AND CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
                       AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
                     GROUP BY l_suppkey, l_partkey
                     HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 50)
              ORDER BY s_suppkey""")),

    // Q21: suppliers who kept orders waiting — the MULTI-EXISTS shape:
    // per FINISHED order, late lines (shipped >90 days after the order
    // date) whose supplier was the SOLE late shipper among multiple
    // involved suppliers. EXISTS → left-semi with a non-equi residual,
    // NOT EXISTS → left-anti; both against the distinct per-order
    // supplier sets, shuffled once on the order key.
    Q("q21_waiting_suppliers",
      (s, d) => {
        val ordF = Tables.orders(s, d)
          .filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate").cast("date").as("odate"))
        val lines = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"),
            col("l_shipdate").cast("date").as("ship"))
        // late feeds the main join and the late-supplier sets
        val late = lines
          .join(ordF, col("l_orderkey") === col("o_orderkey"))
          .filter(col("ship") > date_add(col("odate"), 90))
          .select("l_orderkey", "l_suppkey")
          .localCheckpoint()
        val orderSupp = lines.select(col("l_orderkey").as("ok2"),
          col("l_suppkey").as("sk2")).distinct()
        val lateSupp = late.select(col("l_orderkey").as("ok3"),
          col("l_suppkey").as("sk3")).distinct()
        late
          .join(orderSupp, col("l_orderkey") === col("ok2")
            && col("l_suppkey") =!= col("sk2"), "left_semi")
          .join(lateSupp, col("l_orderkey") === col("ok3")
            && col("l_suppkey") =!= col("sk3"), "left_anti")
          .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(20)
      },
      Some("""SELECT s_name, COUNT(*) AS numwait
              FROM lineitem l1
              JOIN orders ON o_orderkey = l1.l_orderkey
              JOIN supplier ON s_suppkey = l1.l_suppkey
              WHERE o_orderstatus = 'F'
                AND CAST(l1.l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 90
                AND EXISTS (SELECT 1 FROM lineitem l2
                            WHERE l2.l_orderkey = l1.l_orderkey
                              AND l2.l_suppkey <> l1.l_suppkey)
                AND NOT EXISTS (SELECT 1 FROM lineitem l3
                                JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                                WHERE l3.l_orderkey = l1.l_orderkey
                                  AND l3.l_suppkey <> l1.l_suppkey
                                  AND o3.o_orderstatus = 'F'
                                  AND CAST(l3.l_shipdate AS DATE)
                                      > CAST(o3.o_orderdate AS DATE) + 90)
              GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20"""))
  )
}
