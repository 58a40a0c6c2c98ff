package graft.queries

import org.apache.spark.sql.functions._
import graft.io.Tables

/** Graph algorithms over relational data — the iterative-workload family
  * beyond t9's connected components: PageRank over the customer↔supplier
  * trade graph, in the fixed-point integer discipline that lets the
  * ITERATION itself sit under the DuckDB hash gate (see
  * [[graft.graph.PageRank]]).
  *
  * Oracle type discipline (the r11 g-family hash-fail root cause):
  * DuckDB's SUM over BIGINT returns HUGEINT (int128), which the
  * pandas bridge renders as float64 — check.py's value-equality compare
  * accepts 123 == 123.0 but the driver's hasher formats the two
  * differently ("123" vs "123.0") and hash-fails with rows+schema green.
  * So every integer aggregate that reaches a gated output column is
  * CAST(... AS BIGINT), and no derived DOUBLE sits on a gated surface.
  */
object GraphQueries {

  /** Part co-purchase graph over a deterministic 10% order sample:
    * an (undirected, id-oriented src<dst) edge per distinct part pair
    * co-occurring in a sampled order. Sparse by construction (~6 pairs
    * per order, part space large), so wedge counts stay linear in sf —
    * the full co-order graph is near-complete at sf0.1 and was measured
    * quadratic (274M wedges), hence the sample. */
  private def partCoOrderEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val os = Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").cast("long").as("p"))
      .distinct()
    os.as("a").join(os.as("b"), col("a.o") === col("b.o")
        && col("a.p") < col("b.p"))
      .select(col("a.p").as("src"), col("b.p").as("dst")).distinct()
  }

  private val edgesSql: String =
    """os AS (SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p
              FROM lineitem WHERE l_orderkey % 10 = 0),
       e0 AS (SELECT DISTINCT a.p AS src, b.p AS dst
              FROM os a JOIN os b ON a.o = b.o AND a.p < b.p)"""

  val all: Seq[Q] = Seq(

    // G2: connected components as fixed-round min-label propagation over
    // the symmetrized part co-purchase graph. Four rounds (deliberately
    // short of convergence on the giant component — the gate pins the
    // ROUND SEMANTICS, not just the fixpoint): every node carries the
    // minimum node id within distance 4, all arithmetic BIGINT MIN, so
    // the oracle replays the identical rounds as a CTE chain and the
    // per-label census (count + min/max/sum of members — membership-
    // pinning without dumping every node) matches verbatim.
    Q("g2_label_propagation",
      (s, d) => {
        val e0 = partCoOrderEdges(s, d)
        val sym = e0.unionAll(
          e0.select(col("dst").as("src"), col("src").as("dst")))
        graft.graph.LabelPropagation.run(sym, "src", "dst", iters = 4)
          .groupBy("comp")
          .agg(count(lit(1)).as("n_nodes"),
            min("node").as("min_node"), max("node").as("max_node"),
            sum("node").as("sum_node"))
          .orderBy(col("n_nodes").desc, col("comp"))
      },
      Some {
        def round(i: Int): String = {
          val prev = s"l${i - 1}"
          s"""l$i AS (SELECT node, MIN(comp) AS comp FROM (
                        SELECT node, comp FROM $prev
                        UNION ALL
                        SELECT e.dst AS node, $prev.comp
                        FROM e JOIN $prev ON $prev.node = e.src)
                      GROUP BY node)"""
        }
        s"""WITH $edgesSql,
                e AS (SELECT src, dst FROM e0
                      UNION ALL SELECT dst, src FROM e0),
                l0 AS (SELECT DISTINCT src AS node, src AS comp FROM e),
                ${round(1)}, ${round(2)}, ${round(3)}, ${round(4)}
           SELECT comp, COUNT(*) AS n_nodes, MIN(node) AS min_node,
                  MAX(node) AS max_node, CAST(SUM(node) AS BIGINT) AS sum_node
           FROM l4 GROUP BY comp ORDER BY n_nodes DESC, comp"""
      }),

    // G3: triangle counting by canonical id orientation (Suri &
    // Vassilvitskii WWW'11) — two equi-joins count each triangle a<b<c
    // exactly once; per-node participation by exploding the corners.
    // Top-20 busiest nodes plus the global count (Σ tri div 3), all
    // BIGINT — the whole computation under the hash gate.
    Q("g3_triangle_count",
      (s, d) => {
        val perNode = graft.graph.Triangles.perNode(partCoOrderEdges(s, d))
        val total = perNode.agg(expr("sum(tri) div 3").as("total_tri"))
        perNode.crossJoin(broadcast(total))
          .orderBy(col("tri").desc, col("node"))
          .limit(20)
      },
      Some(s"""WITH $edgesSql,
                tri AS (SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
                        FROM e0 ab
                        JOIN e0 bc ON ab.dst = bc.src
                        JOIN e0 ac ON ac.src = ab.src AND ac.dst = bc.dst),
                pn AS (SELECT node, COUNT(*) AS tri FROM (
                         SELECT a AS node FROM tri
                         UNION ALL SELECT b FROM tri
                         UNION ALL SELECT c FROM tri)
                       GROUP BY node),
                tot AS (SELECT CAST(SUM(tri) // 3 AS BIGINT) AS total_tri FROM pn)
           SELECT node, tri, total_tri FROM pn CROSS JOIN tot
           ORDER BY tri DESC, node LIMIT 20""")),

    // G1: PageRank (3 fixed-point iterations) over the symmetrized
    // customer↔supplier trade graph (an edge per distinct trading pair
    // from orders ⋈ lineitem; node ids disjointified as 2·cust / 2·supp+1).
    // Every iteration is EXACT BIGINT arithmetic (contribution =
    // rank_nano div degree, damping = ·17 div 20, teleport =
    // 0.15e9 div N — zero float surface, the Dsir/t32 discipline), so
    // the oracle replays all three iterations as a CTE chain and the
    // gated surface is the top-20 rank_nano values VERBATIM — a single
    // bit of aggregation-order drift anywhere in the fit would
    // hash-fail. Symmetrized edges mean no dangling mass; per iteration
    // the plan is one edge⋈rank equi-join + one shuffle on the
    // destination (the canonical distributed-PageRank shape, edge list
    // and ranks localCheckpointed).
    Q("g1_pagerank",
      (s, d) => {
        val edges0 = Tables.orders(s, d)
          .select(col("o_orderkey").cast("long").as("ok"),
            (col("o_custkey").cast("long") * 2L).as("src"))
          .join(Tables.lineitem(s, d)
            .select(col("l_orderkey").cast("long").as("ok"),
              (col("l_suppkey").cast("long") * 2L + 1L).as("dst")), "ok")
          .select("src", "dst").distinct()
        val sym = edges0.unionAll(
          edges0.select(col("dst").as("src"), col("src").as("dst")))
        // gated surface is BIGINT-only: the derived real-valued `rank`
        // is dropped here (DuckDB's ROUND/double formatting is the one
        // engine-specific surface in the family; rank_nano pins the same
        // information exactly)
        graft.graph.PageRank.run(sym, "src", "dst", iters = 3)
          .select(col("node"), col("rank_nano"))
          .orderBy(col("rank_nano").desc, col("node"))
          .limit(20)
      },
      Some {
        def iter(i: Int): String = {
          val prev = if (i == 1) "r0" else s"r${i - 1}"
          s"""r$i AS (SELECT e.dst AS node,
                             CAST(t.t + (SUM($prev.rank_nano // deg.deg) * 17) // 20
                               AS BIGINT) AS rank_nano
                      FROM e
                      JOIN deg ON deg.src = e.src
                      JOIN $prev ON $prev.node = e.src
                      CROSS JOIN t
                      GROUP BY e.dst, t.t)"""
        }
        s"""WITH e0 AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) * 2 AS src,
                               CAST(l_suppkey AS BIGINT) * 2 + 1 AS dst
                        FROM orders
                        JOIN lineitem ON l_orderkey = o_orderkey),
                e AS (SELECT src, dst FROM e0
                      UNION ALL SELECT dst, src FROM e0),
                deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
                nodes AS (SELECT DISTINCT src AS node FROM e),
                n AS (SELECT COUNT(*) AS n FROM nodes),
                t AS (SELECT 150000000 // n AS t FROM n),
                r0 AS (SELECT node, 1000000000 // n.n AS rank_nano
                       FROM nodes, n),
                ${iter(1)},
                ${iter(2)},
                ${iter(3)}
           SELECT node, rank_nano
           FROM r3
           ORDER BY rank_nano DESC, node LIMIT 20"""
      }),

    // G5: DEEP PageRank — 10 rounds, crossing the Iterate checkpoint
    // boundary (localCheckpoint fires at round 8), so the truncate-and-
    // continue path itself sits under the cross-engine hash: a
    // checkpoint that perturbed (or dropped) a single rank unit would
    // flip the verbatim top-20 against the oracle's 10-round CTE chain.
    // Same trade graph and fixed-point discipline as g1.
    Q("g5_pagerank_deep",
      (s, d) => {
        val edges0 = Tables.orders(s, d)
          .select(col("o_orderkey").cast("long").as("ok"),
            (col("o_custkey").cast("long") * 2L).as("src"))
          .join(Tables.lineitem(s, d)
            .select(col("l_orderkey").cast("long").as("ok"),
              (col("l_suppkey").cast("long") * 2L + 1L).as("dst")), "ok")
          .select("src", "dst").distinct()
        val sym = edges0.unionAll(
          edges0.select(col("dst").as("src"), col("src").as("dst")))
        graft.graph.PageRank.run(sym, "src", "dst", iters = 10)
          .select(col("node"), col("rank_nano"))
          .orderBy(col("rank_nano").desc, col("node"))
          .limit(20)
      },
      Some {
        def iter(i: Int): String = {
          val prev = if (i == 1) "r0" else s"r${i - 1}"
          s"""r$i AS (SELECT e.dst AS node,
                             CAST(t.t + (SUM($prev.rank_nano // deg.deg) * 17) // 20
                               AS BIGINT) AS rank_nano
                      FROM e
                      JOIN deg ON deg.src = e.src
                      JOIN $prev ON $prev.node = e.src
                      CROSS JOIN t
                      GROUP BY e.dst, t.t)"""
        }
        s"""WITH e0 AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) * 2 AS src,
                               CAST(l_suppkey AS BIGINT) * 2 + 1 AS dst
                        FROM orders
                        JOIN lineitem ON l_orderkey = o_orderkey),
                e AS (SELECT src, dst FROM e0
                      UNION ALL SELECT dst, src FROM e0),
                deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
                nodes AS (SELECT DISTINCT src AS node FROM e),
                n AS (SELECT COUNT(*) AS n FROM nodes),
                t AS (SELECT 150000000 // n AS t FROM n),
                r0 AS (SELECT node, 1000000000 // n.n AS rank_nano
                       FROM nodes, n),
                ${(1 to 10).map(iter).mkString(",\n                ")}
           SELECT node, rank_nano
           FROM r10
           ORDER BY rank_nano DESC, node LIMIT 20"""
      }),

    // G4: single-source shortest paths (4 Bellman-Ford relaxation
    // rounds) over the weighted, symmetrized part co-purchase graph —
    // the min-plus semiring workload completing the iterative triple
    // (PageRank sum-product, min-label, min-plus). Weights are the
    // deterministic integer 1 + (src+dst) % 5 (symmetric by
    // construction), the source is the minimum node id, and every round
    // is exact BIGINT min — the oracle replays all four rounds as a CTE
    // chain and the distance census (per-distance count + min/max/sum
    // of node ids — membership-pinning without dumping every node)
    // matches verbatim. The frontier is sparse: unreached nodes carry
    // no row, so each round touches only the reached neighborhood.
    Q("g4_shortest_paths",
      (s, d) => {
        val e0 = partCoOrderEdges(s, d)
        val sym = e0.unionAll(
          e0.select(col("dst").as("src"), col("src").as("dst")))
          .withColumn("w", lit(1L) + (col("src") + col("dst")) % 5L)
        val source = sym.agg(min(col("src")).as("node"))
        graft.graph.ShortestPaths.run(sym, "src", "dst", "w", source,
            iters = 4)
          .groupBy("dist")
          .agg(count(lit(1)).as("n_nodes"),
            min("node").as("min_node"), max("node").as("max_node"),
            sum("node").as("sum_node"))
          .orderBy("dist")
      },
      Some {
        def round(i: Int): String = {
          val prev = s"d${i - 1}"
          s"""d$i AS (SELECT node, MIN(dist) AS dist FROM (
                        SELECT node, dist FROM $prev
                        UNION ALL
                        SELECT e.dst AS node, $prev.dist + e.w AS dist
                        FROM e JOIN $prev ON $prev.node = e.src)
                      GROUP BY node)"""
        }
        s"""WITH $edgesSql,
                e AS (SELECT src, dst, 1 + (src + dst) % 5 AS w FROM e0
                      UNION ALL
                      SELECT dst, src, 1 + (src + dst) % 5 FROM e0),
                d0 AS (SELECT MIN(src) AS node, CAST(0 AS BIGINT) AS dist
                       FROM e),
                ${round(1)}, ${round(2)}, ${round(3)}, ${round(4)}
           SELECT dist, COUNT(*) AS n_nodes, MIN(node) AS min_node,
                  MAX(node) AS max_node, CAST(SUM(node) AS BIGINT) AS sum_node
           FROM d4 GROUP BY dist ORDER BY dist"""
      })
  )
}
