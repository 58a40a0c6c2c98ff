package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank (Brin & Page 1998) in FIXED-POINT integer
  * arithmetic — the canonical iterative graph workload, expressed so the
  * fit itself sits under a cross-engine hash gate (the Dsir/NgramLm
  * nano-unit discipline): ranks are BIGINT nano-units (×10⁹), a node's
  * per-edge contribution is `rank_nano div degree` (floor division —
  * exact in any engine), the damping step is `(Σ contrib × 17) div 20`
  * (0.85 as a rational), and the teleport term is `(0.15 × 10⁹) div N`.
  * Zero float surface anywhere in the iteration, so aggregation order
  * can never perturb a single bit; a real-valued `rank` column is
  * derived once at the end. (Floor-division mass loss is ≤ 1 nano-unit
  * per edge per iteration — the fixed-point analog of float rounding,
  * identical in both engines by construction.)
  *
  * Scale shape per iteration (the classic one): one equi-join of the
  * edge list against the current rank table (both keyed on the source
  * node) and ONE shuffle — the contribution aggregation on the
  * destination node. The edge+degree table is built once and
  * localCheckpointed; the rank frame is eagerly localCheckpointed per
  * iteration so plan depth stays constant in the iteration count (the
  * t33 lineage rule).
  * At 100 TB the same plan holds with the edge list bucketed by source
  * so the per-iteration join is co-partitioned.
  *
  * Dangling nodes: callers pass a symmetrized edge list when they want
  * none (an undirected graph has outdegree ≥ 1 everywhere); with
  * directed edges, dangling mass simply leaks (the standard simplified
  * variant) — document per use.
  */
object PageRank {

  /** Largest node count for which the per-round rank frame is broadcast
    * into the edge join (§3.1): a rank row is two BIGINTs (~50-60 B in
    * the built hash relation), so 2²⁰ nodes ≈ 60 MB per executor — safe
    * on any reasonable driver, far under Spark's 8 GB broadcast cap.
    * Graphs beyond it keep the shuffle join. */
  val BroadcastNodeLimit: Long = 1L << 20

  /** Edge rows per materialized partition of the iterated edge+degree
    * table — sized so one per-round task does ~1M hash probes (tens of ms of
    * real work, well above task-launch overhead) while 100 TB-scale
    * edge lists still fan out to the parallelism cap. */
  val EdgesPerPartition: Long = 1L << 20

  /** Edge list + degrees + initial uniform rank — the shared setup of
    * both iteration forms. Returns (step, init) where step is ONE
    * fixed-point round (one edge⋈rank equi-join + one dst shuffle,
    * referencing the rank frame exactly once — the [[Iterate]] rule). */
  private def prepared(edges: DataFrame, srcCol: String, dstCol: String)
      : (DataFrame => DataFrame, DataFrame) = {
    // the raw edge list feeds three jobs here (the count, the edge+degree
    // table and the node set), so it is materialized once
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .localCheckpoint()
    // Scale-adaptive partitioning for the ITERATED side (guide §2): the
    // materialized edge+degree table is scanned once per round, so its
    // partition count is a per-round task-count multiplier — inheriting
    // spark.sql.shuffle.partitions left 32 near-empty cached partitions
    // at sf0.1 and the 10-round g5 spent more wall-clock on task launch
    // than on rows (measured: 32-core run 3.3× SLOWER than 8-core on
    // identical data). Derive the count from the measured edge count
    // instead (~1M edges/partition ≈ tens of MB), floored at 1, capped
    // at the session's parallelism so big graphs keep every core busy.
    val eCnt = e.count()
    val edParts = math.max(1L, math.min(
      edges.sparkSession.sparkContext.defaultParallelism.toLong,
      eCnt / PageRank.EdgesPerPartition + 1L)).toInt
    // degree folded INTO the materialized edge list ONCE — each round is
    // then a single edge⋈rank join instead of re-paying the e⋈deg join
    // every iteration (measured ~2× on the 10-round g5 row); the window
    // avoids a second scan-and-shuffle of e to build a separate deg
    // table, and the explicit hash repartition on `src` IS the window's
    // required partitioning, so the window adds no second exchange
    // `ed` and `nodes` are read by every round of the returned lazy
    // chain, so both are materialized here; `e` is then unreachable once
    // this method returns, and its blocks go with it
    val ed = e.repartition(edParts, col("src"))
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    val n = nodes.count()
    require(n > 0, "empty graph")
    val teleportNano = 150000000L / n // (0.15 × 10⁹) ÷ N, floor — exact
    // Join strategy is picked HERE, from the node count the setup already
    // paid for (guide §3.1): the rank frame is O(|V|) slim (two BIGINTs),
    // so while it fits a broadcast, hinting it makes every round a
    // broadcast-hash join — the materialized edge list is scanned in
    // place, never re-sorted or re-exchanged. Without the hint Catalyst
    // estimates the post-aggregation rank frame above the auto-broadcast
    // threshold and plans a per-round SortMergeJoin: measured 7.5 s for
    // the 10-round g5 at local[32]/sf0.1 vs 3.6 s once AQE converted the
    // joins to broadcast at runtime — and the hint moves the decision to
    // plan time, where every round (not just re-planned stages) gets it.
    // Past the limit (~1M nodes ≈ tens of MB hashed) the rank frame is
    // no longer broadcastable and the SMJ shape is the right one — at
    // that scale per-round sort cost is dwarfed by the edge join itself.
    val bcastRanks = n <= PageRank.BroadcastNodeLimit
    val step = (ranks: DataFrame) => {
      val r = ranks.withColumnRenamed("node", "src")
      ed
      .join(if (bcastRanks) broadcast(r) else r, "src")
      .select(col("dst").as("node"),
        expr("rank_nano div deg").as("c")) // BIGINT floor div, exact
      .groupBy("node")
      .agg(sum(col("c")).as("s"))
      .select(col("node"),
        (lit(teleportNano) + expr("(s * 17) div 20")).as("rank_nano"))
    }
    (step, nodes.withColumn("rank_nano", lit(1000000000L / n)))
  }

  /** Run `iters` fixed-point iterations over `edges` (src, dst — already
    * distinct). Returns (node, rank_nano, rank) for every node appearing
    * in the edge list. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    val (step, init) = prepared(edges, srcCol, dstCol)
    withRank(Iterate.fixedRounds(init, iters)(step))
  }

  /** Run to CONVERGENCE: iterate until no node's rank moved by more than
    * `tolNano` nano-units in a round (max-norm — the standard PageRank
    * stopping rule, exact here because ranks are integers), or `maxIters`
    * rounds ran. Returns (ranks, roundsRun). The probe is one
    * prev⋈next equi-join + a max aggregate per round — O(|V|), never
    * touching the edge list. */
  def runUntil(edges: DataFrame, srcCol: String, dstCol: String,
      tolNano: Long, maxIters: Int): (DataFrame, Int) = {
    require(tolNano >= 0, s"tolNano: $tolNano")
    val (step, init) = prepared(edges, srcCol, dstCol)
    val (ranks, rounds) = Iterate.untilFixpoint(init, maxIters)(step) {
      (prev, next) => maxDeltaNano(prev, next) <= tolNano
    }
    (withRank(ranks), rounds)
  }

  /** Largest per-node |rank_nano| move between two rank frames. FULL
    * OUTER + coalesce(0): on a symmetrized graph both frames carry every
    * node, but with DIRECTED edges (documented-supported — dangling mass
    * leaks) a zero-in-degree node VANISHES from the next round's frame;
    * its delta is then its whole previous rank, and a node the frames
    * merely disagree on must never be silently excluded from the max
    * (an inner join would declare convergence while the node set still
    * shrinks — or NPE outright when a round empties the frame). */
  def maxDeltaNano(prev: DataFrame, next: DataFrame): Long = {
    val row = prev.select(col("node"), col("rank_nano").as("p"))
      .join(next.select(col("node"), col("rank_nano").as("q")),
        Seq("node"), "full_outer")
      .agg(max(abs(coalesce(col("q"), lit(0L)) - coalesce(col("p"), lit(0L))))
        .as("d"))
      .collect()(0)
    if (row.isNullAt(0)) 0L else row.getLong(0) // both empty → converged
  }

  private def withRank(ranks: DataFrame): DataFrame =
    ranks.select(col("node"), col("rank_nano"),
      round(col("rank_nano").cast("double") / 1e9, 9).as("rank"))
}
