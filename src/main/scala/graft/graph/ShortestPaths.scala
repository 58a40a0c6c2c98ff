package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-round single-source shortest paths over the min-plus semiring —
  * the third canonical iterative graph workload after [[PageRank]]
  * (sum-product) and [[LabelPropagation]] (min over labels): each round
  * is one Bellman-Ford relaxation,
  * `dist_i(v) = min(dist_{i-1}(v), min over (u,v)∈E of dist_{i-1}(u) + w(u,v))`,
  * so after k rounds every node holds the exact shortest distance over
  * paths of ≤ k edges. Distances and weights are BIGINT throughout —
  * min-plus is exact and associative in any engine, so a DuckDB oracle
  * replays the identical rounds as a CTE chain and the final distance
  * table sits verbatim under the cross-engine hash.
  *
  * The frontier table is SPARSE: only reached nodes carry a row, so
  * round cost is one equi-join of the edge list against the reached set
  * plus ONE min-shuffle on the destination — unreached regions of a
  * 100 TB graph are never touched (unlike the dense label table of
  * [[LabelPropagation]], where every node starts labeled). The
  * carry-my-own-distance term folds into weight-0 SELF-LOOPS added
  * once, keeping each round a single reference to the previous frame —
  * the same linear-chain discipline as LabelPropagation (a union form
  * references it twice and doubles the DAG per round, measured 6.6×
  * there); localCheckpoint every 8th round bounds plan depth.
  */
object ShortestPaths {

  /** Run `iters` relaxation rounds over `edges` (src, dst, w — already
    * symmetrized for undirected semantics; w ≥ 0 BIGINT) from the
    * `sources` frame (one `node` column, dist 0). Returns (node, dist)
    * for every node reachable within `iters` edges. */
  def run(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      sources: DataFrame, iters: Int): DataFrame = {
    val (step, init) = prepared(edges, srcCol, dstCol, wCol, sources)
    Iterate.fixedRounds(init, iters)(step)
  }

  /** Run to CONVERGENCE (full Bellman-Ford): iterate until a round
    * neither reaches a new node nor improves a distance — with
    * non-negative weights that round IS the fixpoint — or `maxIters`.
    * The probe is one next⋈prev left-join + count per round over the
    * REACHED set only (the frontier sparsity carries over). Returns
    * ((node, dist), roundsRun). */
  def runUntil(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, sources: DataFrame, maxIters: Int): (DataFrame, Int) = {
    val (step, init) = prepared(edges, srcCol, dstCol, wCol, sources)
    Iterate.untilFixpoint(init, maxIters)(step) { (prev, next) =>
      // improved = newly reached (no prev row) OR strictly smaller dist;
      // dist never increases, so zero improvements ends the iteration
      next.select(col("node"), col("dist").as("q"))
        .join(prev.select(col("node"), col("dist").as("p")), Seq("node"),
          "left_outer")
        .filter(col("p").isNull || col("q") < col("p"))
        .limit(1).count() == 0L
    }
  }

  /** Weight-0-self-loop-augmented edge list + (sources, 0) frontier +
    * one relaxation round — the shared setup of both iteration forms. */
  private def prepared(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, sources: DataFrame)
      : (DataFrame => DataFrame, DataFrame) = {
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"), col(wCol).cast("long").as("w"))
    val srcNodes = sources.select(col("node").cast("long").as("node"))
    // self-loop set = edge endpoints ∪ SOURCES: an edgeless source must
    // still carry its own (node, 0) row through every round, or the
    // documented contract (the source itself is reachable at 0 edges)
    // silently drops it at the first join
    val nodes = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node")))
      .union(srcNodes).distinct()
      .localCheckpoint()
    val n = nodes.count()
    // Per-round join strategy + iterated-side partitioning from the
    // setup's own counts (r16 — the PageRank g5 treatment, guide
    // §2/§3.1). The frontier is SPARSE (≤ nodes rows of two BIGINTs),
    // so the node count bounds the broadcast safely; the materialized
    // edge list is hash-repartitioned on `src` to ~1M rows/partition so
    // small graphs' rounds stop paying near-empty task launches.
    val bcast = n <= PageRank.BroadcastNodeLimit
    // weight-0 self-loops: a reached node relaxes itself each round.
    // The raw union is deliberately NOT materialized (review r16): only
    // the repartitioned frame is the iteration's working set — keeping the
    // raw copy too would pin 2× the edge list; the sizing count pays one
    // extra narrow pass over the input instead.
    val eRaw =
      e0.union(nodes.select(col("node").as("src"), col("node").as("dst"),
        lit(0L).as("w")))
    val eParts = math.max(1L, math.min(
      edges.sparkSession.sparkContext.defaultParallelism.toLong,
      eRaw.count() / PageRank.EdgesPerPartition + 1L)).toInt
    val e = eRaw.repartition(eParts, col("src")).localCheckpoint()
    val step = (dist: DataFrame) => {
      val d = dist.withColumnRenamed("node", "src")
      e.join(if (bcast) broadcast(d) else d, "src")
        .groupBy(col("dst").as("node"))
        .agg(min(col("dist") + col("w")).as("dist"))
    }
    (step, srcNodes.select(col("node"), lit(0L).as("dist")))
  }
}
