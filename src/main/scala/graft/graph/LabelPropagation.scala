package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Min-label propagation — the second canonical iterative graph workload
  * after [[PageRank]]: every node starts labeled with its own id and each
  * round takes the minimum label over itself and its in-neighbors
  * (`label_i(v) = min(label_{i-1}(v), min over (u,v)∈E of label_{i-1}(u))`).
  * On a symmetrized edge list, round k gives every node the minimum node id
  * within graph distance k; run to convergence it IS connected components
  * (the HashMin algorithm — see Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC 2014, whose large-star/small-star variant
  * powers [[graft.dedup.Clusters]] with O(log n) rounds).
  *
  * The fixed-round form here exists for the cross-engine gate: all label
  * arithmetic is BIGINT MIN — exact and associative in any engine — so a
  * DuckDB oracle replays the identical rounds as a CTE chain and the final
  * assignment sits verbatim under the hash (the PageRank nano-unit
  * discipline, with MIN needing no fixed-point tricks at all).
  *
  * Scale shape per round: one equi-join of the edge list against the
  * current label table on the source node and ONE shuffle — the MIN
  * aggregation on the destination. The "min over self AND neighbors"
  * is folded into SELF-LOOP edges added once, so each round references
  * the previous label frame EXACTLY ONCE — a `labels.union(join(labels))`
  * form references it twice and the DAG doubles per round (measured
  * 9.3 s vs 1.4 s at 4 rounds on the sf0.1 co-purchase graph; exchange
  * reuse does not reliably dedupe the twin subtree under AQE). The
  * linear chain then needs no per-round materialization: rounds between
  * checkpoints are a shuffle pipeline the engine executes once per
  * action, and labels localCheckpoint only every 8th round to bound
  * PLAN depth (per-round checkpointing measured 4× the round cost).
  * At 100 TB: bucket the edge list by src so the per-round join is
  * co-partitioned, and prefer the large-star/small-star form when the
  * diameter is unknown.
  */
object LabelPropagation {

  /** Self-loop-augmented edge list + initial self-labels + one min-label
    * round — the shared setup of both iteration forms. */
  private def prepared(edges: DataFrame, srcCol: String, dstCol: String)
      : (DataFrame => DataFrame, DataFrame) = {
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val nodes = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    val n = nodes.count()
    // Per-round join strategy + iterated-side partitioning picked from
    // the counts the setup already materializes (r16 — the PageRank g5
    // treatment, guide §2/§3.1): the label frame is two BIGINTs per
    // node, so while it fits a broadcast every round is a broadcast-hash
    // join over the materialized edge list — no per-round sort or edge
    // exchange; and that edge list is hash-repartitioned on `src`
    // to ~1M rows/partition so a tiny graph's rounds do not pay 32
    // near-empty task launches each.
    val bcast = n <= PageRank.BroadcastNodeLimit
    // self-loops carry each node's own label through the round's MIN.
    // The raw union is deliberately NOT materialized (review r16): only
    // the repartitioned frame is the iteration's working set, so keeping
    // the raw copy too would pin 2× the edge list for the whole run — the
    // sizing count below pays one extra narrow pass over the input
    // instead (nodes is already materialized).
    val eRaw =
      e0.union(nodes.select(col("node").as("src"), col("node").as("dst")))
    val eParts = math.max(1L, math.min(
      edges.sparkSession.sparkContext.defaultParallelism.toLong,
      eRaw.count() / PageRank.EdgesPerPartition + 1L)).toInt
    val e = eRaw.repartition(eParts, col("src")).localCheckpoint()
    val step = (labels: DataFrame) => {
      val l = labels.withColumnRenamed("node", "src")
      e.join(if (bcast) broadcast(l) else l, "src")
        .groupBy(col("dst").as("node")).agg(min("comp").as("comp"))
    }
    (step, nodes.withColumn("comp", col("node")))
  }

  /** Run `iters` min-label rounds over `edges` (src, dst — already
    * distinct; pass a symmetrized list for undirected semantics).
    * Returns (node, comp) for every node appearing in the edge list. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    val (step, init) = prepared(edges, srcCol, dstCol)
    Iterate.fixedRounds(init, iters)(step)
  }

  /** Run to CONVERGENCE — connected components by HashMin: iterate until
    * no node's label changed in a round (labels only decrease, so a
    * zero-change round IS the fixpoint), or `maxIters`. Rounds needed =
    * the largest distance from any node to its component's minimum, so
    * prefer [[graft.dedup.Clusters]]' large-star/small-star (O(log n)
    * rounds) on graphs whose diameter is unknown. Returns
    * ((node, comp), roundsRun) — roundsRun includes the final
    * zero-change probe round. */
  def runUntil(edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int): (DataFrame, Int) = {
    val (step, init) = prepared(edges, srcCol, dstCol)
    Iterate.untilFixpoint(init, maxIters)(step) { (prev, next) =>
      prev.select(col("node"), col("comp").as("p"))
        .join(next.select(col("node"), col("comp").as("q")), "node")
        .filter(col("p") =!= col("q")).limit(1).count() == 0L
    }
  }
}
