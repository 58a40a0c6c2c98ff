package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting by canonical edge orientation — the
  * standard two-join formulation (Suri & Vassilvitskii, "Counting
  * Triangles and the Curse of the Last Reducer", WWW 2011): orient every
  * undirected edge low-id → high-id, then a triangle a<b<c is counted
  * EXACTLY ONCE as the closure of (a,b)·(b,c) by (a,c). Two equi-joins,
  * no distinct pass, no per-triangle dedup.
  *
  * Everything is BIGINT equality and COUNT, so the whole computation sits
  * under the cross-engine hash gate verbatim.
  *
  * Scale: the wedge join (ab ⋈ bc on b) is the quadratic step — its size
  * is Σ_b deg⁺(b)², which the id orientation bounds far below Σ deg² on
  * skewed graphs when ids are assigned ascending-by-degree (the paper's
  * degree-orientation trick; callers with power-law graphs should pass
  * degree-ranked ids). Both joins shuffle on a single key; AQE handles
  * residual skew. No driver-side state.
  */
object Triangles {

  /** Per-node triangle participation counts over an ORIENTED edge list
    * (src < dst, distinct). Returns (node, tri) for every node in at
    * least one triangle. */
  def perNode(oriented: DataFrame): DataFrame = {
    // the edge list is read three times by the returned plan
    val e = oriented.select(col("src").cast("long"), col("dst").cast("long"))
      .localCheckpoint()
    val tri = e.as("ab")
      .join(e.as("bc"), col("ab.dst") === col("bc.src"))
      .join(e.as("ac"),
        col("ac.src") === col("ab.src") && col("ac.dst") === col("bc.dst"))
      .select(col("ab.src").as("a"), col("ab.dst").as("b"),
        col("bc.dst").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
  }
}
