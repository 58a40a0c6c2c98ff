package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic Lloyd k-means over cosine similarity — the TRAINING half
  * of the IVF story (emb6/emb15 consume a codebook; this is where one
  * comes from). Spherical-k-means shape: assignment maximizes cosine to a
  * centroid, the update is the per-cluster coordinate mean (cosine is
  * scale-invariant, so the unnormalized mean is equivalent to the
  * normalized mean direction — the classic spherical Lloyd step, which
  * makes the summed-cosine objective non-decreasing per iteration).
  *
  * Everything is engine-replayable, unlike an MLlib `KMeans` fit:
  * initialization is the k lowest-id vectors (no RNG), ties in the argmax
  * break toward the lower centroid id, and updated centroids are rounded
  * to 6 decimals at source (the emb2/emb7 codebook convention), so a SQL
  * oracle can replay every iteration as a CTE chain and the final
  * assignment hash-matches. Production at 100 TB trains on a SAMPLE
  * (k-means cost is per-iteration linear in rows × k; a few million
  * sampled vectors pin centroids for a 10^11-vector corpus) and hands the
  * codebook to [[Ivf]]; the mechanism here is that trainer with the
  * determinism dial turned all the way up.
  *
  * Scale shape per iteration: one broadcast of the k×d codebook against a
  * corpus scan (skinny argmax through a `__vid`-partitioned window), one
  * k×d-bounded aggregation for the update. No driver collect; the
  * centroid frame is localCheckpointed per iteration so plan depth stays
  * constant in `iters` (the t33 lineage rule).
  */
object Kmeans {

  /** One Lloyd ASSIGNMENT: every vector to its max-cosine centroid, ties
    * to the lower centroid id. Input frames carry (__vid, __v) and
    * (c_id, centroid). Returns (__vid, cluster, __cos). */
  private[similarity] def assign(emb: DataFrame, centroids: DataFrame): DataFrame = {
    // norms precompute per ROW (the Ann package invariant): k per-pair
    // vector-norm recomputes per Lloyd iteration would triple the
    // dominant k×n scoring cost
    val scored = emb.withColumn("__vn", Ann.norm(col("__v")))
      .crossJoin(broadcast(
        centroids.withColumn("__cn", Ann.norm(col("centroid")))))
      .select(col("__vid"), col("c_id"),
        Ann.cosineOrZero(Ann.dot(col("__v"), col("centroid")),
          col("__vn"), col("__cn")).as("__cos"))
    val w = Window.partitionBy("__vid").orderBy(col("__cos").desc, col("c_id"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("__vid"), col("c_id").as("cluster"), col("__cos"))
  }

  /** One Lloyd UPDATE: per-cluster per-dimension mean, rounded to 6
    * decimals at source (engine-portable codebook). A cluster that lost
    * all members simply drops out of the codebook — both engines replay
    * that identically. */
  private def update(emb: DataFrame, assignment: DataFrame): DataFrame =
    emb.join(assignment.select("__vid", "cluster"), "__vid")
      .select(col("cluster"), posexplode(col("__v")).as(Seq("dim", "v")))
      .groupBy("cluster", "dim")
      .agg(round(avg(col("v")), 6).as("cv"))
      .groupBy(col("cluster").as("c_id"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
        x => x("cv")).as("centroid"))

  /** Run `iters` Lloyd iterations (each = assign, then — except after the
    * last — update). Initial centroids are the k LOWEST-id vectors, cast
    * to double verbatim (exact in both engines; centroid ids are the
    * source vector ids — arbitrary labels, dense or sparse). Fails
    * loudly when the corpus has fewer than k vectors. Returns the FINAL
    * assignment (id, cluster, cos): each vector's cluster and its cosine
    * to the centroid it was scored against in that final assignment. */
  def lloyd(emb0: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): DataFrame =
    lloydWithCodebook(emb0, idCol, vecCol, k, iters)._1

  /** [[lloyd]] returning BOTH the final assignment and the codebook it
    * was scored against — the build half of a persistent IVF index
    * ([[VectorIndex]]) needs the centroids, not just the labels.
    * Codebook columns: (c_id, centroid). */
  def lloydWithCodebook(emb0: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): (DataFrame, DataFrame) = {
    require(k > 0 && iters > 0, s"need k > 0 and iters > 0, got ($k, $iters)")
    graft.GraftExtensions.setup(emb0.sparkSession)
    val emb = emb0.select(col(idCol).as("__vid"),
      col(vecCol).cast("array<double>").as("__v"))
    // orderBy+limit, not `id < k`: sparse or non-zero-based id spaces
    // would otherwise silently yield fewer than k centroids (or an
    // EMPTY codebook, which crossJoins to an empty assignment)
    val init = emb.orderBy(col("__vid")).limit(k)
      .select(col("__vid").cast("long").as("c_id"), col("__v").as("centroid"))
    require(init.count() == k,
      s"k=$k initial centroids requested but the corpus has fewer vectors")
    var centroids = init
    var assignment = assign(emb, centroids)
    for (_ <- 2 to iters) {
      // k×d-bounded frame; eager checkpoint keeps every iteration's plan
      // one step deep instead of nesting the whole history
      centroids = update(emb, assignment).localCheckpoint(true)
      assignment = assign(emb, centroids)
    }
    (assignment.select(col("__vid").as(idCol), col("cluster"),
      col("__cos").as("cos")), centroids)
  }
}
