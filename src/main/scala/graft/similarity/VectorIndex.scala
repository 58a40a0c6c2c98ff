package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Versioned

/** PERSISTENT incremental IVF vector index — the ANN analog of
  * [[graft.dedup.NearDupIndex]] and the FAISS `add`-after-`train`
  * lifecycle as lakehouse tables: the coarse quantizer (deterministic
  * Lloyd codebook, [[Kmeans.lloydWithCodebook]]) and the cell-assigned
  * vectors live in ONE [[graft.ops.Versioned]] table (`kind` = "c"
  * centroid rows / "v" vector rows), so a vector-ingest pipeline appends
  * new embeddings WITHOUT refitting or re-scanning the corpus: one
  * broadcast of the k×d codebook against the batch, one atomic commit.
  *
  * [[appendIdempotent]] keys that commit on (appId, txnVersion) — the
  * streaming-foreachBatch exactly-once contract, same as
  * NearDupIndex.ingestIdempotent. [[knn]] serves a query from the stored
  * table: route to the `nProbe` max-cosine cells, brute-force inside
  * them with the codegen'd dot product — the [[Ivf.knn]] probe shape
  * against on-disk state, pinned to the version visible at call time.
  *
  * Drift honesty: appended vectors are quantized by the ORIGINAL
  * codebook (no refit — FAISS add semantics). If the ingest
  * distribution drifts from the training distribution, cells skew and
  * probe recall decays; the rebuild cadence is the operator's knob
  * (rebuild = one new `build` at a fresh dir, swap atomically). At
  * 100 TB the table should be bucketed by `cell` so a probe plans only
  * its cells' files — the same layout note as Ivf's scaladoc.
  */
object VectorIndex {

  private def nl = lit(null).cast("long")

  private def unified(idCol: String, vRows: DataFrame,
      cRows: Option[DataFrame]): DataFrame = {
    val v = vRows.select(lit("v").as("kind"), col(idCol),
      col("cell"), col("vec"))
    cRows.fold(v)(c => c.select(lit("c").as("kind"),
      col("c_id").as(idCol), col("c_id").as("cell"),
      col("centroid").as("vec")).unionByName(v))
  }

  /** Fit the codebook on the corpus (deterministic Lloyd — lowest-id
    * init, exact tie-breaks) and commit centroids + assigned vectors as
    * version 1. */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iters: Int, dir: String): Unit = {
    val (assignment, centroids) =
      Kmeans.lloydWithCodebook(corpus, idCol, vecCol, nCells, iters)
    val vRows = corpus
      .select(col(idCol), col(vecCol).cast("array<double>").as("vec"))
      .join(assignment.select(col(idCol), col("cluster").as("cell")), idCol)
    Versioned.commit(unified(idCol, vRows, Some(centroids)), dir)
    ()
  }

  private def centroidsOf(spark: SparkSession, dir: String,
      idCol: String): DataFrame =
    Versioned.read(spark, dir).filter(col("kind") === "c")
      .select(col(idCol).cast("long").as("c_id"), col("vec").as("centroid"))

  /** Append a batch of new vectors, each quantized to its max-cosine
    * cell of the STORED codebook (one broadcast join — the corpus is
    * never re-scanned), as one atomic exactly-once commit keyed on
    * (appId, txnVersion). Returns true when the batch landed, false on
    * a zombie replay. */
  def appendIdempotent(spark: SparkSession, batch: DataFrame,
      idCol: String, vecCol: String, dir: String, appId: String,
      txnVersion: Long): Boolean = {
    if (Versioned.lastTxnVersion(dir, appId).exists(_ >= txnVersion))
      return false
    val emb = batch.select(col(idCol).as("__vid"),
      col(vecCol).cast("array<double>").as("__v"))
    val assigned = Kmeans.assign(emb, centroidsOf(spark, dir, idCol))
    val vRows = emb
      .join(assigned.select(col("__vid"), col("cluster").as("cell")), "__vid")
      .select(col("__vid").as(idCol), col("cell"), col("__v").as("vec"))
    Versioned.idempotentCommit(unified(idCol, vRows, None), dir, appId,
      txnVersion).isDefined
  }

  /** Top-k by cosine among the `nProbe` max-cosine cells of the stored
    * index — [[Ivf.knn]] against on-disk state, pinned to the version
    * visible at call time. The query vector is looked up in the index
    * by id; the codebook collect is nCells×d (driver-bounded by k, the
    * Ivf discipline). */
  def knn(spark: SparkSession, dir: String, idCol: String, queryId: Long,
      k: Int, nProbe: Int): DataFrame = {
    graft.GraftExtensions.setup(spark)
    val t = Versioned.read(spark, dir)
    val vecs = t.filter(col("kind") === "v")
    val qVec = vecs.filter(col(idCol) === queryId)
      .select(col("vec")).head().getSeq[Double](0).toArray
    val qNorm = math.sqrt(qVec.map(x => x * x).sum)
    val cents = centroidsOf(spark, dir, idCol)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cos(c: Array[Double]): Double = {
      val d = c.zip(qVec).map { case (a, b) => a * b }.sum
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0 || qNorm == 0) 0.0 else d / (n * qNorm)
    }
    val probeCells = cents.map { case (id, c) => (id, cos(c)) }
      .sortBy { case (id, s) => (-s, id) }.take(nProbe).map(_._1)
    val qVecLit = typedlit(qVec.toSeq)
    vecs
      .filter(col("cell").isin(probeCells.map(java.lang.Long.valueOf): _*))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol),
        Ann.cosineOrZero(Ann.dot(col("vec"), qVecLit),
          Ann.norm(col("vec")), lit(qNorm)).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Cell-population imbalance of the stored index: max cell count ×
    * nCells / total vectors (1.0 = perfectly uniform; grows as ingest
    * drift skews the frozen-codebook assignment). The operator's
    * reindex-cadence diagnostic — one groupBy over the index, no vector
    * math. */
  def cellImbalance(spark: SparkSession, dir: String): Double = {
    val cells = Versioned.read(spark, dir).filter(col("kind") === "v")
      .groupBy("cell").count()
      .agg(max("count").as("mx"), sum("count").as("tot"),
        count(lit(1)).as("k"))
      .head()
    cells.getLong(0).toDouble * cells.getLong(2) / cells.getLong(1)
  }

  /** RE-TRAIN the codebook on the full accumulated vector set and
    * re-assign every vector — the OPTIMIZE of the ANN world (FAISS
    * retrain + re-add, published as ONE atomic lakehouse version):
    * [[appendIdempotent]]'s no-refit batches quantize against the
    * original codebook, so probe recall decays as the ingest
    * distribution drifts; reindex restores it without losing history
    * (the pre-reindex versions stay time-travelable — an OVERWRITE
    * step, not a table rewrite-in-place). Exactly-once under
    * (appId, txnVersion): a zombie replay deletes its work and commits
    * nothing. Returns true when the reindex landed, false on a replay.
    *
    * Scale shape: one Lloyd fit over the stored vectors (iters ×
    * (broadcast k×d codebook ⋈ vectors + one k-key shuffle) —
    * [[Kmeans]]'s distributed form), one assignment join, one commit.
    * Cost is proportional to the index size — the same O as the initial
    * [[build]], paid only when [[cellImbalance]]/recall monitoring says
    * the drift warrants it. */
  def reindexIdempotent(spark: SparkSession, dir: String, idCol: String,
      nCells: Int, iters: Int, appId: String, txnVersion: Long): Boolean = {
    if (Versioned.lastTxnVersion(dir, appId).exists(_ >= txnVersion))
      return false
    val vecs = Versioned.read(spark, dir).filter(col("kind") === "v")
      .select(col(idCol), col("vec"))
    val (assignment, centroids) =
      Kmeans.lloydWithCodebook(vecs, idCol, "vec", nCells, iters)
    val vRows = vecs
      .join(assignment.select(col(idCol), col("cluster").as("cell")), idCol)
      .select(col(idCol), col("cell"), col("vec"))
    Versioned.idempotentCommit(unified(idCol, vRows, Some(centroids)), dir,
      appId, txnVersion, overwrite = true).isDefined
  }

  /** Exact brute-force top-k over the whole stored index — the recall
    * yardstick for [[knn]]. */
  def knnExact(spark: SparkSession, dir: String, idCol: String,
      queryId: Long, k: Int): DataFrame = {
    graft.GraftExtensions.setup(spark)
    val vecs = Versioned.read(spark, dir).filter(col("kind") === "v")
    val qVec = vecs.filter(col(idCol) === queryId)
      .select(col("vec")).head().getSeq[Double](0).toArray
    val qNorm = math.sqrt(qVec.map(x => x * x).sum)
    val qVecLit = typedlit(qVec.toSeq)
    vecs.filter(col(idCol) =!= queryId)
      .select(col(idCol),
        Ann.cosineOrZero(Ann.dot(col("vec"), qVecLit),
          Ann.norm(col("vec")), lit(qNorm)).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }
}
