package graft.similarity

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF-style approximate nearest neighbor: a k-means coarse quantizer
  * assigns every vector to its nearest centroid (the "inverted file"
  * cell); queries probe only the `nProbe` closest cells and brute-force
  * inside them with the codegen'd cosine. This is the learned-bucket
  * alternative to [[Ann.knnLshBucketed]] — same probe/join shape, cells
  * adapt to the data distribution instead of being random hyperplanes.
  *
  * At 100 TB the index build is one KMeans fit on a sample + one scan to
  * assign cells (written partitioned by cell id); a query touches
  * `nProbe / nCells` of the corpus.
  */
object Ivf {

  final case class Index(assigned: DataFrame, centroids: Array[Array[Double]])

  /** Build the IVF index: fit k-means on (a sample of) the corpus, then
    * assign every vector its cell id. */
  def build(emb: DataFrame, idCol: String, vecCol: String, nCells: Int,
      seed: Long = 42L): Index = {
    val vectorized = emb.withColumn("__features",
      array_to_vector(col(vecCol).cast("array<double>")))
    val model = new KMeans()
      .setK(nCells).setSeed(seed).setFeaturesCol("__features")
      .setPredictionCol("__cell")
      .fit(vectorized)
    val assigned = model.transform(vectorized).drop("__features")
    Index(assigned, model.clusterCenters.map(_.toArray))
  }

  /** Top-k by cosine among the `nProbe` cells nearest to the query vector
    * (by euclidean centroid distance, the standard IVF probe rule). The
    * query row is collected ONCE and rebuilt as literals — one corpus
    * scan per query (the probe), not two. */
  def knn(index: Index, idCol: String, vecCol: String, queryId: Long,
      k: Int, nProbe: Int): DataFrame = {
    val spark = index.assigned.sparkSession
    graft.GraftExtensions.setup(spark)
    val qRow = index.assigned.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>"), col("__cell")).head()
    // cast above makes the collected element type dtype-agnostic:
    // build() accepts float or double corpora
    val qVec = qRow.getSeq[Double](0).toArray
    val probeCells = index.centroids.zipWithIndex
      .map { case (c, i) =>
        val d2 = c.zip(qVec).map { case (a, b) => (a - b) * (a - b) }.sum
        (i, d2)
      }
      .sortBy(_._2).take(nProbe).map(_._1)
    val qNorm = math.sqrt(qVec.map(x => x * x).sum)
    val qVecLit = typedlit(qVec.toSeq)
    index.assigned
      .filter(col("__cell").isin(probeCells.map(Integer.valueOf): _*))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol),
        Ann.cosineOrZero(
          Ann.dot(col(vecCol).cast("array<double>"), qVecLit),
          Ann.norm(col(vecCol).cast("array<double>")), lit(qNorm))
          .as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** IVF-ADC k-NN — the composed FAISS IVF-SQ8 serving shape (coarse
    * quantizer + int8 scalar-quantized storage + asymmetric distance +
    * exact refine, all public method): probe the `nProbe` cells nearest
    * the query, ADC-score the probed vectors (full-precision query vs
    * the DEQUANTIZED int8 corpus — [[Ann.quantizedKnn]]'s asymmetric
    * trick, half the error of symmetric at zero extra memory), keep the
    * top `rerank` candidates by ADC order, then refine those few rows
    * with the EXACT cosine and emit the top k (FAISS `RefineFlat`,
    * k_factor = rerank/k).
    *
    * This is the 100 TB ANN architecture in one operator: the index cuts
    * COMPARISONS to nProbe/nCells of the corpus, int8 cuts BYTES 4x (the
    * stored table is (cell, id, q[], scale) — quantization here is
    * inline only because the bench corpus is the raw table), and the
    * refine stage caps the quantization error's effect at rank-(rerank)
    * displacement. One corpus-partition probe, two TakeOrderedAndProject
    * passes (the second over `rerank` rows), no shuffle.
    *
    * @return (idCol, adc_score, score) — `score` is the exact refined
    *         cosine, expression-identical to [[knn]]/[[Ann.knnBruteForce]]
    *         so rounded scores join across operators. */
  /** The composed IVF-PQ serving index (FAISS `IVFx,PQy` with
    * by_residual=false — the public non-residual variant): the coarse
    * quantizer's cell routing joined ONCE onto the PQ code table, giving
    * the (cell, id, codes) layout a deployment stores partitioned by
    * cell. This is the 10¹¹-vector memory story end-to-end: the scanned
    * table holds m one-byte codes per vector (emb17's 16× compression),
    * and a query touches only nProbe/nCells of it (emb6's probe bound) —
    * the float corpus is consulted only for the final `rerank`-row exact
    * refine. */
  final case class IvfPqIndex(table: DataFrame,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], idCol: String)

  /** Join the cell assignment onto the PQ codes — one id-shuffle at build
    * time (a deployment writes the result bucketed by cell and never
    * re-joins). */
  def buildIvfPq(ivf: Index, pq: Pq.Index, idCol: String): IvfPqIndex = {
    import org.apache.spark.sql.functions.col
    IvfPqIndex(
      ivf.assigned.select(col(idCol), col("__cell")).join(pq.codes, idCol),
      ivf.centroids, pq.codebooks, idCol)
  }

  /** IVF-PQ k-NN — probe the `nProbe` cells nearest the query, ADC-score
    * the probed CODE rows via the query's per-subspace lookup tables
    * (zero float vector math on the scan — [[Pq.adcKnn]]'s trick, now
    * over the probed slice only), keep the top `rerank` by ADC cosine,
    * join those few ids back to the float corpus for the exact cosine,
    * emit the top `k` (FAISS `IndexIVFPQ` + `IndexRefineFlat`).
    *
    * Cost shape per query: one scan of nProbe/nCells of the m-byte code
    * table + a TakeOrderedAndProject, then an id-join of `rerank` rows
    * against the float table (broadcast — rerank is k-bounded). With
    * nProbe = nCells and rerank ≥ corpus size the composition degrades
    * to EXACT brute force (the refine covers everything) — the emb20
    * contract gate.
    *
    * @return (idCol, adc_score, score) — `score` expression-identical to
    *         [[Ann.knnBruteForce]]'s so rounded scores join across
    *         operators. */
  def pqAdcKnn(index: IvfPqIndex, emb: DataFrame, vecCol: String,
      queryId: Long, k: Int, nProbe: Int, rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val spark = emb.sparkSession
    graft.GraftExtensions.setup(spark)
    val idCol = index.idCol
    val qVec = emb.filter(col(idCol) === queryId)
      .select(transform(col(vecCol), x => x.cast("double"))).head()
      .getSeq[Double](0).toArray
    val probeCells = index.centroids.zipWithIndex
      .map { case (c, i) =>
        val d2 = c.zip(qVec).map { case (a, b) => (a - b) * (a - b) }.sum
        (i, d2)
      }
      .sortBy(_._2).take(nProbe).map(_._1)
    val m = index.codebooks.length
    val dsub = qVec.length / m
    val dots: Seq[Seq[Double]] = (0 until m).map { j =>
      val qSub = qVec.slice(j * dsub, (j + 1) * dsub)
      index.codebooks(j).toSeq.map(c =>
        c.zip(qSub).map { case (a, b) => a * b }.sum)
    }
    val cn2: Seq[Seq[Double]] = (0 until m).map { j =>
      index.codebooks(j).toSeq.map(c => c.map(x => x * x).sum)
    }
    val qNorm = math.sqrt(qVec.map(x => x * x).sum)
    val adcTop = index.table
      .filter(col("__cell").isin(probeCells.map(Integer.valueOf): _*))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol),
        Ann.cosineOrZero(Pq.tableSum(col("codes"), dots),
          sqrt(Pq.tableSum(col("codes"), cn2)), lit(qNorm)).as("adc_score"))
      .orderBy(col("adc_score").desc, col(idCol))
      .limit(rerank)
    val qLit = typedlit(qVec.toSeq)
    emb.select(col(idCol),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
      .join(broadcast(adcTop), idCol)
      .select(col(idCol), col("adc_score"),
        Ann.cosineOrZero(Ann.dot(col("__v"), qLit), Ann.norm(col("__v")),
          lit(qNorm)).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  def adcKnn(index: Index, idCol: String, vecCol: String, queryId: Long,
      k: Int, nProbe: Int, rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val spark = index.assigned.sparkSession
    graft.GraftExtensions.setup(spark)
    val qRow = index.assigned.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>"), col("__cell")).head()
    val qVec = qRow.getSeq[Double](0).toArray
    val probeCells = index.centroids.zipWithIndex
      .map { case (c, i) =>
        val d2 = c.zip(qVec).map { case (a, b) => (a - b) * (a - b) }.sum
        (i, d2)
      }
      .sortBy(_._2).take(nProbe).map(_._1)
    val qNorm = math.sqrt(qVec.map(x => x * x).sum)
    val qVecLit = typedlit(qVec.toSeq)
    // int8 SQ on the probed slice (the Ann.int8QuantizationStats scheme:
    // scale = max|x|, q = floor(x·127/scale + 0.5), x̂ = q·scale/127)
    val probed = index.assigned
      .filter(col("__cell").isin(probeCells.map(Integer.valueOf): _*))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), col(vecCol).cast("array<double>").as("__xd"))
      .withColumn("__scale", array_max(transform(col("__xd"), x => abs(x))))
      .withColumn("__xhat",
        when(col("__scale") === 0.0, transform(col("__xd"), _ => lit(0.0)))
          .otherwise(transform(col("__xd"),
            x => floor(x * 127.0 / col("__scale") + 0.5).cast("long")
              .cast("double") * col("__scale") / 127.0)))
    val adcTop = probed
      .select(col(idCol), col("__xd"),
        Ann.cosineOrZero(Ann.dot(col("__xhat"), qVecLit),
          Ann.norm(col("__xhat")), lit(qNorm)).as("adc_score"))
      .orderBy(col("adc_score").desc, col(idCol))
      .limit(rerank)
    adcTop
      .select(col(idCol), col("adc_score"),
        Ann.cosineOrZero(Ann.dot(col("__xd"), qVecLit),
          Ann.norm(col("__xd")), lit(qNorm)).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }
}
