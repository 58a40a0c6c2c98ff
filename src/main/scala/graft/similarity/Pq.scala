package graft.similarity

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011, the FAISS `PQ` codec — public
  * method): split each d-dim vector into `m` contiguous subvectors, learn a
  * small k-means codebook per subspace, and store every vector as `m` small
  * codes. With m=8, k=16 a 64-dim float corpus shrinks 256 B → 8 B per
  * vector (32×), far past scalar quantization's 4× ([[Ann]] SQ8) — the
  * difference between "embeddings fit in cluster memory" and "they don't"
  * at 10¹¹ vectors.
  *
  * Search is asymmetric (ADC): the full-precision query precomputes, per
  * subspace, its dot product against all k centroids — an m×k table, built
  * once on the driver, shipped as a LITERAL — and a corpus row's
  * approximate score is m table LOOKUPS summed, no float vector math per
  * row at all. The reconstructed-norm table ships the same way, so the
  * approximate cosine is
  *
  *   adc_cos = Σⱼ dot[j][codeⱼ] / (√(Σⱼ cn2[j][codeⱼ]) · ‖q‖)
  *
  * (subspaces are orthogonal coordinate blocks, so ‖x̂‖² really is the sum
  * of per-subspace centroid norms²). A final exact rerank over the top
  * `rerank` ADC candidates caps code-collision error at rank displacement,
  * exactly FAISS `IndexRefineFlat`.
  *
  * Scale shape: training is m small sample-fits; encoding is one scan;
  * search is one scan of the CODES table (m bytes/row) + a
  * TakeOrderedAndProject + an id-join of `rerank` rows back to the float
  * table. No shuffle anywhere on the query path.
  */
object Pq {

  /** codes: (idCol, codes array<int>); codebooks[j][c] = centroid c of
    * subspace j (length d/m each). */
  final case class Index(codes: DataFrame, codebooks: Array[Array[Array[Double]]],
      idCol: String)

  /** Train per-subspace codebooks and encode the corpus. `m` must divide
    * the dimension; `k` ≤ 256 keeps a code in one byte. Fits run on `emb`
    * itself (at 100 TB: on a sample, the [[Ivf.build]] note applies
    * verbatim); encoding is a single scan through the m fitted models. */
  def train(emb: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
      seed: Long = 42L): Index = {
    val d = emb.select(size(col(vecCol))).head().getInt(0)
    require(d % m == 0, s"m=$m must divide dim=$d")
    val dsub = d / m
    val xd = transform(col(vecCol), x => x.cast("double"))
    // cached: the m sequential fits plus the final encode would each
    // rebuild all m slice/array_to_vector projections from the source
    // scan otherwise (m+1 redundant recomputes of the same pipeline)
    val sliced = (0 until m).foldLeft(emb.select(col(idCol), xd.as("__xd"))) {
      (df, j) =>
        df.withColumn(s"__f$j",
          array_to_vector(slice(col("__xd"), j * dsub + 1, dsub)))
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val models = (0 until m).map { j =>
        new KMeans().setK(k).setSeed(seed + j).setFeaturesCol(s"__f$j")
          .setPredictionCol(s"__c$j")
          .fit(sliced)
      }
      val encoded = models.foldLeft(sliced: DataFrame)(
          (df, mod) => mod.transform(df))
        .select(col(idCol),
          array((0 until m).map(j => col(s"__c$j")): _*).as("codes"))
        .localCheckpoint() // materialize before the source unpersists
      Index(encoded, models.map(_.clusterCenters.map(_.toArray)).toArray,
        idCol)
    } finally sliced.unpersist(blocking = false)
  }

  /** Sum of per-subspace table lookups: zip the code array with its
    * subspace index and fold — a sequential per-row expression chain,
    * fully inside codegen, no UDF. `table` is the m×k driver-built
    * literal. Shared with [[Ivf.pqAdcKnn]] (the IVF-PQ composition). */
  private[similarity] def tableSum(codes: Column, table: Seq[Seq[Double]]): Column = {
    val t = typedlit(table)
    aggregate(
      zip_with(codes, sequence(lit(0), lit(table.size - 1)),
        (c, j) => element_at(element_at(t, j + 1), c + 1)),
      lit(0.0), (acc, x) => acc + x)
  }

  /** ADC k-NN over the PQ codes with exact refine: score every code row
    * via the query's dot/norm² tables, keep the top `rerank` by ADC
    * cosine, join those few ids back to the float corpus for the exact
    * cosine, emit the top `k`. Returns (idCol, adc_score, score) —
    * `score` expression-identical to [[Ann.knnBruteForce]]'s so rounded
    * scores join across operators. */
  def adcKnn(index: Index, emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    graft.GraftExtensions.setup(emb.sparkSession)
    val m = index.codebooks.length
    val qVec = emb.filter(col(idCol) === queryId)
      .select(transform(col(vecCol), x => x.cast("double"))).head()
      .getSeq[Double](0).toArray
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
    val adcTop = index.codes
      .filter(col(index.idCol) =!= queryId)
      .select(col(index.idCol).as(idCol),
        Ann.cosineOrZero(tableSum(col("codes"), dots),
          sqrt(tableSum(col("codes"), cn2)), lit(qNorm)).as("adc_score"))
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
}
