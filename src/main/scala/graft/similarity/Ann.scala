package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`): brute-force
  * cosine top-k as the exact baseline and an LSH-bucketed variant as the
  * scale path.
  *
  * The inner product is the native codegen'd [[graft.functions
  * .ArrayDotProduct]] expression (`graft_dot`) — Spark's higher-order
  * `zip_with`/`aggregate` lambdas run interpreted and were the bench
  * bottleneck. Division order `dot / norm(a) / norm(b)` is kept identical
  * to the DuckDB oracle formula, and the dot accumulates sequentially in
  * double, so results stay bit-identical across engines.
  *
  * 100 TB notes: brute force is a broadcast of the query vector + one scan
  * (fine per query, linear). The LSH path buckets vectors by
  * random-hyperplane signs once (shuffle on bucket id), then probes only
  * matching buckets — the standard sub-linear ANN layout. An IVF layout
  * (k-means coarse quantizer) would swap the plane-sign bucketer for
  * learned centroids; the probe/join shape is identical. Norms are
  * precomputed per row, never per pair.
  */
object Ann {

  /** Codegen'd sequential-fold dot product (registers `graft_dot`). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Reference fold-based dot (interpreted; kept for equivalence tests). */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a.cast("array<double>"), b.cast("array<double>"),
      (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / norm(a) / norm(b)

  /** Cosine with precomputed norms and a zero-norm guard: a zero vector
    * (failed encoder output — they exist in real corpora) has no
    * direction, so its similarity to anything is defined as 0 rather
    * than a DIVIDE_BY_ZERO error (ANSI mode) or NaN. The `when` guards
    * the division itself — the branch is only evaluated when both norms
    * are positive. Surfaced by the 2× scale rehearsal, whose negated
    * embedding copies make every label centroid exactly zero. */
  private[similarity] def cosineOrZero(d: Column, n1: Column, n2: Column): Column =
    when(n1 > 0.0 && n2 > 0.0, d / n1 / n2).otherwise(lit(0.0))

  private def withRegistry(df: DataFrame): DataFrame = {
    graft.GraftExtensions.setup(df.sparkSession)
    df
  }

  /** Exact top-k by cosine against the embedding of `queryId`.
    * The single query row (with precomputed norm) is broadcast; the corpus
    * is scanned once with one dot + one cached norm per row — no shuffle. */
  def knnBruteForce(emb0: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val emb = withRegistry(emb0)
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"), norm(col(vecCol)).as("__qnorm"))
    emb.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol),
        cosineOrZero(dot(col(vecCol), col("__qvec")), norm(col(vecCol)),
          col("__qnorm")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998,
    * public method — the standard diversity pass over an ANN result):
    * from the exact top-`nCandidates` by cosine to the query, greedily
    * select k items maximizing
    *
    *   mmr(i) = λ·rel(i) − (1−λ)·max_{j ∈ selected} sim(i, j)
    *
    * (max over the empty set = 0, so step one is argmax λ·rel). Returns
    * (rank, idCol, rel, mmr_score) in selection order.
    *
    * Scale shape: the candidate pool is the ANN front-end's top-N — the
    * greedy loop runs over N rows REGARDLESS of corpus size (k·N pair
    * sims, each one codegen'd dot on a ≤N-row frame; the corpus is
    * touched once, by the brute-force/ANN scan). Each step's argmax is a
    * total order (mmr desc, id asc) and every double expression —
    * λ-arithmetic included — is operand-mirrored by the emb16 oracle, so
    * the greedy TRAJECTORY itself is engine-replayable. Per-step frames
    * are eagerly localCheckpoint'd: the selected set feeds both the
    * anti-join and the sim join next step (two consumers — the t33
    * lineage rule). */
  def mmrRerank(emb0: DataFrame, idCol: String, vecCol: String,
      queryId: Long, nCandidates: Int, k: Int, lambda: Double): DataFrame = {
    require(k >= 1 && k <= nCandidates, s"k=$k, nCandidates=$nCandidates")
    val emb = withRegistry(emb0)
    val cand = knnBruteForce(emb, idCol, vecCol, queryId, nCandidates)
      .join(emb.select(col(idCol), col(vecCol).cast("array<double>").as("__v")),
        Seq(idCol))
      .select(col(idCol), col("score").as("rel"), col("__v"))
      .localCheckpoint()
    var selected = cand
      .orderBy((col("rel") * lambda).desc, col(idCol)).limit(1)
      .select(lit(1L).as("rank"), col(idCol), col("rel"),
        (col("rel") * lambda).as("mmr_score"), col("__v"))
      .localCheckpoint()
    for (step <- 2 to k) {
      val rem = cand.join(selected.select(col(idCol)), Seq(idCol), "left_anti")
      val ms = rem
        .crossJoin(broadcast(selected.select(col("__v").as("__sv"))))
        .select(col(idCol),
          cosineOrZero(dot(col("__v"), col("__sv")),
            norm(col("__v")), norm(col("__sv"))).as("__sim"))
        .groupBy(col(idCol)).agg(max(col("__sim")).as("__ms"))
      val best = rem.join(ms, Seq(idCol))
        .select(col(idCol), col("rel"), col("__v"),
          (col("rel") * lambda - col("__ms") * (lit(1.0) - lambda))
            .as("mmr_score"))
        .orderBy(col("mmr_score").desc, col(idCol)).limit(1)
        .select(lit(step.toLong).as("rank"), col(idCol), col("rel"),
          col("mmr_score"), col("__v"))
      selected = selected.unionAll(best).localCheckpoint()
    }
    selected.select(col("rank"), col(idCol), col("rel"), col("mmr_score"))
      .orderBy("rank")
  }

  /** Deterministic integer-weight "random" hyperplane: weight of plane p at
    * dimension d is ((p*131 + d*37) mod 7) − 3 ∈ [−3, 3]. Integer weights
    * make the float·int products exact in double, so the sign of the dot
    * product — hence the bucket — is engine-portable. */
  def planeWeight(p: Int, d: Int): Double = ((p * 131 + d * 37) % 7 - 3).toDouble

  /** Projection weight family — NOT [[planeWeight]]: the legacy bucket
    * family is periodic in p with period 7 (131 ≡ 5 mod 7), so any
    * polynomial of p under mod 7 repeats every 7 planes and projection
    * component p would DUPLICATE component p−7 — the default dims = 8
    * would already carry one redundant coordinate and any dims > 7
    * would add zero information. The inner mod 997 (prime, coprime to
    * 7) breaks the period for every p < 997 while keeping the weights
    * small integers in [−3, 3], exact in double. */
  def projWeight(p: Int, d: Int): Double =
    ((p * 131 + d * 37) % 997 % 7 - 3).toDouble

  /** Johnson–Lindenstrauss-style random projection: the `dims` plane
    * dot-products BEFORE the sign — a deterministic dimensionality
    * reduction (64 → `dims` components) that approximately preserves
    * pairwise distances, the standard shrink-then-search preprocessing
    * for ANN at corpus scale. Integer [[projWeight]] scheme (the
    * non-periodic variant of the bucket family), so the components are
    * engine-portable exactly like the emb3 bucket proof. Per-vector
    * cost is dims×maxDims codegen'd multiply-adds (`graft_dot`), no
    * shuffle, no data-sized explode. */
  def randomProjection(vec: Column, dims: Int, maxDims: Int = 64): Seq[Column] = {
    val v = vec.cast("array<double>")
    (0 until dims).map { p =>
      val weights = typedlit((0 until maxDims).map(d => projWeight(p, d)))
      dot(v, weights)
    }
  }

  /** Shrink-then-search near-dup pairs — [[randomProjection]] composed
    * into a working pipeline: candidate pairs are generated on the short
    * `dims`-component projections (dims multiply-adds per pair instead
    * of 64, and only ids + short vectors flow through the pair join),
    * then ONLY the survivors rejoin the full vectors for the exact
    * cosine rerank. The projections are deterministic, so the prefilter
    * is engine-replayable and the composed result stays hash-checkable;
    * recall vs the unfiltered scan is governed by `minProjCosine`
    * (set it ≤ −1 to disable pruning — then output ≡ the exact scan,
    * AnnSpec pins this). */
  def projectedNearDupPairs(emb0: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, dims: Int = 8,
      minProjCosine: Double = 0.0, maxExactDocs: Long = 100000L,
      planesPerBand: Int = AutoPlanes, bands: Int = 8,
      docCount: Option[Long] = None): DataFrame = {
    val emb = withRegistry(emb0)
    // two consumers (both sides of the pair join) — materialize, or the
    // dims×64 projection multiply-adds compute twice per row (the
    // bandedCandidatePairs convention; Spark does not dedupe subplans)
    val proj = emb.select(col(idCol).as("__id"),
        array(randomProjection(col(vecCol), dims): _*).as("__proj"))
      .localCheckpoint()
    // candidate enumeration auto-selects like Dedup.jaccardPairs: the
    // all-pairs join (exact prefilter recall) while the corpus is at or
    // below `maxExactDocs`, OR-amplified banded LSH above it (pairs form
    // only inside shared band buckets — the n² space never materializes;
    // capture probability 1 − (1 − p^r)^b, see BandedHyperplanes). One
    // count job decides; callers that know the corpus size pass
    // `docCount` (declared queries thread Tables.cachedCount so no
    // per-invocation count job runs), and a MaxValue threshold means
    // "always exact" (no count at all). Banding width r auto-sizes with
    // the same count (planesPerBandFor) unless pinned explicitly.
    val nDocs =
      if (maxExactDocs == Long.MaxValue) 0L
      else docCount.getOrElse(emb.count())
    val pairSource =
      if (nDocs <= maxExactDocs) {
        val pa = proj.select(col("__id").as("id1"), col("__proj").as("p1"))
        val pb = proj.select(col("__id").as("id2"), col("__proj").as("p2"))
        pa.crossJoin(pb).filter(col("id1") < col("id2"))
      } else {
        val r = if (planesPerBand > 0) planesPerBand else planesPerBandFor(nDocs)
        bandedCandidatePairs(emb, idCol, vecCol, r, bands)
          .join(proj.select(col("__id").as("id1"), col("__proj").as("p1")), "id1")
          .join(proj.select(col("__id").as("id2"), col("__proj").as("p2")), "id2")
      }
    val cands = pairSource
      .filter(cosineOrZero(dot(col("p1"), col("p2")),
        norm(col("p1")), norm(col("p2"))) >= minProjCosine)
      .select("id1", "id2")
    val full1 = emb.select(col(idCol).as("id1"), col(vecCol).as("v1"),
      norm(col(vecCol)).as("n1"))
    val full2 = emb.select(col(idCol).as("id2"), col(vecCol).as("v2"),
      norm(col(vecCol)).as("n2"))
    cands.join(full1, "id1").join(full2, "id2")
      .select(col("id1"), col("id2"),
        cosineOrZero(dot(col("v1"), col("v2")), col("n1"), col("n2"))
          .as("score"))
      .filter(col("score") >= minCosine)
      .select(col("id1"), col("id2"), round(col("score"), 6).as("score"))
  }

  /** Pinned banding-width step function (the auto-r rule): the smallest
    * r ≥ 3 such that the expected bucket occupancy n / 2^r is at most
    * `targetDocsPerBucket`. With hyperplane-sign LSH the bucket key
    * space is FIXED at 2^r per band, so at fixed r the per-band pair
    * space Σ bucket² grows as (n/2^r)²·2^r = n²/2^r — super-linear in n
    * (measured: the round-5 4× rehearsal went 7.14 s at r=3 and 2.81 s
    * at r=5). Growing r with log₂(n) keeps expected occupancy — hence
    * per-bucket pair cost — constant, restoring the sub-linear scale
    * path. The rule is a pure step function of the corpus count, so the
    * DuckDB oracle replays the same tier selection from COUNT(*) and
    * banded query results stay hash-exact on whichever tier the scale
    * selects. Both round-5 measured points sit on this curve: r(2000)=3,
    * r(8000)=5 at the default 250-doc target. Capped at 30 (2^30 buckets
    * per band serves ~270 G docs at the default target; the bucket id
    * must also stay within a Long's bit budget).
    *
    * Recall note: raising r lowers per-band capture p^r, so auto-r
    * trades recall exactly like manual r — at a realistic near-dup
    * cosine (≥ 0.9, p ≈ 0.856) eight bands still capture ≥ 0.97 at
    * r = 5; the knob that restores recall at scale is `bands`, which is
    * an OR-amplifier and does not change the Σ bucket² shape. */
  def planesPerBandFor(nDocs: Long, targetDocsPerBucket: Long = 250L): Int = {
    var r = 3
    while (r < 30 && nDocs > (targetDocsPerBucket << r)) r += 1
    r
  }

  /** Sentinel for `planesPerBand` parameters: ≤ 0 means derive r from
    * the corpus count via [[planesPerBandFor]]. */
  val AutoPlanes = 0

  /** Array of `bands` sign-bucket ids, one per band of `planesPerBand`
    * independent hyperplanes — the OR-amplified LSH candidate generator
    * (see [[graft.functions.BandedHyperplanes]] for the weight family and
    * why [[planeWeight]]'s cannot band). Callers must have registered the
    * function (every `Ann` entry point does via `withRegistry`). */
  def bandedBuckets(vec: Column, planesPerBand: Int, bands: Int,
      maxDims: Int = 64): Column =
    call_function("graft_bands", vec, lit(planesPerBand), lit(bands), lit(maxDims))

  /** Composed per-plane reference for [[bandedBuckets]] (one `graft_dot`
    * per plane against a literal weight array): kept as the equivalence
    * oracle for the fused expression — AnnSpec asserts identical bands on
    * real vectors. Degenerate inputs (empty / all-null-element arrays)
    * DIVERGE by design, exactly like [[hyperplaneBucketComposed]]:
    * `graft_dot` over an empty array is 0.0, whose `>= 0` sets every
    * bit, while the fused expression and the DuckDB oracle both yield
    * all-zero buckets (list_sum of an empty list is NULL → ELSE 0).
    * AnnSpec pins both behaviors so the contract stays visible. */
  def bandedBucketsComposed(vec: Column, planesPerBand: Int, bands: Int,
      maxDims: Int = 64): Column = {
    val v = vec.cast("array<double>")
    val bandCols = (0 until bands).map { t =>
      (0 until planesPerBand).map { j =>
        val p = t * planesPerBand + j
        val weights = typedlit((0 until maxDims).map(d =>
          (((p * 1009 + d * 613 + p * d * 31) % 9973) % 7 - 3).toDouble))
        when(dot(v, weights) >= 0, shiftleft(lit(1L), j)).otherwise(0L)
      }.reduce(_ + _)
    }
    array(bandCols: _*)
  }

  /** Candidate (id1 < id2) pairs sharing ANY band bucket. The pair space
    * is Σ_bands Σ_buckets C(sz, 2) — bounded per bucket, shuffled on the
    * (band, bucket) key, AQE-splittable — instead of the n² cartesian;
    * `distinct` collapses pairs captured by several bands before the
    * (expensive) exact rerank. */
  private def bandedCandidatePairs(emb: DataFrame, idCol: String,
      vecCol: String, planesPerBand: Int, bands: Int): DataFrame = {
    // the slim (id, band, bucket) table feeds BOTH sides of the self-join;
    // Spark does not dedupe common subplans, so it is materialized once
    // with an eager localCheckpoint (same convention as Dedup's shingle
    // frames); its blocks go when the returned pairs frame is collected
    val bk = emb.select(col(idCol).as("__id"),
        posexplode(bandedBuckets(col(vecCol), planesPerBand, bands))
          .as(Seq("__band", "__bkt")))
      .localCheckpoint()
    bk.select(col("__id").as("id1"), col("__band"), col("__bkt"))
      .join(bk.select(col("__id").as("id2"), col("__band"), col("__bkt")),
        Seq("__band", "__bkt"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
  }

  /** Cross-corpus embedding near-dup — the embedding twin of the text
    * family's recurring-crawl dedup (t22): NEW batch vectors against an
    * INDEXED corpus. Always banded (that is the point: the corpus side's
    * slim (id, band, bucket) table is precomputable once and probed by
    * every subsequent crawl without rescanning corpus vectors), with
    * candidates forming only ACROSS sides via shared band buckets and
    * the exact cosine rerank running on survivors. Capture probability
    * per true pair is the banding 1 − (1 − p^r)^b, as in
    * [[cosineNearDupPairs]]'s scale path. Banding width r auto-sizes
    * from `corpusCount` via [[planesPerBandFor]] (the corpus side is
    * the index whose bucket occupancy must stay bounded) unless pinned.
    * NOTE: with r unpinned and no `corpusCount`, one EAGER count job
    * runs at construction time — pass the count you already know (the
    * declared queries thread Tables.cachedCount) or pin `planesPerBand`
    * explicitly to keep construction fully lazy. */
  def crossCorpusNearDupPairs(batch0: DataFrame, corpus0: DataFrame,
      idCol: String, vecCol: String, minCosine: Double,
      planesPerBand: Int = AutoPlanes, bands: Int = 8,
      corpusCount: Option[Long] = None): DataFrame = {
    val batch = withRegistry(batch0)
    val corpus = withRegistry(corpus0)
    val r =
      if (planesPerBand > 0) planesPerBand
      else planesPerBandFor(corpusCount.getOrElse(corpus.count()))
    def bandTable(df: DataFrame, outId: String): DataFrame =
      df.select(col(idCol).as(outId),
        posexplode(bandedBuckets(col(vecCol), r, bands))
          .as(Seq("__band", "__bkt")))
    val cands = bandTable(batch, "batch_id")
      .join(bandTable(corpus, "corpus_id"), Seq("__band", "__bkt"))
      .select("batch_id", "corpus_id")
      .distinct()
    val b = batch.select(col(idCol).as("batch_id"), col(vecCol).as("v1"),
      norm(col(vecCol)).as("n1"))
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("v2"),
      norm(col(vecCol)).as("n2"))
    cands.join(b, "batch_id").join(c, "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        cosineOrZero(dot(col("v1"), col("v2")), col("n1"), col("n2"))
          .as("score"))
      .filter(col("score") >= minCosine)
      .select(col("batch_id"), col("corpus_id"),
        round(col("score"), 6).as("score"))
  }

  /** Sign-bucket id from `planes` hyperplanes (bit p = 1 iff dot_p ≥ 0):
    * the single-pass codegen'd [[graft.functions.HyperplaneBucket]]
    * expression (`graft_hplanes`). `maxDims` must be ≥ the vector length
    * (extra dims are ignored). Callers must have registered the function
    * (every `Ann` entry point does via `withRegistry`). */
  def hyperplaneBucket(vec: Column, planes: Int, maxDims: Int = 64): Column =
    call_function("graft_hplanes", vec, lit(planes), lit(maxDims))

  /** The composed formulation (one `graft_dot` against a literal weight
    * array per plane): kept as the equivalence reference for
    * [[hyperplaneBucket]]'s fused expression — AnnSpec asserts identical
    * buckets over the corpus. */
  def hyperplaneBucketComposed(vec: Column, planes: Int, maxDims: Int = 64): Column = {
    val v = vec.cast("array<double>")
    val bits = (0 until planes).map { p =>
      val weights = typedlit((0 until maxDims).map(d => planeWeight(p, d)))
      when(dot(v, weights) >= 0, shiftleft(lit(1L), p)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Bucketed ANN: assign every vector (and the query) to its hyperplane
    * bucket, probe only the query's bucket, brute-force inside it. Recall
    * is traded for a ~2^planes reduction in scanned vectors; callers can
    * lower `planes` to widen the probe. */
  def knnLshBucketed(emb0: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, planes: Int): DataFrame = {
    // the legacy weight family is periodic in p with period 7 (AnnSpec
    // pins legacy(0) == legacy(7)): beyond 7 planes every added bit
    // duplicates bit p−7, so distinct buckets saturate at 2⁷ and the
    // documented ~2^planes reduction silently stops — refuse instead;
    // the banded family (graft_bands / bandedCandidatePairs) is the
    // scale path for finer partitioning
    require(planes >= 1 && planes <= 7,
      s"planes=$planes: the legacy hyperplane family saturates at 7 " +
        "planes; use bandedCandidatePairs (graft_bands) beyond that")
    val emb = withRegistry(emb0)
    val bucketed = emb.withColumn("__bucket", hyperplaneBucket(col(vecCol), planes))
    val q = bucketed.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"), norm(col(vecCol)).as("__qnorm"),
        col("__bucket"))
    bucketed.filter(col(idCol) =!= queryId)
      .join(broadcast(q), Seq("__bucket"))
      .select(col(idCol),
        cosineOrZero(dot(col(vecCol), col("__qvec")), norm(col(vecCol)),
          col("__qnorm")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Batch ANN — the production shape of similarity search: MANY query
    * vectors answered by ONE corpus scan, instead of one scan per query.
    * Corpus and queries are both bucketed by hyperplane sign; candidates
    * form only inside shared buckets; per-query top-k comes from a
    * row_number window partitioned by query id (Catalyst plans the k-limit
    * as WindowGroupLimit — partial top-k before the shuffle, so the full
    * candidate list never crosses the wire). The query batch is broadcast
    * (thousands of queries are still dim-scale); for a query set too big
    * to broadcast, drop the hint and the same plan shuffles both sides on
    * the bucket key. */
  def knnBatchLsh(emb0: DataFrame, queries0: DataFrame, idCol: String,
      vecCol: String, k: Int, planes: Int,
      queriesFromCorpus: Boolean = true): DataFrame = {
    require(planes >= 1 && planes <= 7,
      s"planes=$planes: the legacy hyperplane family saturates at 7 " +
        "planes; use bandedCandidatePairs (graft_bands) beyond that")
    val emb = withRegistry(emb0)
    val corpus = emb
      .withColumn("__bucket", hyperplaneBucket(col(vecCol), planes))
      .select(col(idCol), col(vecCol).as("__cv"), norm(col(vecCol)).as("__cn"),
        col("__bucket"))
    val q = withRegistry(queries0)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        norm(col(vecCol)).as("__qn"),
        hyperplaneBucket(col(vecCol), planes).as("__bucket"))
    // self-exclusion is only meaningful when the query batch is drawn
    // FROM the corpus (the in-repo shape); an external query frame with
    // its own id space would silently lose the corpus row whose id
    // happens to collide with a query id
    val joined = corpus.join(broadcast(q), Seq("__bucket"))
    val scored = (if (queriesFromCorpus)
        joined.filter(col(idCol) =!= col("query_id"))
      else joined)
      .select(col("query_id"), col(idCol),
        cosineOrZero(dot(col("__cv"), col("__qv")), col("__cn"), col("__qn"))
          .as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col(idCol))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Nearest-centroid assignment: compute per-label centroids (the emb2
    * definition — per-dimension double mean rounded to 6 decimals, so the
    * codebook is engine-portable), broadcast the codebook, assign every
    * vector to its max-cosine centroid, and emit the (label, assigned)
    * confusion counts. The k-means-scoring shape: at 100 TB the codebook
    * is dim-scale (labels × dims doubles), the corpus is scanned once with
    * one codegen'd dot per centroid, and the only shuffles are the
    * centroid aggregation and the per-vector argmax (tiny hash partitions
    * keyed by vector id — no global sort). Cosine ties break toward the
    * smaller centroid label so the argmax is total. */
  def centroidAssign(emb0: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame =
    nearestCentroid(withRegistry(emb0), idCol, vecCol, labelCol)
      .groupBy(col("label"), col("assigned"))
      .agg(count(lit(1)).as("n"))

  /** Embedding-space OUTLIER scrub — the curation step that drops
    * mis-embedded / mislabeled / junk vectors before they poison a
    * training mix (the CLIP-score-pruning shape, over whatever grouping
    * the caller trusts): a vector is an outlier iff its cosine to its
    * OWN group's centroid falls below `minCosine`. The codebook is the
    * deterministic rounded-mean (emb2/emb7 convention), so the whole
    * decision — including WHICH ids are flagged (md5 of the ordered
    * outlier-id list) — replays cross-engine. One k×d centroid
    * aggregate + one broadcast equi-join scan; per-group accounting
    * out: (label, n, n_outliers, outlier_md5, sum_cos). */
  def centroidOutliers(emb0: DataFrame, idCol: String, vecCol: String,
      labelCol: String, minCosine: Double): DataFrame = {
    val emb = withRegistry(emb0)
    val centroids = emb
      .select(col(labelCol).cast("long").as("c_label"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "v")))
      .groupBy("c_label", "dim")
      .agg(round(avg(col("v")), 6).as("cv"))
      .groupBy("c_label")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
        x => x("cv")).as("centroid"))
    emb
      .select(col(idCol).as("__vid"), col(labelCol).cast("long").as("label"),
        col(vecCol).cast("array<double>").as("__v"))
      .join(broadcast(centroids), col("label") === col("c_label"))
      .select(col("__vid"), col("label"),
        cosineOrZero(dot(col("__v"), col("centroid")), norm(col("__v")),
          norm(col("centroid"))).as("__cos"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__cos") < minCosine, 1L).otherwise(0L)).as("n_outliers"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("__cos") < minCosine,
            col("__vid")))),
          _.cast("string")), ",")).as("outlier_md5"),
        sum(round(col("__cos"), 6).cast("decimal(18,6)")).cast("double")
          .as("sum_cos"))
  }

  /** Per-vector max-cosine centroid assignment against the deterministic
    * rounded-mean codebook: (__vid, label, assigned). Skinny through the
    * argmax shuffle — vectors rejoin by id downstream when needed. */
  private def nearestCentroid(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val centroids = emb
      .select(col(labelCol).cast("long").as("c_label"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "v")))
      .groupBy("c_label", "dim")
      .agg(round(avg(col("v")), 6).as("cv"))
      .groupBy("c_label")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
        x => x("cv")).as("centroid"))
    // norms precompute PER ROW, never per (vector, centroid) pair — the
    // package invariant: k per-pair norm(__v) recomputes (a full dot +
    // sqrt each) would triple the k×n scoring work
    val withNorms = centroids.withColumn("__cnorm", norm(col("centroid")))
    val scored = emb
      .select(col(idCol).as("__vid"), col(labelCol).cast("long").as("label"),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__vnorm", norm(col("__v")))
      .crossJoin(broadcast(withNorms))
      .select(col("__vid"), col("label"), col("c_label"),
        cosineOrZero(dot(col("__v"), col("centroid")), col("__vnorm"),
          col("__cnorm")).as("__cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__vid").orderBy(col("__cos").desc, col("c_label"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("__vid"), col("label"), col("c_label").as("assigned"))
  }

  /** SemDeDup-shaped semantic deduplication (Abbas et al. 2023, arXiv
    * 2303.09540): partition the corpus by a coarse quantizer, find
    * within-cluster cosine near-duplicates, keep one representative per
    * duplicate neighborhood. The quantizer here is the deterministic
    * rounded-mean label codebook (the emb7 convention — an MLlib KMeans
    * fit is not engine-replayable, this codebook is, and the assignment
    * is already hash-proven by emb7); production swaps in the k-means
    * centroids with k ∝ N so expected cluster size stays constant.
    * Survivorship is the deterministic one-pass rule: a vector is
    * DROPPED iff some lower-id vector in the same cluster has cosine ≥
    * `minCosine` with it — the "keep first item per neighborhood" rule
    * of the paper with document id as the pinned scan order.
    *
    * Scale shape: the pair join is co-partitioned on the cluster key, so
    * the pair space is Σ cluster² (bounded by the quantizer's balance,
    * the same bound SemDeDup runs 100 TB corpora under) and never n²;
    * the argmax assignment is skinny (id, cluster) and vectors rejoin by
    * id. Returns per-cluster survivorship accounting. */
  def semanticDedup(emb0: DataFrame, idCol: String, vecCol: String,
      labelCol: String, minCosine: Double): DataFrame = {
    val emb = withRegistry(emb0)
    val assign = nearestCentroid(emb, idCol, vecCol, labelCol)
      .select(col("__vid"), col("assigned").as("cluster"))
    // three consumers (both pair-join sides + the per-cluster census)
    // and Spark does not dedupe common subplans — unless materialized,
    // the centroid crossJoin + argmax pipeline executes three times
    val v = emb
      .select(col(idCol).as("__vid"), col(vecCol).cast("array<double>").as("__v"))
      .join(assign, "__vid")
      .withColumn("__n", norm(col("__v")))
      .localCheckpoint()
    val a = v.select(col("cluster"), col("__vid").as("__id1"),
      col("__v").as("__v1"), col("__n").as("__n1"))
    val b = v.select(col("cluster"), col("__vid").as("__id2"),
      col("__v").as("__v2"), col("__n").as("__n2"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("__id1") < col("__id2"))
      .filter(cosineOrZero(dot(col("__v1"), col("__v2")),
        col("__n1"), col("__n2")) >= minCosine)
      .groupBy("cluster")
      .agg(countDistinct(col("__id2")).as("n_dropped"))
    v.groupBy("cluster").agg(count(lit(1)).as("n_vectors"))
      .join(dropped, Seq("cluster"), "left")
      .select(col("cluster"), col("n_vectors"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_vectors") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
  }

  /** Pairs with cosine ≥ `minCosine` (embedding near-duplicate detection).
    * Per-row norms are computed once on each side of the join; each pair
    * costs exactly one codegen'd dot.
    *
    * Candidate enumeration auto-selects (the Dedup.jaccardPairs
    * treatment): the exact all-pairs join while the corpus is at or below
    * `maxExactDocs` docs, OR-amplified banded LSH candidates above it —
    * pairs form only inside shared band buckets, so the pair space is
    * Σ bucket² per band instead of n². Above the threshold recall is the
    * banding capture probability 1 − (1 − p^r)^b with p = 1 − θ/π: at a
    * realistic near-dup threshold (cosine 0.9, auto-r=3 at 2000 docs,
    * b=8) that is ≥ 0.999 per pair; at the deliberately hard testdata
    * threshold 0.4
    * (uniform vectors, no planted dups — pairs sit barely above
    * background) it is ≈ 0.8, measured and pinned by AnnSpec. Both paths
    * are deterministic and engine-replayable, so the declared queries
    * stay hash-exact on whichever path the corpus size selects. */
  def cosineNearDupPairs(emb0: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, maxExactDocs: Long = 100000L,
      planesPerBand: Int = AutoPlanes, bands: Int = 8,
      docCount: Option[Long] = None): DataFrame = {
    val emb = withRegistry(emb0)
    val a = emb.select(col(idCol).as("id1"), col(vecCol).as("v1"),
      norm(col(vecCol)).as("n1"))
    val b = emb.select(col(idCol).as("id2"), col(vecCol).as("v2"),
      norm(col(vecCol)).as("n2"))
    val nDocs =
      if (maxExactDocs == Long.MaxValue) 0L
      else docCount.getOrElse(emb.count())
    val pairs =
      if (nDocs <= maxExactDocs)
        a.crossJoin(b).filter(col("id1") < col("id2"))
      else {
        val r = if (planesPerBand > 0) planesPerBand else planesPerBandFor(nDocs)
        bandedCandidatePairs(emb, idCol, vecCol, r, bands)
          .join(a, "id1").join(b, "id2")
      }
    pairs
      .select(col("id1"), col("id2"),
        cosineOrZero(dot(col("v1"), col("v2")), col("n1"), col("n2"))
          .as("score"))
      .filter(col("score") >= minCosine)
      .select(col("id1"), col("id2"), round(col("score"), 6).as("score"))
  }

  /** Symmetric per-vector int8 scalar quantization (the FAISS-SQ8 shape,
    * public method) with its reconstruction contract:
    *
    *   scale = max_i |x_i|,  q_i = ⌊x_i·127/scale + 0.5⌋ ∈ [−127, 127],
    *   x̂_i = q_i·scale/127,  |x_i − x̂_i| ≤ scale/254
    *
    * — the memory side of 100 TB embedding handling (4× smaller vectors,
    * SIMD-friendly int8 distance kernels downstream; IVF/LSH here cut
    * COMPARISONS, quantization cuts BYTES). Per-vector stats instead of
    * 64 int columns: n_dims, scale, the integer L1 checksum of the
    * quantized vector (pins every q_i without emitting them), q range,
    * the max reconstruction error, and the a5b-style `within_bound`
    * contract the oracle asserts.
    *
    * Determinism: rounding is ⌊y + 0.5⌋ — `floor` is exact IEEE in every
    * engine, unlike ROUND whose tie algorithm differs between Spark
    * (BigDecimal HALF_UP) and DuckDB (away-from-zero) — and every double
    * expression tree is mirrored operand-for-operand in the oracle, so
    * doubles compare bit-equal. Zero vectors quantize to all-zero with
    * zero error (no 0/0). Everything is a per-row sequential fold — no
    * parallel float aggregation, no shuffle at all before the final
    * projection. */
  /** Asymmetric quantized k-NN (the FAISS ADC shape): the FULL-precision
    * query scores the DEQUANTIZED ([[int8QuantizationStats]]'s x̂) corpus —
    * asymmetric distance loses half the quantization error vs
    * quantized-vs-quantized, at zero extra memory. Emits both the
    * quantized and the exact score per hit plus `in_exact_topk`, so the
    * oracle hash-checks the quantized RANKING and its recall against the
    * exact top-k in one row set. Same no-shuffle scan shape as
    * [[knnBruteForce]]: broadcast query row, one dot per corpus row,
    * TakeOrderedAndProject. In production the int8 vectors are the
    * stored table and this is the search path over them. */
  def quantizedKnn(emb0: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val emb = withRegistry(emb0)
    val xd = transform(col(vecCol), x => x.cast("double"))
    val base = emb.select(col(idCol), xd.as("xd"))
      .withColumn("scale", array_max(transform(col("xd"), x => abs(x))))
      .withColumn("xhat",
        when(col("scale") === 0.0, transform(col("xd"), _ => lit(0.0)))
          .otherwise(transform(col("xd"),
            x => floor(x * 127.0 / col("scale") + 0.5).cast("long")
              .cast("double") * col("scale") / 127.0)))
    val q = base.filter(col(idCol) === queryId)
      .select(col("xd").as("__qvec"), norm(col("xd")).as("__qnorm"))
    // The slim (id, q_score, exact_score) frame feeds BOTH rankings —
    // Spark does not dedupe common subplans, so unless materialized the
    // dequantization and both per-row dots would run twice per query
    // (r9 ADVICE).
    val scored = base.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol),
        cosineOrZero(dot(col("xhat"), col("__qvec")), norm(col("xhat")),
          col("__qnorm")).as("q_score"),
        cosineOrZero(dot(col("xd"), col("__qvec")), norm(col("xd")),
          col("__qnorm")).as("exact_score"))
      .localCheckpoint()
    val exactTop = scored
      .orderBy(col("exact_score").desc, col(idCol)).limit(k)
      .select(col(idCol)).withColumn("__hit", lit(true))
    scored
      .orderBy(col("q_score").desc, col(idCol)).limit(k)
      .join(broadcast(exactTop), Seq(idCol), "left")
      .select(col(idCol), col("q_score"), col("exact_score"),
        coalesce(col("__hit"), lit(false)).as("in_exact_topk"))
      .orderBy(col("q_score").desc, col(idCol))
  }

  def int8QuantizationStats(emb0: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val xd = transform(col(vecCol), x => x.cast("double"))
    emb0.select(col(idCol), xd.as("xd"))
      .withColumn("scale", array_max(transform(col("xd"), x => abs(x))))
      .withColumn("q",
        when(col("scale") === 0.0, transform(col("xd"), _ => lit(0L)))
          .otherwise(transform(col("xd"),
            x => floor(x * 127.0 / col("scale") + 0.5).cast("long"))))
      .withColumn("max_abs_err",
        when(col("scale") === 0.0, lit(0.0))
          .otherwise(array_max(zip_with(col("xd"), col("q"),
            (x, q) => abs(x - q.cast("double") * col("scale") / 127.0)))))
      .select(col(idCol),
        size(col("xd")).cast("long").as("n_dims"),
        col("scale"),
        aggregate(col("q"), lit(0L), (a, x) => a + abs(x)).as("q_l1"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"),
        col("max_abs_err"),
        // contract asserted in QUANTIZED units: q = floor(y+0.5) with
        // y = x·127/scale makes |y − q| ≤ 0.5 hold EXACTLY (ties give
        // |y−q| = 0.5, not one-ulp-above as the rescaled scale·0.5/127
        // comparison could report under a different fp evaluation path —
        // r9 ADVICE). Zero vectors trivially satisfy the contract.
        when(col("scale") === 0.0, lit(true))
          .otherwise(array_max(zip_with(col("xd"), col("q"),
            (x, q) => abs(x * 127.0 / col("scale") - q.cast("double"))))
            <= 0.5).as("within_bound"))
  }
}
