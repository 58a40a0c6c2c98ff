package graft.similarity

import org.apache.spark.sql.functions._
import graft.SparkSpec

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),   // closest to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal
    (3L, Array(-1.0f, 0.0f, 0.0f)),  // opposite
    (4L, Array(0.7f, 0.7f, 0.0f)))   // diagonal
    .toDF("vec_id", "embedding")

  test("cosine matches hand-computed values") {
    val c = vecs.filter(col("vec_id") === 4)
      .crossJoin(vecs.filter(col("vec_id") === 0).select(col("embedding").as("q")))
      .select(Ann.cosine(col("embedding"), col("q")).as("c")).as[Double].head()
    assert(math.abs(c - 0.7071067811865475) < 1e-7) // float inputs, double fold
  }

  test("brute-force knn ranks by cosine with id tie-break") {
    val knn = Ann.knnBruteForce(vecs, "vec_id", "embedding", 0L, 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(knn == Seq(1L, 4L, 2L)) // 0.994 > 0.707 > 0.0; excludes query itself
  }

  test("LSH-bucketed knn returns a subset of brute-force candidates with same scores") {
    val brute = Ann.knnBruteForce(vecs, "vec_id", "embedding", 0L, 4)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("score")).toMap
    val lsh = Ann.knnLshBucketed(vecs, "vec_id", "embedding", 0L, 4, planes = 2)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("score"))
    assert(lsh.nonEmpty)
    lsh.foreach { case (id, score) =>
      assert(brute.contains(id) && math.abs(brute(id) - score) < 1e-12)
    }
  }

  test("auto-r step function: pinned tier boundaries and measured anchor points") {
    // the pinned rule: smallest r >= 3 with n <= 250 * 2^r — constant
    // expected bucket occupancy. Both round-5 measured points must sit on
    // the curve (r=3 at 2000 docs, r=5 at the 4x rehearsal's 8000), the
    // oracle tier boundaries (2000/4000) must be exact, and the cap must
    // hold for absurd n.
    assert(Ann.planesPerBandFor(0L) == 3)
    assert(Ann.planesPerBandFor(250L) == 3)
    assert(Ann.planesPerBandFor(2000L) == 3)   // sf0.1 bench point
    assert(Ann.planesPerBandFor(2001L) == 4)   // oracle tier boundary
    assert(Ann.planesPerBandFor(4000L) == 4)
    assert(Ann.planesPerBandFor(4001L) == 5)
    assert(Ann.planesPerBandFor(8000L) == 5)   // 4x rehearsal point
    assert(Ann.planesPerBandFor(16000L) == 6)  // 8x rehearsal point
    assert(Ann.planesPerBandFor(1000000L) == 12)
    assert(Ann.planesPerBandFor(Long.MaxValue) == 30) // cap
  }

  test("near-dup pairs: exact quadratic vs banded candidates agree on found pairs") {
    val exact = Ann.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    assert(exact == Set((0L, 1L))) // only 0~1 are >= 0.9
    // maxExactDocs = 0 forces the banded LSH path regardless of size
    val banded = Ann.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.9,
      maxExactDocs = 0L)
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    assert(banded.subsetOf(exact))
  }

  test("banded path recall on the declared parameters (pinned measurement)") {
    // the declared emb4 shape: uniform driver vectors, threshold 0.4 — the
    // WORST case for LSH (pairs sit barely above background, no planted
    // dups). Banding capture 1−(1−p³)⁸ predicts ~0.8 here and ≥0.999 at a
    // realistic 0.9 near-dup threshold; pin the measured floor so a weight-
    // family regression (e.g. the 7-plane periodicity graft_hplanes has)
    // shows up as a recall collapse, not silently.
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val exact = Ann.cosineNearDupPairs(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => ((r.getAs[Long]("id1"), r.getAs[Long]("id2")),
        r.getAs[Double]("score"))).toMap
    val banded = Ann.cosineNearDupPairs(emb, "vec_id", "embedding", 0.4,
      maxExactDocs = 0L, planesPerBand = 3, bands = 8)
      .collect().map(r => ((r.getAs[Long]("id1"), r.getAs[Long]("id2")),
        r.getAs[Double]("score"))).toMap
    // banded output is a subset with identical scores (the rerank is exact)
    banded.foreach { case (k, v) => assert(exact.get(k).contains(v)) }
    assert(exact.nonEmpty)
    val recall = banded.size.toDouble / exact.size
    assert(recall >= 0.70, s"banded recall $recall below pinned floor 0.70")
  }

  test("fused graft_bands equals the composed per-plane graft_dot form") {
    graft.GraftExtensions.setup(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val both = emb.select(
      Ann.bandedBuckets(col("embedding"), 3, 8).as("fused"),
      Ann.bandedBucketsComposed(col("embedding"), 3, 8).as("composed"))
    assert(both.filter(col("fused") =!= col("composed")).count() == 0)
  }

  test("graft_bands buckets degenerate vectors at all-zero, like the SQL oracle") {
    graft.GraftExtensions.setup(spark)
    val withNull = Seq(
      (1L, Array(1.0f, -2.0f, 3.0f)),
      (2L, null.asInstanceOf[Array[Float]]),
      (3L, Array.empty[Float])
    ).toDF("id", "embedding")
    val rows = withNull.select(col("id"),
      Ann.bandedBuckets(col("embedding"), 3, 8).as("bands"))
      .orderBy("id").collect()
    // null and empty vectors: every band bucket 0, never NULL (the oracle's
    // CASE WHEN list_sum(...) >= 0 ... ELSE 0 yields 0 when the sum is NULL)
    Seq(1, 2).foreach { i =>
      assert(!rows(i).isNullAt(1))
      assert(rows(i).getSeq[Long](1) == Seq.fill(8)(0L))
    }
    assert(rows(0).getSeq[Long](1).length == 8)
    // the composed reference DIVERGES on the empty vector by design
    // (graft_dot over an empty array is 0.0 → every sign bit set; the
    // fused form follows the ORACLE) — pin the divergence like the
    // graft_hplanes test does, so the contract stays visible
    graft.GraftExtensions.setup(spark)
    val composedEmpty = withNull.filter(col("id") === 3L)
      .select(Ann.bandedBucketsComposed(col("embedding"), 3, 8).as("b"))
      .collect()(0).getSeq[Long](0)
    assert(composedEmpty == Seq.fill(8)(7L)) // all 3 bits of every band
  }

  test("graft_bands interpreted eval matches codegen") {
    graft.GraftExtensions.setup(spark)
    val fromCodegen = vecs
      .select(Ann.bandedBuckets(col("embedding"), 3, 8).as("b"))
      .collect().map(_.getSeq[Long](0)).toSeq
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interpreted = vecs
        .select(Ann.bandedBuckets(col("embedding"), 3, 8).as("b"))
        .collect().map(_.getSeq[Long](0)).toSeq
      assert(interpreted == fromCodegen)
    }
  }

  test("cross-corpus near-dup: pairs cross sides only, scores exact") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val batch = emb.filter(col("vec_id") % 10 === 0)
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val pairs = Ann.crossCorpusNearDupPairs(batch, corpus, "vec_id",
      "embedding", minCosine = 0.4)
      .collect().map(r => ((r.getAs[Long]("batch_id"),
        r.getAs[Long]("corpus_id")), r.getAs[Double]("score"))).toMap
    assert(pairs.nonEmpty)
    // sides are respected: batch ids ≡ 0 (mod 10), corpus ids ≢ 0
    pairs.keys.foreach { case (b, c) =>
      assert(b % 10 == 0 && c % 10 != 0)
    }
    // survivors carry their true cosine: recompute exactly via the
    // all-pairs scan (threshold low enough that banding is the only
    // difference — every banded pair must appear there with equal score)
    val exactAll = Ann.cosineNearDupPairs(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => ((r.getAs[Long]("id1"), r.getAs[Long]("id2")),
        r.getAs[Double]("score"))).toMap
    pairs.foreach { case ((b, c), s) =>
      val key = if (b < c) (b, c) else (c, b)
      assert(exactAll.get(key).contains(s), s"pair ($b,$c) score $s not exact")
    }
  }

  test("banding weight family has no short period in p (unlike graft_hplanes)") {
    // graft_hplanes' w(p,d) repeats with period 7 in p — only 7 distinct
    // hyperplanes, which silently caps OR-amplification. The banding
    // family must not, over the FULL plane range auto-r can request:
    // r <= 30 planes/band x 8 bands = 240 planes (the original mod-97
    // inner mix repeated beyond p = 96 — i.e. from auto-r = 13 at 8
    // bands, past ~1M docs — which is why the modulus is now the prime
    // 9973 > any requestable plane index). Pairwise-distinct weight
    // vectors over 64 dims for all 240.
    def wvec(p: Int): Seq[Int] =
      (0 until 64).map(d => ((p * 1009 + d * 613 + p * d * 31) % 9973) % 7 - 3)
    val planes = (0 until 240).map(wvec)
    assert(planes.distinct.size == 240)
    // and the legacy family really is periodic (documents WHY graft_bands
    // exists — if this ever fails, the families diverged)
    def legacy(p: Int): Seq[Int] = (0 until 64).map(d => (p * 131 + d * 37) % 7 - 3)
    assert(legacy(0) == legacy(7) && legacy(3) == legacy(10))
    // the PROJECTION family must not inherit the period: component 7
    // duplicating component 0 would double-weight a coordinate in every
    // JL estimate at the default dims = 8 (and the legacy-period
    // serving verbs now refuse planes > 7 outright)
    def projv(p: Int): Seq[Double] = (0 until 64).map(Ann.projWeight(p, _))
    assert((0 until 32).map(projv).distinct.size == 32,
      "projection weight family has a short period in p")
    intercept[IllegalArgumentException] {
      Ann.knnLshBucketed(spark.range(1).toDF("vec_id"), "vec_id", "v",
        0L, 1, planes = 8)
    }
  }

  test("codegen'd graft_dot is bit-identical to the interpreted fold") {
    graft.GraftExtensions.setup(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val both = emb.crossJoin(
      emb.filter(col("vec_id") === 0).select(col("embedding").as("q")))
      .select(Ann.dot(col("embedding"), col("q")).as("fast"),
        Ann.dotFold(col("embedding"), col("q")).as("slow"))
    assert(both.filter(col("fast") =!= col("slow")).count() == 0)
  }

  test("graft_dot rejects mismatched element types at analysis time") {
    graft.GraftExtensions.setup(spark)
    val df = Seq((Array(1.0f), Array(1.0))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(Ann.dot(col("a"), col("b"))).collect()
    }
  }

  test("hyperplane bucket is deterministic and stable across evaluations") {
    val b1 = vecs.select(Ann.hyperplaneBucket(col("embedding"), 8).as("b"))
      .as[Long].collect().toSeq
    val b2 = vecs.select(Ann.hyperplaneBucket(col("embedding"), 8).as("b"))
      .as[Long].collect().toSeq
    assert(b1 == b2)
    assert(b1.forall(b => b >= 0 && b < 256))
  }

  test("graft_hplanes buckets degenerate vectors at 0, like the SQL oracle") {
    val withNull = Seq(
      (1L, Array(1.0f, -2.0f, 3.0f)),
      (2L, null.asInstanceOf[Array[Float]]),
      (3L, Array.empty[Float])
    ).toDF("id", "embedding")
    val rows = withNull.select(col("id"),
      Ann.hyperplaneBucket(col("embedding"), 8).as("fused"),
      Ann.hyperplaneBucketComposed(col("embedding"), 8).as("composed"))
      .orderBy("id").collect()
    // null vector: fused must be 0 (not NULL); composed agrees
    assert(!rows(1).isNullAt(1) && rows(1).getLong(1) == 0L)
    assert(rows(1).getLong(2) == 0L)
    // empty vector: fused follows the ORACLE (list_sum of empty -> NULL
    // -> ELSE 0); the composed form diverges here by design (dot = 0.0
    // sets every sign bit) — pin both so the contract stays visible
    assert(rows(2).getLong(1) == 0L)
    assert(rows(2).getLong(2) == 255L)
    assert(rows(0).getLong(1) == rows(0).getLong(2))
  }

  test("fused graft_hplanes equals the composed per-plane graft_dot form") {
    // whole corpus, both plane counts used by the declared queries —
    // one pass over the float array must reproduce the per-plane dots'
    // signs exactly (integer weights keep every sum exact in double)
    Seq(4, 8).foreach { planes =>
      val both = vecs.select(
        Ann.hyperplaneBucket(col("embedding"), planes).as("fused"),
        Ann.hyperplaneBucketComposed(col("embedding"), planes).as("composed"))
      assert(both.filter(col("fused") =!= col("composed")).count() == 0,
        s"bucket mismatch at planes=$planes")
    }
  }

  test("graft_hplanes interpreted eval matches codegen") {
    val fromCodegen = vecs
      .select(Ann.hyperplaneBucket(col("embedding"), 8).as("b"))
      .as[Long].collect().toSeq
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interpreted = vecs
        .select(Ann.hyperplaneBucket(col("embedding"), 8).as("b"))
        .as[Long].collect().toSeq
      assert(interpreted == fromCodegen)
    }
  }

  test("zero-norm vectors score 0 instead of throwing under ANSI mode") {
    // failed-encoder rows (all-zero embeddings) exist in real corpora; a
    // zero centroid also arises when a label's vectors cancel (caught by
    // the 2x scale rehearsal's negated copies)
    val withZero = vecs.unionByName(
      Seq((9L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"))
    val knn = Ann.knnBruteForce(withZero, "vec_id", "embedding", 0L, 5)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("score")).toMap
    assert(knn(9L) == 0.0)
    // a corpus of {v, -v} per label yields an exactly-zero centroid:
    // every assignment must still resolve (all cosines 0 -> first label)
    val cancelling = Seq(
      (0L, 0, Array(1.0f, 0.0f, 0.0f)), (1L, 0, Array(-1.0f, 0.0f, 0.0f)),
      (2L, 1, Array(0.0f, 1.0f, 0.0f)), (3L, 1, Array(0.0f, -1.0f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
    val assigned = Ann.centroidAssign(cancelling, "vec_id", "embedding", "label")
      .agg(sum("n")).as[Long].head()
    assert(assigned == 4L)
  }

  test("knnBatchLsh answers every query with its own bucket-local top-k") {
    val batch = Ann.knnBatchLsh(vecs, vecs.filter(col("vec_id") < 2),
      "vec_id", "embedding", k = 3, planes = 2)
      .collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Long]("rnk"))
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("score")).toSeq)
      .toMap
    // both queries answered; no query returns itself; ranks descend by score
    assert(batch.keySet == Set(0L, 1L))
    batch.foreach { case (qid, hits) =>
      assert(!hits.map(_._1).contains(qid))
      assert(hits.map(_._2) == hits.map(_._2).sorted.reverse)
    }
    // per-query results equal the single-query LSH path at the same planes
    val single = Ann.knnLshBucketed(vecs, "vec_id", "embedding", 0L, 3, planes = 2)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("score")).toSeq
    assert(batch(0L) == single)
  }

  test("centroidAssign: well-separated labels produce a diagonal confusion matrix") {
    // label 0 clusters on the x axis, label 1 on the y axis
    val labeled = Seq(
      (0L, 0, Array(1.0f, 0.0f, 0.0f)),
      (1L, 0, Array(0.9f, 0.1f, 0.0f)),
      (2L, 1, Array(0.0f, 1.0f, 0.0f)),
      (3L, 1, Array(0.1f, 0.9f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
    val confusion = Ann.centroidAssign(labeled, "vec_id", "embedding", "label")
      .collect().map(r => (r.getAs[Long]("label"), r.getAs[Long]("assigned")) ->
        r.getAs[Long]("n")).toMap
    assert(confusion == Map((0L, 0L) -> 2L, (1L, 1L) -> 2L))
  }

  test("centroidAssign assigns every vector exactly once") {
    val labeled = vecs.withColumn("label", (col("vec_id") % 2).cast("int"))
    val total = Ann.centroidAssign(labeled, "vec_id", "embedding", "label")
      .agg(sum("n")).as[Long].head()
    assert(total == 5L)
  }

  test("projected near-dup with pruning disabled equals the exact scan") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Ann.cosineNearDupPairs(emb, "vec_id", "embedding", minCosine = 0.4)
      .collect().map(r => ((r.getAs[Long]("id1"), r.getAs[Long]("id2")),
        r.getAs[Double]("score"))).toMap
    val viaProj = Ann.projectedNearDupPairs(emb, "vec_id", "embedding",
      minCosine = 0.4, dims = 8, minProjCosine = -1.1) // prune disabled
      .collect().map(r => ((r.getAs[Long]("id1"), r.getAs[Long]("id2")),
        r.getAs[Double]("score"))).toMap
    assert(viaProj == exact)
    // with pruning on, output is a subset of exact with identical scores
    val pruned = Ann.projectedNearDupPairs(emb, "vec_id", "embedding",
      minCosine = 0.4, dims = 8, minProjCosine = 0.1)
      .collect().map(r => ((r.getAs[Long]("id1"), r.getAs[Long]("id2")),
        r.getAs[Double]("score"))).toMap
    pruned.foreach { case (k, v) => assert(exact.get(k).contains(v)) }
    // banded candidates (the scale path, forced via maxExactDocs = 0):
    // pairs form only inside shared band buckets — a subset of the
    // all-pairs output with identical scores (band prune and projection
    // prune compose; the rerank stays exact)
    val banded = Ann.projectedNearDupPairs(emb, "vec_id", "embedding",
      minCosine = 0.4, dims = 8, minProjCosine = 0.1, maxExactDocs = 0L)
      .collect().map(r => ((r.getAs[Long]("id1"), r.getAs[Long]("id2")),
        r.getAs[Double]("score"))).toMap
    banded.foreach { case (k, v) => assert(pruned.get(k).contains(v)) }
    assert(banded.nonEmpty)
  }

  test("int8 quantization: range, checksum, bound, and zero-vector guard") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),          // zero vector
      (3L, Array(-2.0f, 2.0f, 1.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    val out = Ann.int8QuantizationStats(emb, "vec_id", "embedding")
      .orderBy("vec_id").collect()
    val byId = out.map(r => r.getAs[Long]("vec_id") -> r).toMap
    // v1: scale 1.0 → q = [127, -63 (floor(-63.5+0.5)), 32 (floor(32.25)), 0]
    val r1 = byId(1L)
    assert(r1.getAs[Double]("scale") == 1.0)
    assert(r1.getAs[Long]("q_l1") == 127L + 63L + 32L)
    assert(r1.getAs[Long]("q_min") == -63L && r1.getAs[Long]("q_max") == 127L)
    // zero vector: all-zero quantization, zero error, bound holds
    val r2 = byId(2L)
    assert(r2.getAs[Double]("scale") == 0.0 && r2.getAs[Long]("q_l1") == 0L)
    assert(r2.getAs[Double]("max_abs_err") == 0.0 && r2.getAs[Boolean]("within_bound"))
    // every vector satisfies the half-step reconstruction bound and the
    // int8 range
    out.foreach { r =>
      assert(r.getAs[Boolean]("within_bound"), s"$r")
      assert(r.getAs[Long]("q_min") >= -127L && r.getAs[Long]("q_max") <= 127L)
    }
  }

  test("quantized knn: ranking tracks exact on separated vectors, recall marked") {
    import spark.implicits._
    // query 0 aligned with 1, orthogonal-ish to 2, opposed to 3
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.2f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f, 0.1f)))
      .toDF("vec_id", "embedding")
    val out = Ann.quantizedKnn(emb, "vec_id", "embedding", queryId = 0L, k = 3)
      .collect()
    assert(out.map(_.getAs[Long]("vec_id")).toSeq == Seq(1L, 2L, 3L))
    out.foreach { r =>
      // int8 on 4 dims: quantized cosine within a loose absolute band
      assert(math.abs(r.getAs[Double]("q_score") -
        r.getAs[Double]("exact_score")) < 0.02, s"$r")
      assert(r.getAs[Boolean]("in_exact_topk")) // k = corpus size here
    }
  }

  test("MMR rerank: first pick is the relevance top-1, later picks trade " +
      "relevance for diversity") {
    val out = Ann.mmrRerank(vecs, "vec_id", "embedding", queryId = 0L,
      nCandidates = 4, k = 3, lambda = 0.5).collect()
    assert(out.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
    val picks = out.map(_.getAs[Long]("vec_id")).toSeq
    // rel order is 1 (0.994) > 4 (0.707) > 2 (0.0) > 3 (−1): pure
    // relevance would pick (1, 4, 2). MMR at λ=0.5 picks 1, then 3 (the
    // opposite vector — max-sim to the selected set is −0.994, the most
    // diverse choice), then 4 — the diversity trade in action.
    assert(picks == Seq(1L, 3L, 4L), s"got $picks")
    // rank-1 mmr is λ·rel with an empty selected set
    val r1 = out.head
    assert(math.abs(r1.getAs[Double]("mmr_score") -
      0.5 * r1.getAs[Double]("rel")) < 1e-12)
  }

  test("centroidOutliers flags exactly the vector pointing away from " +
      "its own label centroid, and nothing at tau = -1") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(-1.0f, 0.0f, 0.0f), 0), // opposite its label-0 peers
      (3L, Array(0.0f, 1.0f, 0.0f), 1),
      (4L, Array(0.0f, 0.9f, 0.1f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Ann.centroidOutliers(emb, "vec_id", "embedding", "label",
      minCosine = 0.0).collect().map(r =>
        r.getAs[Long]("label") -> r).toMap
    assert(out(0L).getAs[Long]("n") == 3L)
    assert(out(0L).getAs[Long]("n_outliers") == 1L)
    assert(out(1L).getAs[Long]("n_outliers") == 0L)
    // pinned membership: the md5 is of the literal id list "2"
    assert(out(0L).getAs[String]("outlier_md5") ==
      java.security.MessageDigest.getInstance("MD5").digest("2".getBytes)
        .map("%02x".format(_)).mkString)
    val none = Ann.centroidOutliers(emb, "vec_id", "embedding", "label",
      minCosine = -1.0).collect()
    assert(none.forall(_.getAs[Long]("n_outliers") == 0L))
  }

  test("IVF-PQ composition: all-cells + full-rerank degrades to exact " +
      "brute force; probe superset never loses hits under full refine") {
    // 40 vectors in 4 well-separated direction clusters + ids 0..39
    val rnd = new scala.util.Random(7)
    val dirs = Seq(
      Array(1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0),
      Array(0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    val rows = (0 until 40).map { i =>
      val base = dirs(i % 4)
      (i.toLong, base.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val ivf = Ivf.build(emb, "vec_id", "embedding", nCells = 4, seed = 1L)
    val pq = Pq.train(emb, "vec_id", "embedding", m = 4, k = 4)
    val idx = Ivf.buildIvfPq(ivf, pq, "vec_id")
    val exact = Ann.knnBruteForce(emb, "vec_id", "embedding", 0L, 5)
      .select("vec_id").as[Long].collect().toSet
    // degeneracy: all cells + rerank >= corpus = exact top-k, same scores
    val all = Ivf.pqAdcKnn(idx, emb, "embedding", 0L, k = 5,
      nProbe = 4, rerank = 40).select("vec_id").as[Long].collect().toSet
    assert(all == exact)
    // provable monotonicity: candidate superset + full exact refine
    def hits(nProbe: Int) = Ivf.pqAdcKnn(idx, emb, "embedding", 0L, k = 5,
      nProbe = nProbe, rerank = 40)
      .select("vec_id").as[Long].collect().count(exact)
    assert(hits(1) <= hits(2) && hits(2) <= hits(4))
    // the ADC stage really scores codes: output carries both score columns
    val cols = Ivf.pqAdcKnn(idx, emb, "embedding", 0L, 5, 2, 10).columns.toSeq
    assert(cols == Seq("vec_id", "adc_score", "score"))
  }

  private def withSQLConf[A](pairs: (String, String)*)(f: => A): A = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
