package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.similarity.Ann
import Q.dsum

/** Similarity search / embedding operators over the `embeddings` table
  * (`Array[Float]`, 64-dim): brute-force cosine top-k, per-label centroids,
  * hyperplane-LSH bucketing, cosine near-dup pairs. Double-precision folds
  * are bit-identical between Spark's `aggregate` and DuckDB's
  * `list_sum(list_transform(...))` (verified), so the oracles are exact.
  */
object EmbeddingQueries {

  /** SQL dot product of two FLOAT[] columns in sequential double folds. */
  private def sqlDot(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a) + 1),
        i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"""

  /** SQL twin of [[Ann.hyperplaneBucket]]: bit p set iff the integer-weight
    * plane dot is ≥ 0. Deterministic integer weights make the bucket
    * engine-portable (proven by the emb3 histogram hash-match). */
  private def sqlBucket(vec: String, planes: Int): String = {
    val bits = (0 until planes).map { p =>
      s"""CASE WHEN list_sum(list_transform(range(1, len($vec) + 1),
            i -> CAST($vec[i] AS DOUBLE)
                 * CAST((($p * 131 + (i - 1) * 37) % 7) - 3 AS DOUBLE))) >= 0
          THEN CAST(${1L << p} AS BIGINT) ELSE 0 END"""
    }.mkString(" + ")
    s"CAST($bits AS BIGINT)"
  }

  private def sqlCosine(a: String, b: String): String =
    s"${sqlDot(a, b)} / sqrt(${sqlDot(a, a)}) / sqrt(${sqlDot(b, b)})"

  /** SQL twin of one [[Ann.bandedBuckets]] band: bit j of band `t` set iff
    * the plane p = t·r + j dot is ≥ 0 under the banding weight family
    * w(p,d) = (((p·1009 + d·613 + p·d·31) mod 9973) mod 7) − 3 (see
    * [[graft.functions.BandedHyperplanes]]). */
  private def sqlBand(vec: String, t: Int, r: Int): String = {
    val bits = (0 until r).map { j =>
      val p = t * r + j
      s"""CASE WHEN list_sum(list_transform(range(1, len($vec) + 1),
            i -> CAST($vec[i] AS DOUBLE)
                 * CAST(((($p * 1009 + (i - 1) * 613 + $p * (i - 1) * 31) % 9973) % 7) - 3 AS DOUBLE))) >= 0
          THEN CAST(${1L << j} AS BIGINT) ELSE 0 END"""
    }.mkString(" + ")
    s"CAST($bits AS BIGINT)"
  }

  /** emb4/emb10 pinned auto-select threshold: sf0.001/sf0.01 (500
    * vectors) take the exact all-pairs path, sf0.1 (2000) and anything
    * larger take the banded LSH path — so the tri-scale gate exercises
    * BOTH enumerations and the bench (sf0.1) measures the scale path. */
  private val NearDupMaxExactDocs = 1000L
  private val NearDupBands = 8

  /** Banding-width tiers the oracle replays (the [[Ann.planesPerBandFor]]
    * step function expressed over COUNT(*)): r = 3 for counts in
    * (maxExactDocs, 2000], r = 4 for (2000, 4000]. The driver corpora
    * top out at 2000 vectors (sf0.1), so the replayed tiers cover every
    * count the hash gate can see with one spare tier of headroom; a
    * count beyond the last tier produces ZERO oracle candidates — a loud
    * hash mismatch, never a silently wrong band width. (Beyond the
    * replayed range the Scala side keeps stepping r up by
    * planesPerBandFor; ScaleRehearsal exercises r = 5 and r = 6 at
    * 4×/8×, Spark-only.) */
  private val OracleRTiers = Seq(3 -> 2000L, 4 -> 4000L)

  /** Band columns for every replayed r tier, named band{t}_r{r}. */
  private def sqlBandCols(vec: String): String =
    (for ((r, _) <- OracleRTiers; t <- 0 until NearDupBands)
      yield sqlBand(vec, t, r) + s" AS band${t}_r$r")
      .mkString(",\n                      ")

  /** Candidate condition replaying the auto-selected enumeration of
    * [[Ann.cosineNearDupPairs]]/[[Ann.projectedNearDupPairs]]: all pairs
    * while the corpus is at or below `maxExactDocs` docs (pass 0 for
    * always-banded callers like emb11), any-shared-band at the count's
    * auto-r tier above. Tier intervals chain upward from `maxExactDocs`,
    * so the first banded tier starts exactly where the exact path ends.
    * `a`/`b` alias a CTE carrying [[sqlBandCols]]. */
  private def sqlAutoCandidates(a: String, b: String,
      maxExactDocs: Long): String = {
    val cnt = "(SELECT COUNT(*) FROM embeddings)"
    val (tiers, _) = OracleRTiers.foldLeft((Seq.empty[String], maxExactDocs)) {
      case ((acc, lo), (r, hi)) =>
        val anyBand = (0 until NearDupBands)
          .map(t => s"$a.band${t}_r$r = $b.band${t}_r$r").mkString(" OR ")
        (acc :+ s"($cnt > $lo AND $cnt <= $hi AND ($anyBand))", hi)
    }
    val exact = if (maxExactDocs > 0) s"$cnt <= $maxExactDocs OR " else ""
    s"($exact${tiers.mkString("\n                 OR ")})"
  }

  val all: Seq[Q] = Seq(

    Q("emb1_knn_bruteforce",
      (s, d) => Ann.knnBruteForce(Tables.embeddings(s, d), "vec_id", "embedding",
          queryId = 0L, k = 10)
        .select(col("vec_id"), round(col("score"), 6).as("score")),
      Some(s"""SELECT e.vec_id, ROUND(${sqlCosine("e.embedding", "q.embedding")}, 6)
                        AS score
               FROM embeddings e,
                    (SELECT embedding FROM embeddings WHERE vec_id = 0) q
               WHERE e.vec_id != 0
               ORDER BY ${sqlCosine("e.embedding", "q.embedding")} DESC, e.vec_id
               LIMIT 10""")),

    // Per-label per-dimension centroids; doubles summed then rounded — the
    // only tolerance-rounded aggregate in the embedding family.
    Q("emb2_label_centroids",
      (s, d) => Tables.embeddings(s, d)
        .select(col("label").cast("long").as("label"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "v")))
        .groupBy("label", "dim")
        .agg(round(avg(col("v")), 6).as("centroid_v"), count(lit(1)).as("n"))
        .select(col("label"), col("dim").cast("long").as("dim"),
          col("centroid_v"), col("n"))
        .orderBy("label", "dim"),
      Some("""SELECT CAST(label AS BIGINT) AS label,
                     CAST(i - 1 AS BIGINT) AS dim,
                     ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS centroid_v,
                     COUNT(*) AS n
              FROM embeddings CROSS JOIN range(1, 65) t(i)
              GROUP BY 1, 2 ORDER BY label, dim""")),

    Q("emb3_lsh_bucket_histogram",
      (s, d) => {
        graft.GraftExtensions.setup(s)
        Tables.embeddings(s, d)
          .select(Ann.hyperplaneBucket(col("embedding"), planes = 8).as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n"))
          .orderBy("bucket")
      },
      Some(s"""SELECT bucket, COUNT(*) AS n
               FROM (SELECT ${sqlBucket("embedding", 8)} AS bucket FROM embeddings)
               GROUP BY bucket ORDER BY bucket""")),

    // Candidate enumeration auto-selects on corpus size (the
    // jaccardPairs treatment): exact all-pairs at/below 1000 docs,
    // OR-amplified banded LSH above, with banding width r auto-sized
    // from the corpus count (Ann.planesPerBandFor — constant expected
    // bucket occupancy, so Σ bucket² stays sub-linear at any scale).
    // The corpus count is the cached table statistic, not a per-query
    // count job. The oracle replays BOTH the path selection and the
    // r-tier selection from COUNT(*) — the band buckets are
    // deterministic integer math — so the row is hash-exact on whichever
    // path/tier the scale selects; the sf0.1 bench runs the banded path
    // at auto-r = 3.
    Q("emb4_cosine_neardup_pairs",
      (s, d) => Ann.cosineNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
          minCosine = 0.4, maxExactDocs = NearDupMaxExactDocs,
          bands = NearDupBands,
          docCount = Some(Tables.cachedCount(s, d, "embeddings")))
        .orderBy("id1", "id2"),
      Some(s"""WITH v AS (SELECT vec_id, embedding,
                      ${sqlBandCols("embedding")}
                      FROM embeddings)
               SELECT a.vec_id AS id1, b.vec_id AS id2,
                      ROUND(${sqlCosine("a.embedding", "b.embedding")}, 6) AS score
               FROM v a JOIN v b ON a.vec_id < b.vec_id
               WHERE ${sqlAutoCandidates("a", "b", NearDupMaxExactDocs)}
                 AND ${sqlCosine("a.embedding", "b.embedding")} >= 0.4
               ORDER BY id1, id2""")),

    // LSH-bucketed ANN (scale path). The hyperplane bucket is deterministic
    // integer math, so the oracle recomputes the same bucket in DuckDB and
    // brute-forces inside it — a full hash-match on the recall-traded
    // result, not just a rows check.
    Q("emb5_knn_lsh_bucketed",
      (s, d) => Ann.knnLshBucketed(Tables.embeddings(s, d), "vec_id", "embedding",
          queryId = 0L, k = 10, planes = 4)
        .select(col("vec_id"), round(col("score"), 6).as("score")),
      Some(s"""WITH b AS (SELECT vec_id, embedding,
                                 ${sqlBucket("embedding", 4)} AS bucket
                          FROM embeddings),
                    q AS (SELECT embedding, bucket FROM b WHERE vec_id = 0)
               SELECT e.vec_id,
                      ROUND(${sqlCosine("e.embedding", "q.embedding")}, 6) AS score
               FROM b e JOIN q ON e.bucket = q.bucket
               WHERE e.vec_id != 0
               ORDER BY ${sqlCosine("e.embedding", "q.embedding")} DESC, e.vec_id
               LIMIT 10""")),

    // Batch ANN: 8 query vectors answered by ONE bucketed corpus scan —
    // the serving shape at scale (per-query scans don't amortize). The
    // oracle replays the buckets and the per-query top-k; WindowGroupLimit
    // keeps the Spark-side candidate lists partial-top-k'd before the
    // shuffle.
    Q("emb8_knn_batch",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        graft.similarity.Ann.knnBatchLsh(emb,
            emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            k = 5, planes = 4)
          .select(col("query_id"), col("vec_id"), col("rnk"),
            round(col("score"), 6).as("score"))
          .orderBy("query_id", "rnk")
      },
      Some(s"""WITH b AS (SELECT vec_id, embedding,
                                 ${sqlBucket("embedding", 4)} AS bucket
                          FROM embeddings),
                    q AS (SELECT vec_id AS query_id, embedding AS qe, bucket
                          FROM b WHERE vec_id < 8),
                    scored AS (SELECT q.query_id, e.vec_id,
                                      ${sqlCosine("e.embedding", "q.qe")} AS score
                               FROM b e JOIN q ON e.bucket = q.bucket
                               WHERE e.vec_id != q.query_id),
                    ranked AS (SELECT query_id, vec_id, score,
                                      CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                             ORDER BY score DESC, vec_id) AS BIGINT)
                                        AS rnk
                               FROM scored)
               SELECT query_id, vec_id, rnk, ROUND(score, 6) AS score
               FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""")),

    // Nearest-centroid assignment (k-means scoring shape): per-label
    // centroids (emb2's rounded-mean codebook) broadcast against the
    // corpus, every vector assigned to its max-cosine centroid, confusion
    // counts out. The codebook is engine-portable (rounded doubles), the
    // cosine folds are sequential in both engines, so the argmax — and
    // the full confusion matrix — hash-matches.
    Q("emb7_centroid_assign",
      (s, d) => graft.similarity.Ann.centroidAssign(Tables.embeddings(s, d),
          "vec_id", "embedding", "label")
        .orderBy("label", "assigned"),
      Some(s"""WITH cd AS (SELECT CAST(label AS BIGINT) AS c_label, i,
                                  ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS cv
                           FROM embeddings CROSS JOIN range(1, 65) t(i)
                           GROUP BY 1, 2),
                    cent AS (SELECT c_label, list(cv ORDER BY i) AS centroid
                             FROM cd GROUP BY c_label),
                    scored AS (SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
                                      c.c_label,
                                      ${sqlCosine("e.embedding", "c.centroid")} AS cosv
                               FROM embeddings e CROSS JOIN cent c),
                    ranked AS (SELECT vec_id, label, c_label,
                                      ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY cosv DESC, c_label) AS rn
                               FROM scored)
               SELECT label, c_label AS assigned, COUNT(*) AS n
               FROM ranked WHERE rn = 1
               GROUP BY 1, 2 ORDER BY label, assigned""")),

    // EMB12: SemDeDup-shaped semantic dedup — coarse-quantize the corpus
    // (the emb7 deterministic codebook standing in for the k-means
    // quantizer), within-cluster cosine near-dup pairs, drop every vector
    // with a lower-id neighbor ≥ τ in its cluster, survivorship counts
    // out. The oracle replays codebook, argmax assignment, pair predicate
    // and the drop rule — the whole curation decision is hash-checked.
    // Pair space is Σ cluster², co-partitioned on the cluster key (the
    // bound SemDeDup runs web-scale corpora under; k grows with N).
    Q("emb12_semantic_dedup",
      (s, d) => Ann.semanticDedup(Tables.embeddings(s, d), "vec_id",
          "embedding", "label", minCosine = 0.3)
        .orderBy("cluster"),
      Some(s"""WITH cd AS (SELECT CAST(label AS BIGINT) AS c_label, i,
                                  ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS cv
                           FROM embeddings CROSS JOIN range(1, 65) t(i)
                           GROUP BY 1, 2),
                    cent AS (SELECT c_label, list(cv ORDER BY i) AS centroid
                             FROM cd GROUP BY c_label),
                    scored AS (SELECT e.vec_id, c.c_label,
                                      ${sqlCosine("e.embedding", "c.centroid")} AS cosv
                               FROM embeddings e CROSS JOIN cent c),
                    asg AS (SELECT vec_id, c_label AS cluster
                            FROM (SELECT vec_id, c_label,
                                         ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY cosv DESC, c_label) AS rn
                                  FROM scored)
                            WHERE rn = 1),
                    v AS (SELECT a.vec_id, a.cluster, e.embedding
                          FROM asg a JOIN embeddings e ON a.vec_id = e.vec_id),
                    dropped AS (SELECT a.cluster,
                                       COUNT(DISTINCT b.vec_id) AS n_dropped
                                FROM v a JOIN v b
                                  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                                WHERE ${sqlCosine("a.embedding", "b.embedding")} >= 0.3
                                GROUP BY a.cluster),
                    sizes AS (SELECT cluster, COUNT(*) AS n_vectors
                              FROM v GROUP BY cluster)
               SELECT s.cluster, s.n_vectors,
                      COALESCE(d.n_dropped, 0) AS n_dropped,
                      s.n_vectors - COALESCE(d.n_dropped, 0) AS n_kept
               FROM sizes s LEFT JOIN dropped d ON s.cluster = d.cluster
               ORDER BY s.cluster""")),

    // IVF (k-means coarse quantizer) ANN — the learned-bucket scale path.
    // The cells come from a KMeans fit, which DuckDB cannot reproduce, so
    // the VALUES are not oracle-able — but the operator's CONTRACT is
    // (the a5b/a6b sketch-gating precedent): the query runs the IVF probe
    // and emits the verdicts of three hard gates computed against the
    // exact brute-force ground truth (emb1's semantics), and the oracle
    // asserts every verdict TRUE. A quantizer or probe regression flips a
    // boolean and hash-fails the row — pass/fail under the gate, zero
    // `no_oracle` rows on the board.
    //   recall_ge_gate  — IVF top-10 at the declared probe budget covers
    //                     ≥ 0.6 of the exact top-10 (IvfRecallGate);
    //   probe_monotone  — widening the probe (4 → 8 cells) never loses
    //                     recall;
    //   all_cells_exact — probing ALL cells reproduces brute force
    //                     exactly (ids and rounded scores).
    Q("emb6_knn_ivf",
      (s, d) => {
        val idx = ivfIndex(s, d)
        val emb = Tables.embeddings(s, d)
        def ivfIds(nProbe: Int) =
          graft.similarity.Ivf.knn(idx, "vec_id", "embedding",
            queryId = 0L, k = 10, nProbe = nProbe).select(col("vec_id"))
        // the exact top-10 ground truth feeds three gate joins and the
        // probe-8 result feeds two — both 10-row frames are materialized
        // so the corpus scans behind them run once, not once per gate
        val exact = graft.similarity.Ann.knnBruteForce(emb, "vec_id",
            "embedding", queryId = 0L, k = 10)
          .select(col("vec_id"), round(col("score"), 6).as("score"))
          .localCheckpoint()
        val ivf8 = ivfIds(IvfNProbe).localCheckpoint()
        val ivfAll = graft.similarity.Ivf.knn(idx, "vec_id", "embedding",
            queryId = 0L, k = 10, nProbe = 16)
          .select(col("vec_id"), round(col("score"), 6).as("score"))
        val h8 = ivf8.join(exact.select("vec_id"), "vec_id")
          .agg(count(lit(1)).as("h8"))
        val h4 = ivfIds(4).join(exact.select("vec_id"), "vec_id")
          .agg(count(lit(1)).as("h4"))
        val hAll = ivfAll.join(exact, Seq("vec_id", "score"))
          .agg(count(lit(1)).as("h_all"))
        val n = ivf8.agg(count(lit(1)).as("n_results"))
        h8.crossJoin(h4).crossJoin(hAll).crossJoin(n)
          .select(
            (col("h8").cast("double") >= lit(10.0 * IvfRecallGate))
              .as("recall_ge_gate"),
            (col("h4") <= col("h8")).as("probe_monotone"),
            (col("h_all") === 10L).as("all_cells_exact"),
            col("n_results"))
      },
      Some("""SELECT TRUE AS recall_ge_gate, TRUE AS probe_monotone,
                     TRUE AS all_cells_exact, CAST(10 AS BIGINT) AS n_results""")),

    // EMB9: Johnson–Lindenstrauss random projection (64 → 8 components) —
    // the shrink-then-search preprocessing for corpus-scale ANN: distances
    // are approximately preserved in 1/8th the bytes, and downstream
    // brute-force/LSH run on the short vectors. Deterministic integer
    // plane weights (the emb3 scheme), so the oracle replays every
    // component exactly; per-vector work is 8 codegen'd graft_dot calls,
    // no shuffle, no data-sized explode.
    Q("emb9_random_projection",
      (s, d) => {
        graft.GraftExtensions.setup(s)
        Tables.embeddings(s, d)
          .select(col("vec_id"),
            posexplode(array(Ann.randomProjection(col("embedding"), 8): _*))
              .as(Seq("dim", "proj_v")))
          .select(col("vec_id"), col("dim").cast("long").as("dim"),
            round(col("proj_v"), 6).as("proj_v"))
          .orderBy("vec_id", "dim")
      },
      Some("""SELECT vec_id, p AS dim,
                     ROUND(list_sum(list_transform(range(1, len(embedding) + 1),
                       i -> CAST(embedding[i] AS DOUBLE)
                            * CAST((((p * 131 + (i - 1) * 37) % 997) % 7) - 3
                                   AS DOUBLE))),
                       6) AS proj_v
              FROM embeddings CROSS JOIN range(0, 8) t(p)
              ORDER BY vec_id, dim""")),

    // EMB10: shrink-then-search — emb9's projection composed into the
    // working pipeline: candidate pairs form on the 8-component
    // projections (8 multiply-adds per pair, only short vectors flow
    // through the pair join), then ONLY survivors rejoin the full 64-dim
    // vectors for the exact cosine rerank. Deterministic projections →
    // the oracle replays prefilter AND rerank, so the recall trade is
    // itself hash-checked (emb4's semantics behind a cheaper candidate
    // stage).
    // EMB11: cross-corpus embedding near-dup — the recurring-crawl shape
    // (t22's embedding twin): every 10th vector plays the NEW batch, the
    // rest the indexed corpus. ALWAYS banded — the corpus's slim band
    // table is the precomputable index a crawl probes — candidates form
    // only across sides, exact rerank on survivors. The oracle replays
    // bands + rerank, so the banded recall trade is itself hash-checked.
    // Banding width auto-sizes from the FULL table's cached count (the
    // pinned convention: the indexed corpus is ~the table, and r tiers
    // are coarse powers of two, so the table statistic is the stable,
    // catalog-replayable input — the oracle reads the same COUNT(*)).
    Q("emb11_cross_corpus_neardup",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Ann.crossCorpusNearDupPairs(
            emb.filter(col("vec_id") % 10 === 0),
            emb.filter(col("vec_id") % 10 =!= 0),
            "vec_id", "embedding", minCosine = 0.4,
            bands = NearDupBands,
            corpusCount = Some(Tables.cachedCount(s, d, "embeddings")))
          .orderBy("batch_id", "corpus_id")
      },
      Some(s"""WITH v AS (SELECT vec_id, embedding,
                      ${sqlBandCols("embedding")}
                      FROM embeddings)
               SELECT a.vec_id AS batch_id, b.vec_id AS corpus_id,
                      ROUND(${sqlCosine("a.embedding", "b.embedding")}, 6) AS score
               FROM v a JOIN v b
                 ON a.vec_id % 10 = 0 AND b.vec_id % 10 != 0
               WHERE ${sqlAutoCandidates("a", "b", 0L)}
                 AND ${sqlCosine("a.embedding", "b.embedding")} >= 0.4
               ORDER BY batch_id, corpus_id""")),

    // Same auto-selected candidate stage as emb4 (banded LSH above 1000
    // docs), composed with the deterministic 8-component projection
    // prefilter: bands bound the pair SPACE, the short projections bound
    // the per-candidate COST before the full 64-dim rerank. The oracle
    // replays bands, prefilter, and rerank, so the row stays hash-exact
    // on both paths.
    Q("emb10_projected_neardup",
      (s, d) => Ann.projectedNearDupPairs(Tables.embeddings(s, d),
          "vec_id", "embedding", minCosine = 0.4, dims = 8,
          minProjCosine = 0.1, maxExactDocs = NearDupMaxExactDocs,
          bands = NearDupBands,
          docCount = Some(Tables.cachedCount(s, d, "embeddings")))
        .orderBy("id1", "id2"),
      Some(s"""WITH pr AS (SELECT vec_id, embedding,
                     list_transform(range(0, 8), p ->
                       list_sum(list_transform(range(1, len(embedding) + 1),
                         i -> CAST(embedding[i] AS DOUBLE)
                              * CAST((((p * 131 + (i - 1) * 37) % 997) % 7) - 3
                                     AS DOUBLE)))) AS proj,
                     ${sqlBandCols("embedding")}
                     FROM embeddings),
                   cand AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
                                   a.embedding AS e1, b.embedding AS e2
                            FROM pr a JOIN pr b ON a.vec_id < b.vec_id
                            WHERE ${sqlAutoCandidates("a", "b",
                              NearDupMaxExactDocs)}
                              AND ${sqlCosine("a.proj", "b.proj")} >= 0.1)
              SELECT id1, id2, ROUND(${sqlCosine("e1", "e2")}, 6) AS score
              FROM cand
              WHERE ${sqlCosine("e1", "e2")} >= 0.4
              ORDER BY id1, id2""")),

    // EMB13: symmetric per-vector int8 scalar quantization (FAISS-SQ8
    // shape) — the BYTES side of 100 TB embedding handling (IVF/LSH cut
    // comparisons, quantization cuts memory 4x). Per-vector stats pin
    // the whole quantized vector (integer L1 checksum + q range) plus
    // the reconstruction-error contract `within_bound` the oracle
    // asserts. Rounding is floor(y + 0.5) — exact IEEE in both engines,
    // no ROUND tie surface — and every double tree is mirrored
    // operand-for-operand, so raw doubles hash-match bit-exactly.
    Q("emb13_int8_quantization",
      (s, d) => Ann.int8QuantizationStats(Tables.embeddings(s, d),
          "vec_id", "embedding")
        .orderBy("vec_id"),
      Some("""WITH v AS (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
                     FROM embeddings),
                   sc AS (SELECT vec_id, xd,
                     list_max(list_transform(xd, x -> abs(x))) AS scale
                     FROM v),
                   qv AS (SELECT vec_id, xd, scale,
                     CASE WHEN scale = 0.0
                          THEN list_transform(xd, x -> CAST(0 AS BIGINT))
                          ELSE list_transform(xd,
                            x -> CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT))
                     END AS q
                     FROM sc),
                   er AS (SELECT vec_id, xd, scale, q,
                     CASE WHEN scale = 0.0 THEN 0.0
                          ELSE list_max(list_transform(range(1, len(xd) + 1),
                            i -> abs(xd[i] - CAST(q[i] AS DOUBLE) * scale / 127.0)))
                     END AS max_abs_err
                     FROM qv)
              SELECT vec_id, CAST(len(xd) AS BIGINT) AS n_dims, scale,
                     CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT)
                       AS q_l1,
                     CAST(list_min(q) AS BIGINT) AS q_min,
                     CAST(list_max(q) AS BIGINT) AS q_max,
                     max_abs_err,
                     CASE WHEN scale = 0.0 THEN TRUE
                          ELSE list_max(list_transform(range(1, len(xd) + 1),
                            i -> abs(xd[i] * 127.0 / scale
                                     - CAST(q[i] AS DOUBLE)))) <= 0.5
                     END AS within_bound
              FROM er ORDER BY vec_id""")),

    // EMB14: asymmetric quantized k-NN (FAISS ADC shape) — the SEARCH
    // half of the emb13 story: full-precision query against the
    // dequantized int8 corpus, top-k by quantized score with the exact
    // score and the in-exact-topk recall marker in the same rows. Raw
    // doubles throughout — every expression tree operand-mirrored, so
    // the quantized RANKING itself is under the hash gate.
    Q("emb14_quantized_knn",
      (s, d) => Ann.quantizedKnn(Tables.embeddings(s, d),
          "vec_id", "embedding", queryId = 0L, k = 10),
      Some(s"""WITH v AS (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
                     FROM embeddings),
                   sc AS (SELECT vec_id, xd,
                     list_max(list_transform(xd, x -> abs(x))) AS scale
                     FROM v),
                   dq AS (SELECT vec_id, xd,
                     CASE WHEN scale = 0.0 THEN list_transform(xd, x -> 0.0)
                          ELSE list_transform(xd,
                            x -> CAST(CAST(floor(x * 127.0 / scale + 0.5)
                                 AS BIGINT) AS DOUBLE) * scale / 127.0)
                     END AS xhat
                     FROM sc),
                   q AS (SELECT xd AS qvec, sqrt(${sqlDot("xd", "xd")}) AS qnorm
                         FROM v WHERE vec_id = 0),
                   scored AS (SELECT d.vec_id,
                     CASE WHEN sqrt(${sqlDot("d.xhat", "d.xhat")}) > 0.0
                               AND q.qnorm > 0.0
                          THEN ${sqlDot("d.xhat", "q.qvec")}
                            / sqrt(${sqlDot("d.xhat", "d.xhat")}) / q.qnorm
                          ELSE 0.0 END AS q_score,
                     CASE WHEN sqrt(${sqlDot("d.xd", "d.xd")}) > 0.0
                               AND q.qnorm > 0.0
                          THEN ${sqlDot("d.xd", "q.qvec")}
                            / sqrt(${sqlDot("d.xd", "d.xd")}) / q.qnorm
                          ELSE 0.0 END AS exact_score
                     FROM dq d, q WHERE d.vec_id != 0),
                   extop AS (SELECT vec_id FROM scored
                             ORDER BY exact_score DESC, vec_id LIMIT 10)
              SELECT vec_id, q_score, exact_score,
                     vec_id IN (SELECT vec_id FROM extop) AS in_exact_topk
              FROM scored ORDER BY q_score DESC, vec_id LIMIT 10""")),

    // EMB15: the COMPOSED FAISS serving shape — IVF coarse quantizer
    // (emb6's cells) + int8 scalar-quantized storage (emb13) + asymmetric
    // distance scoring (emb14) + exact refine: probe nProbe cells,
    // ADC-score the probed slice, rerank the top `10k` candidates with
    // the exact cosine, emit top-k. This is the 100 TB ANN architecture
    // the three pieces exist for. KMeans cells are not DuckDB-replayable,
    // so like emb6 the CONTRACT is under the gate (a5b/a6b precedent):
    //   recall_ge_gate  — IVF-ADC top-10 at nProbe=8 covers >= 0.6 of the
    //                     exact brute-force top-10;
    //   probe_monotone  — widening the probe (4 -> 8) never loses recall;
    //   all_cells_exact — probing ALL cells reproduces brute force
    //                     EXACTLY (ids + rounded scores): quantization
    //                     error is fully absorbed by the refine stage;
    //   quantization_within_bound — every corpus vector satisfies the
    //                     emb13 reconstruction contract (|y - q| <= 0.5
    //                     in quantized units), corpus-wide AND.
    Q("emb15_ivf_adc_knn",
      (s, d) => {
        val idx = ivfIndex(s, d)
        val emb = Tables.embeddings(s, d)
        val k = 10
        def adc(nProbe: Int) =
          graft.similarity.Ivf.adcKnn(idx, "vec_id", "embedding",
            queryId = 0L, k = k, nProbe = nProbe, rerank = 10 * k)
        val exact = graft.similarity.Ann.knnBruteForce(emb, "vec_id",
            "embedding", queryId = 0L, k = k)
          .select(col("vec_id"), round(col("score"), 6).as("score"))
          .localCheckpoint()
        val adc8 = adc(IvfNProbe).select(col("vec_id")).localCheckpoint()
        val adcAll = adc(16)
          .select(col("vec_id"), round(col("score"), 6).as("score"))
        val h8 = adc8.join(exact.select("vec_id"), "vec_id")
          .agg(count(lit(1)).as("h8"))
        val h4 = adc(4).select(col("vec_id"))
          .join(exact.select("vec_id"), "vec_id")
          .agg(count(lit(1)).as("h4"))
        val hAll = adcAll.join(exact, Seq("vec_id", "score"))
          .agg(count(lit(1)).as("h_all"))
        val wb = Ann.int8QuantizationStats(emb, "vec_id", "embedding")
          .agg(min(col("within_bound").cast("int")).as("wb"))
        val n = adc8.agg(count(lit(1)).as("n_results"))
        h8.crossJoin(h4).crossJoin(hAll).crossJoin(wb).crossJoin(n)
          .select(
            (col("h8").cast("double") >= lit(10.0 * IvfRecallGate))
              .as("recall_ge_gate"),
            (col("h4") <= col("h8")).as("probe_monotone"),
            (col("h_all") === 10L).as("all_cells_exact"),
            (col("wb") === 1).as("quantization_within_bound"),
            col("n_results"))
      },
      Some("""SELECT TRUE AS recall_ge_gate, TRUE AS probe_monotone,
                     TRUE AS all_cells_exact,
                     TRUE AS quantization_within_bound,
                     CAST(10 AS BIGINT) AS n_results""")),

    // EMB16: Maximal Marginal Relevance diversity rerank (Carbonell &
    // Goldstein 1998) — the standard post-ANN diversity pass: greedy
    // k=5 selection from the exact top-20 maximizing
    // lambda*rel - (1-lambda)*max-sim-to-selected (lambda = 0.7). The
    // oracle replays the ENTIRE greedy trajectory as a five-step CTE
    // chain (the t34b pattern) with every double operand-mirrored
    // (division order, lambda arithmetic incl. the folded 1.0 - 0.7), so
    // the selection ORDER and raw scores are under the hash gate.
    Q("emb16_mmr_rerank",
      (s, d) => Ann.mmrRerank(Tables.embeddings(s, d), "vec_id", "embedding",
        queryId = 0L, nCandidates = 20, k = 5, lambda = 0.7),
      Some {
        val prelude =
          s"""WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                         FROM embeddings WHERE vec_id = 0),
                e AS (SELECT vec_id,
                             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                      FROM embeddings WHERE vec_id != 0),
                cand AS (SELECT vec_id, v,
                                CASE WHEN sqrt(${sqlDot("v", "v")}) > 0.0
                                          AND sqrt(${sqlDot("qv", "qv")}) > 0.0
                                     THEN ${sqlDot("v", "qv")}
                                          / sqrt(${sqlDot("v", "v")})
                                          / sqrt(${sqlDot("qv", "qv")})
                                     ELSE 0.0 END AS rel
                         FROM e, q
                         ORDER BY rel DESC, vec_id LIMIT 20),
                sel1 AS (SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel,
                                rel * 0.7 AS mmr_score, v
                         FROM cand ORDER BY rel * 0.7 DESC, vec_id LIMIT 1)"""
        val steps = (2 to 5).map { i =>
          val prev = s"sel${i - 1}"
          s"""ms$i AS (SELECT r.vec_id,
                              MAX(CASE WHEN sqrt(${sqlDot("r.v", "r.v")}) > 0.0
                                            AND sqrt(${sqlDot("s.v", "s.v")}) > 0.0
                                       THEN ${sqlDot("r.v", "s.v")}
                                            / sqrt(${sqlDot("r.v", "r.v")})
                                            / sqrt(${sqlDot("s.v", "s.v")})
                                       ELSE 0.0 END) AS msim
                       FROM cand r, $prev s
                       WHERE r.vec_id NOT IN (SELECT vec_id FROM $prev)
                       GROUP BY r.vec_id),
              b$i AS (SELECT CAST($i AS BIGINT) AS rank, c.vec_id, c.rel,
                             c.rel * 0.7 - m.msim *
                               (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))
                               AS mmr_score,
                             c.v
                      FROM cand c JOIN ms$i m ON c.vec_id = m.vec_id
                      ORDER BY mmr_score DESC, c.vec_id LIMIT 1),
              sel$i AS (SELECT * FROM $prev UNION ALL SELECT * FROM b$i)"""
        }.mkString(",\n")
        s"""$prelude,
            $steps
            SELECT rank, vec_id, rel, mmr_score FROM sel5 ORDER BY rank"""
      }),

    // EMB17: PRODUCT quantization + ADC + exact refine (Jégou et al.
    // 2011; the FAISS `PQx16` codec) — the memory end-game past emb13's
    // SQ8: 16 subspaces × 16 centroids store a 256-byte float vector in
    // 16 one-byte codes (16×; SQ8 is 4×), and a query's score is 16
    // table LOOKUPS per corpus row (the m×k dot/norm² tables ship as
    // literals — zero float vector math on the scan). Uniform synthetic
    // embeddings are PQ's worst case (cosine gaps smaller than
    // quantization noise), so the serving shape reranks the ADC top-100
    // exactly, the emb15 k_factor discipline. Contracts: refined
    // recall@10 ≥ 0.6 (measured 10/9/10 at sf0.001/0.01/0.1,
    // deterministic under the pinned seed); `rerank_monotone` — refined
    // recall ≥ raw-ADC recall, PROVABLE (any exact-top-10 member inside
    // the ADC top-10 is also inside the top-100 and survives exact
    // rerank); pinned 16× compression arithmetic.
    Q("emb17_pq_adc_knn",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val idx = pqIndex(s, d)
        val exact =
          Ann.knnBruteForce(emb, "vec_id", "embedding", queryId = 0L, k = 10)
            .select("vec_id").localCheckpoint()
        def hits(rerank: Int, name: String) = graft.similarity.Pq
          .adcKnn(idx, emb, "vec_id", "embedding", queryId = 0L, k = 10,
            rerank = rerank)
          .select("vec_id").join(exact, "vec_id")
          .agg(count(lit(1)).as(name))
        val h100 = hits(100, "h100")
        val h10 = hits(10, "h10")
        val dims = emb.select(size(col("embedding")).cast("long").as("dims"))
          .limit(1)
        h100.crossJoin(h10).crossJoin(dims)
          .select(
            (col("h100") >= 6L).as("recall_ge_gate"),
            (col("h100") >= col("h10")).as("rerank_monotone"),
            (col("dims") * 4L).as("raw_bytes"),
            lit(16L).as("code_bytes"),
            ((col("dims") * 4L) / 16L).cast("long").as("compression"))
      },
      Some("""SELECT TRUE AS recall_ge_gate, TRUE AS rerank_monotone,
                     CAST(256 AS BIGINT) AS raw_bytes,
                     CAST(16 AS BIGINT) AS code_bytes,
                     CAST(16 AS BIGINT) AS compression
              FROM embeddings LIMIT 1""")),

    // EMB19: embedding-space OUTLIER scrub — the curation step that
    // drops mis-embedded / mislabeled vectors before they poison a
    // training mix (CLIP-score-pruning shape): a vector is an outlier
    // iff its cosine to its OWN label centroid < -0.15 (≈ the 2–5%
    // tail at every driver scale). Codebook = the emb2/emb7 rounded
    // mean, so the decision — including WHICH ids are flagged
    // (outlier_md5 pins the ordered id list) — replays cross-engine.
    // One k×d centroid aggregate + one broadcast equi-join scan.
    Q("emb19_centroid_outliers",
      (s, d) => graft.similarity.Ann.centroidOutliers(Tables.embeddings(s, d),
          "vec_id", "embedding", "label", minCosine = -0.15)
        .orderBy("label"),
      Some(s"""WITH cd AS (SELECT CAST(label AS BIGINT) AS c_label, i,
                                  ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS cv
                           FROM embeddings CROSS JOIN range(1, 65) t(i)
                           GROUP BY 1, 2),
                    cent AS (SELECT c_label, list(cv ORDER BY i) AS centroid
                             FROM cd GROUP BY c_label),
                    sc AS (SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
                                  ${sqlCosine("e.embedding", "c.centroid")} AS cosv
                           FROM embeddings e
                           JOIN cent c ON CAST(e.label AS BIGINT) = c.c_label)
               SELECT label, COUNT(*) AS n,
                      COUNT(*) FILTER (WHERE cosv < -0.15) AS n_outliers,
                      md5(COALESCE(string_agg(CAST(vec_id AS VARCHAR), ','
                                              ORDER BY vec_id)
                                   FILTER (WHERE cosv < -0.15), ''))
                        AS outlier_md5,
                      CAST(SUM(CAST(ROUND(cosv, 6) AS DECIMAL(18,6))) AS DOUBLE)
                        AS sum_cos
               FROM sc GROUP BY label ORDER BY label""")),

    // EMB18: Lloyd k-means — the TRAINING half of the IVF serving story
    // (emb6/emb15 consume a codebook; this is the distributed trainer
    // that produces one), with the determinism dial turned all the way
    // up so the fit itself sits under the hash gate (unlike an MLlib
    // fit): init = the k lowest-id vectors, argmax ties break to the
    // lower centroid id, updated centroids rounded at source (the
    // emb2/emb7 codebook convention). Two full iterations; the oracle
    // replays BOTH as a CTE chain (init → assign → update → assign), so
    // every vector's final cluster and its cosine are hash-checked.
    // Per iteration: one k×d broadcast against a corpus scan + one
    // k×d-bounded update aggregate — linear in rows, constant plan depth
    // (centroids localCheckpointed).
    Q("emb18_kmeans_lloyd",
      (s, d) => graft.similarity.Kmeans.lloyd(Tables.embeddings(s, d),
          "vec_id", "embedding", k = 8, iters = 2)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"),
          dsum(round(col("cos"), 6), 6).as("sum_cos"))
        .orderBy("cluster"),
      Some(s"""WITH init AS (SELECT CAST(vec_id AS BIGINT) AS c_id,
                                    list_transform(embedding,
                                      x -> CAST(x AS DOUBLE)) AS centroid
                             FROM embeddings WHERE vec_id < 8),
                    s1 AS (SELECT e.vec_id, i.c_id,
                                  ${sqlCosine("e.embedding", "i.centroid")} AS cosv
                           FROM embeddings e CROSS JOIN init i),
                    a1 AS (SELECT vec_id, c_id AS cluster FROM
                             (SELECT vec_id, c_id,
                                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY cosv DESC, c_id) AS rn
                              FROM s1)
                           WHERE rn = 1),
                    cd AS (SELECT a1.cluster, i,
                                  ROUND(AVG(CAST(e.embedding[i] AS DOUBLE)), 6) AS cv
                           FROM embeddings e JOIN a1 USING (vec_id)
                                CROSS JOIN range(1, 65) t(i)
                           GROUP BY 1, 2),
                    c1 AS (SELECT cluster AS c_id, list(cv ORDER BY i) AS centroid
                           FROM cd GROUP BY cluster),
                    s2 AS (SELECT e.vec_id, c.c_id,
                                  ${sqlCosine("e.embedding", "c.centroid")} AS cosv
                           FROM embeddings e CROSS JOIN c1 c),
                    a2 AS (SELECT vec_id, cluster, cosv FROM
                             (SELECT vec_id, c_id AS cluster, cosv,
                                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY cosv DESC, c_id) AS rn
                              FROM s2)
                           WHERE rn = 1)
               SELECT cluster, COUNT(*) AS n,
                      CAST(SUM(CAST(ROUND(cosv, 6) AS DECIMAL(18,6))) AS DOUBLE)
                        AS sum_cos
               FROM a2 GROUP BY cluster ORDER BY cluster""")),

    // EMB20: IVF-PQ composed serving (FAISS `IVF16,PQ16` +
    // `IndexRefineFlat`, by_residual=false — public method): emb6's
    // coarse quantizer routes the query to nProbe of 16 cells, emb17's
    // PQ codes make the scanned table 16 one-byte codes per vector (16×
    // compression — the 10¹¹-vector memory story), ADC scores the probed
    // slice via the query's m×k lookup tables (zero float math on the
    // scan), and an exact refine over the ADC top-100 caps quantization
    // error at rank displacement. Contracts: refined recall@10 ≥ 0.6 at
    // nProbe 8 (uniform embeddings are the worst case for BOTH stages);
    // probe monotonicity 4 → 8 under FULL refine — the PROVABLE form:
    // probing more cells grows the candidate set, and an exact top-10
    // over a superset never loses true-top-10 hits (at a FIXED rerank
    // the property is false — extra ADC candidates can crowd the true
    // positives out of the ADC top-100, measured at sf0.01 — so the
    // fixed-rerank variant is deliberately NOT gated); DEGENERACY — at
    // nProbe = all cells and rerank = corpus size the composition must
    // equal brute force EXACTLY (scores join on 6-decimal rounding, the
    // emb15 all-cells discipline); and the 16× compression arithmetic
    // pinned from the corpus dimension.
    Q("emb20_ivfpq_knn",
      (s, d) => {
        val idx = ivfPqIndex(s, d)
        val emb = Tables.embeddings(s, d)
        val k = 10
        def ids(nProbe: Int, rerank: Int) = graft.similarity.Ivf
          .pqAdcKnn(idx, emb, "embedding", queryId = 0L, k = k,
            nProbe = nProbe, rerank = rerank)
        val exact =
          Ann.knnBruteForce(emb, "vec_id", "embedding", queryId = 0L, k = k)
            .select(col("vec_id"), round(col("score"), 6).as("score"))
            .localCheckpoint()
        val h8 = ids(IvfNProbe, 100).select("vec_id")
          .join(exact.select("vec_id"), "vec_id")
          .agg(count(lit(1)).as("h8"))
        val nCorpus = emb.count().toInt
        def fullRefineHits(nProbe: Int, name: String) =
          ids(nProbe, nCorpus).select("vec_id")
            .join(exact.select("vec_id"), "vec_id")
            .agg(count(lit(1)).as(name))
        val h4f = fullRefineHits(4, "h4f")
        val h8f = fullRefineHits(IvfNProbe, "h8f")
        val hAll = ids(16, nCorpus)
          .select(col("vec_id"), round(col("score"), 6).as("score"))
          .join(exact, Seq("vec_id", "score"))
          .agg(count(lit(1)).as("h_all"))
        val dims = emb.select(size(col("embedding")).cast("long").as("dims"))
          .limit(1)
        h8.crossJoin(h4f).crossJoin(h8f).crossJoin(hAll).crossJoin(dims)
          .select(
            (col("h8").cast("double") >= lit(10.0 * IvfRecallGate))
              .as("recall_ge_gate"),
            (col("h4f") <= col("h8f")).as("probe_monotone"),
            (col("h_all") === 10L).as("all_cells_exact"),
            (col("dims") * 4L).as("raw_bytes"),
            lit(16L).as("code_bytes"),
            ((col("dims") * 4L) / 16L).cast("long").as("compression"))
      },
      Some("""SELECT TRUE AS recall_ge_gate, TRUE AS probe_monotone,
                     TRUE AS all_cells_exact,
                     CAST(256 AS BIGINT) AS raw_bytes,
                     CAST(16 AS BIGINT) AS code_bytes,
                     CAST(16 AS BIGINT) AS compression
              FROM embeddings LIMIT 1""")),

    // EMB21: PERSISTENT incremental vector index (similarity.VectorIndex)
    // — the FAISS train-then-add lifecycle as lakehouse state, the ANN
    // twin of t45's near-dup index: the Lloyd codebook + cell-assigned
    // vectors live in one Versioned table; two ingest batches append
    // WITHOUT refit (each an atomic exactly-once commit keyed on the
    // batch id, zombie replay a no-op), then the stored index serves
    // kNN probes. Gated per query id: the probe answers 10 rows from
    // under-half the cells with recall@10 ≥ 0.6 vs exact brute force
    // over the SAME stored table (asserted loudly AND under the hash),
    // plus the n_indexed replay and the exactly-once/multi-step
    // contracts. Build + appends + replay run once per (session, sf)
    // — the ivfCache immutable-artifact discipline; probes are the
    // per-rep serving cost.
    Q("emb21_incremental_vector_index",
      (s, d) => {
        val (dir, replayOk) = vectorIndexDir(s, d)
        val multiStep = graft.ops.Versioned.latestVersion(dir) >= 3
        val qIds = Tables.embeddings(s, d)
          .orderBy(col("vec_id")).limit(3)
          .select(col("vec_id").cast("long")).collect().map(_.getLong(0))
        val rows = qIds.map { q =>
          val approx = graft.similarity.VectorIndex
            .knn(s, dir, "vec_id", q, k = 10, nProbe = EmbIdxNProbe)
            .select("vec_id")
          val exact = graft.similarity.VectorIndex
            .knnExact(s, dir, "vec_id", q, k = 10).select("vec_id")
          approx.join(exact, "vec_id")
            .agg(count(lit(1)).as("hits"))
            .withColumn("query_id", lit(q))
        }.reduce(_ unionByName _)
        val nIdx = graft.ops.Versioned.read(s, dir)
          .filter(col("kind") === "v").count()
        val out = rows.select(col("query_id"), lit(nIdx).as("n_indexed"),
          lit(10L).as("got"),
          (col("hits") >= 6L).as("recall_ok"),
          lit(replayOk).as("exactly_once_replay"),
          lit(multiStep).as("multi_step"))
          .orderBy("query_id")
        require(out.filter(!col("recall_ok")).isEmpty,
          s"stored-index probe recall fell below 6/10 at nProbe=$EmbIdxNProbe")
        out
      },
      Some("""SELECT CAST(vec_id AS BIGINT) AS query_id,
                     (SELECT COUNT(*) FROM embeddings) AS n_indexed,
                     CAST(10 AS BIGINT) AS got,
                     TRUE AS recall_ok, TRUE AS exactly_once_replay,
                     TRUE AS multi_step
              FROM embeddings ORDER BY vec_id LIMIT 3""")),

    // EMB22: int8 scalar quantization + quantized kNN (similarity.Quantize
    // — FAISS's SQ8 scheme): per-vector symmetric scale, explicit
    // floor(x+0.5) rounding (engine-portable, unlike round()'s tie rule),
    // clamp ±127. The integer dot product is an exact BIGINT surface under
    // the hash; ranking uses the dequantized double product mirrored
    // operand-for-operand by the oracle. 4× storage compression with the
    // scan staying whole-stage codegen'd.
    Q("emb22_int8_quantized_knn",
      (s, d) => graft.similarity.Quantize.knnInt8(
          Tables.embeddings(s, d), "vec_id", "embedding", queryId = 0L, k = 10)
        .select(col("vec_id"), col("score_int"),
          round(col("approx"), 6).as("approx")),
      Some("""WITH qv AS (SELECT vec_id,
                     greatest(list_max(list_transform(embedding,
                         x -> abs(CAST(x AS DOUBLE)))) / 127.0, 1e-30)
                       AS scale,
                     embedding
                   FROM embeddings),
                   q8 AS (SELECT vec_id, scale,
                     list_transform(embedding,
                       x -> CAST(least(greatest(
                              floor(CAST(x AS DOUBLE) / scale + 0.5),
                              -127), 127) AS BIGINT)) AS qvec
                   FROM qv),
                   qq AS (SELECT qvec AS q0, scale AS s0 FROM q8
                          WHERE vec_id = 0),
                   sc AS (SELECT e.vec_id,
                     CAST(list_sum(list_transform(range(1, len(e.qvec) + 1),
                         i -> e.qvec[i] * q0[i])) AS BIGINT) AS score_int,
                     e.scale * s0 AS ss
                   FROM q8 e, qq WHERE e.vec_id != 0)
              SELECT vec_id, score_int,
                     ROUND(CAST(score_int AS DOUBLE) * ss, 6) AS approx
              FROM sc
              ORDER BY CAST(score_int AS DOUBLE) * ss DESC, vec_id
              LIMIT 10""")),

    // EMB23: vector-index REINDEX — the OPTIMIZE of the ANN world
    // (VectorIndex.reindexIdempotent): emb21's no-refit appends leave the
    // codebook trained on a stale subset (here: only a quarter of the
    // final corpus — three no-refit appends follow the build), so the
    // maintenance verb re-trains Lloyd on the FULL accumulated vector
    // set, re-assigns every vector, and publishes as ONE atomic
    // exactly-once OVERWRITE version. Gated contracts: post-reindex probe
    // recall ≥ 6/10 at nProbe=5 (the emb21 bar, now against the
    // re-trained codebook), `exactly_once_replay` (a zombie replay of
    // the same (appId, txn) commits nothing), and `history_ok` (the
    // pre-reindex snapshot stays time-travelable with its full vector
    // set, and the reindex preserved the vector set's cardinality — a
    // reindex may move vectors between cells, never lose or duplicate
    // one).
    Q("emb23_vector_index_reindex",
      (s, d) => {
        val (dir, replayOk, historyOk) = reindexedDir(s, d)
        val qIds = Tables.embeddings(s, d)
          .orderBy(col("vec_id")).limit(3)
          .select(col("vec_id").cast("long")).collect().map(_.getLong(0))
        val rows = qIds.map { q =>
          val approx = graft.similarity.VectorIndex
            .knn(s, dir, "vec_id", q, k = 10, nProbe = EmbIdxNProbe)
            .select("vec_id")
          val exact = graft.similarity.VectorIndex
            .knnExact(s, dir, "vec_id", q, k = 10).select("vec_id")
          approx.join(exact, "vec_id")
            .agg(count(lit(1)).as("hits"))
            .withColumn("query_id", lit(q))
        }.reduce(_ unionByName _)
        val nIdx = graft.ops.Versioned.read(s, dir)
          .filter(col("kind") === "v").count()
        val out = rows.select(col("query_id"), lit(nIdx).as("n_indexed"),
          (col("hits") >= 6L).as("recall_ok"),
          lit(replayOk).as("exactly_once_replay"),
          lit(historyOk).as("history_ok"))
          .orderBy("query_id")
        require(out.filter(!col("recall_ok")).isEmpty,
          s"post-reindex probe recall fell below 6/10 at nProbe=$EmbIdxNProbe")
        out
      },
      Some("""SELECT CAST(vec_id AS BIGINT) AS query_id,
                     (SELECT COUNT(*) FROM embeddings) AS n_indexed,
                     TRUE AS recall_ok, TRUE AS exactly_once_replay,
                     TRUE AS history_ok
              FROM embeddings ORDER BY vec_id LIMIT 3"""))
  )

  /** emb23's reindexed index: build on a QUARTER of the corpus, three
    * no-refit idempotent appends (codebook now stale), then ONE
    * exactly-once reindex (re-trained codebook, full re-assignment,
    * OVERWRITE version) with a zombie-replay probe and a history check.
    * Returns (dir, replayOk, historyOk). Built once per (session, sfDir). */
  private val reindexCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), (String, Boolean, Boolean)]()

  private def reindexedDir(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Boolean, Boolean) = {
    val key = (s, d)
    val hit = reindexCache.get(key)
    if (hit != null) return hit
    reindexCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_vecidx23_" +
      s"${ProcessHandle.current().pid()}/${Integer.toHexString(d.hashCode)}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val emb = Tables.embeddings(s, d)
    import graft.similarity.VectorIndex
    import graft.ops.Versioned
    VectorIndex.build(emb.filter(col("vec_id") % 4 === 0), "vec_id",
      "embedding", nCells = 8, iters = 3, dir = dir)
    (1L to 3L).foreach(r =>
      require(VectorIndex.appendIdempotent(s,
        emb.filter(col("vec_id") % 4 === r), "vec_id", "embedding", dir,
        "emb23ingest", r), s"append $r must land"))
    val nBefore = Versioned.read(s, dir).filter(col("kind") === "v").count()
    val vBefore = Versioned.latestVersion(dir)
    require(VectorIndex.reindexIdempotent(s, dir, "vec_id", nCells = 8,
      iters = 3, appId = "emb23reidx", txnVersion = 0L),
      "reindex must land")
    val vAfter = Versioned.latestVersion(dir)
    val replayOk = !VectorIndex.reindexIdempotent(s, dir, "vec_id",
      nCells = 8, iters = 3, appId = "emb23reidx", txnVersion = 0L) &&
      Versioned.latestVersion(dir) == vAfter && vAfter == vBefore + 1
    val historyOk =
      Versioned.read(s, dir, vBefore).filter(col("kind") === "v")
        .count() == nBefore &&
      Versioned.read(s, dir).filter(col("kind") === "v").count() == nBefore
    val out = (dir, replayOk, historyOk)
    val prev = reindexCache.putIfAbsent(key, out)
    if (prev != null) prev else out
  }

  /** emb21 probe budget: 5 of 8 cells. The synthetic embeddings are
    * uniform (the worst case for a learned quantizer — see the emb6
    * note: at 16 cells, probing 1/4 dips to 0.4 recall); probing 5/8
    * holds ≥ 0.6 at all three SFs with the no-refit appended batches
    * included. */
  private val EmbIdxNProbe = 5

  /** emb21's built index: build (Lloyd codebook + corpus assign) + two
    * idempotent no-refit appends + a zombie-replay probe, once per
    * (session, sfDir) — immutable derived state, the ivfCache
    * discipline. Returns (dir, replayOk). */
  private val vecIdxCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), (String, Boolean)]()

  private def vectorIndexDir(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Boolean) = {
    val key = (s, d)
    val hit = vecIdxCache.get(key)
    if (hit != null) return hit
    vecIdxCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_vecidx_" +
      s"${ProcessHandle.current().pid()}/${Integer.toHexString(d.hashCode)}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val emb = Tables.embeddings(s, d)
    import graft.similarity.VectorIndex
    VectorIndex.build(emb.filter(col("vec_id") % 3 =!= 0), "vec_id",
      "embedding", nCells = 8, iters = 3, dir = dir)
    require(VectorIndex.appendIdempotent(s,
      emb.filter(col("vec_id") % 6 === 0), "vec_id", "embedding", dir,
      "emb21", 0L), "first append must land")
    require(VectorIndex.appendIdempotent(s,
      emb.filter(col("vec_id") % 6 === 3), "vec_id", "embedding", dir,
      "emb21", 1L), "second append must land")
    val vBefore = graft.ops.Versioned.latestVersion(dir)
    val replayOk = !VectorIndex.appendIdempotent(s,
      emb.filter(col("vec_id") % 6 === 3), "vec_id", "embedding", dir,
      "emb21", 1L) && graft.ops.Versioned.latestVersion(dir) == vBefore
    require(replayOk, "zombie replay was not skipped")
    val out = (dir, replayOk)
    val prev = vecIdxCache.putIfAbsent(key, out)
    if (prev != null) prev else out
  }

  /** emb6 probe budget: 8 of 16 cells. The driver's synthetic embeddings
    * are UNCLUSTERED (uniform) — the worst case for a learned coarse
    * quantizer — so the probe budget is deliberately high; measured
    * recall@10 for query 0 at nProbe=8: 0.7 / 1.0 / 0.9 at
    * sf0.001/0.01/0.1 (nProbe=4 dips to 0.4 on uniform data). A clustered
    * real corpus probes far fewer cells for the same recall. */
  private val IvfNProbe = 8
  private val IvfRecallGate = 0.6

  /** IVF index cache: ONE KMeans fit + cell assignment per (session, dir) —
    * a real deployment builds the inverted file once and serves many
    * probes; refitting the quantizer inside every measured run conflated
    * index build with query cost (PERF.md round-3 known issue, closed
    * round 4). The recall/monotonicity/exactness gates moved INTO the
    * declared emb6 query (round 6) where the DuckDB oracle asserts them —
    * per-run and hash-checked, rather than once per build behind a
    * collect. */
  private val ivfCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), graft.similarity.Ivf.Index]()

  /** PQ index cache — the ivfCache discipline verbatim: codebook training
    * + encoding happen once per (session, dir); measured reps pay the
    * SEARCH cost (the table-lookup scan), as a deployment would. */
  private val pqCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), graft.similarity.Pq.Index]()

  private def pqIndex(s: SparkSession, d: String): graft.similarity.Pq.Index = {
    val hit = pqCache.get((s, d))
    if (hit != null) return hit
    pqCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val emb = Tables.embeddings(s, d)
    val index = graft.similarity.Pq.train(emb, "vec_id", "embedding",
      m = 16, k = 16)
    index.codes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prev = pqCache.putIfAbsent((s, d), index)
    if (prev != null) { index.codes.unpersist(false); prev } else index
  }

  /** IVF-PQ composed index cache — composes the two cached stages (the
    * coarse quantizer's cell routing + the PQ code table) with ONE id-join
    * per (session, dir); a deployment stores the joined table bucketed by
    * cell and never re-joins. */
  private val ivfPqCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), graft.similarity.Ivf.IvfPqIndex]()

  private def ivfPqIndex(s: SparkSession, d: String)
      : graft.similarity.Ivf.IvfPqIndex = {
    val hit = ivfPqCache.get((s, d))
    if (hit != null) return hit
    ivfPqCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val index = graft.similarity.Ivf.buildIvfPq(
      ivfIndex(s, d), pqIndex(s, d), "vec_id")
    index.table.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prev = ivfPqCache.putIfAbsent((s, d), index)
    if (prev != null) { index.table.unpersist(false); prev } else index
  }

  private def ivfIndex(s: SparkSession, d: String): graft.similarity.Ivf.Index = {
    val hit = ivfCache.get((s, d))
    if (hit != null) return hit
    ivfCache.keySet.removeIf(_._1.sparkContext.isStopped)
    // the KMeans fit runs OUTSIDE any map lock (a multi-job fit inside
    // computeIfAbsent would hold the bin lock for its whole duration);
    // a racing builder loses to putIfAbsent and releases its copy
    val emb = Tables.embeddings(s, d)
    val index = graft.similarity.Ivf.build(emb, "vec_id", "embedding", nCells = 16)
    index.assigned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prev = ivfCache.putIfAbsent((s, d), index)
    if (prev != null) { index.assigned.unpersist(false); prev } else index
  }
}
