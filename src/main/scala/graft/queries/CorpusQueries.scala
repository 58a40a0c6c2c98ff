package graft.queries

import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.ops.Sampling
import graft.text.{Contamination, Corpus}

/** Corpus-statistics operators over the `documents` table — the second
  * tranche of the LLM-training-data surface: benchmark decontamination
  * (train/test n-gram overlap), TF-IDF term weighting, and split
  * distribution-drift checks. All relational (token/shingle explode +
  * hash aggregations + dictionary joins); the oracle twins replay the
  * same math in DuckDB over the same split assignment (t10's portable
  * md5 bucket scheme).
  */
object CorpusQueries {

  /** t10's split cuts — reused so the contamination/drift checks audit
    * the very same split the pipeline would train on. */
  private val SplitCuts = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)

  /** SQL twin of `Sampling.bucket(doc_id, seed = 7)`. */
  private val sqlBucket =
    "CAST(('0x' || substr(md5('7|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000"

  /** t42's materialized postings index: written once per (session, sfDir)
    * — the s17/ivfIndex immutable-derived-data discipline, so warmup and
    * measured reps probe a standing index (the serving cost, not the
    * build). */
  private val postingsCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), String]()

  private def postingsIndexDir(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val key = (s, d)
    val hit = postingsCache.get(key)
    if (hit != null) return hit
    postingsCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_sink_${ProcessHandle.current().pid()}/t42_idx_${Integer.toHexString(d.hashCode)}"
    Corpus.writePostingsIndex(Tables.documents(s, d), "doc_id", "text", dir)
    postingsCache.put(key, dir)
    dir
  }

  /** Shared BPE-training CTE chain (t34b + t34c): word-frequency table →
    * character segmentation → k iterations of pair-count → best merge
    * (b$i) → literal space-bounded merge (w$i). The word key `w` is
    * carried through every iteration so appliers (t34c) can join the
    * final segmentation back to the corpus; the merge frames b$i read
    * only (a, b, n), so carrying w cannot change t34b's gated output. */
  private def sqlBpeChain(k: Int): String = {
    val wf0 =
      s"""WITH wfw AS (SELECT w, COUNT(*) AS freq
                FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
                      FROM documents)
                WHERE length(w) >= 2 GROUP BY w),
           wf0 AS (SELECT w,
                          ' ' || array_to_string(
                            list_transform(range(1, length(w) + 1),
                              i -> substr(w, i, 1)), ' ') || ' ' AS seg,
                          freq
                   FROM wfw)"""
    val iters = (1 to k).map { i =>
      val prev = if (i == 1) "wf0" else s"w${i - 1}"
      s"""s$i AS (SELECT regexp_split_to_array(trim(seg), ' ') AS s, freq
                  FROM $prev),
          p$i AS (SELECT s[j] AS a, s[j + 1] AS b, SUM(freq) AS n
                  FROM s$i, UNNEST(range(1, len(s))) AS t(j)
                  GROUP BY 1, 2),
          b$i AS (SELECT a, b, CAST(n AS BIGINT) AS n FROM p$i
                  ORDER BY n DESC, a, b LIMIT 1),
          w$i AS (SELECT w, replace(seg, ' ' || a || ' ' || b || ' ',
                                 ' ' || a || b || ' ') AS seg, freq
                  FROM $prev, b$i)"""
    }.mkString(",\n")
    s"$wf0,\n$iters"
  }

  val all: Seq[Q] = Seq(

    // T16: benchmark decontamination (GPT-3 appendix C shape) — for every
    // TEST-split document, the fraction of its 3-gram shingles that occur
    // anywhere in the TRAIN split. The train corpus reduces to its
    // distinct-shingle set and is probed with a left-semi join — no pair
    // space, both shuffles keyed on the shingle.
    Q("t16_contamination",
      (s, d) => {
        val tagged = Tables.documents(s, d)
          .withColumn("split", Sampling.splitColumn(col("doc_id"), SplitCuts))
        Contamination.ngramOverlap(
            tagged.filter(col("split") === "test"),
            tagged.filter(col("split") === "train"),
            "doc_id", "text", n = 3)
          .orderBy("doc_id")
      },
      Some(s"""WITH b AS (SELECT doc_id, text, $sqlBucket AS bk FROM documents),
                    ev AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                           FROM b WHERE bk >= 9500),
                    tr AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS w
                           FROM b WHERE bk < 9000),
                    esh AS (SELECT DISTINCT doc_id,
                                   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                            FROM ev, UNNEST(range(1, len(w) - 1)) AS t(i)),
                    tsh AS (SELECT DISTINCT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                            FROM tr, UNNEST(range(1, len(w) - 1)) AS t(i)),
                    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM esh GROUP BY doc_id),
                    hits AS (SELECT doc_id, COUNT(*) AS n_hit FROM esh
                             WHERE shingle IN (SELECT shingle FROM tsh)
                             GROUP BY doc_id)
               SELECT s.doc_id, s.n_shingles,
                      COALESCE(h.n_hit, 0) AS n_hit,
                      ROUND(CAST(COALESCE(h.n_hit, 0) AS DOUBLE)
                            / CAST(s.n_shingles AS DOUBLE), 6) AS contamination
               FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
               ORDER BY s.doc_id""")),

    // T17: TF-IDF top terms per language (smoothed sklearn IDF, exact
    // decimal tf·idf sums — see Corpus.scala's exact-match discipline).
    Q("t17_tfidf_top_terms",
      (s, d) => Corpus.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text",
          groupCol = "lang", k = 5)
        .orderBy("lang", "term_rank"),
      Some("""WITH tok AS (SELECT lang, doc_id,
                                  unnest(regexp_split_to_array(trim(text), '\s+')) AS term
                           FROM documents),
                   tf AS (SELECT lang, doc_id, term, COUNT(*) AS tf
                          FROM tok GROUP BY 1, 2, 3),
                   dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
                   n AS (SELECT COUNT(*) AS n_docs FROM documents),
                   idf AS (SELECT term, df,
                                  ROUND(ln((CAST(n_docs AS DOUBLE) + 1.0)
                                           / (CAST(df AS DOUBLE) + 1.0)) + 1.0, 6) AS idf
                           FROM dfx, n),
                   scored AS (SELECT lang, tf.term, MAX(idf.df) AS df,
                                     SUM(tf * CAST(idf AS DECIMAL(18,6))) AS score_dec
                              FROM tf JOIN idf ON tf.term = idf.term
                              GROUP BY 1, 2),
                   ranked AS (SELECT lang, term, df, score_dec,
                                     CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                            ORDER BY score_dec DESC, term) AS BIGINT)
                                       AS term_rank
                              FROM scored)
              SELECT lang, term_rank, term, CAST(score_dec AS DOUBLE) AS tfidf, df
              FROM ranked WHERE term_rank <= 5 ORDER BY lang, term_rank""")),

    // T18: split distribution drift — out-of-vocabulary rates of the val
    // and test splits against the train vocabulary. Exact integer ratios,
    // one final double division per rate.
    Q("t18_split_drift",
      (s, d) => Corpus.splitDrift(Tables.documents(s, d), "text",
          Sampling.splitColumn(col("doc_id"), SplitCuts))
        .orderBy("split"),
      Some(s"""WITH b AS (SELECT text,
                                 CASE WHEN $sqlBucket < 9000 THEN 'train'
                                      WHEN $sqlBucket < 9500 THEN 'val'
                                      ELSE 'test' END AS split
                          FROM documents),
                    tok AS (SELECT split,
                                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
                            FROM b),
                    tv AS (SELECT DISTINCT term FROM tok WHERE split = 'train'),
                    ev AS (SELECT tok.split, tok.term, tv.term IS NOT NULL AS in_train
                           FROM tok LEFT JOIN tv ON tok.term = tv.term
                           WHERE tok.split <> 'train')
               SELECT split,
                      COUNT(*) AS n_tokens,
                      COUNT(DISTINCT term) AS n_terms,
                      COUNT(DISTINCT CASE WHEN NOT in_train THEN term END) AS n_oov_terms,
                      CAST(SUM(CASE WHEN NOT in_train THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_oov_tokens,
                      ROUND(CAST(COUNT(DISTINCT CASE WHEN NOT in_train THEN term END) AS DOUBLE)
                            / CAST(COUNT(DISTINCT term) AS DOUBLE), 6) AS oov_term_rate,
                      ROUND(CAST(SUM(CASE WHEN NOT in_train THEN 1 ELSE 0 END) AS DOUBLE)
                            / CAST(COUNT(*) AS DOUBLE), 6) AS oov_token_rate
               FROM ev GROUP BY split ORDER BY split""")),

    // T19: blocked fuzzy record linkage (the patient-matching / MDM
    // shape), in the composition that survives scale: exact-dedup names
    // to DISTINCT values (output ∝ vocabulary, not records), then link
    // distinct values within the first-token blocking key, carrying each
    // value's record count. Raw pairwise linkage here is quadratic in the
    // hottest name — part names draw from ~80 strings, so record-level
    // pairs are O(n²/8) while distinct-level pairs are O(80²/8) at any
    // SF. The oracle replays the identical dedup + blocking + distance
    // filter in DuckDB.
    Q("t19_fuzzy_name_pairs",
      (s, d) => graft.dedup.Linkage.linkDistinct(Tables.part(s, d),
          "p_name",
          blockingKey = split(col("p_name"), " ").getItem(0),
          maxDistance = 4)
        .orderBy("name1", "name2"),
      Some("""WITH p AS (SELECT p_name, string_split(p_name, ' ')[1] AS blk,
                                COUNT(*) AS n
                         FROM part GROUP BY 1, 2)
              SELECT a.p_name AS name1, b.p_name AS name2,
                     CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS distance,
                     a.n AS n1, b.n AS n2
              FROM p a JOIN p b ON a.blk = b.blk AND a.p_name < b.p_name
              WHERE levenshtein(a.p_name, b.p_name) <= 4
              ORDER BY name1, name2""")),

    // T20: entity resolution end-to-end — t19's fuzzy pairs closed into
    // clusters (connected components) with a canonical-survivor flag per
    // distinct name: the full master-data-management pipeline (match →
    // cluster → survivorship). Each distinct name gets a deterministic,
    // oracle-replayable long id (its MIN source key), so the existing
    // relational CC runs unchanged; singleton names stay their own
    // canonical cluster via the left join. The oracle replays the pair
    // build and closes the transitive reachability with a recursive CTE,
    // exactly as t9 does for document near-dups.
    Q("t20_entity_clusters",
      (s, d) => {
        val parts = Tables.part(s, d)
        val blk = split(col("p_name"), " ").getItem(0)
        val names = parts.groupBy(col("p_name").as("name"))
          .agg(min(col("p_partkey")).as("name_id"),
            count(lit(1)).as("n_records"))
        val pairs = graft.dedup.Linkage.linkDistinct(parts, "p_name", blk, 4)
        val edges = pairs
          .join(names.select(col("name").as("name1"), col("name_id").as("id1")), "name1")
          .join(names.select(col("name").as("name2"), col("name_id").as("id2")), "name2")
          .select("id1", "id2")
        val cc = graft.dedup.Clusters.connectedComponents(edges, "id1", "id2")
        names.join(cc, names("name_id") === cc("node"), "left")
          .select(col("name"),
            coalesce(col("component"), col("name_id")).as("cluster_id"),
            col("n_records"),
            (coalesce(col("component"), col("name_id")) === col("name_id"))
              .as("is_canonical"))
          .orderBy("name")
      },
      Some("""WITH RECURSIVE
                   names AS (SELECT p_name AS name,
                                    string_split(p_name, ' ')[1] AS blk,
                                    MIN(p_partkey) AS name_id,
                                    COUNT(*) AS n_records
                             FROM part GROUP BY 1, 2),
                   pairs AS (SELECT a.name_id AS id1, b.name_id AS id2
                             FROM names a JOIN names b
                               ON a.blk = b.blk AND a.name < b.name
                             WHERE levenshtein(a.name, b.name) <= 4),
                   sym AS (SELECT id1 AS a, id2 AS b FROM pairs
                           UNION SELECT id2, id1 FROM pairs),
                   reach AS (SELECT a, b FROM sym
                             UNION
                             SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
                   comp AS (SELECT a AS node, LEAST(a, MIN(b)) AS component
                            FROM reach GROUP BY a)
              SELECT n.name,
                     COALESCE(c.component, n.name_id) AS cluster_id,
                     n.n_records,
                     COALESCE(c.component, n.name_id) = n.name_id AS is_canonical
              FROM names n LEFT JOIN comp c ON n.name_id = c.node
              ORDER BY n.name""")),

    // T23: corpus mixing — downsample language strata to a target
    // training mix (en 40%, de/fr 20%, es/zh 10%), keeping as much data
    // as the composition allows (the binding stratum survives whole,
    // C = min n_s/p_s, k_s = ⌊C·p_s⌋). Membership is the portable hash
    // bucket, the row filter is exact integer arithmetic, and the oracle
    // replays counts → cap → thresholds → bucket rule; the hash gate on
    // kept counts verifies the whole thresholding math end-to-end.
    Q("t23_corpus_mix",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val kept = Sampling.mixToTarget(docs, "lang", "doc_id",
          Seq("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1, "zh" -> 0.1))
        val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        kept.groupBy("lang").agg(count(lit(1)).as("n_kept"))
          .join(counts, "lang")
          .select("lang", "n_docs", "n_kept")
          .orderBy("lang")
      },
      Some("""WITH targets(lang, p) AS (VALUES ('en', 0.4), ('de', 0.2),
                                               ('fr', 0.2), ('es', 0.1),
                                               ('zh', 0.1)),
                   counts AS (SELECT lang, COUNT(*) AS n FROM documents
                              GROUP BY lang),
                   cap AS (SELECT MIN(CAST(n AS DOUBLE) / CAST(p AS DOUBLE)) AS c
                           FROM counts JOIN targets USING (lang)),
                   thr AS (SELECT lang, n,
                                  LEAST(n, CAST(FLOOR(c * CAST(p AS DOUBLE) + 1e-9)
                                                AS BIGINT)) AS k
                           FROM counts JOIN targets USING (lang) CROSS JOIN cap),
                   kept AS (SELECT d.lang FROM documents d JOIN thr USING (lang)
                            WHERE (CAST(('0x' || substr(md5('7|' ||
                                     CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                                   % 10000) * n < 10000 * k)
              SELECT kc.lang, t.n AS n_docs, kc.n_kept
              FROM (SELECT lang, COUNT(*) AS n_kept FROM kept GROUP BY lang) kc
              JOIN thr t USING (lang)
              ORDER BY kc.lang""")),

    // T40: TEMPERATURE-based language rebalancing — the mT5/XLM-R
    // multilingual sampling rule (share ∝ n^(1/τ), τ=2): where t23 needs
    // explicit target proportions, this DERIVES them from the counts,
    // boosting low-resource languages above their natural share. √n is
    // the one fractional power IEEE requires correctly rounded, so the
    // weights/quotas are bit-identical cross-engine; membership is
    // RANK-pinned (hash60 order, id tie-break) and kept_md5 hashes the
    // per-language kept-id list, so WHICH docs survive — not just the
    // quota arithmetic — sits under the hash gate.
    Q("t40_temperature_mix",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val target = Tables.cachedCount(s, d, "documents") / 2
        val kept = graft.ops.Sampling.temperatureSample(
          docs, "lang", "doc_id", target)
        val totals = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        val k = kept.groupBy("lang").agg(
          count(lit(1)).as("n_kept"),
          md5(array_join(transform(sort_array(collect_list(col("doc_id"))),
            _.cast("string")), ",")).as("kept_md5"))
        totals.join(k, "lang").orderBy("lang")
      },
      Some("""WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents
                              GROUP BY lang),
                   w AS (SELECT lang, n, ROUND(sqrt(CAST(n AS DOUBLE)), 6) AS wv
                         FROM counts),
                   tot AS (SELECT CAST(SUM(CAST(wv AS DECIMAL(28,6))) AS DOUBLE)
                                    AS wsum,
                                  (SELECT CAST(COUNT(*) // 2 AS BIGINT)
                                   FROM documents) AS tgt
                           FROM w),
                   q AS (SELECT lang, n,
                                LEAST(n, CAST(FLOOR(CAST(tgt AS DOUBLE) * wv
                                                    / wsum + 1e-9)
                                              AS BIGINT)) AS k
                         FROM w CROSS JOIN tot),
                   r AS (SELECT lang, doc_id,
                                ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY CAST(('0x' || substr(md5('7|' ||
                                             CAST(doc_id AS VARCHAR)), 1, 15))
                                           AS BIGINT), doc_id) AS rn
                         FROM documents),
                   kept AS (SELECT r.lang, r.doc_id
                            FROM r JOIN q USING (lang) WHERE rn <= k)
              SELECT q.lang, q.n AS n_docs, c.n_kept, c.kept_md5
              FROM q JOIN (SELECT lang, COUNT(*) AS n_kept,
                                  md5(string_agg(CAST(doc_id AS VARCHAR), ','
                                                 ORDER BY doc_id)) AS kept_md5
                           FROM kept GROUP BY lang) c USING (lang)
              ORDER BY q.lang""")),

    // T41: corpus DRIFT monitor — KL divergence both directions between
    // the hashed-unigram bucket distributions of the train split (P,
    // the t10 hash rule) and everything else (Q): the check run before
    // a new batch/re-split joins the training mix. Dsir machinery
    // (hashing trick B=1024, add-one smoothing, one ln per bucket in
    // integer nano-units); the GATED surfaces are the exact BIGINT sums
    // Σ(c+1)·llrNano over ALL buckets (unobserved ones still carry
    // smoothed mass) — the real-valued KLs are derived. One corpus
    // scan; divergence math on the ≤B-row bucket table.
    Q("t41_corpus_drift",
      (s, d) => graft.text.Drift.bucketDrift(Tables.documents(s, d),
        graft.ops.Sampling.bucket(col("doc_id"), 7) < 9000),
      Some("""WITH tok AS (
                SELECT (CAST(('0x' || substr(md5('7|' ||
                          CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                        % 10000) < 9000 AS ref,
                       unnest(list_transform(
                         regexp_split_to_array(trim(text), '\s+'),
                         t -> CAST(('0x' || substr(md5('31|' || t), 1, 15))
                              AS BIGINT) % 1024)) AS b
                FROM documents),
              cnt AS (SELECT b, SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS c_p,
                             SUM(CASE WHEN ref THEN 0 ELSE 1 END) AS c_q
                      FROM tok GROUP BY b),
              allb AS (SELECT gs.b, COALESCE(c_p, 0) AS c_p,
                              COALESCE(c_q, 0) AS c_q
                       FROM (SELECT unnest(range(0, 1024)) AS b) gs
                       LEFT JOIN cnt USING (b)),
              tot AS (SELECT SUM(c_p) AS n_p, SUM(c_q) AS n_q FROM allb),
              lr AS (SELECT c_p, c_q,
                            CAST(ROUND(ln(
                              (CAST(c_q AS DOUBLE) + 1.0)
                                * (CAST(n_p AS DOUBLE) + 1024.0)
                              / ((CAST(c_p AS DOUBLE) + 1.0)
                                 * (CAST(n_q AS DOUBLE) + 1024.0))) * 1e9)
                              AS BIGINT) AS nano
                     FROM allb, tot),
              agg AS (SELECT CAST(SUM((c_q + 1) * nano) AS BIGINT) AS kqp,
                             CAST(SUM((c_p + 1) * (-nano)) AS BIGINT) AS kpq
                      FROM lr)
              SELECT CAST(n_p AS BIGINT) AS n_ref_tokens,
                     CAST(n_q AS BIGINT) AS n_new_tokens,
                     CAST(1024 AS BIGINT) AS n_buckets,
                     kqp AS kl_new_ref_nano, kpq AS kl_ref_new_nano,
                     ROUND(CAST(kqp AS DOUBLE) / 1e9
                           / (CAST(n_q AS DOUBLE) + 1024.0), 9) AS kl_new_ref,
                     ROUND(CAST(kpq AS DOUBLE) / 1e9
                           / (CAST(n_p AS DOUBLE) + 1024.0), 9) AS kl_ref_new
              FROM tot, agg""")),

    // T25: split-leakage audit — the check decontamination pipelines run
    // AFTER splitting: how many near-dup pairs (the t12 LSH-prune +
    // exact-verify composition) STRADDLE split boundaries. A test doc
    // near-duplicating a train doc inflates eval scores exactly like
    // direct contamination; the fix is cluster-aware splitting (assign
    // whole t20-style components to one split). Composes three audited
    // pieces — pairs, split assignment, one aggregate — and the oracle
    // replays all three.
    Q("t25_split_leakage",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = graft.dedup.Dedup.lshThenExactPairs(docs, "doc_id", "text",
          n = 3, k = 12, rowsPerBand = 3, minJaccard = 0.2)
        val splits = docs.select(col("doc_id"),
          Sampling.splitColumn(col("doc_id"), SplitCuts).as("split"))
        pairs
          .join(splits.select(col("doc_id").as("id1"), col("split").as("s1")), "id1")
          .join(splits.select(col("doc_id").as("id2"), col("split").as("s2")), "id2")
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("s1") =!= col("s2"), 1L).otherwise(0L))
              .as("n_cross_split"))
          .select(col("n_pairs"), col("n_cross_split"),
            when(col("n_pairs") === 0L, lit(0.0))
              .otherwise(round(col("n_cross_split").cast("double")
                / col("n_pairs").cast("double"), 6)).as("leakage_rate"))
      },
      Some(s"""WITH docs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                             FROM documents),
                   sh AS (SELECT DISTINCT doc_id,
                                 w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                          FROM docs, UNNEST(range(1, len(w) - 1)) AS t(i)),
                   sig AS (SELECT doc_id, j,
                                  MIN(CAST(('0x' || substr(md5(j || '|' || shingle), 1, 15))
                                      AS BIGINT)) AS mh
                           FROM sh CROSS JOIN range(0, 12) t(j)
                           GROUP BY doc_id, j),
                   banded AS (SELECT doc_id, CAST(floor(j / 3) AS BIGINT) AS band,
                                     md5(string_agg(j || ':' || mh, ',' ORDER BY j))
                                       AS band_hash
                              FROM sig GROUP BY doc_id, 2),
                   cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                             FROM banded a JOIN banded b
                               ON a.band = b.band AND a.band_hash = b.band_hash
                                  AND a.doc_id < b.doc_id),
                   inter AS (SELECT c.id1, c.id2, COUNT(*) AS inter
                             FROM cands c
                             JOIN sh a ON a.doc_id = c.id1
                             JOIN sh b ON b.doc_id = c.id2 AND b.shingle = a.shingle
                             GROUP BY 1, 2),
                   sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
                   pairs AS (SELECT id1, id2 FROM inter
                             JOIN sizes s1 ON id1 = s1.doc_id
                             JOIN sizes s2 ON id2 = s2.doc_id
                             WHERE CAST(inter AS DOUBLE)
                                   / CAST(s1.sz + s2.sz - inter AS DOUBLE) >= 0.2),
                   sp AS (SELECT doc_id,
                                 CASE WHEN $sqlBucket < 9000 THEN 'train'
                                      WHEN $sqlBucket < 9500 THEN 'val'
                                      ELSE 'test' END AS split
                          FROM documents),
                   tagged AS (SELECT p.id1, p.id2, a.split AS s1, b.split AS s2
                              FROM pairs p
                              JOIN sp a ON a.doc_id = p.id1
                              JOIN sp b ON b.doc_id = p.id2)
              SELECT COUNT(*) AS n_pairs,
                     CAST(SUM(CASE WHEN s1 <> s2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_cross_split,
                     CASE WHEN COUNT(*) = 0 THEN 0.0
                          ELSE ROUND(CAST(SUM(CASE WHEN s1 <> s2 THEN 1 ELSE 0 END)
                                          AS DOUBLE)
                                     / CAST(COUNT(*) AS DOUBLE), 6) END
                       AS leakage_rate
              FROM tagged""")),

    // T24: corpus PII-density audit — the pre-release scan of a training
    // corpus: per-source counts of email/SSN pattern hits and of
    // documents carrying any hit (the same engine-portable patterns the
    // f12 redaction fold applies). PII is seeded deterministically onto
    // the synthetic word-salad docs (doc_id mod rules, f12's precedent)
    // so both engines scan identical text; the scan itself is a
    // stateless codegen'd regexp_count per row + one two-phase
    // aggregation — flat cost per byte at any scale.
    Q("t24_pii_density",
      (s, d) => {
        import graft.privacy.Privacy
        val synth = Tables.documents(s, d).withColumn("note",
          concat(col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" contact u"), col("doc_id"), lit("@example.org")))
              .otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              concat(lit(" ssn 123-45-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
              .otherwise(lit(""))))
        synth
          .select(col("source"),
            regexp_count(col("note"), lit(Privacy.EmailPattern)).cast("long")
              .as("n_email"),
            regexp_count(col("note"), lit(Privacy.SsnPattern)).cast("long")
              .as("n_ssn"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_email") + col("n_ssn") > 0, 1L).otherwise(0L))
              .as("n_docs_with_pii"),
            sum(col("n_email")).as("n_email"),
            sum(col("n_ssn")).as("n_ssn"))
          .orderBy("source")
      },
      Some("""WITH synth AS (SELECT source,
                     text || CASE WHEN doc_id % 3 = 0
                                  THEN ' contact u' || CAST(doc_id AS VARCHAR)
                                       || '@example.org' ELSE '' END
                          || CASE WHEN doc_id % 5 = 0
                                  THEN ' ssn 123-45-' ||
                                       lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                                  ELSE '' END AS note
                     FROM documents),
                   hits AS (SELECT source,
                     len(regexp_extract_all(note,
                       '\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b'))
                       AS n_email,
                     len(regexp_extract_all(note, '\b\d{3}-\d{2}-\d{4}\b'))
                       AS n_ssn
                     FROM synth)
              SELECT source, COUNT(*) AS n_docs,
                     CAST(SUM(CASE WHEN n_email + n_ssn > 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_docs_with_pii,
                     CAST(SUM(n_email) AS BIGINT) AS n_email,
                     CAST(SUM(n_ssn) AS BIGINT) AS n_ssn
              FROM hits GROUP BY source ORDER BY source""")),

    // T28: training-sequence packing plan (concat-and-chunk, seqLen 2048)
    // — per document: token offset interval in the pinned doc_id order
    // and the sequences it lands in. The global prefix sum runs as the
    // two-phase distributed scan (graft.text.Packing): range-partition →
    // partition-local running sums → partition-count-bounded base window
    // → broadcast back. No single-partition data window anywhere; the
    // oracle replays the same arithmetic with a plain window cumsum
    // (DuckDB is single-node — it can afford the global sort).
    Q("t28_sequence_packing",
      (s, d) => graft.text.Packing.packingPlan(Tables.documents(s, d),
          "doc_id", "text", seqLen = 2048L)
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
                     CAST(len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
                     FROM documents),
                   o AS (SELECT doc_id, n_tokens,
                     CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens AS BIGINT) AS start_offset
                     FROM t)
              SELECT doc_id, n_tokens, start_offset,
                     start_offset // 2048 AS first_seq,
                     (start_offset + n_tokens - 1) // 2048 AS last_seq,
                     (start_offset + n_tokens - 1) // 2048
                       > start_offset // 2048 AS crosses_boundary
              FROM o ORDER BY doc_id""")),

    // T29: BM25 keyword retrieval (Robertson–Sparck Jones idf, Lucene +1
    // form, k1=1.2 b=0.75) — top 20 documents for a 3-term query. The
    // inverted-index probe shape: the explode filters to the query terms
    // before any aggregation, df/idf/avgdl are broadcast-sized, top-k is
    // TakeOrderedAndProject. Score components are fixed double trees
    // rounded to 6 decimals, summed in exact DECIMAL per doc — the
    // oracle replays every stage.
    Q("t29_bm25_search",
      (s, d) => Corpus.bm25TopDocs(Tables.documents(s, d), "doc_id", "text",
          terms = Seq("spark", "stream", "window"), k = 20)
        .orderBy(col("bm25").desc, col("doc_id")),
      Some("""WITH lens AS (SELECT doc_id,
                     CAST(len(regexp_split_to_array(trim(text), '\s+'))
                          AS BIGINT) AS dl
                     FROM documents),
                   stats AS (SELECT CAST(SUM(dl) AS DOUBLE)
                                      / CAST(COUNT(*) AS DOUBLE) AS avgdl,
                                    COUNT(*) AS n
                             FROM lens),
                   tok AS (SELECT doc_id,
                     unnest(regexp_split_to_array(trim(text), '\s+')) AS term
                     FROM documents),
                   tf AS (SELECT doc_id, term, COUNT(*) AS tf
                          FROM tok
                          WHERE term IN ('spark', 'stream', 'window')
                          GROUP BY 1, 2),
                   idf AS (SELECT term,
                     ROUND(ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                              / (CAST(df AS DOUBLE) + 0.5) + 1.0), 6) AS idf
                     FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), stats),
                   comp AS (SELECT tf.doc_id,
                     ROUND(idf * (CAST(tf AS DOUBLE) * 2.2)
                           / (CAST(tf AS DOUBLE)
                              + 1.2 * (1.0 - 0.75
                                + 0.75 * (CAST(dl AS DOUBLE) / avgdl))), 6) AS comp
                     FROM tf
                     JOIN idf USING (term)
                     JOIN lens ON tf.doc_id = lens.doc_id, stats),
                   sc AS (SELECT doc_id,
                            SUM(CAST(comp AS DECIMAL(18,6))) AS score_dec,
                            COUNT(*) AS n_terms_hit
                          FROM comp GROUP BY doc_id)
              SELECT doc_id, CAST(score_dec AS DOUBLE) AS bm25, n_terms_hit
              FROM sc ORDER BY score_dec DESC, doc_id LIMIT 20""")),

    // T31: DSIR hashed importance weighting (Xie et al. 2023) — score
    // every document by the log-likelihood ratio of its hashed
    // unigram+bigram features under target (lang='en') vs whole-corpus
    // bucket models. Weights are exact integer nano-units (one ln per
    // BUCKET, never per row; per-doc sums are order-independent BIGINT) —
    // see graft.text.Dsir for the determinism + 100 TB argument.
    Q("t31_dsir_importance",
      (s, d) => graft.text.Dsir.importanceWeights(
          Tables.documents(s, d), col("lang") === "en")
        .orderBy("doc_id"),
      Some("""WITH d AS (
                SELECT doc_id, (lang = 'en') AS tgt,
                       list_transform(regexp_split_to_array(trim(text), '\s+'),
                         t -> CAST(('0x' || substr(md5('31|' || t), 1, 15)) AS BIGINT)
                              % 1073741824) AS h
                FROM documents),
              fb AS (
                SELECT doc_id, tgt,
                       unnest(list_concat(
                         list_transform(h, x -> x % 1024),
                         list_transform(generate_series(1, len(h) - 1),
                           i -> ((h[i] * 31 + h[i + 1]) % 1073741824) % 1024))) AS b
                FROM d),
              db AS (SELECT doc_id, tgt, b, COUNT(*) AS n FROM fb GROUP BY 1, 2, 3),
              bs AS (SELECT b, SUM(n) AS c_s,
                            SUM(CASE WHEN tgt THEN n ELSE 0 END) AS c_t
                     FROM db GROUP BY b),
              tot AS (SELECT SUM(c_s) AS n_s, SUM(c_t) AS n_t FROM bs),
              lr AS (SELECT b,
                       CAST(ROUND(ln(
                         (CAST(c_t AS DOUBLE) + 1.0) * (CAST(n_s AS DOUBLE) + 1024.0) /
                         ((CAST(c_s AS DOUBLE) + 1.0) * (CAST(n_t AS DOUBLE) + 1024.0)))
                         * 1e9) AS BIGINT) AS lr_nano
                     FROM bs, tot)
              SELECT db.doc_id,
                     CAST(SUM(db.n) AS BIGINT) AS n_feats,
                     CAST(SUM(db.n * lr.lr_nano) AS BIGINT) AS weight_nano
              FROM db JOIN lr USING (b)
              GROUP BY db.doc_id
              ORDER BY db.doc_id""")),

    // T34: BPE vocabulary induction's distributed primitive — the
    // frequency-weighted adjacent symbol-pair count the tokenizer-
    // training merge loop recomputes each iteration (Sennrich et al.
    // 2016; symbols = characters on iteration one). Corpus collapses to
    // the word-frequency table before any pair work, so the pair stage
    // is vocabulary-bounded, not corpus-bounded; top-k cut is a total
    // order (n desc, pair asc) — deterministic boundary in both engines.
    Q("t34_bpe_merge_candidates",
      (s, d) => Corpus.bpeMergeCandidates(Tables.documents(s, d), "text", k = 50),
      Some("""WITH wf AS (SELECT w, COUNT(*) AS freq
                          FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
                                FROM documents)
                          WHERE length(w) >= 2 GROUP BY w)
              SELECT p AS pair, CAST(SUM(freq) AS BIGINT) AS n
              FROM (SELECT freq,
                      unnest(list_transform(generate_series(1, length(w) - 1),
                        i -> substr(w, i, 2))) AS p
                    FROM wf)
              GROUP BY p ORDER BY n DESC, pair LIMIT 50""")),

    // T43: KMV sketch SET OPERATIONS (Bar-Yossef 2002 / Beyer 2007 — the
    // Theta-sketch family's public ancestor) — the cross-corpus overlap
    // question HLL cannot answer ("how much of crawl B is already in
    // crawl A") from two k-row sketches, never a corpus join: keep the
    // k = 256 smallest 60-bit 3-gram-shingle hashes per side (the token
    // vocabulary is deliberately tiny in the synthetic corpus; shingles
    // give a genuinely sketch-sized domain); the k-th minimum estimates
    // the distinct count, and the fraction of the merged sketch's
    // members present in BOTH sides estimates Jaccard (normalized by the
    // EFFECTIVE union-sketch size, so sub-k sets degrade to exact — the
    // standard KMV small-set rule). The sketch is deterministic given
    // the hash, so its INTEGER surfaces (k-th minima, union-sketch size
    // and both-count) sit directly under the hash gate — the oracle
    // rebuilds the identical sketches in SQL — and the a5b-style
    // contract booleans pin the estimates against the exact values
    // (|Ĵ − J| ≤ 0.125 ≈ 4σ at k = 256; distinct estimates within 25%).
    // Sets are hash-space shingle sets (collision mass ~0 at 2⁶⁰), split
    // odd/even doc_ids.
    Q("t43_kmv_overlap",
      (s, d) => {
        val k = 256
        val seed = 5
        val docs = Tables.documents(s, d)
        def sh(parity: Int) = graft.dedup.Dedup.wordShingles(
            docs.filter(col("doc_id") % 2 === parity), "doc_id", "text", 3)
          .select("shingle").distinct()
        // each hash set and sketch is read by several jobs below
        def hashes(parity: Int) = sh(parity)
          .select(graft.text.TextFunctions.hash60(col("shingle"), seed).as("h"))
          .distinct().localCheckpoint()
        val (ha, hb) = (hashes(1), hashes(0))
        val ska = graft.stats.Kmv.sketch(sh(1), col("shingle"), k, seed)
          .localCheckpoint()
        val skb = graft.stats.Kmv.sketch(sh(0), col("shingle"), k, seed)
          .localCheckpoint()
        val (kthA, kthB) =
          (graft.stats.Kmv.kthMin(ska), graft.stats.Kmv.kthMin(skb))
        val (sku, both) = graft.stats.Kmv.unionIntersect(ska, skb, k)
        val skuSize = sku.count()
        val nA = ha.count(); val nB = hb.count()
        val inter = ha.join(hb, "h").count()
        val jExact = inter.toDouble / (nA + nB - inter).toDouble
        val jEst = both.toDouble / skuSize.toDouble
        def dEst(sk: org.apache.spark.sql.DataFrame, kth: Long) = {
          val size = sk.count()
          if (size < k) size.toDouble
          else graft.stats.Kmv.estimateDistinct(k, kth)
        }
        import s.implicits._
        Seq((nA, nB, inter, kthA, kthB, skuSize, both)).toDF(
            "n_a", "n_b", "inter", "kth_a", "kth_b", "sku_size", "n_both")
          .withColumn("jaccard_exact", round(lit(jExact), 6))
          .withColumn("jaccard_est", round(lit(jEst), 6))
          .withColumn("jaccard_within",
            lit(math.abs(jEst - jExact) <= 0.125))
          .withColumn("distinct_within",
            lit(math.abs(dEst(ska, kthA) - nA) <= 0.25 * nA &&
              math.abs(dEst(skb, kthB) - nB) <= 0.25 * nB))
      },
      Some("""WITH wa AS (SELECT regexp_split_to_array(trim(text), '\s+') AS w
                          FROM documents WHERE doc_id % 2 = 1),
                   wb AS (SELECT regexp_split_to_array(trim(text), '\s+') AS w
                          FROM documents WHERE doc_id % 2 = 0),
                   sa AS (SELECT DISTINCT w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                   AS shingle
                          FROM wa, UNNEST(range(1, len(w) - 1)) AS t(i)),
                   sb AS (SELECT DISTINCT w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                   AS shingle
                          FROM wb, UNNEST(range(1, len(w) - 1)) AS t(i)),
                   ha AS (SELECT DISTINCT
                                 CAST(('0x' || substr(md5('5|' || shingle), 1, 15))
                                      AS BIGINT) AS h
                          FROM sa),
                   hb AS (SELECT DISTINCT
                                 CAST(('0x' || substr(md5('5|' || shingle), 1, 15))
                                      AS BIGINT) AS h
                          FROM sb),
                   ska AS (SELECT h FROM ha ORDER BY h LIMIT 256),
                   skb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
                   sku AS (SELECT h FROM (SELECT h FROM ska
                                          UNION SELECT h FROM skb)
                           ORDER BY h LIMIT 256),
                   agg AS (SELECT
                             (SELECT COUNT(*) FROM ha) AS n_a,
                             (SELECT COUNT(*) FROM hb) AS n_b,
                             (SELECT COUNT(*) FROM ha JOIN hb USING (h))
                               AS inter,
                             (SELECT MAX(h) FROM ska) AS kth_a,
                             (SELECT MAX(h) FROM skb) AS kth_b,
                             (SELECT COUNT(*) FROM sku) AS sku_size,
                             (SELECT COUNT(*) FROM sku
                              WHERE h IN (SELECT h FROM ska)
                                AND h IN (SELECT h FROM skb)) AS n_both)
              SELECT n_a, n_b, inter, kth_a, kth_b, sku_size, n_both,
                     ROUND(CAST(inter AS DOUBLE)
                           / CAST(n_a + n_b - inter AS DOUBLE), 6)
                       AS jaccard_exact,
                     ROUND(CAST(n_both AS DOUBLE) / CAST(sku_size AS DOUBLE), 6)
                       AS jaccard_est,
                     TRUE AS jaccard_within, TRUE AS distinct_within
              FROM agg""")),

    // T42: BM25 served from a MATERIALIZED inverted index — t29 computes
    // the score from the corpus per query; a search tier indexes ONCE
    // and probes many times (the Lucene architecture). The builder
    // writes the postings table hive-partitioned by the term's first
    // character with the document length DENORMALIZED onto each posting
    // (a probe must never join a doc-sized side table) plus a one-row
    // stats sidecar; the probe plans ONLY the partitions matching the
    // query terms' first characters ('s'/'w' → 2 dirs), computes df from
    // the probe itself, and replays the exact t29 score tree. Gated:
    // the top-20 must equal the from-scratch computation the oracle runs
    // on the raw documents table (index fidelity — building the index
    // must not change a single score), and `pruned` pins the
    // directory-level partition skip (read ≥1, read < total).
    Q("t42_bm25_index_serving",
      (s, d) => {
        val idxDir = postingsIndexDir(s, d)
        val (top, read, total) = Corpus.bm25ServeFromIndex(
          s, idxDir, "doc_id", Seq("spark", "stream", "window"), k = 20)
        top.withColumn("pruned", lit(read >= 1 && read < total))
          .orderBy(col("bm25").desc, col("doc_id"))
      },
      Some("""WITH lens AS (SELECT doc_id,
                     CAST(len(regexp_split_to_array(trim(text), '\s+'))
                          AS BIGINT) AS dl
                     FROM documents),
                   stats AS (SELECT CAST(SUM(dl) AS DOUBLE)
                                      / CAST(COUNT(*) AS DOUBLE) AS avgdl,
                                    COUNT(*) AS n
                             FROM lens),
                   tok AS (SELECT doc_id,
                     unnest(regexp_split_to_array(trim(text), '\s+')) AS term
                     FROM documents),
                   tf AS (SELECT doc_id, term, COUNT(*) AS tf
                          FROM tok
                          WHERE term IN ('spark', 'stream', 'window')
                          GROUP BY 1, 2),
                   idf AS (SELECT term,
                     ROUND(ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                              / (CAST(df AS DOUBLE) + 0.5) + 1.0), 6) AS idf
                     FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), stats),
                   comp AS (SELECT tf.doc_id,
                     ROUND(idf * (CAST(tf AS DOUBLE) * 2.2)
                           / (CAST(tf AS DOUBLE)
                              + 1.2 * (1.0 - 0.75
                                + 0.75 * (CAST(dl AS DOUBLE) / avgdl))), 6) AS comp
                     FROM tf
                     JOIN idf USING (term)
                     JOIN lens ON tf.doc_id = lens.doc_id, stats),
                   sc AS (SELECT doc_id,
                            SUM(CAST(comp AS DECIMAL(18,6))) AS score_dec,
                            COUNT(*) AS n_terms_hit
                          FROM comp GROUP BY doc_id)
              SELECT doc_id, CAST(score_dec AS DOUBLE) AS bm25, n_terms_hit,
                     TRUE AS pruned
              FROM sc ORDER BY score_dec DESC, doc_id LIMIT 20""")),

    // T34b: the BPE merge LOOP (VERDICT r9 item 7) — t34 emits iteration
    // one's candidates; real tokenizer training folds the winner back in
    // and re-pairs. Five full iterations: count pairs -> pick top
    // (n desc, a, b — total order) -> literal space-bounded replace
    // (" a b " -> " ab ", left-to-right non-overlapping = BPE's merge
    // rule in both engines) -> repeat. The oracle replays all five
    // iterations as a generated CTE chain, so the gated surface is the
    // k-merge vocabulary in training order, not one pair table.
    Q("t34b_bpe_merge_loop",
      (s, d) => Corpus.bpeMerges(Tables.documents(s, d), "text",
        iterations = 5),
      Some {
        val unions = (1 to 5).map { i =>
          s"SELECT CAST($i AS BIGINT) AS iter, a, b, a || b AS merged, n FROM b$i"
        }.mkString("\nUNION ALL ")
        s"${sqlBpeChain(5)}\n$unions\nORDER BY iter"
      }),

    // T34c: the trained segmenter APPLIED back to the corpus — the
    // tokenize half of tokenizer training (train on the word-frequency
    // table, broadcast the vocabulary-bounded segmentation lookup
    // against the corpus): per document, word count, character count,
    // and the BPE token count under the five learned merges. Words the
    // training table excludes (length < 2) tokenize to their character
    // count. The oracle re-trains the same five merges (the t34b CTE
    // chain, word key carried) and replays the lookup join — training
    // AND application under one hash.
    Q("t34c_bpe_tokenize",
      (s, d) => {
        val segs = Corpus.bpeSegment(Tables.documents(s, d), "text",
          iterations = 5)
        Tables.documents(s, d)
          .select(col("doc_id"),
            explode(graft.text.TextFunctions.tokens(col("text"))).as("tk"))
          .join(broadcast(segs), col("tk") === col("w"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum(length(col("tk"))).cast("long").as("n_chars"),
            sum(coalesce(col("n_sym"), length(col("tk")).cast("long")))
              .as("n_bpe_tokens"))
          .orderBy("doc_id")
      },
      Some(s"""${sqlBpeChain(5)},
               tok AS (SELECT doc_id,
                              unnest(regexp_split_to_array(trim(text), '\\s+'))
                                AS tk
                       FROM documents),
               seg5 AS (SELECT w,
                               CAST(len(string_split(trim(seg), ' ')) AS BIGINT)
                                 AS n_sym
                        FROM w5)
               SELECT doc_id, COUNT(*) AS n_words,
                      CAST(SUM(length(tk)) AS BIGINT) AS n_chars,
                      CAST(SUM(COALESCE(n_sym, length(tk))) AS BIGINT)
                        AS n_bpe_tokens
               FROM tok LEFT JOIN seg5 ON tk = w
               GROUP BY doc_id ORDER BY doc_id""")),

    // T32: hashed bigram LM perplexity (CCNet-shape quality filter,
    // Wenzek et al. 2020) — train p(b2|b1) on the lang='en' subset over
    // hashed token-bucket bigrams (add-one smoothing, B=4096), score
    // EVERY document's cross-entropy under it. Model log-probs are
    // integer nano-units per model ENTRY; per-doc sums exact BIGINT.
    // The gated surface is the INTEGER nll_nano sum, not the derived ce
    // double (r8 ADVICE: Spark round(x,6) vs DuckDB ROUND(double,6)
    // disagree in the last ulp on ties — integers remove the flake) —
    // see graft.text.NgramLm for the determinism + 100 TB argument.
    Q("t32_lm_perplexity",
      (s, d) => graft.text.NgramLm.crossEntropy(
          Tables.documents(s, d), col("lang") === "en")
        .select("doc_id", "n_bigrams", "nll_nano")
        .orderBy("doc_id"),
      Some("""WITH d AS (
                SELECT doc_id, lang,
                       list_transform(regexp_split_to_array(trim(text), '\s+'),
                         t -> CAST(('0x' || substr(md5('37|' || t), 1, 15)) AS BIGINT)
                              % 1073741824) AS h
                FROM documents),
              pairs AS (
                SELECT doc_id, lang, p[1] AS b1, p[2] AS b2
                FROM (SELECT doc_id, lang,
                        unnest(list_transform(generate_series(1, len(h) - 1),
                          i -> [h[i] % 4096, h[i + 1] % 4096])) AS p
                      FROM d)),
              model0 AS (SELECT b1, b2, COUNT(*) AS n_pair FROM pairs
                         WHERE lang = 'en' GROUP BY 1, 2),
              model AS (SELECT b1, b2, n_pair,
                               SUM(n_pair) OVER (PARTITION BY b1) AS n_ctx
                        FROM model0),
              modlp AS (SELECT b1, b2,
                          CAST(ROUND(ln((CAST(n_pair AS DOUBLE) + 1.0) /
                            (CAST(n_ctx AS DOUBLE) + 4096.0)) * 1e9) AS BIGINT)
                            AS lp_nano
                        FROM model),
              ctx AS (SELECT DISTINCT b1,
                        CAST(ROUND(ln(1.0 / (CAST(n_ctx AS DOUBLE) + 4096.0)) * 1e9)
                          AS BIGINT) AS lp0_nano
                      FROM model),
              sc AS (SELECT pairs.doc_id, COUNT(*) AS n_bigrams,
                            SUM(COALESCE(modlp.lp_nano, ctx.lp0_nano,
                              CAST(ROUND(ln(1.0 / 4096.0) * 1e9) AS BIGINT))) AS s
                     FROM pairs
                     LEFT JOIN modlp USING (b1, b2)
                     LEFT JOIN ctx USING (b1)
                     GROUP BY 1)
              SELECT dd.doc_id,
                     CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                     CAST(0 - sc.s AS BIGINT) AS nll_nano
              FROM documents dd LEFT JOIN sc ON dd.doc_id = sc.doc_id
              ORDER BY dd.doc_id""")),

    // T47: hybrid retrieval — BM25 top-50 (lexical, t29's scorer) fused
    // with brute-force cosine top-50 against vec_id 0's embedding (dense,
    // emb1's scorer) by Reciprocal Rank Fusion (similarity.Hybrid; Cormack
    // et al. 2009). doc_id ≡ vec_id on the overlap of the two tables, so
    // the two retrievers genuinely rank the same corpus. Contributions are
    // ROUND(1/(60+rank), 9) summed in exact DECIMAL; the gate pins the
    // fused ORDER, the per-doc source sets AND the fused scores — a
    // one-position rank slip in either retriever flips the row hash.
    Q("t47_hybrid_retrieval_rrf",
      (s, d) => {
        import graft.similarity.{Ann, Hybrid}
        val bm25 = Hybrid.ranked(
          graft.text.Corpus.bm25TopDocs(Tables.documents(s, d), "doc_id",
            "text", terms = Seq("spark", "stream", "window"), k = 50),
          "doc_id", "bm25")
        val dense = Hybrid.ranked(
          Ann.knnBruteForce(Tables.embeddings(s, d), "vec_id", "embedding",
              queryId = 0L, k = 50)
            .withColumnRenamed("vec_id", "doc_id"),
          "doc_id", "score")
        Hybrid.rrf(Seq("bm25" -> bm25, "dense" -> dense), "doc_id",
          k0 = 60, topK = 20)
      },
      Some(s"""WITH lens AS (SELECT doc_id,
                     CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                          AS BIGINT) AS dl
                     FROM documents),
                   stats AS (SELECT CAST(SUM(dl) AS DOUBLE)
                                      / CAST(COUNT(*) AS DOUBLE) AS avgdl,
                                    COUNT(*) AS n
                             FROM lens),
                   tok AS (SELECT doc_id,
                     unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
                     FROM documents),
                   tf AS (SELECT doc_id, term, COUNT(*) AS tf
                          FROM tok
                          WHERE term IN ('spark', 'stream', 'window')
                          GROUP BY 1, 2),
                   idf AS (SELECT term,
                     ROUND(ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                              / (CAST(df AS DOUBLE) + 0.5) + 1.0), 6) AS idf
                     FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), stats),
                   comp AS (SELECT tf.doc_id,
                     ROUND(idf * (CAST(tf AS DOUBLE) * 2.2)
                           / (CAST(tf AS DOUBLE)
                              + 1.2 * (1.0 - 0.75
                                + 0.75 * (CAST(dl AS DOUBLE) / avgdl))), 6) AS comp
                     FROM tf
                     JOIN idf USING (term)
                     JOIN lens ON tf.doc_id = lens.doc_id, stats),
                   bm_top AS (SELECT doc_id,
                            SUM(CAST(comp AS DECIMAL(18,6))) AS score_dec
                          FROM comp GROUP BY doc_id
                          ORDER BY score_dec DESC, doc_id LIMIT 50),
                   bm_rank AS (SELECT doc_id,
                     CAST(ROW_NUMBER() OVER (ORDER BY
                       CAST(score_dec AS DOUBLE) DESC, doc_id) AS BIGINT)
                       AS rank
                     FROM bm_top),
                   dn_top AS (SELECT e.vec_id AS doc_id,
                       ${sqlCosineFor("e.embedding", "q.embedding")} AS score
                     FROM embeddings e,
                          (SELECT embedding FROM embeddings WHERE vec_id = 0) q
                     WHERE e.vec_id != 0
                     ORDER BY score DESC, e.vec_id LIMIT 50),
                   dn_rank AS (SELECT doc_id,
                     CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                       AS BIGINT) AS rank
                     FROM dn_top),
                   contrib AS (
                     SELECT doc_id,
                            CAST(ROUND(1.0 / (60 + rank), 9)
                                 AS DECIMAL(18,9)) AS c,
                            'bm25' AS src
                     FROM bm_rank
                     UNION ALL
                     SELECT doc_id,
                            CAST(ROUND(1.0 / (60 + rank), 9)
                                 AS DECIMAL(18,9)),
                            'dense'
                     FROM dn_rank),
                   fused AS (SELECT doc_id,
                       SUM(c) AS rrf_dec,
                       COUNT(*) AS n_sources,
                       string_agg(src, ',' ORDER BY src) AS sources
                     FROM contrib GROUP BY doc_id)
              SELECT doc_id, CAST(rrf_dec AS DOUBLE) AS rrf,
                     n_sources, sources
              FROM fused
              ORDER BY rrf_dec DESC, doc_id LIMIT 20"""))
  )

  /** SQL cosine of two FLOAT[] columns (emb1's expression shape —
    * sequential double folds, engine-identical IEEE), INCLUDING the
    * zero-norm guard `Ann.cosineOrZero` applies on the Spark side (a zero
    * embedding — failed encoder output — must score 0.0 in both engines,
    * not NaN in one). */
  private def sqlCosineFor(a: String, b: String): String = {
    def dot(x: String, y: String): String =
      s"""list_sum(list_transform(range(1, len($x) + 1),
          i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"""
    s"""CASE WHEN sqrt(${dot(a, a)}) > 0 AND sqrt(${dot(b, b)}) > 0
             THEN ${dot(a, b)} / sqrt(${dot(a, a)}) / sqrt(${dot(b, b)})
             ELSE 0.0 END"""
  }
}
