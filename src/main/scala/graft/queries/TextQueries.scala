package graft.queries

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.io.Tables
import graft.text.TextFunctions._

/** Text-analysis + deduplication operators over the `documents` table —
  * the LLM-training-data-pipeline surface (BASELINE.json north star):
  * token counting, quality scoring, language ID, fingerprinting, exact
  * dedup, n-gram Jaccard, MinHash+LSH, SimHash. Everything is expressed
  * through `graft.text.TextFunctions` / `graft.dedup.Dedup` so the oracle
  * gate exercises the library itself.
  */
object TextQueries {

  /** Per-process shard sink root (the SinkSqlQueries discipline: a fixed
    * shared path would let concurrent Verify/Bench runs clobber each
    * other mid-read; stable within the process so warmup and measured
    * reps share one write). */
  private val sinkRoot: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_text_${ProcessHandle.current().pid()}"

  /** t35's shipped-shard directory: FIXED per process (the s16_bronze
    * convention) because the static oracle SQL interpolates it. The
    * shardCache below is keyed by (session, sfDir), so a scale switch
    * inside one process re-ships (overwrite) before either engine reads. */
  private val t35ShardDir: String = s"$sinkRoot/t35_shards"

  /** One shipShards write per (session, sfDir): the artifact is immutable
    * derived data (the s17/s18 discipline), so warmup and measured reps
    * read the same files instead of re-running the nine-stage pipeline
    * plus three writes per rep. */
  private val shardCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), String]()

  /** ONE nine-stage pipeline derivation per (session, sfDir), shared by
    * the DERIVED-ARTIFACT queries t33b (funnel report) and t35 (shard
    * sink): both are reports/sinks over the same derivation, and
    * re-running the pipeline inside each is the cp3/cp4 re-derivation
    * smell at query level. The stage boundaries are eager
    * localCheckpoints, so the cached value is a set of materialized
    * frames, valid for the session's lifetime. t33 itself DOES NOT use
    * this cache — its bench number is the measured cost of running the
    * composed pipeline, and caching there would quietly turn the
    * flagship measurement into a read-back. */
  private val pipelineCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String),
    graft.text.Curation.PipelineStages]()

  private def cachedPipelineStages(s: org.apache.spark.sql.SparkSession,
      d: String): graft.text.Curation.PipelineStages = {
    val key = (s, d)
    val hit = pipelineCache.get(key)
    if (hit != null) return hit
    pipelineCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val ps = graft.text.Curation.pipelineStages(Tables.documents(s, d),
      "doc_id", "text")
    val prev = pipelineCache.putIfAbsent(key, ps)
    if (prev != null) prev else ps
  }

  private def shippedShards(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val key = (s, d)
    val hit = shardCache.get(key)
    if (hit != null) return hit
    shardCache.keySet.removeIf(_._1.sparkContext.isStopped)
    val dir = t35ShardDir
    val stats = graft.text.Curation.shipShards(cachedPipelineStages(s, d),
      "doc_id", "text", dir, graft.text.Curation.PipelineConfig())
    require(stats.get("train").exists(_.nDocs > 0),
      s"t35 shipped an empty train shard: $stats")
    require(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "_manifest.json")),
      "t35 manifest missing after ship")
    shardCache.put(key, dir)
    dir
  }

  /** Tokens as the oracle splits them; both sides split trim(text) on \s+. */
  private val sqlTok = "regexp_split_to_array(trim(text), '\\s+')"

  /** SQL list literal of [[EnglishStopwords]] — derived, never inlined, so
    * a stopword edit cannot silently desynchronize an oracle. */
  private val sqlStopList =
    EnglishStopwords.map(w => s"'$w'").mkString("[", ",", "]")

  /** SQL twin of [[TextFunctions.qualityScore]] — the ONE definition every
    * oracle that scores quality interpolates (t2 three times, t13 once). */
  private[queries] val sqlQuality =
    s"""ROUND(
          least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
          + greatest(0.0, 0.3 -
              CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
                   AS DOUBLE)
              / greatest(CAST(length(text) AS DOUBLE), 1.0) * 3.0)
          + least(CAST(len(list_filter($sqlTok, t -> list_contains($sqlStopList, t)))
              AS DOUBLE) / CAST(len($sqlTok) AS DOUBLE) * 3.0, 1.0) * 0.3,
          6)"""

  /** SQL twin of the [[graft.text.TextFunctions.detectLang]] + keep-'en'
    * stage: one SELECT over `from` (a CTE name) emitting the surviving
    * (doc_id, text). The ONE definition every oracle that language-filters
    * interpolates (the pipeline CTEs and t38), so a marker edit cannot
    * desynchronize them. */
  private[queries] def sqlLangKeep(from: String): String = {
    val hits = LangMarkers.map { case (lang, ms) =>
      val list = ms.map(m => s"'$m'").mkString("[", ",", "]")
      s"len(list_filter($sqlTok, t -> list_contains($list, t))) AS hits_$lang"
    }.mkString(", ")
    val maxExpr = LangMarkers.map { case (l, _) => s"hits_$l" }
      .reduceRight((a, b) => s"greatest($a, $b)")
    val chain = LangMarkers.map { case (l, _) =>
      s"WHEN hits_$l = m AND hits_$l > 0 THEN '$l'"
    }.mkString(" ")
    s"""SELECT doc_id, text FROM (
          SELECT doc_id, text, CASE $chain ELSE 'und' END AS predicted
          FROM (SELECT doc_id, text, $hits, $maxExpr AS m FROM $from))
        WHERE predicted IN ('en')"""
  }

  /** Shared CTE chain of the composed curation pipeline (t33 + t33b):
    * the t13 funnel prefix (quality -> lang -> exact dedup -> LSH
    * near-dup) verbatim, then split, 5-gram decontamination, DSIR
    * top-half selection, LM perplexity head+middle keep -- ending at
    * the `kept` CTE. Consumers append their own final SELECT (t33:
    * packing; t33b: per-stage counts), so the two oracles can never
    * drift apart stage-wise. */
  private def sqlPipelineCtes: String = {
        // the t13 funnel prefix (quality → lang → exact dedup → LSH
        // near-dup) verbatim, then the five new stages
    s"""WITH q AS (SELECT doc_id, text FROM documents WHERE $sqlQuality >= 0.3),
                 lg AS (${sqlLangKeep("q")}),
                 ex AS (SELECT doc_id, text FROM lg WHERE doc_id IN (
                          SELECT MIN(doc_id)
                          FROM (SELECT doc_id,
                                       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                                         AS fp
                                FROM lg)
                          GROUP BY fp)),
                 docs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                          FROM ex),
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
                 drops AS (SELECT DISTINCT id2 FROM inter
                           JOIN sizes s1 ON id1 = s1.doc_id
                           JOIN sizes s2 ON id2 = s2.doc_id
                           WHERE CAST(inter AS DOUBLE)
                                 / CAST(s1.sz + s2.sz - inter AS DOUBLE) >= 0.5),
                 nd AS (SELECT doc_id, text FROM ex
                        WHERE doc_id NOT IN (SELECT id2 FROM drops)),
                 spl AS (SELECT doc_id, text,
                                CAST(('0x' || substr(md5('7|' ||
                                       CAST(doc_id AS VARCHAR)), 1, 15))
                                     AS BIGINT) % 10000 AS bk
                         FROM nd),
                 trn AS (SELECT doc_id, text FROM spl WHERE bk < 9000),
                 trw AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                         FROM trn),
                 t5 AS (SELECT DISTINCT doc_id,
                               w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                                 w[i+3] || ' ' || w[i+4] AS shingle
                        FROM trw, UNNEST(range(1, len(w) - 3)) AS t(i)),
                 b5 AS (SELECT DISTINCT
                               w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                                 w[i+3] || ' ' || w[i+4] AS shingle
                        FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS w
                              FROM spl WHERE bk >= 9500),
                             UNNEST(range(1, len(w) - 3)) AS t(i)),
                 cdrop AS (SELECT DISTINCT doc_id FROM t5
                           WHERE shingle IN (SELECT shingle FROM b5)),
                 clean AS (SELECT doc_id, text, ($sqlQuality >= 0.6) AS tgt
                           FROM trn
                           WHERE doc_id NOT IN (SELECT doc_id FROM cdrop)),
                 dh AS (SELECT doc_id, tgt,
                               list_transform(regexp_split_to_array(trim(text), '\\s+'),
                                 t -> CAST(('0x' || substr(md5('31|' || t), 1, 15))
                                      AS BIGINT) % 1073741824) AS h
                        FROM clean),
                 dfb AS (SELECT doc_id, tgt,
                                unnest(list_concat(
                                  list_transform(h, x -> x % 1024),
                                  list_transform(generate_series(1, len(h) - 1),
                                    i -> ((h[i] * 31 + h[i + 1]) % 1073741824) % 1024)))
                                  AS b
                         FROM dh),
                 ddb AS (SELECT doc_id, tgt, b, COUNT(*) AS n FROM dfb GROUP BY 1, 2, 3),
                 dbs AS (SELECT b, SUM(n) AS c_s,
                                SUM(CASE WHEN tgt THEN n ELSE 0 END) AS c_t
                         FROM ddb GROUP BY b),
                 dtot AS (SELECT SUM(c_s) AS n_s, SUM(c_t) AS n_t FROM dbs),
                 dlr AS (SELECT b,
                                CAST(ROUND(ln(
                                  (CAST(c_t AS DOUBLE) + 1.0) * (CAST(n_s AS DOUBLE) + 1024.0) /
                                  ((CAST(c_s AS DOUBLE) + 1.0) * (CAST(n_t AS DOUBLE) + 1024.0)))
                                  * 1e9) AS BIGINT) AS lr_nano
                         FROM dbs, dtot),
                 dw AS (SELECT ddb.doc_id,
                               CAST(SUM(ddb.n * dlr.lr_nano) AS BIGINT) AS weight_nano
                        FROM ddb JOIN dlr USING (b) GROUP BY 1),
                 dsel AS (SELECT doc_id, weight_nano FROM (
                            SELECT doc_id, weight_nano,
                                   ROW_NUMBER() OVER (ORDER BY weight_nano DESC, doc_id) AS rk,
                                   COUNT(*) OVER () AS cnt
                            FROM dw)
                          WHERE rk <= (cnt * 1 + 1) // 2),
                 sel AS (SELECT c.doc_id, c.text, c.tgt, s.weight_nano
                         FROM clean c JOIN dsel s USING (doc_id)),
                 lh AS (SELECT doc_id, tgt,
                               list_transform(regexp_split_to_array(trim(text), '\\s+'),
                                 t -> CAST(('0x' || substr(md5('37|' || t), 1, 15))
                                      AS BIGINT) % 1073741824) AS h
                        FROM sel),
                 lpr AS (SELECT doc_id, tgt, p[1] AS b1, p[2] AS b2
                         FROM (SELECT doc_id, tgt,
                                 unnest(list_transform(generate_series(1, len(h) - 1),
                                   i -> [h[i] % 4096, h[i + 1] % 4096])) AS p
                               FROM lh)),
                 m0 AS (SELECT b1, b2, COUNT(*) AS n_pair FROM lpr
                        WHERE tgt GROUP BY 1, 2),
                 m1 AS (SELECT b1, b2, n_pair,
                               SUM(n_pair) OVER (PARTITION BY b1) AS n_ctx
                        FROM m0),
                 mlp AS (SELECT b1, b2,
                                CAST(ROUND(ln((CAST(n_pair AS DOUBLE) + 1.0) /
                                  (CAST(n_ctx AS DOUBLE) + 4096.0)) * 1e9) AS BIGINT)
                                  AS lp_nano
                         FROM m1),
                 mctx AS (SELECT DISTINCT b1,
                                 CAST(ROUND(ln(1.0 / (CAST(n_ctx AS DOUBLE) + 4096.0)) * 1e9)
                                   AS BIGINT) AS lp0_nano
                          FROM m1),
                 lsc AS (SELECT lpr.doc_id, COUNT(*) AS n_bigrams,
                                SUM(COALESCE(mlp.lp_nano, mctx.lp0_nano,
                                  CAST(ROUND(ln(1.0 / 4096.0) * 1e9) AS BIGINT))) AS s
                         FROM lpr
                         LEFT JOIN mlp USING (b1, b2)
                         LEFT JOIN mctx USING (b1)
                         GROUP BY 1),
                 lkeep AS (SELECT doc_id, n_bigrams, nll_nano FROM (
                             SELECT doc_id, n_bigrams,
                                    CAST(0 - s AS BIGINT) AS nll_nano,
                                    ROW_NUMBER() OVER (ORDER BY
                                      CAST(0 - s AS DOUBLE) / CAST(n_bigrams AS DOUBLE),
                                      doc_id) AS rk,
                                    COUNT(*) OVER () AS cnt
                             FROM lsc WHERE n_bigrams > 0)
                           WHERE rk <= (cnt * 2 + 2) // 3),
                 kept AS (SELECT sel.doc_id, sel.text, sel.weight_nano,
                                 k.n_bigrams, k.nll_nano
                          FROM sel JOIN lkeep k USING (doc_id))"""
  }

  /** Shared oracle CTE chain of ONE incremental curation step over the
    * odd/even corpus split (t38 batch-mode + st9 streaming-mode): new
    * batch = odd doc_ids, accepted history = even doc_ids; quality →
    * langid → exact dedup within the incoming set → digest anti-join vs
    * history → cross-corpus near-dup drop — ending at the `acc` CTE
    * (accepted ids). ONE definition, so the two gates can never drift. */
  private[queries] def sqlIncrementalAcceptChain: String =
    s"""WITH batch AS (SELECT doc_id, text FROM documents
                              WHERE doc_id % 2 = 1),
                    hist AS (SELECT doc_id, text FROM documents
                             WHERE doc_id % 2 = 0),
                    q AS (SELECT doc_id, text FROM batch
                          WHERE $sqlQuality >= 0.3),
                    lg AS (${sqlLangKeep("q")}),
                    exb AS (SELECT doc_id, text FROM lg WHERE doc_id IN (
                              SELECT MIN(doc_id)
                              FROM (SELECT doc_id,
                                           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                                             AS fp
                                    FROM lg)
                              GROUP BY fp)),
                    hfp AS (SELECT DISTINCT
                                   md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                                     AS fp
                            FROM hist WHERE text IS NOT NULL),
                    exh AS (SELECT doc_id, text FROM exb
                            WHERE md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                                  NOT IN (SELECT fp FROM hfp)),
                    bw AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                           FROM exh),
                    hw AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                           FROM hist),
                    shb AS (SELECT DISTINCT doc_id,
                                   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                            FROM bw, UNNEST(range(1, len(w) - 1)) AS t(i)),
                    shh AS (SELECT DISTINCT doc_id,
                                   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                            FROM hw, UNNEST(range(1, len(w) - 1)) AS t(i)),
                    sigb AS (SELECT doc_id, j,
                                    MIN(CAST(('0x' || substr(md5(j || '|' || shingle), 1, 15))
                                        AS BIGINT)) AS mh
                             FROM shb CROSS JOIN range(0, 12) t(j)
                             GROUP BY doc_id, j),
                    sigh AS (SELECT doc_id, j,
                                    MIN(CAST(('0x' || substr(md5(j || '|' || shingle), 1, 15))
                                        AS BIGINT)) AS mh
                             FROM shh CROSS JOIN range(0, 12) t(j)
                             GROUP BY doc_id, j),
                    bb AS (SELECT doc_id, CAST(floor(j / 3) AS BIGINT) AS band,
                                  md5(string_agg(j || ':' || mh, ',' ORDER BY j))
                                    AS band_hash
                           FROM sigb GROUP BY doc_id, 2),
                    bh AS (SELECT doc_id, CAST(floor(j / 3) AS BIGINT) AS band,
                                  md5(string_agg(j || ':' || mh, ',' ORDER BY j))
                                    AS band_hash
                           FROM sigh GROUP BY doc_id, 2),
                    cands AS (SELECT DISTINCT a.doc_id AS batch_id,
                                     c.doc_id AS corpus_id
                              FROM bb a JOIN bh c
                                ON a.band = c.band AND a.band_hash = c.band_hash),
                    inter AS (SELECT c.batch_id, c.corpus_id, COUNT(*) AS inter
                              FROM cands c
                              JOIN shb a ON a.doc_id = c.batch_id
                              JOIN shh b ON b.doc_id = c.corpus_id
                                            AND b.shingle = a.shingle
                              GROUP BY 1, 2),
                    szb AS (SELECT doc_id, COUNT(*) AS sz FROM shb GROUP BY doc_id),
                    szh AS (SELECT doc_id, COUNT(*) AS sz FROM shh GROUP BY doc_id),
                    drops AS (SELECT DISTINCT batch_id FROM inter
                              JOIN szb s1 ON batch_id = s1.doc_id
                              JOIN szh s2 ON corpus_id = s2.doc_id
                              WHERE CAST(inter AS DOUBLE)
                                    / CAST(s1.sz + s2.sz - inter AS DOUBLE) >= 0.5),
                    acc AS (SELECT doc_id FROM exh
                            WHERE doc_id NOT IN (SELECT batch_id FROM drops))
"""

  /** The two-step NearDupIndex protocol as oracle CTEs (t45; st11 runs
    * the SAME protocol as a stream): corpus = doc_id % 3 ≠ 0, step 1
    * ingests % 6 = 0, step 2 ingests % 6 = 3 against corpus + step-1
    * survivors. Ends at `p1` / `p2` (each step's verified pairs). */
  private[queries] val sqlNdidxTwoStepChain: String =
    """WITH docs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
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
                   role AS (SELECT doc_id,
                                   CASE WHEN doc_id % 3 <> 0 THEN 'c'
                                        WHEN doc_id % 6 = 0 THEN 'b1'
                                        ELSE 'b2' END AS role
                            FROM documents),
                   sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
                   c1 AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
                          FROM banded a
                          JOIN role ra ON ra.doc_id = a.doc_id AND ra.role = 'b1'
                          JOIN banded b ON a.band = b.band
                                       AND a.band_hash = b.band_hash
                          JOIN role rb ON rb.doc_id = b.doc_id AND rb.role = 'c'),
                   i1 AS (SELECT c.batch_id, c.corpus_id, COUNT(*) AS inter
                          FROM c1 c
                          JOIN sh a ON a.doc_id = c.batch_id
                          JOIN sh b ON b.doc_id = c.corpus_id
                                   AND b.shingle = a.shingle
                          GROUP BY 1, 2),
                   p1 AS (SELECT i1.batch_id, i1.corpus_id, inter,
                                 s1.sz AS sz1, s2.sz AS sz2,
                                 CAST(inter AS DOUBLE)
                                   / CAST(s1.sz + s2.sz - inter AS DOUBLE) AS j
                          FROM i1
                          JOIN sizes s1 ON i1.batch_id = s1.doc_id
                          JOIN sizes s2 ON i1.corpus_id = s2.doc_id
                          WHERE CAST(inter AS DOUBLE)
                                / CAST(s1.sz + s2.sz - inter AS DOUBLE) >= 0.2),
                   idx2 AS (SELECT doc_id FROM role WHERE role = 'c'
                            UNION ALL
                            SELECT doc_id FROM role WHERE role = 'b1'
                              AND doc_id NOT IN (SELECT batch_id FROM p1)),
                   c2 AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
                          FROM banded a
                          JOIN role ra ON ra.doc_id = a.doc_id AND ra.role = 'b2'
                          JOIN banded b ON a.band = b.band
                                       AND a.band_hash = b.band_hash
                          JOIN idx2 ib ON ib.doc_id = b.doc_id),
                   i2 AS (SELECT c.batch_id, c.corpus_id, COUNT(*) AS inter
                          FROM c2 c
                          JOIN sh a ON a.doc_id = c.batch_id
                          JOIN sh b ON b.doc_id = c.corpus_id
                                   AND b.shingle = a.shingle
                          GROUP BY 1, 2),
                   p2 AS (SELECT i2.batch_id, i2.corpus_id, inter,
                                 s1.sz AS sz1, s2.sz AS sz2,
                                 CAST(inter AS DOUBLE)
                                   / CAST(s1.sz + s2.sz - inter AS DOUBLE) AS j
                          FROM i2
                          JOIN sizes s1 ON i2.batch_id = s1.doc_id
                          JOIN sizes s2 ON i2.corpus_id = s2.doc_id
                          WHERE CAST(inter AS DOUBLE)
                                / CAST(s1.sz + s2.sz - inter AS DOUBLE) >= 0.2)"""

  val all: Seq[Q] = Seq(

    Q("t1_token_stats",
      (s, d) => Tables.documents(s, d)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(tokenCount(col("text"))).as("total_tokens"),
          (sum(tokenCount(col("text"))).cast("double") / count(lit(1)).cast("double"))
            .as("avg_tokens"),
          max(tokenCount(col("text"))).as("max_tokens"),
          sum(bpeishTokenCount(col("text"))).as("total_bpeish"),
          sum(charCount(col("text"))).as("total_chars"))
        .orderBy("lang"),
      Some(s"""SELECT lang, COUNT(*) AS n_docs,
                      CAST(SUM(len($sqlTok)) AS BIGINT) AS total_tokens,
                      CAST(SUM(len($sqlTok)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                        AS avg_tokens,
                      CAST(MAX(len($sqlTok)) AS BIGINT) AS max_tokens,
                      CAST(SUM(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS total_bpeish,
                      CAST(SUM(length(text)) AS BIGINT) AS total_chars
               FROM documents GROUP BY lang ORDER BY lang""")),

    Q("t2_quality_scores",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          tokenCount(col("text")).as("n_tokens"),
          punctCount(col("text")).as("n_punct"),
          digitCount(col("text")).as("n_digit"),
          qualityScore(col("text")).as("quality"),
          qualityBand(col("text")).as("band"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
                      CAST(len($sqlTok) AS BIGINT) AS n_tokens,
                      CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
                        AS BIGINT) AS n_punct,
                      CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                        AS BIGINT) AS n_digit,
                      $sqlQuality AS quality,
                      CASE WHEN $sqlQuality >= 0.6 THEN 'HIGH'
                           WHEN $sqlQuality >= 0.3 THEN 'MEDIUM'
                           ELSE 'LOW' END AS band
               FROM documents ORDER BY doc_id""")),

    Q("t3_langid_confusion",
      (s, d) => Tables.documents(s, d)
        .select(col("lang"), detectLang(col("text")).as("predicted"))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted"),
      Some {
        val hits = LangMarkers.map { case (lang, ms) =>
          val list = ms.map(m => s"'$m'").mkString("[", ",", "]")
          s"len(list_filter($sqlTok, t -> list_contains($list, t))) AS hits_$lang"
        }.mkString(", ")
        val maxExpr = LangMarkers.map { case (l, _) => s"hits_$l" }
          .reduceRight((a, b) => s"greatest($a, $b)")
        val chain = LangMarkers.map { case (l, _) =>
          s"WHEN hits_$l = m AND hits_$l > 0 THEN '$l'"
        }.mkString(" ")
        s"""SELECT lang, predicted, COUNT(*) AS n FROM (
              SELECT lang, CASE $chain ELSE 'und' END AS predicted
              FROM (SELECT lang, $hits, $maxExpr AS m
                    FROM (SELECT lang, text FROM documents)))
            GROUP BY lang, predicted ORDER BY lang, predicted"""
      }),

    Q("t4_fingerprint",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                     md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
              FROM documents ORDER BY doc_id""")),

    Q("t5_exact_dedup_summary",
      (s, d) => {
        val g = Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")
        g.agg(
          sum(col("n_docs")).as("n_docs"),
          count(lit(1)).as("n_distinct"),
          sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
          sum(col("n_docs") - 1).as("n_removable"))
      },
      Some("""SELECT CAST(SUM(n_docs) AS BIGINT) AS n_docs,
                     COUNT(*) AS n_distinct,
                     CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
                     CAST(SUM(n_docs - 1) AS BIGINT) AS n_removable
              FROM (SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                      AS digest, COUNT(*) AS n_docs
                    FROM documents GROUP BY 1)""")),

    // T6: exact n-gram Jaccard pairs. lshPruneThreshold=2000 exercises BOTH
    // of jaccardPairs' pair-generation strategies under the oracle: the
    // sf0.001/sf0.01 gates (50/500 docs) run the exact all-pairs self-join,
    // sf0.1 (5,000 docs) runs the LSH-prune + exact-verify scale path —
    // measured hash-identical to the all-pairs output at all three SFs
    // (256=256 pairs at sf0.1, 0 missed; every pair sits at J ≥ 0.9 where
    // banding capture is ≥ 99.98%).
    Q("t6_ngram_jaccard_pairs",
      (s, d) => Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, minJaccard = 0.2, maxShingleDf = 1000L,
          lshPruneThreshold = 2000L,
          docCount = Some(Tables.cachedCount(s, d, "documents")))
        .orderBy("id1", "id2"),
      Some("""WITH docs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                            FROM documents),
                   sh AS (SELECT DISTINCT doc_id,
                                 w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                          FROM docs, UNNEST(range(1, len(w) - 1)) AS t(i)),
                   rare AS (SELECT shingle FROM sh GROUP BY shingle
                            HAVING COUNT(*) <= 1000),
                   shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
                   sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id),
                   inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
                             FROM shf a JOIN shf b
                               ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                             GROUP BY 1, 2)
              SELECT id1, id2, inter, s1.sz AS sz1, s2.sz AS sz2,
                     ROUND(CAST(inter AS DOUBLE) /
                           CAST(s1.sz + s2.sz - inter AS DOUBLE), 6) AS jaccard
              FROM inter
              JOIN sizes s1 ON id1 = s1.doc_id
              JOIN sizes s2 ON id2 = s2.doc_id
              WHERE CAST(inter AS DOUBLE) / CAST(s1.sz + s2.sz - inter AS DOUBLE) >= 0.2
              ORDER BY id1, id2""")),

    // T21: containment pairs — the sub-document duplication detector.
    // A short doc quoted whole inside a long one has tiny Jaccard (the
    // union is dominated by the long doc) but containment |A∩B|/|A| ≈ 1;
    // training-data pipelines drop exactly these quote-inclusions that
    // t6 cannot see. Pair generation keeps the exact df-capped self-join
    // at test scale — measured optimal for sparse-df corpora, where its
    // join rows ≈ co-shingled pairs and Σ df² ≤ cap·|shingles| is
    // already linear (PERF.md round-6 crossover study) — and
    // auto-flips to LOSSLESS prefix filtering (provably identical
    // output; DedupSpec pins path equality, tri-scale hash-verified
    // against this same oracle) when the corpus outgrows the library
    // threshold. Jaccard-tuned banding is deliberately not used: it
    // would drop precisely the high-containment/low-Jaccard pairs this
    // operator exists to find (see containmentPairs scaladoc).
    Q("t21_containment_pairs",
      (s, d) => Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, minContainment = 0.6, maxShingleDf = 1000L,
          docCount = Some(Tables.cachedCount(s, d, "documents")))
        .orderBy("id1", "id2"),
      Some("""WITH docs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                            FROM documents),
                   sh AS (SELECT DISTINCT doc_id,
                                 w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                          FROM docs, UNNEST(range(1, len(w) - 1)) AS t(i)),
                   rare AS (SELECT shingle FROM sh GROUP BY shingle
                            HAVING COUNT(*) <= 1000),
                   shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
                   sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id),
                   inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
                             FROM shf a JOIN shf b
                               ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                             GROUP BY 1, 2)
              SELECT id1, id2, inter, s1.sz AS sz1, s2.sz AS sz2,
                     ROUND(CAST(inter AS DOUBLE) / CAST(s1.sz AS DOUBLE), 6) AS c1_in_2,
                     ROUND(CAST(inter AS DOUBLE) / CAST(s2.sz AS DOUBLE), 6) AS c2_in_1
              FROM inter
              JOIN sizes s1 ON id1 = s1.doc_id
              JOIN sizes s2 ON id2 = s2.doc_id
              WHERE GREATEST(CAST(inter AS DOUBLE) / CAST(s1.sz AS DOUBLE),
                             CAST(inter AS DOUBLE) / CAST(s2.sz AS DOUBLE)) >= 0.6
              ORDER BY id1, id2""")),

    // T22: cross-corpus near-dup — the recurring-crawl production shape:
    // which NEW-batch docs (sources src0–src2) near-duplicate something
    // already in the CORPUS (the rest). Candidates form only ACROSS the
    // sides via shared MinHash band buckets — intra-side pairs never
    // exist — then exact Jaccard verifies each candidate. The oracle
    // replays the per-doc signatures/bands (t7's CTEs) with a side
    // predicate on the candidate join and t12's exact verification.
    Q("t22_cross_corpus_neardup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val isBatch = col("source").isin("src0", "src1", "src2")
        Dedup.crossCorpusPairs(docs.filter(isBatch), docs.filter(!isBatch),
            "doc_id", "text", n = 3, k = 12, rowsPerBand = 3, minJaccard = 0.2)
          .orderBy("batch_id", "corpus_id")
      },
      Some("""WITH docs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
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
                   side AS (SELECT doc_id,
                                   source IN ('src0', 'src1', 'src2') AS is_batch
                            FROM documents),
                   cands AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
                             FROM banded a
                             JOIN side sa ON sa.doc_id = a.doc_id AND sa.is_batch
                             JOIN banded b ON a.band = b.band
                                          AND a.band_hash = b.band_hash
                             JOIN side sb ON sb.doc_id = b.doc_id AND NOT sb.is_batch),
                   inter AS (SELECT c.batch_id, c.corpus_id, COUNT(*) AS inter
                             FROM cands c
                             JOIN sh a ON a.doc_id = c.batch_id
                             JOIN sh b ON b.doc_id = c.corpus_id
                                      AND b.shingle = a.shingle
                             GROUP BY 1, 2),
                   sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)
              SELECT batch_id, corpus_id, inter, s1.sz AS sz1, s2.sz AS sz2,
                     ROUND(CAST(inter AS DOUBLE)
                           / CAST(s1.sz + s2.sz - inter AS DOUBLE), 6) AS jaccard
              FROM inter
              JOIN sizes s1 ON batch_id = s1.doc_id
              JOIN sizes s2 ON corpus_id = s2.doc_id
              WHERE CAST(inter AS DOUBLE) / CAST(s1.sz + s2.sz - inter AS DOUBLE) >= 0.2
              ORDER BY batch_id, corpus_id""")),

    // Near-dup CLUSTERING: the t6 pair list folded into connected
    // components (alternating large-star/small-star, Clusters.scala) with
    // one canonical doc per cluster. The oracle recomputes the same pairs
    // in DuckDB and takes the transitive closure with a recursive CTE —
    // engine-independent ground truth for the distributed algorithm.
    // Pair generation keeps jaccardPairs' library default threshold: at
    // test scale (≤5k docs) the exact self-join is measured FASTER than
    // the LSH-pruned path (4.1 s vs 6.4 s at sf0.1 — the CC iterations
    // re-derive the banding subtree), and the auto-threshold flips to
    // pruned candidates exactly when the corpus outgrows the self-join.
    Q("t9_neardup_clusters",
      (s, d) => {
        val pairs = graft.dedup.Dedup.jaccardPairs(Tables.documents(s, d),
          "doc_id", "text", n = 3, minJaccard = 0.2, maxShingleDf = 1000L,
          docCount = Some(Tables.cachedCount(s, d, "documents")))
        graft.dedup.Clusters.canonicalAssignment(pairs, "id1", "id2")
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE
                   docs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                            FROM documents),
                   sh AS (SELECT DISTINCT doc_id,
                                 w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                          FROM docs, UNNEST(range(1, len(w) - 1)) AS t(i)),
                   rare AS (SELECT shingle FROM sh GROUP BY shingle
                            HAVING COUNT(*) <= 1000),
                   shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
                   sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id),
                   inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
                             FROM shf a JOIN shf b
                               ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                             GROUP BY 1, 2),
                   pairs AS (SELECT id1, id2 FROM inter
                             JOIN sizes s1 ON id1 = s1.doc_id
                             JOIN sizes s2 ON id2 = s2.doc_id
                             WHERE CAST(inter AS DOUBLE)
                                   / CAST(s1.sz + s2.sz - inter AS DOUBLE) >= 0.2),
                   sym AS (SELECT id1 AS a, id2 AS b FROM pairs
                           UNION SELECT id2, id1 FROM pairs),
                   reach AS (SELECT a, b FROM sym
                             UNION
                             SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
                   comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
                            FROM reach GROUP BY a)
              SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical
              FROM comp ORDER BY doc_id""")),

    Q("t7_minhash_lsh_pairs",
      (s, d) => Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, k = 12, rowsPerBand = 3, minEstJaccard = 0.25)
        .orderBy("id1", "id2"),
      Some("""WITH docs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
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
                   est AS (SELECT id1, id2,
                                  CAST(SUM(CASE WHEN s1.mh = s2.mh THEN 1 ELSE 0 END)
                                       AS DOUBLE) / 12.0 AS est_jaccard
                           FROM cands
                           JOIN sig s1 ON s1.doc_id = id1
                           JOIN sig s2 ON s2.doc_id = id2 AND s2.j = s1.j
                           GROUP BY id1, id2)
              SELECT id1, id2, ROUND(est_jaccard, 6) AS est_jaccard FROM est
              WHERE est_jaccard >= 0.25 ORDER BY id1, id2""")),

    // T12: the SCALE path for pairwise dedup — LSH banding prunes the
    // O(n²) pair space, then exact Jaccard verifies only the candidates
    // (Dedup.lshThenExactPairs). The oracle mirrors the banding (t7's
    // CTEs) and the exact verification (t6's), so the pruned-but-exact
    // contract is itself hash-checked.
    Q("t12_lsh_exact_dedup_pairs",
      (s, d) => Dedup.lshThenExactPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, k = 12, rowsPerBand = 3, minJaccard = 0.2)
        .orderBy("id1", "id2"),
      Some("""WITH docs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
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
                   sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)
              SELECT id1, id2,
                     ROUND(CAST(inter AS DOUBLE)
                           / CAST(s1.sz + s2.sz - inter AS DOUBLE), 6) AS jaccard
              FROM inter
              JOIN sizes s1 ON id1 = s1.doc_id
              JOIN sizes s2 ON id2 = s2.doc_id
              WHERE CAST(inter AS DOUBLE) / CAST(s1.sz + s2.sz - inter AS DOUBLE) >= 0.2
              ORDER BY id1, id2""")),

    Q("t8_simhash",
      (s, d) => Dedup.simhash(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+'))
                             AS tk FROM documents),
                   hashed AS (SELECT doc_id,
                                     CAST(('0x' || substr(md5('0|' || tk), 1, 15)) AS BIGINT)
                                       AS h
                              FROM tok),
                   votes AS (SELECT doc_id, b,
                                    CAST(SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v
                             FROM hashed CROSS JOIN range(0, 60) t(b)
                             GROUP BY doc_id, b)
              SELECT doc_id,
                     CAST(SUM(CASE WHEN v >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
              FROM votes GROUP BY doc_id ORDER BY doc_id""")),

    // T26: n-gram boilerplate ratio — the C4-style common-span signal:
    // shingles in ≥ 20 documents are boilerplate, each doc reports the
    // fraction of its distinct shingles that are. Cross-document
    // commonness, vs t15's within-document repetition and t16's
    // held-out contamination.
    Q("t26_boilerplate_ratio",
      (s, d) => graft.text.Corpus.boilerplateRatio(
          Tables.documents(s, d), "doc_id", "text", n = 3, minDf = 20L)
        .orderBy("doc_id"),
      Some("""WITH docs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                            FROM documents),
                   sh AS (SELECT DISTINCT doc_id,
                                 w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                          FROM docs, UNNEST(range(1, len(w) - 1)) AS t(i)),
                   common AS (SELECT shingle FROM sh GROUP BY shingle
                              HAVING COUNT(*) >= 20),
                   sizes AS (SELECT doc_id, COUNT(*) AS n_shingles
                             FROM sh GROUP BY doc_id),
                   hits AS (SELECT doc_id, COUNT(*) AS n_boiler
                            FROM sh JOIN common USING (shingle)
                            GROUP BY doc_id)
              SELECT s.doc_id, s.n_shingles,
                     COALESCE(h.n_boiler, 0) AS n_boiler,
                     ROUND(CAST(COALESCE(h.n_boiler, 0) AS DOUBLE)
                           / CAST(s.n_shingles AS DOUBLE), 6) AS boilerplate_ratio
              FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
              ORDER BY s.doc_id""")),

    // T27: character-distribution entropy — the low-entropy junk filter.
    // Irrational p·ln(p) terms rounded at source and summed in exact
    // decimal, so the unordered group sum is engine-portable. Declared
    // on the FUSED one-pass expression (no per-character row explosion);
    // the oracle replays the relational decimal-term pipeline, so the
    // hash gate proves fused ≡ relational ≡ DuckDB.
    Q("t27_char_entropy",
      (s, d) => graft.text.Corpus.charEntropyFused(
          Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
                          FROM documents),
                   counts AS (SELECT doc_id, ch, COUNT(*) AS c
                              FROM ch GROUP BY 1, 2),
                   tot AS (SELECT doc_id, SUM(c) AS n FROM counts GROUP BY 1)
              SELECT counts.doc_id, CAST(n AS BIGINT) AS n_chars,
                     COUNT(*) AS n_distinct_chars,
                     ROUND(-CAST(SUM(CAST(ROUND(
                         (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                           * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 9)
                       AS DECIMAL(28,9))) AS DOUBLE), 6) AS entropy
              FROM counts JOIN tot ON counts.doc_id = tot.doc_id
              GROUP BY counts.doc_id, n
              ORDER BY counts.doc_id""")),

    // T10: deterministic hash-based train/val/test assignment
    // (graft.ops.Sampling) — stable across engines/runs/partitionings,
    // unlike rand() splits. Oracle replays the same md5 bucket scheme.
    Q("t10_hash_split",
      (s, d) => Tables.documents(s, d)
        .groupBy(graft.ops.Sampling.splitColumn(col("doc_id"),
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)).as("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy("split"),
      Some("""SELECT CASE WHEN b < 9000 THEN 'train'
                          WHEN b < 9500 THEN 'val'
                          ELSE 'test' END AS split,
                     COUNT(*) AS n_docs,
                     CAST(SUM(n_chars) AS BIGINT) AS total_chars
              FROM (SELECT n_chars,
                           CAST(('0x' || substr(md5('7|' || CAST(doc_id AS VARCHAR)), 1, 15))
                                AS BIGINT) % 10000 AS b
                    FROM documents)
              GROUP BY 1 ORDER BY split""")),

    // T11: equal-count decile bucketing (NTILE) by document length — the
    // curriculum / quality-tier assignment shape. NTILE is a global sort
    // by contract (like the w3 surrogate mint); the documented scale path
    // is approx-quantile cutoffs + a broadcast range join when exact
    // equal-count tiles aren't required.
    Q("t11_length_deciles",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"),
            ntile(10).over(Window.orderBy(col("n_chars"), col("doc_id")))
              .cast("long").as("decile"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_docs"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"))
          .orderBy("decile")
      },
      Some("""SELECT decile, COUNT(*) AS n_docs,
                     MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
              FROM (SELECT doc_id, n_chars,
                           CAST(NTILE(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT)
                             AS decile
                    FROM documents)
              GROUP BY decile ORDER BY decile""")),

    // T11b: the decile SCALE path — quantile cutoffs + broadcast assignment,
    // no global-sort window (graft.ops.Quantiles). Declared with exact
    // type-7 cutoffs so the oracle (DuckDB quantile_cont, same definition)
    // hash-matches; the production approx_percentile mode differs only in
    // the cutoff aggregate and is spec-gated against this one.
    Q("t11b_length_deciles_cutoffs",
      (s, d) => graft.ops.Quantiles
        .quantileBuckets(Tables.documents(s, d), "n_chars", 10,
          bucketCol = "decile", exact = true)
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("decile"),
      Some("""WITH cuts AS (SELECT quantile_cont(CAST(n_chars AS DOUBLE),
                                     [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
                                     AS c
                            FROM documents)
              SELECT decile, COUNT(*) AS n_docs,
                     MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
              FROM (SELECT n_chars,
                           CAST(1 + len(list_filter(cuts.c,
                                  x -> x < CAST(n_chars AS DOUBLE))) AS BIGINT)
                             AS decile
                    FROM documents, cuts)
              GROUP BY decile ORDER BY decile""")),

    // T13: the full curation pipeline funnel (graft.text.Curation) —
    // quality ≥ 0.3 → detected-lang 'en' → exact dedup (min-id keeper) →
    // LSH-pruned near-dup dedup (Jaccard ≥ 0.5, drop higher id) →
    // hash-split counts. The oracle chains the already-proven SQL twins
    // of every stage (t2 quality, t3 langid, t4 fingerprint, t12 LSH,
    // t10 split) into one CTE pipeline — a full hash-match on the whole
    // composition, not just its parts.
    Q("t13_curation_funnel",
      (s, d) => graft.text.Curation.funnel(Tables.documents(s, d), "doc_id", "text"),
      Some {
        val hits = LangMarkers.map { case (lang, ms) =>
          val list = ms.map(m => s"'$m'").mkString("[", ",", "]")
          s"len(list_filter($sqlTok, t -> list_contains($list, t))) AS hits_$lang"
        }.mkString(", ")
        val maxExpr = LangMarkers.map { case (l, _) => s"hits_$l" }
          .reduceRight((a, b) => s"greatest($a, $b)")
        val chain = LangMarkers.map { case (l, _) =>
          s"WHEN hits_$l = m AND hits_$l > 0 THEN '$l'"
        }.mkString(" ")
        s"""WITH q AS (SELECT doc_id, text FROM documents WHERE $sqlQuality >= 0.3),
                 lg AS (SELECT doc_id, text FROM (
                          SELECT doc_id, text, CASE $chain ELSE 'und' END AS predicted
                          FROM (SELECT doc_id, text, $hits, $maxExpr AS m FROM q))
                        WHERE predicted IN ('en')),
                 ex AS (SELECT doc_id, text FROM lg WHERE doc_id IN (
                          SELECT MIN(doc_id)
                          FROM (SELECT doc_id,
                                       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                                         AS fp
                                FROM lg)
                          GROUP BY fp)),
                 docs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                          FROM ex),
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
                 drops AS (SELECT DISTINCT id2 FROM inter
                           JOIN sizes s1 ON id1 = s1.doc_id
                           JOIN sizes s2 ON id2 = s2.doc_id
                           WHERE CAST(inter AS DOUBLE)
                                 / CAST(s1.sz + s2.sz - inter AS DOUBLE) >= 0.5),
                 nd AS (SELECT doc_id FROM ex
                        WHERE doc_id NOT IN (SELECT id2 FROM drops)),
                 sp AS (SELECT CASE WHEN b < 9000 THEN 'train'
                                    WHEN b < 9500 THEN 'val'
                                    ELSE 'test' END AS split
                        FROM (SELECT CAST(('0x' || substr(md5('7|' ||
                                       CAST(doc_id AS VARCHAR)), 1, 15))
                                     AS BIGINT) % 10000 AS b FROM nd))
            SELECT stage, n_docs FROM (
              SELECT '00_raw' AS stage, COUNT(*) AS n_docs FROM documents
              UNION ALL SELECT '10_quality', COUNT(*) FROM q
              UNION ALL SELECT '20_lang', COUNT(*) FROM lg
              UNION ALL SELECT '30_exact_dedup', COUNT(*) FROM ex
              UNION ALL SELECT '40_near_dup', COUNT(*) FROM nd
              UNION ALL SELECT '50_split_' || split, COUNT(*) FROM sp GROUP BY split
            ) ORDER BY stage"""
      }),

    // T14: incremental exact dedup — the recurring-crawl shape: dedup a
    // new BATCH (odd doc_ids) against the HISTORICAL corpus (even
    // doc_ids) via anti-join on the content digest, then within-batch
    // (min-id keeper). The historical side reduces to its digest set, so
    // at scale the "seen" input is the slim fingerprint table, not the
    // corpus.
    Q("t14_incremental_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.dedupAgainstCorpus(
            docs.filter(col("doc_id") % 2 === 1),
            docs.filter(col("doc_id") % 2 === 0),
            "doc_id", "text")
          .select("doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH batch AS (SELECT doc_id,
                                    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                                      AS digest
                             FROM documents
                             WHERE doc_id % 2 = 1 AND text IS NOT NULL),
                   seen AS (SELECT DISTINCT
                                   md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                                     AS digest
                            FROM documents
                            WHERE doc_id % 2 = 0 AND text IS NOT NULL),
                   fresh AS (SELECT * FROM batch
                             WHERE digest NOT IN (SELECT digest FROM seen))
              SELECT MIN(doc_id) AS doc_id FROM fresh GROUP BY digest
              UNION ALL
              -- null-text batch rows pass through dedupAgainstCorpus
              -- untouched (absent != duplicate); the oracle must carry
              -- them too or a corpus with null text diverges the gate
              SELECT doc_id FROM documents
              WHERE doc_id % 2 = 1 AND text IS NULL
              ORDER BY doc_id""")),

    // T15: within-document repetition ratio (the Gopher-family duplicate
    // n-gram quality rule): fraction of 3-gram occurrences that repeat an
    // earlier 3-gram in the same doc. Computed by the codegen'd
    // graft_shingle_stats expression (one tokenize + one HashSet pass per
    // row — the composed shingleArray/array_distinct Column form runs on
    // the interpreted higher-order-function path and measured 28.7 s at
    // sf0.1 vs ~1 s for this; ShingleStatsSpec pins their equivalence).
    // The oracle recomputes the same counts with DuckDB list functions.
    Q("t15_repetition_ratio",
      (s, d) => {
        graft.GraftExtensions.setup(s)
        val st = call_function("graft_shingle_stats", col("text"), lit(3))
        Tables.documents(s, d)
          .select(col("doc_id"), st.as("st"))
          .select(col("doc_id"),
            col("st.n_shingles").as("n_shingles"),
            when(col("st.n_shingles") > 0,
              round(lit(1.0) - col("st.n_distinct").cast("double")
                / col("st.n_shingles").cast("double"), 6))
              .otherwise(0.0).as("repetition_ratio"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
                     CAST(len(sh) AS BIGINT) AS n_shingles,
                     CASE WHEN len(sh) > 0
                          THEN ROUND(CAST(1 AS DOUBLE)
                                     - CAST(len(list_distinct(sh)) AS DOUBLE)
                                       / CAST(len(sh) AS DOUBLE), 6)
                          ELSE 0.0 END AS repetition_ratio
              FROM (SELECT doc_id,
                           CASE WHEN len(w) >= 3
                                THEN list_transform(range(1, len(w) - 1),
                                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                                ELSE CAST([] AS VARCHAR[]) END AS sh
                    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                          FROM documents))
              ORDER BY doc_id""")),

    // T30: winnowing fingerprint pairs — the MOSS shared-long-span
    // detector (Schleimer et al. SIGMOD'03; graft.text.Winnowing scaladoc
    // for the guarantee and the 2/(w+1) density bound). The packed
    // h32·2^24 + (2^24−1−pos) BIGINT makes "min hash, rightmost tie" a
    // plain windowed MIN in both engines, so the oracle replays the exact
    // selection — shingle hash, window, df cap, pair score — stage by
    // stage. k=3 w=4: any shared run of ≥ 6 tokens is guaranteed caught.
    Q("t30_winnowing_pairs",
      (s, d) => graft.text.Winnowing.sharedFingerprintPairs(
          Tables.documents(s, d), "doc_id", "text",
          k = 3, w = 4, minOverlap = 0.6, maxFpDf = 1000L)
        .orderBy("id1", "id2"),
      Some("""WITH docs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                            FROM documents WHERE text IS NOT NULL),
                   sh AS (SELECT doc_id, i - 1 AS pos, len(w) - 2 AS nsh,
                                 CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 8)
                                      AS BIGINT) AS h32
                          FROM docs, UNNEST(range(1, len(w) - 1)) AS t(i)),
                   wins AS (SELECT doc_id, pos, nsh,
                                   MIN(h32 * 16777216 + (16777215 - pos)) OVER
                                     (PARTITION BY doc_id ORDER BY pos
                                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
                            FROM sh),
                   fph AS (SELECT DISTINCT doc_id, m // 16777216 AS fp_hash
                           FROM wins WHERE pos <= greatest(nsh - 4, 0)),
                   rare AS (SELECT fp_hash FROM fph GROUP BY fp_hash
                            HAVING COUNT(*) <= 1000),
                   kept AS (SELECT fph.doc_id, fph.fp_hash FROM fph JOIN rare USING (fp_hash)),
                   sizes AS (SELECT doc_id, COUNT(*) AS nfp FROM kept GROUP BY doc_id),
                   inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
                             FROM kept a JOIN kept b
                               ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
                             GROUP BY 1, 2)
              SELECT id1, id2, shared, s1.nfp AS nfp1, s2.nfp AS nfp2,
                     ROUND(CAST(shared AS DOUBLE) /
                           CAST(least(s1.nfp, s2.nfp) AS DOUBLE), 6) AS overlap
              FROM inter
              JOIN sizes s1 ON id1 = s1.doc_id
              JOIN sizes s2 ON id2 = s2.doc_id
              WHERE CAST(shared AS DOUBLE) / CAST(least(s1.nfp, s2.nfp) AS DOUBLE) >= 0.6
              ORDER BY id1, id2""")),

    // T33: the COMPLETE curation pipeline as ONE declared query — quality
    // → langid → exact dedup → LSH near-dup survivorship → split → 5-gram
    // benchmark decontamination (any-collision) → DSIR top-half selection
    // (target: quality ≥ 0.6) → bigram-LM perplexity head+middle keep →
    // sequence packing. Every stage is the already-oracle-gated operator
    // (t13/t16/t31/t32/t28); this row proves their COMPOSITION is
    // hash-exact end to end. Selection stages are rank-based with id
    // tie-break (total order, integer ceil arithmetic) — see
    // graft.text.Curation.pipeline for the scale + determinism argument.
    Q("t33_curation_pipeline",
      (s, d) => graft.text.Curation.pipeline(Tables.documents(s, d),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""$sqlPipelineCtes,
                 pt AS (SELECT doc_id, weight_nano, n_bigrams, nll_nano,
                               CAST(len(regexp_extract_all(text,
                                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
                                 AS n_tokens
                        FROM kept),
                 po AS (SELECT doc_id, weight_nano, n_bigrams, nll_nano, n_tokens,
                               CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                                 - n_tokens AS BIGINT) AS start_offset
                        FROM pt)
            SELECT doc_id, n_tokens, start_offset,
                   start_offset // 2048 AS first_seq,
                   (start_offset + n_tokens - 1) // 2048 AS last_seq,
                   (start_offset + n_tokens - 1) // 2048
                     > start_offset // 2048 AS crosses_boundary,
                   weight_nano, n_bigrams, nll_nano
            FROM po ORDER BY doc_id""")),

    // T33b: the same pipeline's per-stage survivor counts -- the
    // "where did my data go" funnel over all nine stages, sharing the
    // t33 CTE chain verbatim so stage accounting and the packed output
    // are provably the same derivation. Each count is a cached scan of
    // an already-materialized stage boundary on the Spark side.
    Q("t33b_curation_funnel",
      (s, d) => graft.text.Curation.funnelOf(cachedPipelineStages(s, d)),
      Some(s"""$sqlPipelineCtes
            SELECT stage, n_docs FROM (
              SELECT '00_raw' AS stage, COUNT(*) AS n_docs FROM documents
              UNION ALL SELECT '10_quality', COUNT(*) FROM q
              UNION ALL SELECT '20_lang', COUNT(*) FROM lg
              UNION ALL SELECT '30_exact_dedup', COUNT(*) FROM ex
              UNION ALL SELECT '40_near_dup', COUNT(*) FROM nd
              UNION ALL SELECT '50_train_split', COUNT(*) FROM trn
              UNION ALL SELECT '60_decontaminated', COUNT(*) FROM clean
              UNION ALL SELECT '70_dsir_selected', COUNT(*) FROM sel
              UNION ALL SELECT '80_perplexity_kept', COUNT(*) FROM kept
            ) ORDER BY stage""")),

    // T35: t33's pipeline shipped as the ON-DISK artifact (VERDICT r9
    // item 5) — hive-partitioned split=train|val|test parquet shards
    // (train = packed nine-stage survivors with text + packing plan +
    // integer audit columns; val/test = post-near-dup docs of those
    // splits, untouched) plus a _manifest.json (config, funnel, per-split
    // doc/token/sequence counts, all computed from the written files;
    // write fidelity require()d at ship time). The gate is s16-style
    // FILE-LEVEL: both engines read the SAME shard files — Spark via the
    // hive-partition read-back, DuckDB via read_parquet(glob,
    // hive_partitioning) — and compare one row per shipped document
    // (split routing, packing integers, md5 of the shipped text). So
    // directory naming, partition routing, schema-per-split union and
    // row fidelity are all under the hash; nothing is replayed from the
    // source table.
    Q("t35_curated_shard_sink",
      (s, d) => {
        val dir = shippedShards(s, d)
        s.read.option("mergeSchema", "true").parquet(dir)
          .select(col("doc_id"), col("split"), col("n_tokens"),
            md5(col("text")).as("text_md5"), col("start_offset"),
            col("first_seq"), col("last_seq"), col("crosses_boundary"),
            col("weight_nano"), col("n_bigrams"), col("nll_nano"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, split, n_tokens, md5(text) AS text_md5,
                      start_offset, first_seq, last_seq, crosses_boundary,
                      weight_nano, n_bigrams, nll_nano
               FROM read_parquet('$t35ShardDir/*/*.parquet',
                                 hive_partitioning = true,
                                 union_by_name = true)
               ORDER BY doc_id""")),

    // T36: Gopher rule-based quality filter (Rae et al. 2021 Appendix A,
    // public heuristics; the RedPajama/Dolma/FineWeb hard-rule battery) —
    // the INTERPRETABLE complement to the continuous t2 score: seven
    // structural rules per document, the packed rule bitmask, and the
    // conjunction keep flag. Every threshold is integer-cross-multiplied
    // (no float surface at all), so the oracle replays each rule
    // bit-exactly. One projection over the scan — no shuffle, the
    // cheapest possible 100 TB pre-filter.
    Q("t36_gopher_rules",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id") +:
          graft.text.QualityRules.verdictColumns(col("text")): _*)
        .orderBy("doc_id"),
      Some(s"""WITH f AS (
                 SELECT doc_id,
                        $sqlTok AS w,
                        string_split(text, chr(10)) AS ln
                 FROM documents),
               m AS (
                 SELECT doc_id,
                        CAST(len(w) AS BIGINT) AS n,
                        CAST(list_sum(list_transform(w, t -> length(t)))
                             AS BIGINT) AS sumlen,
                        CAST(len(list_filter(w, t -> contains(t, '#')
                               OR contains(t, '…'))) AS BIGINT) AS nsym,
                        CAST(len(list_filter(w,
                               t -> regexp_matches(t, '[A-Za-z]')))
                             AS BIGINT) AS nalpha,
                        CAST(len(ln) AS BIGINT) AS nlines,
                        CAST(len(list_filter(ln, l -> ltrim(l) LIKE '- %'
                               OR ltrim(l) LIKE '* %'
                               OR ltrim(l) LIKE '•%')) AS BIGINT) AS nbullet,
                        CAST(len(list_distinct(ln)) AS BIGINT) AS ndln,
                        CAST(len(list_intersect(
                               list_distinct(list_transform(w, t -> lower(t))),
                               ['the','be','to','of','and','that','have','with']))
                             AS BIGINT) AS nstop
                 FROM f),
               r AS (
                 SELECT doc_id,
                        (n >= 50 AND n <= 100000) AS r_wordcount,
                        (sumlen >= n * 3 AND sumlen <= n * 10) AS r_meanwordlen,
                        (nsym * 10 <= n) AS r_symbolratio,
                        (nalpha * 5 >= n * 4) AS r_alphawords,
                        (nbullet * 10 <= nlines * 9) AS r_bulletlines,
                        ((nlines - ndln) * 10 <= nlines * 3) AS r_duplines,
                        (nstop >= 2) AS r_stopwords
                 FROM m)
              SELECT doc_id, r_wordcount, r_meanwordlen, r_symbolratio,
                     r_alphawords, r_bulletlines, r_duplines, r_stopwords,
                     CAST(CASE WHEN r_wordcount THEN 1 ELSE 0 END
                        + CASE WHEN r_meanwordlen THEN 2 ELSE 0 END
                        + CASE WHEN r_symbolratio THEN 4 ELSE 0 END
                        + CASE WHEN r_alphawords THEN 8 ELSE 0 END
                        + CASE WHEN r_bulletlines THEN 16 ELSE 0 END
                        + CASE WHEN r_duplines THEN 32 ELSE 0 END
                        + CASE WHEN r_stopwords THEN 64 ELSE 0 END
                        AS BIGINT) AS rule_mask,
                     (r_wordcount AND r_meanwordlen AND r_symbolratio
                      AND r_alphawords AND r_bulletlines AND r_duplines
                      AND r_stopwords) AS keep
              FROM r ORDER BY doc_id""")),

    // T37: intra-document REPAIR — where t15/t26 DETECT repetition, this
    // emits the corrected corpus: adjacent duplicate-token runs collapse
    // to one occurrence (the within-doc stutter scrub; the line-granular
    // RefinedWeb/FineWeb dedup is vacuous on a one-line corpus). Gated
    // surface: per-doc kept/removed counts + md5 of the CLEANED text —
    // the repaired content itself is under the hash, and both engines
    // rebuild it token-position by token-position.
    Q("t37_repetition_scrub",
      (s, d) => Tables.documents(s, d)
        // tokens and kept-positions are PROJECTED into named columns
        // before any lambda consumes them — an inlined split inside the
        // filter/transform lambdas re-tokenizes per element (O(n²) per
        // row; measured 22 s before this discipline, 0.3 s after)
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .select(col("doc_id"), col("t"),
          keptAdjacentPositions(col("t")).as("kp"))
        .select(col("doc_id"),
          size(col("t")).cast("long").as("n_tokens"),
          size(col("kp")).cast("long").as("n_kept"),
          (size(col("t")) - size(col("kp"))).cast("long").as("n_removed"),
          (size(col("kp")) < size(col("t"))).as("changed"),
          md5(joinKeptTokens(col("t"), col("kp"))).as("clean_md5"))
        .orderBy("doc_id"),
      Some(s"""WITH f AS (SELECT doc_id, $sqlTok AS t FROM documents),
                    k AS (SELECT doc_id, t,
                                 list_filter(range(1, len(t) + 1),
                                   i -> i = 1 OR t[i] != t[i - 1]) AS kp
                          FROM f)
               SELECT doc_id,
                      CAST(len(t) AS BIGINT) AS n_tokens,
                      CAST(len(kp) AS BIGINT) AS n_kept,
                      CAST(len(t) - len(kp) AS BIGINT) AS n_removed,
                      len(kp) < len(t) AS changed,
                      md5(array_to_string(list_transform(kp, i -> t[i]), ' '))
                        AS clean_md5
               FROM k ORDER BY doc_id""")),

    // T38: INCREMENTAL curation — the steady-state twin of t33's
    // bootstrap: a new batch (odd doc_ids) is curated against the
    // already-accepted history (even doc_ids) without ever reprocessing
    // the history itself: quality → langid → exact dedup within the
    // batch → digest anti-join vs history → cross-corpus near-dup drop
    // (band collisions only BETWEEN sides — t22's machinery at the
    // curation threshold 0.5). Every stage's cost is batch-bounded
    // (daily ingest at 100 TB corpus = O(batch × index-probe), never
    // O(corpus²)); the funnel counts replay stage by stage in the
    // oracle, which shares the quality and langid SQL definitions with
    // t33's chain so the engines cannot drift.
    Q("t38_incremental_curation",
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.text.Curation.incrementalFunnel(
          docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text")
      },
      Some(s"""${sqlIncrementalAcceptChain}
               SELECT '00_batch' AS stage, COUNT(*) AS n_docs FROM batch
               UNION ALL SELECT '10_quality', COUNT(*) FROM q
               UNION ALL SELECT '20_lang', COUNT(*) FROM lg
               UNION ALL SELECT '30_exact_in_batch', COUNT(*) FROM exb
               UNION ALL SELECT '40_exact_vs_history', COUNT(*) FROM exh
               UNION ALL SELECT '50_neardup_vs_history', COUNT(*) FROM acc
               ORDER BY stage""")),

    // T39: per-domain document caps — the RefinedWeb/C4 domain-balancing
    // verb: cap every source at its 5 highest-quality documents (quality
    // DESC, doc_id tie-break — total-order deterministic in both
    // engines), so no single domain dominates the training mix. WHICH
    // docs survive is pinned, not just how many: kept_md5 hashes the
    // ordered kept-id list per source. One window over a (source)-
    // partitioned rank — at 100 TB this is WindowGroupLimit territory
    // (the o5 plan shape): top-k per group never sorts whole partitions.
    Q("t39_domain_caps",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val kept = docs
          .select(col("source"), col("doc_id"),
            qualityScore(col("text")).as("__q"))
          .withColumn("__rn", row_number().over(
            Window.partitionBy("source")
              .orderBy(col("__q").desc, col("doc_id"))))
          .filter(col("__rn") <= 5)
        val totals = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
        val capped = kept.groupBy("source").agg(
          count(lit(1)).as("n_kept"),
          md5(array_join(transform(sort_array(collect_list(col("doc_id"))),
            _.cast("string")), ",")).as("kept_md5"))
        totals.join(capped, "source").orderBy("source")
      },
      Some(s"""WITH sc AS (SELECT source, doc_id, $sqlQuality AS q
                           FROM documents),
                    r AS (SELECT source, doc_id,
                                 ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY q DESC, doc_id) AS rn
                          FROM sc),
                    k AS (SELECT source, doc_id FROM r WHERE rn <= 5)
               SELECT t.source, t.n_docs, c.n_kept, c.kept_md5
               FROM (SELECT source, COUNT(*) AS n_docs FROM documents
                     GROUP BY source) t
               JOIN (SELECT source, COUNT(*) AS n_kept,
                            md5(string_agg(CAST(doc_id AS VARCHAR), ','
                                           ORDER BY doc_id)) AS kept_md5
                     FROM k GROUP BY source) c USING (source)
               ORDER BY t.source""")),

    // T44: chunk-granularity exact substring dedup (Lee et al. ACL 2022
    // relationalized — see [[graft.dedup.ChunkDedup]]): every 10-word
    // chunk keeps only its FIRST corpus occurrence ((doc_id, chunk_idx)
    // lexicographic min), docs reassemble from surviving chunks. The
    // gate pins per-doc chunk counts AND the md5 of each reassembled
    // text — a single mis-kept or mis-ordered chunk anywhere flips a
    // row hash. Complements t5 (whole-doc exact) and t7/t12 (near-dup):
    // this is the operator that removes repeated boilerplate INSIDE
    // otherwise-unique docs.
    Q("t44_chunk_dedup",
      (s, d) => graft.dedup.ChunkDedup.firstOccurrence(
          Tables.documents(s, d), "doc_id", "text", chunkWords = 10)
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id,
                                regexp_split_to_array(trim(text), '\s+') AS w
                         FROM documents),
                   ch AS (SELECT doc_id,
                                 UNNEST(range(0, (len(w)+9)//10)) AS chunk_idx,
                                 w
                          FROM w),
                   ch2 AS (SELECT doc_id, chunk_idx,
                                  array_to_string(list_slice(w,
                                    chunk_idx*10+1, chunk_idx*10+10), ' ')
                                    AS chunk
                           FROM ch),
                   firsts AS (SELECT md5(chunk) AS dig,
                                     MIN(ROW(doc_id, chunk_idx)) AS loc
                              FROM ch2 GROUP BY 1),
                   kept AS (SELECT c.doc_id, c.chunk_idx, c.chunk
                            FROM ch2 c JOIN firsts f
                              ON f.dig = md5(c.chunk)
                             AND f.loc = ROW(c.doc_id, c.chunk_idx)),
                   agg AS (SELECT doc_id, COUNT(*) AS n_kept,
                                  md5(string_agg(chunk, ' '
                                      ORDER BY chunk_idx)) AS kept_md5
                           FROM kept GROUP BY doc_id)
              SELECT w.doc_id, CAST((len(w.w)+9)//10 AS BIGINT) AS n_chunks,
                     COALESCE(a.n_kept, 0) AS n_kept, a.kept_md5
              FROM w LEFT JOIN agg a ON a.doc_id = w.doc_id
              ORDER BY w.doc_id""")),

    // T45: PERSISTENT near-dup index maintenance (dedup.NearDupIndex) —
    // the stored-index evolution of t22's cross-corpus probe: the corpus
    // sketch (band buckets, shingle sets, counts) lives as Versioned
    // tables on disk; each ingest step probes the STORED index (never
    // re-sketching the corpus), exact-verifies candidates, and appends
    // only the non-duplicate survivors. Two real ingest steps run here —
    // batch2 must catch dups against BOTH the original corpus and
    // batch1's survivors, so the maintenance semantics (what got
    // appended) sit under the hash, not just one probe. The oracle
    // replays the whole two-step protocol from the documents table as a
    // CTE chain (t22's sketch CTEs + survivor set algebra).
    Q("t45_incremental_neardup_index",
      (s, d) => {
        import graft.dedup.NearDupIndex
        val p = NearDupIndex.Params(n = 3, k = 12, rowsPerBand = 3,
          minJaccard = 0.2)
        val dir = ndidxDir()
        val docs = Tables.documents(s, d)
        val corpus = docs.filter(col("doc_id") % 3 =!= 0)
        val batch1 = docs.filter(col("doc_id") % 6 === 0)
        val batch2 = docs.filter(col("doc_id") % 6 === 3)
        NearDupIndex.build(corpus, "doc_id", "text", p, dir)
        NearDupIndex.ingest(s, batch1, "doc_id", "text", p, dir, step = 1L)
        NearDupIndex.ingest(s, batch2, "doc_id", "text", p, dir, step = 2L)
        // gate the STORED pair rows, not the returned frames — pins that
        // each step's results landed in the same atomic commit as its
        // survivor sketch
        NearDupIndex.pairsOf(s, dir, "doc_id")
          .orderBy("step", "batch_id", "corpus_id")
      },
      Some(sqlNdidxTwoStepChain +
        """
              SELECT CAST(1 AS BIGINT) AS step, batch_id, corpus_id, inter,
                     sz1, sz2, ROUND(j, 6) AS jaccard FROM p1
              UNION ALL
              SELECT CAST(2 AS BIGINT), batch_id, corpus_id, inter,
                     sz1, sz2, ROUND(j, 6) FROM p2
              ORDER BY step, batch_id, corpus_id""")),

    // T46: RAG-style sliding-window chunking (text.Chunking) — window 32
    // tokens, stride 24 (8-token overlap). The gate pins every chunk's
    // position, width AND content md5, so an off-by-one in start/slice
    // arithmetic or a dropped short tail chunk flips a row. Pure narrow
    // codegen'd column work — no shuffle (the ORDER BY here is the gate's
    // determinism requirement, not the operator).
    Q("t46_chunk_overlap",
      (s, d) => graft.text.Chunking.slidingChunks(
          Tables.documents(s, d), "doc_id", "text", window = 32, stride = 24)
        .withColumn("chunk_md5", md5(col("chunk_text")))
        .drop("chunk_text")
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH w AS (SELECT doc_id,
                                regexp_split_to_array(trim(text), '\s+') AS w
                         FROM documents),
                   st AS (SELECT doc_id, w,
                                 UNNEST(range(0, len(w), 24)) AS tok_start
                          FROM w WHERE len(w) > 0
                            AND len(array_to_string(w, '')) > 0),
                   ch AS (SELECT doc_id, tok_start,
                                 list_slice(w, tok_start+1, tok_start+32)
                                   AS chunk
                          FROM st)
              SELECT doc_id,
                     CAST(tok_start//24 AS BIGINT) AS chunk_idx,
                     CAST(tok_start AS BIGINT) AS tok_start,
                     CAST(len(chunk) AS BIGINT) AS n_tok,
                     md5(array_to_string(chunk, ' ')) AS chunk_md5
              FROM ch
              ORDER BY doc_id, chunk_idx""")),

    // T48: weighted sample without replacement (ops.Sampling.weightedSample
    // — Efraimidis–Spirakis A-Res): 50 docs drawn with probability
    // proportional to token count, membership a pure function of
    // (doc_id, seed) via the portable hash-uniform. The gate pins WHICH
    // docs win AND their keys — a changed hash, tie rule, or weight
    // arithmetic flips the row hash. One projection + top-k, no shuffle.
    Q("t48_weighted_sample",
      (s, d) => graft.ops.Sampling.weightedSample(
          Tables.documents(s, d)
            .select(col("doc_id"),
              graft.text.TextFunctions.tokenCount(col("text")).as("w")),
          "doc_id", col("w"), k = 50)
        .select(col("doc_id"), col("weight"), col("es_key"))
        .orderBy(col("es_key").desc, col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
                     CAST(len(regexp_split_to_array(trim(text), '\s+'))
                          AS BIGINT) AS w,
                     (CAST(('0x' || substr(md5('7|' ||
                          CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
                       / 1152921504606846976.0 AS u
                   FROM documents)
              SELECT doc_id, w AS weight,
                     ROUND(ln(u) / CAST(w AS DOUBLE), 6) AS es_key
              FROM t
              ORDER BY es_key DESC, doc_id LIMIT 50""")),

    // T49: the custom Catalyst GENERATOR tier (graft_ngrams — one input
    // row streams out one row per word 3-gram with position; the UDTF
    // shape of explode/posexplode/inline). Unlike the
    // tokens→sequence→explode→element_at chain, no per-doc all-ngrams
    // array ever materializes — the generator streams windows, so a
    // 100k-token document costs one live window, not a 100k-element
    // array. The oracle replays tokenize + slide with DuckDB list
    // slicing; per-doc count / distinct / lexicographic min / last-by-
    // position all sit under the hash (position semantics included, via
    // max_by/arg_max).
    Q("t49_ngram_generate",
      (s, d) => {
        graft.GraftExtensions.setup(s)
        Tables.documents(s, d)
          .selectExpr("doc_id", "graft_ngrams(text, 3)")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_ngrams"),
            countDistinct(col("ngram")).as("n_distinct"),
            min("ngram").as("first_lex"),
            max_by(col("ngram"), col("pos")).as("last_ngram"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
                     regexp_split_to_array(trim(text), '\s+') AS w
                   FROM documents
                   WHERE text IS NOT NULL AND trim(text) <> ''),
                 g AS (SELECT doc_id, w, unnest(range(len(w) - 2)) AS pos
                       FROM t WHERE len(w) >= 3),
                 n AS (SELECT doc_id, pos,
                              array_to_string(w[pos + 1 : pos + 3], ' ')
                                AS ngram
                       FROM g)
              SELECT doc_id, COUNT(*) AS n_ngrams,
                     COUNT(DISTINCT ngram) AS n_distinct,
                     MIN(ngram) AS first_lex,
                     arg_max(ngram, pos) AS last_ngram
              FROM n GROUP BY doc_id ORDER BY doc_id"""))
  )


  /** Per-process run counter for t45's index root: Versioned tables are
    * append-only, so every run (bench warmup + reps, repeated Verify)
    * must build its index in a FRESH directory. Bounded two ways: run N
    * deletes run N−1's tree (both harnesses fully consume a run's result
    * before the next begins), and a shutdown hook sweeps this process's
    * whole root so long-lived boxes never accumulate dead indexes. */
  private val ndidxRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  private val ndidxRoot =
    s"${System.getProperty("java.io.tmpdir")}/graft_ndidx_" +
      s"${ProcessHandle.current().pid()}"

  private def deleteTree(path: String): Unit = {
    val root = new java.io.File(path)
    if (!root.exists()) return
    java.nio.file.Files.walk(root.toPath)
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { p.toFile.delete(); () })
  }

  java.lang.Runtime.getRuntime.addShutdownHook(
    new Thread(() => deleteTree(ndidxRoot), "graft-ndidx-sweep"))

  /** Fresh index dir for this t45 run; sweeps the previous run's tree. */
  private def ndidxDir(): String = {
    val run = ndidxRuns.incrementAndGet()
    if (run > 1) deleteTree(s"$ndidxRoot/${run - 1}")
    s"$ndidxRoot/$run"
  }
}
