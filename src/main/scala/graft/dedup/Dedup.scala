package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextFunctions

/** Deduplication operators for training-data pipelines: exact, word-shingle
  * Jaccard, MinHash+LSH, SimHash. All built from Spark relational
  * primitives (explode → distinct → shuffle-join on shingle/band keys) so
  * they scale out: nothing here collects to the driver, and the quadratic
  * candidate blowup is bounded by banding (LSH) or document-frequency caps.
  *
  * 100 TB notes:
  *  - exact dedup is a single hash-shuffle on the digest;
  *  - Jaccard self-join caps the per-shingle document frequency
  *    (`maxShingleDf`) — ultra-common shingles contribute no discrimination
  *    but produce O(df²) pairs; dropping them bounds the join output;
  *  - MinHash/LSH reduces pair generation from O(n²) to O(Σ bucket²), the
  *    standard scale path; band width trades recall vs. candidates.
  *
  * Intermediate frames the pair pipelines read from several subplans
  * (shingle scans, signature tables) are materialized with an eager
  * `localCheckpoint`: each is computed once when the pipeline is built,
  * and Spark's ContextCleaner frees its blocks once the returned frame is
  * garbage-collected. Nothing is left in the session's cache, so callers
  * have nothing to release.
  */
object Dedup {

  /** Exact-duplicate groups: digest → group size and keeper (min id).
    * One shuffle on the md5 digest (reference A1-style hash group-by).
    * Null-text rows are excluded — they are ABSENT documents, not
    * duplicates of each other (grouping them under digest NULL would
    * collapse every null-text row into one keeper). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), TextFunctions.fingerprint(col(textCol)).as("digest"))
      .groupBy("digest")
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_docs"))

  /** Keep one row per distinct normalized text (the keeper = min id);
    * null-text rows pass through untouched. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = exactGroups(df, idCol, textCol).select(col("keeper").as(idCol))
    df.filter(col(textCol).isNotNull).join(keepers, idCol)
      .unionByName(df.filter(col(textCol).isNull))
  }

  /** Incremental exact dedup — the production shape of a recurring crawl:
    * drop batch rows whose normalized-content digest already exists in the
    * HISTORICAL corpus (left-anti join on the digest), then exact-dedup
    * within the batch itself (keeper = min id). This overload takes the
    * historical corpus as raw text and fingerprints it; the production
    * path at 100 TB is [[dedupAgainstDigests]], which accepts the slim
    * fingerprint table each ingest run appends to, so the full historical
    * text is never read. Null-text rows pass through, as in
    * [[exactDedup]]. */
  def dedupAgainstCorpus(batch: DataFrame, seen: DataFrame,
      idCol: String, textCol: String): DataFrame =
    dedupAgainstDigests(batch, idCol, textCol,
      seen.filter(col(textCol).isNotNull)
        .select(TextFunctions.fingerprint(col(textCol)).as("digest")))

  /** [[dedupAgainstCorpus]] against a precomputed digest table (one
    * `digest` column, [[TextFunctions.fingerprint]] scheme) — the
    * incremental-production API: each ingest run appends its batch's
    * digests, and subsequent runs anti-join against digests only. */
  def dedupAgainstDigests(batch: DataFrame, idCol: String, textCol: String,
      seenDigests: DataFrame): DataFrame = {
    val fresh = batch.filter(col(textCol).isNotNull)
      .withColumn("digest", TextFunctions.fingerprint(col(textCol)))
      .join(seenDigests.select("digest").distinct(), Seq("digest"), "left_anti")
    val keepers = fresh.groupBy("digest").agg(min(col(idCol)).as(idCol))
      .select(idCol)
    fresh.drop("digest").join(keepers, idCol)
      .unionByName(batch.filter(col(textCol).isNull))
  }

  /** Distinct (id, shingle) pairs of `n` consecutive whitespace tokens. */
  def wordShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingleRows(df, idCol, textCol, n).distinct()

  /** One (id, shingle) row per occurrence of `n` consecutive whitespace
    * tokens — row-local (no shuffle), repeats kept. A document with fewer
    * than `n` tokens, or NULL text, has no rows. */
  private[dedup] def shingleRows(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val w = TextFunctions.tokens(col(textCol))
    val joined = (0 until n).map(k => element_at(col("w"), col("i") + k + 1))
    df.select(col(idCol), w.as("w"))
      .withColumn("i", explode(sequence(lit(0), greatest(size(col("w")) - n, lit(0)))))
      .filter(col("i") <= size(col("w")) - n)
      .select(col(idCol), concat_ws(" ", joined: _*).as("shingle"))
  }

  /** N-gram Jaccard pairs ≥ `minJaccard`. `maxShingleDf` drops shingles
    * shared by more than that many documents before pairing (see class
    * doc — required for the O(df²) bound). The Jaccard is the Jaccard OF
    * THE FILTERED sets: sizes and intersections both exclude capped
    * shingles, so the metric stays internally consistent (unfiltered sizes
    * with filtered intersections would underestimate — two identical docs
    * sharing capped shingles would score below 1.0 and could silently miss
    * the threshold).
    *
    * Pair generation auto-scales (round-4 scale default): at or below
    * `lshPruneThreshold` documents the shingle self-join enumerates all
    * co-shingled pairs (exact recall by construction); above it, MinHash
    * banding (k=12, r=3 — the t7/t12 parameters) generates the candidate
    * pairs and the SAME df-capped exact Jaccard verifies them, so the
    * O(n²)-ish self-join never materializes at corpus scale. Recall above
    * the threshold is the banding capture probability 1−(1−j^r)^b —
    * ≥99.98% at j=0.9 per pair, and measured EXACTLY equal to the
    * all-pairs output on the driver testdata at sf0.001/0.01/0.1
    * (near-dup corpora concentrate mass at high Jaccard, where banding is
    * near-deterministic). Emitted values are identical on both paths:
    * every pair carries its true filtered-set Jaccard.
    *
    * Band-sizing audit (vs the embedding family's auto-r,
    * [[graft.similarity.Ann.planesPerBandFor]]): fixed r here does NOT
    * degenerate at scale, because the MinHash band key is a CONTENT hash
    * of r signature slots — the bucket key space is unbounded and the
    * number of distinct buckets grows with the corpus, so expected
    * occupancy is set by the near-dup cluster structure rather than a
    * fixed 2^r key space. Hyperplane-sign banding has exactly 2^r
    * buckets per band, which is why it needs r to grow with log₂(n) and
    * this operator does not (measured: text pair family sub-linear at
    * the 4× rehearsal with r = 3 fixed, embedding family super-linear
    * until r auto-sizes).
    * The shingle frame is materialized once and reused by three
    * downstream plans (df-cap, filter, sizes). */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
      minJaccard: Double, maxShingleDf: Long = 1000L,
      lshPruneThreshold: Long = 100000L,
      docCount: Option[Long] = None): DataFrame =
    pairStats(df, idCol, textCol, n, maxShingleDf, lshPruneThreshold, docCount)
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id1"), col("id2"), col("inter"), col("sz1"), col("sz2"),
        round(col("jaccard"), 6).as("jaccard"))

  /** Containment pairs — the SUB-DOCUMENT duplication detector Jaccard
    * misses: a short document quoted whole inside a long one has tiny
    * Jaccard (union is dominated by the long doc) but containment
    * |A∩B|/|A| ≈ 1. Both directions are emitted; a pair survives when
    * EITHER direction reaches `minContainment`. Same df-capped shingle
    * machinery and filtered-set consistency argument as [[jaccardPairs]].
    *
    * Pair generation auto-scales, but NOT with Jaccard-tuned MinHash
    * banding — banding capture tracks Jaccard, and the low-Jaccard/high-
    * containment pairs this operator exists to find (containment 1.0 can
    * mean Jaccard 0.01) are exactly the ones it would drop. Instead, at
    * or below `prefixPruneThreshold` documents the exact df-capped
    * self-join enumerates all co-shingled pairs (O(Σ df²)); above it
    * PREFIX FILTERING (the PPJoin/AllPairs principle — Xiao et al.,
    * WWW'08) generates candidates: fix one global total order over
    * shingles (here ascending df, ties by a pinned md5 hash then the
    * shingle itself, so rare shingles come first), give each doc the
    * prefix of its first L = sz − ⌈c·sz⌉ + 1 shingles, and form a
    * candidate whenever one doc's PREFIX shingle appears in the other
    * doc's FULL filtered set. This is LOSSLESS for the declared
    * threshold: a pair with containment ≥ c in direction A has overlap
    * ≥ ⌈c·szA⌉, and a set missing ALL of A's first szA−⌈c·szA⌉+1
    * shingles can overlap A in at most ⌈c·szA⌉−1 — so every qualifying
    * pair shares a prefix shingle, and the output is IDENTICAL to the
    * exact path (the oracle stays the plain exact SQL on both paths;
    * DedupSpec pins path equality). Rarest-first ordering makes the
    * candidate space Σ_docs Σ_{s ∈ prefix} df(s) — the prefix picks
    * precisely the shingles with the smallest document frequencies, so
    * boilerplate (high-df) shingles never generate candidates.
    *
    * NOTE the threshold decision is an EAGER count at construction time
    * when `docCount` is absent (the jaccardPairs convention): pass the
    * count you already know, or `prefixPruneThreshold = Long.MaxValue`
    * to pin the exact path with no count job at all.
    *
    * Measured crossover (PERF.md round-6): on SPARSE-df corpora (the
    * driver testdata — co-shingled pairs overwhelmingly share df ≤ 2
    * shingles) the exact self-join is the better plan at every
    * rehearsed scale (1×/4×/8×): its join emits ~one cheap row per
    * (pair, shared shingle), which is optimal when candidates ≈
    * co-shingled pairs, and the df cap already bounds it linearly
    * (Σ df² ≤ maxShingleDf · |filtered shingles|). The prefix path's
    * win condition is df mass NEAR the cap (footer/boilerplate-heavy
    * corpora): it avoids the high-df pair-generation blowup (measured:
    * 21 M avoided join rows on a constructed 6-footer corpus) at the
    * price of a per-candidate set-intersect verify. Hence the default
    * threshold keeps corpora ≤ 100k docs exact and deployments on
    * boilerplate-heavy data lower it. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
      minContainment: Double, maxShingleDf: Long = 1000L,
      prefixPruneThreshold: Long = 100000L,
      docCount: Option[Long] = None): DataFrame = {
    val stats =
      if (prefixPruneThreshold == Long.MaxValue ||
          docCount.getOrElse(df.count()) <= prefixPruneThreshold)
        pairStats(df, idCol, textCol, n, maxShingleDf, Long.MaxValue)
      else pairStatsPrefix(df, idCol, textCol, n, maxShingleDf, minContainment)
    stats
      .withColumn("c1_in_2", col("inter").cast("double") / col("sz1").cast("double"))
      .withColumn("c2_in_1", col("inter").cast("double") / col("sz2").cast("double"))
      .filter(greatest(col("c1_in_2"), col("c2_in_1")) >= minContainment)
      .select(col("id1"), col("id2"), col("inter"), col("sz1"), col("sz2"),
        round(col("c1_in_2"), 6).as("c1_in_2"),
        round(col("c2_in_1"), 6).as("c2_in_1"))
  }

  /** Seed of the prefix order's hash tie-break (pinned; the DuckDB twin
    * is `md5('41|' || shingle)`). */
  val ContainmentPrefixSeed = 41

  /** Prefix-filter candidate generation + exact verify for
    * [[containmentPairs]]' scale path: (id1, id2, inter, sz1, sz2) for
    * every pair sharing at least one (prefix-shingle → full-set) hit —
    * a provable superset of the qualifying pairs (see containmentPairs
    * scaladoc), each verified exactly from the filtered sets. The
    * prefix length uses ⌈c·sz − (1e-9 + sz·1e-15)⌉. The epsilon is
    * two-part because the filter that ultimately admits a pair computes
    * fl(inter/sz) ≥ c in DOUBLE arithmetic, which can accept inter as
    * low as c·sz − c·sz·2⁻⁵² — an absolute 1e-9 alone stops covering
    * that slack once c·sz > ~4.5e6 (a ~9M-shingle document, plausible
    * in crawl corpora), silently shrinking the prefix below the
    * lossless bound. The sz·1e-15 term is ≥ 4× the worst-case division
    * slack at every size, and upward slack only ever ADMITS extra
    * candidates — the exact verify discards them — never loses one.
    * One row_number window per doc (shuffle on the doc id), one
    * shingle-keyed join for candidates, one for verification. */
  private def pairStatsPrefix(df: DataFrame, idCol: String, textCol: String,
      n: Int, maxShingleDf: Long, minContainment: Double): DataFrame = {
    val sh = wordShingles(df, idCol, textCol, n).localCheckpoint()
    val rare = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxShingleDf)
    val shF = sh.join(rare, "shingle").localCheckpoint()
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(idCol)
    val prefix = shF
      .withColumn("__rk", row_number().over(byDoc.orderBy(col("__df"),
        TextFunctions.hash60(col("shingle"), ContainmentPrefixSeed),
        col("shingle"))))
      .withColumn("__sz", count(lit(1)).over(byDoc))
      .filter(col("__rk") <=
        col("__sz") - ceil(col("__sz") * lit(minContainment)
          - (lit(1e-9) + col("__sz") * lit(1e-15))) + 1)
      .select(col(idCol), col("shingle"))
    val cands = prefix.select(col(idCol).as("__pfx_id"), col("shingle"))
      .join(shF.select(col(idCol).as("__full_id"), col("shingle")), "shingle")
      .filter(col("__pfx_id") =!= col("__full_id"))
      .select(least(col("__pfx_id"), col("__full_id")).as("id1"),
        greatest(col("__pfx_id"), col("__full_id")).as("id2"))
      .distinct()
    // verification joins each candidate against the two docs' SET VECTORS
    // (one array of filtered shingles per doc — dim-scale rows, not an
    // exploded row per shingle) and intersects in-row: Σ_cands (sz1+sz2)
    // in-memory set work instead of Σ_cands sz1 SHUFFLED join rows — the
    // rejoin-the-explode verify was measured 4× slower than the exact
    // self-join at sf0.1 because candidates × doc-size rows dwarf the
    // co-shingle join it was supposed to avoid
    val docSets = shF.groupBy(idCol)
      .agg(collect_list(col("shingle")).as("__set"),
        count(lit(1)).as("sz")).localCheckpoint()
    val inter = cands
      .join(docSets.select(col(idCol).as("id1"), col("__set").as("__s1"),
        col("sz").as("sz1")), "id1")
      .join(docSets.select(col(idCol).as("id2"), col("__set").as("__s2"),
        col("sz").as("sz2")), "id2")
      .select(col("id1"), col("id2"),
        size(array_intersect(col("__s1"), col("__s2"))).cast("long").as("inter"),
        col("sz1"), col("sz2"))
    inter
  }

  /** Shared pair machinery: df-capped shingle sets, auto-scaled pair
    * generation (exact self-join below `lshPruneThreshold` docs, MinHash
    * banding above — see [[jaccardPairs]] scaladoc), intersection counts
    * and per-side filtered sizes. Returns (id1, id2, inter, sz1, sz2)
    * for every co-shingled (or banded-candidate) pair. */
  private def pairStats(df: DataFrame, idCol: String, textCol: String, n: Int,
      maxShingleDf: Long, lshPruneThreshold: Long,
      docCount: Option[Long] = None): DataFrame = {
    val sh = wordShingles(df, idCol, textCol, n).localCheckpoint()
    val rare = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDf)
      .select("shingle")
    val shF = sh.join(rare, "shingle")
    val sizes = shF.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val a = shF.select(col(idCol).as("id1"), col("shingle"))
    val b = shF.select(col(idCol).as("id2"), col("shingle"))
    // one count job decides the pair-generation strategy (an eager scan
    // at construction time — callers that already know the corpus size
    // pass `docCount` to skip it; a MaxValue threshold means "always
    // exact", so no count runs at all); the threshold is a parameter so
    // declared queries can pin either path
    val pairSpace =
      if (lshPruneThreshold == Long.MaxValue ||
          docCount.getOrElse(df.count()) <= lshPruneThreshold)
        a.join(b, Seq("shingle")).filter(col("id1") < col("id2"))
      else {
        // signatures derive from the already-materialized UNCAPPED shingle scan
        // (t7 semantics: banding sees every shingle, only pairing is capped)
        val cands = bandedCandidates(
          signaturesFromShingles(sh, idCol, k = 12), idCol, rowsPerBand = 3)
        cands.join(a, "id1").join(b, Seq("id2", "shingle"))
      }
    val inter = pairSpace
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("id1"), col("sz").as("sz1")), "id1")
      .join(sizes.select(col(idCol).as("id2"), col("sz").as("sz2")), "id2")
  }

  /** MinHash signatures: k independent 60-bit hash functions over word
    * n-gram shingles; signature j = min over shingles of hash60(j, shingle).
    * Engine-portable hashing (md5-based) — see TextFunctions.hash60. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame =
    signaturesFromShingles(wordShingles(df, idCol, textCol, n), idCol, k)

  /** Signatures from an existing (id, shingle) frame — lets callers that
    * also need the shingles for exact verification derive both from ONE
    * (materialized) shingle scan instead of re-tokenizing the corpus. Uses the
    * [[graft.functions.MinHashAgg]] custom aggregate: all k slots fold in
    * one pass with a k-long buffer per group, so no k-rows-per-shingle
    * blowup is materialized and the shuffle carries one buffer per doc
    * per partition. Values are bit-identical to the relational
    * formulation (kept below for the equivalence spec) and the t7 oracle. */
  private[dedup] def signaturesFromShingles(sh: DataFrame, idCol: String,
      k: Int): DataFrame = {
    graft.GraftExtensions.setup(sh.sparkSession)
    sh.groupBy(idCol)
      .agg(call_function("graft_minhash", col("shingle"), lit(k)).as("__sig"))
      .select(col(idCol), posexplode(col("__sig")).as(Seq("j", "mh")))
  }

  /** The posexplode/groupBy formulation of [[signaturesFromShingles]] —
    * retained as the independent reference DedupSpec pins the fused
    * aggregate against. */
  private[dedup] def signaturesFromShinglesRelational(sh: DataFrame,
      idCol: String, k: Int): DataFrame = {
    val hashes = sh.select(col(idCol),
      posexplode(array((0 until k).map(j =>
        TextFunctions.hash60(col("shingle"), j)): _*)).as(Seq("j", "h")))
    hashes.groupBy(idCol, "j").agg(min(col("h")).as("mh"))
  }

  /** (id, band, band_hash) buckets of a MinHash signature frame: the k
    * signature slots split into bands of `rowsPerBand`, each band's slots
    * hashed into one bucket key. */
  private[dedup] def bandBuckets(sigs: DataFrame, idCol: String,
      rowsPerBand: Int): DataFrame =
    sigs
      .withColumn("band", floor(col("j") / rowsPerBand).cast("long"))
      .groupBy(col(idCol), col("band"))
      .agg(md5(concat_ws(",", transform(
        array_sort(collect_list(struct(col("j"), col("mh")))),
        x => concat_ws(":", x("j"), x("mh")))))
        .as("band_hash"))

  /** [[bandBuckets]] of ONE signature array, as a row-local expression:
    * an array of k / rowsPerBand (band, band_hash) structs, each hash
    * the md5 of the band's "j:mh" slots joined by "," in slot order —
    * the same key bandBuckets aggregates, so `inline` of it yields
    * bandBuckets' rows without a shuffle. */
  private[dedup] def bandKeys(sig: Column, k: Int, rowsPerBand: Int): Column =
    array((0 until k / rowsPerBand).map { b =>
      val slots = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(j => concat_ws(":", lit(j), element_at(sig, j + 1)))
      struct(lit(b.toLong).as("band"),
        md5(concat_ws(",", slots: _*)).as("band_hash"))
    }: _*)

  /** Banded candidate pairs only (no Jaccard estimate): docs sharing any
    * band bucket of their MinHash signature. The O(n²) space is never
    * enumerated — pairs exist only inside buckets. */
  private def bandedCandidates(sigs: DataFrame, idCol: String,
      rowsPerBand: Int): DataFrame = {
    val banded = bandBuckets(sigs, idCol, rowsPerBand)
    banded.select(col(idCol).as("id1"), col("band"), col("band_hash"))
      .join(banded.select(col(idCol).as("id2"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Cross-corpus near-dup pairs — the recurring-crawl production shape:
    * which BATCH documents near-duplicate something already in the
    * CORPUS. Candidates form only across the two sides (batch docs
    * sharing a MinHash band bucket with corpus docs — intra-side pairs
    * are never generated; that's [[jaccardPairs]]' job), then exact
    * df-uncapped Jaccard verifies each candidate from both sides'
    * shingle sets. At 100 TB the corpus side's band buckets AND its
    * shingle table are the precomputable index an ingest run maintains
    * (this overload derives both from corpus text; a stored-index
    * variant would read them as tables, the same evolution
    * [[dedupAgainstDigests]] gives exact dedup); the batch side is the
    * small new data. Returns (batch_id, corpus_id, inter, sz1, sz2,
    * jaccard) with sz1 = batch-doc shingle count. */
  def crossCorpusPairs(batch: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, n: Int, k: Int, rowsPerBand: Int,
      minJaccard: Double): DataFrame = {
    // one materialized shingle scan per side feeds both its signatures and the
    // exact-verification joins
    val shB = wordShingles(batch, idCol, textCol, n).localCheckpoint()
    val shC = wordShingles(corpus, idCol, textCol, n).localCheckpoint()
    val bB = bandBuckets(signaturesFromShingles(shB, idCol, k), idCol, rowsPerBand)
      .select(col(idCol).as("batch_id"), col("band"), col("band_hash"))
    val bC = bandBuckets(signaturesFromShingles(shC, idCol, k), idCol, rowsPerBand)
      .select(col(idCol).as("corpus_id"), col("band"), col("band_hash"))
    val cands = bB.join(bC, Seq("band", "band_hash"))
      .select("batch_id", "corpus_id").distinct()
    val szB = shB.groupBy(idCol).agg(count(lit(1)).as("sz1"))
      .select(col(idCol).as("batch_id"), col("sz1"))
    val szC = shC.groupBy(idCol).agg(count(lit(1)).as("sz2"))
      .select(col(idCol).as("corpus_id"), col("sz2"))
    val inter = cands
      .join(shB.select(col(idCol).as("batch_id"), col("shingle")), "batch_id")
      .join(shC.select(col(idCol).as("corpus_id"), col("shingle")),
        Seq("corpus_id", "shingle"))
      .groupBy("batch_id", "corpus_id").agg(count(lit(1)).as("inter"))
    inter.join(szB, "batch_id").join(szC, "corpus_id")
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("batch_id"), col("corpus_id"), col("inter"), col("sz1"),
        col("sz2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** LSH candidate pairs from MinHash signatures: split the k signature
    * slots into bands of `rowsPerBand`; docs sharing any band bucket are
    * candidates, then the estimated Jaccard (fraction of agreeing slots)
    * is computed and filtered. The materialized signatures feed both the
    * banding and the estimate join. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, rowsPerBand: Int, minEstJaccard: Double): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, n, k).localCheckpoint()
    val cands = bandedCandidates(sigs, idCol, rowsPerBand)
    val s1 = sigs.select(col(idCol).as("id1"), col("j"), col("mh").as("mh1"))
    val s2 = sigs.select(col(idCol).as("id2"), col("j"), col("mh").as("mh2"))
    cands.join(s1, "id1").join(s2, Seq("id2", "j"))
      .groupBy("id1", "id2")
      .agg((sum(when(col("mh1") === col("mh2"), 1L).otherwise(0L)).cast("double") /
        lit(k.toDouble)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("id1"), col("id2"), round(col("est_jaccard"), 6).as("est_jaccard"))
  }

  /** The 100 TB dedup composition: LSH candidates first, exact Jaccard
    * verification only on the candidate pairs — the full shingle
    * self-join never materializes. Recall is bounded by the banding
    * probability 1−(1−j^r)^b; precision is exact (every emitted pair
    * carries its true Jaccard ≥ `minJaccard`). */
  def lshThenExactPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, rowsPerBand: Int, minJaccard: Double): DataFrame = {
    // banding only — the exact verification below supersedes the slot
    // estimate, so computing est_jaccard for every candidate would be a
    // wasted k-rows-per-pair shuffle+aggregate stage. One materialized
    // shingle scan feeds both the signatures and the verification joins.
    val sh = wordShingles(df, idCol, textCol, n).localCheckpoint()
    val cands = bandedCandidates(
      signaturesFromShingles(sh, idCol, k), idCol, rowsPerBand)
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val a = sh.select(col(idCol).as("id1"), col("shingle"))
    val b = sh.select(col(idCol).as("id2"), col("shingle"))
    val inter = cands.join(a, "id1").join(b, Seq("id2", "shingle"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("id1"), col("sz").as("sz1")), "id1")
      .join(sizes.select(col(idCol).as("id2"), col("sz").as("sz2")), "id2")
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** 60-bit SimHash over whitespace tokens: bit b is the sign of
    * Σ_tokens (bit b of hash60(token) ? +1 : −1). 60 bits (the width of
    * hash60) keeps the assembled value positive in a signed 64-bit integer
    * in every engine. Returns (id, simhash). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.GraftExtensions.setup(df.sparkSession)
    val tok = df.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("tk"))
    val hashed = tok.select(col(idCol), TextFunctions.hash60(col("tk"), 0).as("h"))
    // one int[60] vote buffer per group (custom TypedImperativeAggregate)
    // — single pass, map-side combined, no 60-column internal row; the
    // Column formulation below is the spec-pinned reference
    hashed.groupBy(idCol)
      .agg(call_function("graft_simhash", col("h")).as("simhash"))
  }

  /** The 60-conditional-sum Column formulation — retained as the
    * independent reference DedupSpec pins [[simhash]]'s custom aggregate
    * against (and the historical note: a 60× posexplode blowup measured
    * 4.6 s at sf0.1; this form one shuffle row per doc). */
  private[dedup] def simhashColumns(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val tok = df.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("tk"))
    val hashed = tok.select(col(idCol), TextFunctions.hash60(col("tk"), 0).as("h"))
    val votes = (0 until 60).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
        .as(s"v$b"))
    val assembled = (0 until 60).map(b =>
      when(col(s"v$b") >= 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    hashed.groupBy(idCol)
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), assembled.as("simhash"))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b)).cast("long")
}
