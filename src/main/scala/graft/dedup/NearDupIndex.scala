package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Versioned

/** PERSISTENT near-duplicate index — the stored-index evolution of
  * [[Dedup.crossCorpusPairs]] its scaladoc promises: the corpus side's
  * MinHash band buckets, shingle sets and shingle counts live in ONE
  * [[graft.ops.Versioned]] table (a `kind` discriminator separates the
  * three row families, plus a `p` family recording each step's found
  * pairs), so a recurring crawl pays O(new batch + touched buckets) per
  * step instead of re-sketching the whole corpus — the t14 digest-index
  * pattern lifted from exact to NEAR dedup, the shape RefinedWeb/
  * CCNet-style pipelines run at crawl cadence.
  *
  * Per [[ingest]] step: sketch the batch once (one shuffle aggregates
  * each document's shingle set and signature; bands, shingles and sizes
  * are projections of that one materialized frame), probe the stored
  * bands for candidates, verify exactly against the stored shingles
  * (never the estimate — the [[Dedup.lshThenExactPairs]] precision
  * contract), then append the NON-duplicate survivors' sketch AND the
  * step's pair results as ONE ATOMIC commit — the single-table layout
  * exists precisely so a crawl step is all-or-nothing, and
  * [[ingestIdempotent]] makes it exactly-once under at-least-once
  * delivery (a streaming foreachBatch keyed on the batch id).
  *
  * Materialized leaves: the batch sketch and the step's pairs are
  * `localCheckpoint`ed, so the commit plans over those leaves instead
  * of re-planning the probe tree under every family it writes, and
  * nothing is left registered in the session's cache. The trade-off: a
  * checkpointed leaf has no lineage, so an executor lost mid-step fails
  * the step instead of recomputing its blocks. The commit is atomic, so
  * the index is unchanged and an [[ingestIdempotent]] retry is still
  * exactly-once (the `graph.Iterate` and `text.Curation` discipline).
  *
  * 100 TB notes: shingle rows dominate the table — bucket the stored
  * table by doc id so the per-probe verification join co-partitions
  * (the candidate set carries batch-bounded distinct corpus ids); the
  * band family shuffles on (band, band_hash), the same key the probe
  * joins on; the extra all-null columns of the unified schema are free
  * in parquet. Within-batch near-duplicates are NOT this verb's job
  * (both survive — run [[Dedup.lshThenExactPairs]] inside the batch
  * first).
  */
object NearDupIndex {

  /** Sketch parameters — must stay FIXED for the index's lifetime (a
    * probe with different n/k/rowsPerBand reads buckets the stored side
    * never wrote and silently finds nothing). */
  final case class Params(n: Int, k: Int, rowsPerBand: Int,
      minJaccard: Double) {
    require(n >= 1 && k >= 1 && rowsPerBand >= 1 && k % rowsPerBand == 0,
      s"bands must tile the signature: n=$n k=$k rowsPerBand=$rowsPerBand")
    require(minJaccard > 0 && minJaccard <= 1, s"minJaccard: $minJaccard")
  }

  /** (bands, shingles, sizes) of one document frame from ONE shuffle:
    * the frame's shingle rows aggregate per id into the shingle set and
    * the MinHash signature together (a batch repeating an id merges its
    * rows' shingles, as the distinct shingle scan did), that per-document
    * frame is materialized once, and the three families are narrow
    * projections of it — shingles explode the set, sizes count it, band
    * keys hash slices of the signature ([[Dedup.bandKeys]]). */
  private[dedup] def sketch(df: DataFrame, idCol: String, textCol: String,
      p: Params): (DataFrame, DataFrame, DataFrame) = {
    graft.GraftExtensions.setup(df.sparkSession)
    val docs = Dedup.shingleRows(df, idCol, textCol, p.n)
      .groupBy(idCol)
      .agg(collect_set(col("shingle")).as("__set"),
        call_function("graft_minhash", col("shingle"), lit(p.k)).as("__sig"))
      .localCheckpoint()
    val bands = docs.select(col(idCol),
      inline(Dedup.bandKeys(col("__sig"), p.k, p.rowsPerBand)))
    val sh = docs.select(col(idCol), explode(col("__set")).as("shingle"))
    val sizes = docs.select(col(idCol), size(col("__set")).cast("long").as("sz"))
    (bands, sh, sizes)
  }

  private def nl = lit(null).cast("long")
  private def ns = lit(null).cast("string")
  private def nd = lit(null).cast("double")

  /** The unified single-table rows of one sketch (+ optionally one
    * step's pairs) — identical schema on every commit. */
  private def unified(idCol: String, bands: DataFrame, sh: DataFrame,
      sizes: DataFrame, pairs: Option[(DataFrame, Long)]): DataFrame = {
    val b = bands.select(lit("b").as("kind"), col(idCol),
      col("band"), col("band_hash"), ns.as("shingle"), nl.as("sz"),
      nl.as("corpus_id"), nl.as("inter"), nl.as("sz2"),
      nd.as("jaccard"), nl.as("step"))
    val s = sh.select(lit("s").as("kind"), col(idCol),
      nl.as("band"), ns.as("band_hash"), col("shingle"), nl.as("sz"),
      nl.as("corpus_id"), nl.as("inter"), nl.as("sz2"),
      nd.as("jaccard"), nl.as("step"))
    val z = sizes.select(lit("z").as("kind"), col(idCol),
      nl.as("band"), ns.as("band_hash"), ns.as("shingle"), col("sz"),
      nl.as("corpus_id"), nl.as("inter"), nl.as("sz2"),
      nd.as("jaccard"), nl.as("step"))
    val base = b.unionByName(s).unionByName(z)
    pairs.fold(base) { case (pr, step) =>
      base.unionByName(pr.select(lit("p").as("kind"),
        col("batch_id").as(idCol), nl.as("band"), ns.as("band_hash"),
        ns.as("shingle"), col("sz1").as("sz"), col("corpus_id"),
        col("inter"), col("sz2"), col("jaccard"), lit(step).as("step")))
    }
  }

  /** Initialize the index from the existing corpus (version 1). */
  def build(corpus: DataFrame, idCol: String, textCol: String,
      p: Params, dir: String): Unit = {
    val (bands, sh, sizes) = sketch(corpus, idCol, textCol, p)
    Versioned.commit(unified(idCol, bands, sh, sizes, None), dir)
    ()
  }

  /** Stored-table row count above which [[probeWith]] narrows the
    * verification joins to candidate-touched corpus docs. Below it the
    * extra narrowing stages (candidate checkpoint + broadcast + two
    * semi-joins) cost more than the small stored-family shuffle they
    * avoid — measured +0.6 s/ingest at the sf0.1 index (~1M stored
    * rows) vs a clear win once the indexed corpus dwarfs the batch
    * (the whole point of a persistent index). ~4M rows ≈ a 60k-doc
    * corpus at ~66 shingles/doc. The trigger sums the manifest's
    * per-GROUP counts, which include every row family (groups mix
    * b/s/z/p rows — the manifest cannot split by kind): shingles
    * dominate a steady-state index, so the total is a few percent
    * coarse, and erring toward narrowing a pairs-heavy index early
    * costs the small fixed overhead, never correctness. */
  val NarrowProbeThreshold: Long = 4L << 20

  /** Probe from an ALREADY-built batch sketch — the shared core of
    * [[probe]] and the ingest verbs, so ingest never sketches twice. */
  private[dedup] def probeWith(spark: SparkSession, idCol: String,
      bands: DataFrame, sh: DataFrame, sizes: DataFrame, p: Params,
      dir: String, narrowThreshold: Long = NarrowProbeThreshold)
      : DataFrame = {
    val t = Versioned.read(spark, dir)
    // TOUCHED-DOC narrowing decision (r16, guide §3.2 — the class doc's
    // "O(new batch + touched buckets)" made real on the verify side):
    // the stored shingle family dominates the table's rows, and the
    // verification join only ever matches candidate corpus ids — a
    // batch-bounded set. ABOVE the threshold, broadcast that id set and
    // semi-filter the stored families BEFORE their shuffle: the verify
    // exchange drops from O(indexed corpus) to O(touched docs), results
    // provably unchanged (both joins key on corpus_id, so untouched
    // docs never survive them — NearDupIndexSpec pins path equality).
    // The decision reads the manifest's exact per-group counts — zero
    // data jobs; any count-less legacy group declines (conservative).
    val counts = Versioned.readCounts(dir, Versioned.latestVersion(dir))
    val narrow =
      counts.nonEmpty && counts.values.sum >= narrowThreshold
    val bB = bands.select(col(idCol).as("batch_id"), col("band"),
      col("band_hash"))
    val bC = t.filter(col("kind") === "b")
      .select(col(idCol).as("corpus_id"), col("band"), col("band_hash"))
    val cands0 = bB.join(bC, Seq("band", "band_hash"))
      .select("batch_id", "corpus_id").distinct()
    // narrowed path: candidates materialized (they feed the id broadcast
    // AND the verification join); the broadcast is bounded by the
    // batch's distinct candidate partners — crawl-cadence batch scale;
    // split pathological mega-batches upstream
    val cands = if (!narrow) cands0 else cands0.localCheckpoint()
    def touched(family: DataFrame): DataFrame =
      if (!narrow) family
      else family.join(broadcast(cands.select("corpus_id").distinct()),
        Seq("corpus_id"), "left_semi")
    val shC = touched(t.filter(col("kind") === "s")
      .select(col(idCol).as("corpus_id"), col("shingle")))
    val inter = cands
      .join(sh.select(col(idCol).as("batch_id"), col("shingle")), "batch_id")
      .join(shC, Seq("corpus_id", "shingle"))
      .groupBy("batch_id", "corpus_id").agg(count(lit(1)).as("inter"))
    val szB = sizes.select(col(idCol).as("batch_id"), col("sz").as("sz1"))
    val szC = touched(t.filter(col("kind") === "z")
      .select(col(idCol).as("corpus_id"), col("sz").as("sz2")))
    inter.join(szB, "batch_id").join(szC, "corpus_id")
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")).cast("double"))
      .filter(col("jaccard") >= p.minJaccard)
      .select(col("batch_id"), col("corpus_id"), col("inter"), col("sz1"),
        col("sz2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Which batch documents near-duplicate the INDEXED corpus — reads the
    * stored index, never re-sketches it. Returns
    * (batch_id, corpus_id, inter, sz1, sz2, jaccard), exact-verified.
    * The returned frame is pinned to the index version visible at call
    * time (Versioned reads plan concrete file groups), so a subsequent
    * [[ingest]] append cannot leak into it. */
  def probe(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, p: Params, dir: String): DataFrame = {
    val (bands, sh, sizes) = sketch(batch, idCol, textCol, p)
    probeWith(spark, idCol, bands, sh, sizes, p, dir)
  }

  /** Test seam: [[probe]] with an explicit narrowing threshold, so the
    * spec pins narrowed ≡ un-narrowed on one corpus. */
  private[dedup] def probeThreshold(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, p: Params, dir: String,
      narrowThreshold: Long): DataFrame = {
    val (bands, sh, sizes) = sketch(batch, idCol, textCol, p)
    probeWith(spark, idCol, bands, sh, sizes, p, dir, narrowThreshold)
  }

  /** The probe + survivor-rows half shared by both ingest verbs: the
    * batch is sketched ONCE (the survivor rows anti-join the sketch's
    * materialized families by the dup ids) and the pairs are materialized
    * once, so the survivor derivation, the commit and the caller read
    * them instead of re-planning the probe. The dup-id set is the step's
    * pairs — batch-bounded, like the narrowed probe's candidates — so the
    * anti-joins broadcast it. */
  private def ingestRows(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, p: Params, dir: String,
      step: Long): (DataFrame, DataFrame) = {
    val (bands, sh, sizes) = sketch(batch, idCol, textCol, p)
    val pairs = probeWith(spark, idCol, bands, sh, sizes, p, dir)
      .localCheckpoint()
    val dupIds = broadcast(pairs.select(col("batch_id").as(idCol)))
    def surv(f: DataFrame) = f.join(dupIds, idCol :: Nil, "left_anti")
    (unified(idCol, surv(bands), surv(sh), surv(sizes),
      Some((pairs, step))), pairs)
  }

  /** One recurring-crawl step: probe, then append the NON-duplicate
    * survivors' sketch AND the step's pair results as ONE atomic commit.
    * Returns the duplicate pairs the probe found. */
  def ingest(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, p: Params, dir: String, step: Long): DataFrame = {
    val (rows, pairs) = ingestRows(spark, batch, idCol, textCol, p, dir, step)
    Versioned.commit(rows, dir)
    pairs
  }

  /** EXACTLY-ONCE ingest under at-least-once delivery (the streaming
    * foreachBatch contract): the whole step — survivors and pair
    * results — lands through one [[Versioned.idempotentCommit]] keyed on
    * (appId, txnVersion), so a zombie replay of the same micro-batch is
    * a no-op and the single-table layout makes the step all-or-nothing.
    * Returns true when the step landed, false when it was skipped as a
    * replay. Pair results of every landed step stay queryable via
    * [[pairsOf]]. */
  def ingestIdempotent(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, p: Params, dir: String,
      appId: String, txnVersion: Long): Boolean = {
    if (Versioned.lastTxnVersion(dir, appId).exists(_ >= txnVersion))
      return false // replay — don't even probe
    val (rows, _) = ingestRows(spark, batch, idCol, textCol, p, dir,
      step = txnVersion + 1)
    Versioned.idempotentCommit(rows, dir, appId, txnVersion).isDefined
  }

  /** The recorded pair results of every landed step:
    * (step, batch_id, corpus_id, inter, sz1, sz2, jaccard). */
  def pairsOf(spark: SparkSession, dir: String, idCol: String): DataFrame =
    Versioned.read(spark, dir).filter(col("kind") === "p")
      .select(col("step"), col(idCol).as("batch_id"), col("corpus_id"),
        col("inter"), col("sz").as("sz1"), col("sz2"), col("jaccard"))
}
