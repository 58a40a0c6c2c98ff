package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._


/** Winnowing document fingerprinting — the MOSS algorithm (Schleimer,
  * Wilkerson, Aiken, "Winnowing: Local Algorithms for Document
  * Fingerprinting", SIGMOD 2003). A deterministic LOCAL fingerprint
  * selection with a coverage guarantee the MinHash/SimHash family lacks:
  * any token run of length ≥ `w + k − 1` shared by two documents yields at
  * least one shared fingerprint (the shared run spans a full hash window,
  * and both documents select the same rightmost-minimum inside it). MinHash
  * bounds the EXPECTED similarity error; winnowing bounds the MISS — which
  * is why it is the standard substring-plagiarism/quote detector while
  * MinHash is the whole-document near-dup detector. In an LLM-data
  * pipeline this is the "shared long span" screen (memorization risk,
  * license contamination) that whole-document Jaccard (t6) and banded
  * MinHash (t7/t12) cannot see and containment (t21) only sees when the
  * quote dominates one side.
  *
  * Selection rule, exactly the paper's robust winnowing: hash every
  * k-token shingle, slide a window of `w` consecutive hashes, in each
  * window select the minimum hash breaking ties by RIGHTMOST position.
  * Fingerprint density converges to 2/(w+1) of the shingle count (paper
  * §3; measured 0.386 at w=4 on the test corpus) — the index this builds
  * is a constant factor smaller than the full shingle index with a
  * provable detection floor, which is the 100 TB point: winnowing is the
  * cheap standing index, the full shingle join is the thing you can no
  * longer afford.
  *
  * Engine-portable arithmetic: the (hash, position) pair is packed into
  * one BIGINT — `h32 · 2^24 + (2^24 − 1 − pos)` — so "minimum hash,
  * rightmost on ties" is a plain `MIN` over a bounded window in BOTH
  * engines (Spark here, DuckDB in the oracle), no argmin struct needed.
  * `h32` is the first 8 md5 hex digits (the [[TextFunctions.hash60]]
  * convention, narrowed so the pack fits a BIGINT); positions are bounded
  * by 2^24 tokens per document — beyond that a document should have been
  * length-capped long before fingerprinting (t13's curation funnel).
  *
  * Scale shape: the shingle explode is linear in corpus tokens; the
  * winnowing window is per-document (partitioned, parallel across
  * documents — never a global sort); the pair join runs on the winnowed
  * index (≈ 40 % of shingles) under the same document-frequency cap
  * discipline as [[graft.dedup.Dedup]], so candidate cost is bounded by
  * Σ df² ≤ cap · |fingerprints|.
  */
object Winnowing {

  private val PosBits = 24
  private val PosCard = 1L << PosBits // 16777216
  private val PosMask = PosCard - 1L

  /** 32-bit engine-portable shingle hash (DuckDB:
    * `CAST('0x' || substr(md5(x), 1, 8) AS BIGINT)`). */
  private def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Selected fingerprints: one row per distinct (`idCol`, `fp_hash`,
    * `fp_pos`) with `fp_pos` the 0-based token offset of the selected
    * k-shingle. Documents with fewer than `k` tokens yield no rows;
    * documents with fewer than `w` shingles yield the minimum over the one
    * truncated window (the paper's short-document convention). */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be positive")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), split(trim(col(textCol)), "\\s+").as("__t"))
      .withColumn("__nsh", size(col("__t")) - (k - 1))
      .filter(col("__nsh") >= 1)
    val shingle = concat_ws(" ",
      (0 until k).map(j => element_at(col("__t"), col("__pos") + j + 1)): _*)
    val packed = toks
      .select(col("__id"), col("__t"), col("__nsh"),
        explode(sequence(lit(0), col("__nsh") - 1)).as("__pos"))
      .select(col("__id"), col("__nsh"), col("__pos"),
        (h32(shingle) * PosCard + (lit(PosMask) - col("__pos"))).as("__comb"))
    // per-document bounded window — parallel across documents, the w-row
    // frame never grows with the corpus
    val winFrame = Window.partitionBy("__id").orderBy("__pos")
      .rowsBetween(Window.currentRow, w - 1)
    packed
      .withColumn("__m", min(col("__comb")).over(winFrame))
      // valid window starts only: [0, max(nsh − w, 0)] — trailing
      // positions belong to windows already started to their left
      .filter(col("__pos") <= greatest(col("__nsh") - w, lit(0)))
      .select(col("__id").as(idCol),
        expr(s"__m div $PosCard").as("fp_hash"),
        (lit(PosMask) - pmod(col("__m"), lit(PosCard))).as("fp_pos"))
      .distinct()
  }

  /** Document pairs ranked by shared winnowed fingerprints — the MOSS
    * report. `overlap` = shared / min(nfp1, nfp2) (containment-style, so
    * a short document quoted inside a long one still scores high);
    * fingerprint hashes shared by more than `maxFpDf` documents are
    * dropped before pairing (boilerplate carries no discrimination — the
    * [[graft.dedup.Dedup]] df-cap rationale verbatim). */
  def sharedFingerprintPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minOverlap: Double = 0.6,
      maxFpDf: Long = 1000L): DataFrame = {
    // distinct (doc, hash): positions matter for the guarantee, not the
    // score. Materialized — feeds the df-cap, the per-doc sizes AND both
    // join sides.
    val fph = fingerprints(docs, idCol, textCol, k, w)
      .select(col(idCol).as("__id"), col("fp_hash")).distinct()
      .localCheckpoint()
    val rare = fph.groupBy("fp_hash").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxFpDf).select("fp_hash")
    val kept = fph.join(rare, "fp_hash")
    val sizes = kept.groupBy("__id").agg(count(lit(1)).as("__nfp"))
    val inter = kept.select(col("fp_hash"), col("__id").as("id1"))
      .join(kept.select(col("fp_hash"), col("__id").as("id2")), "fp_hash")
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("shared"))
    inter
      .join(sizes.select(col("__id").as("id1"), col("__nfp").as("nfp1")), "id1")
      .join(sizes.select(col("__id").as("id2"), col("__nfp").as("nfp2")), "id2")
      .withColumn("overlap",
        round(col("shared").cast("double") /
          least(col("nfp1"), col("nfp2")).cast("double"), 6))
      .filter(col("overlap") >= minOverlap)
      .select("id1", "id2", "shared", "nfp1", "nfp2", "overlap")
  }
}
