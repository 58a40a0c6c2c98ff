package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Train/eval contamination detection for training-data pipelines: the
  * benchmark-decontamination shape from the public LLM literature (GPT-3
  * appendix C / PaLM-style n-gram overlap) — for every held-out document,
  * the fraction of its word n-grams that also occur anywhere in the
  * training corpus. Documents with high overlap are leaked/contaminated
  * and must be dropped from the eval set (or the training set) before the
  * split is trusted.
  *
  * 100 TB shape: the training corpus reduces to its DISTINCT shingle set
  * (one shuffle, the "inverted index" keys only — text is never carried),
  * and the held-out shingles probe it with a left-semi join on the shingle
  * (second shuffle, output bounded by the held-out side). No O(n²) pair
  * space exists anywhere; at extreme scale the distinct-shingle dictionary
  * is the thing you'd bloom-filter or bucket-partition, and both sides of
  * the semi-join already hash-partition on the same key.
  */
object Contamination {

  /** Per-document contamination report of `heldout` against `train`:
    * (id, n_shingles, n_hit, contamination) where `contamination` is the
    * fraction of the document's distinct n-gram shingles that appear in
    * the training corpus. Documents with fewer than `n` tokens have no
    * shingles and are absent from the report (nothing to leak). */
  def ngramOverlap(heldout: DataFrame, train: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    // the held-out shingle derivation (tokenize + explode + distinct
    // shuffle) feeds two subtrees (sizes and the semi-join); Spark does
    // not dedupe common subplans, so materialize it once — same convention
    // as jaccardPairs' shingle frame
    val heldSh = Dedup.wordShingles(heldout, idCol, textCol, n).localCheckpoint()
    val trainSh = Dedup.wordShingles(train, idCol, textCol, n)
      .select("shingle").distinct()
    val sizes = heldSh.groupBy(idCol).agg(count(lit(1)).as("n_shingles"))
    val hits = heldSh.join(trainSh, Seq("shingle"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_hit"))
    sizes.join(hits, Seq(idCol), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("contamination",
        round(col("n_hit").cast("double") / col("n_shingles").cast("double"), 6))
  }

  /** Held-out ids whose contamination is ≥ `threshold` — the drop list a
    * decontamination pass feeds back into the split. */
  def contaminatedIds(heldout: DataFrame, train: DataFrame, idCol: String,
      textCol: String, n: Int = 3, threshold: Double = 0.8): DataFrame =
    ngramOverlap(heldout, train, idCol, textCol, n)
      .filter(col("contamination") >= threshold)
      .select(idCol)
}
