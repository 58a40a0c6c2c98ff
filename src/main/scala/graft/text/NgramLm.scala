package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hashed bigram language-model perplexity scoring — the CCNet-family
  * quality filter (Wenzek et al. 2020, public method; also RefinedWeb /
  * Dolma): train a language model on a CLEAN reference subset, score
  * every document by its cross-entropy under that model, and let
  * downstream curation keep the low-perplexity tail. Here the LM is a
  * hashed bigram model with add-one smoothing (the hashing trick keeps
  * the model bounded without materializing a vocabulary):
  *
  *   p(b2 | b1) = (c(b1→b2) + 1) / (c(b1·) + B)
  *   ce(doc)    = −(1/T) Σ_i ln p(b_i | b_{i−1})
  *
  * over per-token hash buckets b = hash(token) mod B, trained on the
  * rows matching `trainFilter`, scored over ALL rows.
  *
  * 100 TB design: the fitted model is (observed bigram-bucket types ×
  * 3 longs) — data-BOUNDED, never corpus-sized — and is materialized
  * with an eager `localCheckpoint`, so the training subset is scanned
  * exactly once (the context collect and the scoring join both read the
  * checkpointed blocks, which Spark's ContextCleaner frees once the
  * returned frame is garbage-collected). Scoring is one
  * corpus-sized explode shuffled against the model on (b1,b2) with a
  * broadcast B-row context fallback — everything linear in tokens. At
  * deployment the model is the artifact you'd write to a table once and
  * join forever.
  *
  * Cross-engine exactness (the oracle gate compares EXACTLY): each model
  * row's log-probability is rounded to integer NANO-units once per model
  * ENTRY (never per occurrence), and per-doc sums are order-independent
  * BIGINT aggregations — so the gate-compared surface (`nll_nano`) is
  * pure integers end to end. The only float surface is one ln per model
  * entry on identical integer inputs — the t31 determinism argument
  * verbatim. The derived `ce` double (nll_nano / 1e9 / n) is for human
  * consumption; gates should compare `nll_nano` + `n_bigrams` (r8 ADVICE:
  * Spark round(x,6) and DuckDB ROUND(double,6) use different tie
  * algorithms, a per-row last-ulp flake if a rounded double is gated).
  */
object NgramLm {

  /** Per-document cross-entropy under a bigram model trained on
    * `trainFilter` rows.
    *
    * @return (idCol, n_bigrams BIGINT, nll_nano BIGINT, ce DOUBLE) —
    *         nll_nano is the EXACT total negative log-likelihood in
    *         nano-units (the cross-engine-comparable surface); ce is the
    *         derived per-bigram double for human consumption. Both NULL
    *         for docs with fewer than two tokens (no bigrams to score).
    */
  def crossEntropy(docs: DataFrame, trainFilter: Column,
      idCol: String = "doc_id", textCol: String = "text",
      nBuckets: Int = 4096, seed: Int = 37): DataFrame = {
    require(nBuckets > 0 && nBuckets <= (1 << 20),
      s"nBuckets must be in (0, 2^20], got $nBuckets")
    val M = 1073741824L // 2^30 token-hash modulus (same scheme as Dsir)
    val bD = nBuckets.toDouble
    val toksH = transform(TextFunctions.tokens(col(textCol)),
      t => pmod(TextFunctions.hash60(t, seed), lit(M)))
    // (doc, b1, b2) bigram bucket stream; one tokenize per row behind a
    // projection, buckets from the hashed-token array
    def bigrams(src: DataFrame, extra: Column): DataFrame =
      src.select(col(idCol), extra.as("keep"), toksH.as("h"))
        .select(col(idCol), col("keep"),
          explode(zip_with(
            slice(col("h"), lit(1), size(col("h")) - 1),
            slice(col("h"), lit(2), size(col("h")) - 1),
            (a, b) => struct(
              pmod(a, lit(nBuckets.toLong)).as("b1"),
              pmod(b, lit(nBuckets.toLong)).as("b2")))).as("p"))
        .select(col(idCol), col("keep"), col("p.b1"), col("p.b2"))

    // fitted model: observed (b1,b2) types with their context totals and
    // entry log-probs in nano-units — data-bounded, materialized so the
    // ctx collect below and the scoring join share ONE training scan.
    // Each fit owns its blocks: an earlier call's still-lazy result keeps
    // reading its own model, never a refit (r9 ADVICE).
    val model = bigrams(docs, trainFilter).filter(col("keep"))
      .groupBy("b1", "b2").agg(count(lit(1)).as("n_pair"))
      .withColumn("n_ctx", sum("n_pair").over(Window.partitionBy("b1")))
      .withColumn("lp_nano",
        round(log((col("n_pair").cast("double") + 1.0) /
          (col("n_ctx").cast("double") + bD)) * 1e9, 0).cast("long"))
      .localCheckpoint()

    // unseen-pair fallback per KNOWN context: ln(1/(c(b1·)+B)); ≤ B rows
    val spark = docs.sparkSession
    import spark.implicits._
    val lp0Rows = model.select(col("b1"), col("n_ctx")).distinct().collect()
      .map { r =>
        val lp0 = math.log(1.0 / (r.getLong(1).toDouble + bD)) * 1e9
        (r.getLong(0),
          new java.math.BigDecimal(lp0)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue())
      }.toSeq
    val lp0Table = lp0Rows.toDF("b1", "lp0_nano")
    // fully-unseen context: p = (0+1)/(0+B)
    val lp00 = new java.math.BigDecimal(math.log(1.0 / bD) * 1e9)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

    val scored = bigrams(docs, lit(true))
      .join(model.select("b1", "b2", "lp_nano"), Seq("b1", "b2"), "left")
      .join(broadcast(lp0Table), Seq("b1"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("lp_nano"), col("lp0_nano"), lit(lp00))).as("s"))

    // every doc gets a row; <2-token docs have no bigrams → NULL scores
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (lit(0L) - col("s")).as("nll_nano"),
        round((lit(0L) - col("s")).cast("double") / 1e9 /
          col("n_bigrams").cast("double"), 6).as("ce"))
  }
}
