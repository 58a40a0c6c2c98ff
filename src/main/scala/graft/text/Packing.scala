package graft.text

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-sequence packing: the concat-and-chunk layout LLM pretraining
  * uses to turn a document corpus into fixed-length token sequences —
  * documents are laid end-to-end in a pinned global order and the token
  * stream is cut every `seqLen` tokens. The planning query computes, per
  * document, its token offset interval and which sequences it lands in
  * (the metadata a loader needs to materialize shards and the curation
  * signal for boundary-crossing rates).
  *
  * The core primitive is a GLOBAL prefix sum over the pinned order. A
  * naive `Window.orderBy(id)` funnels the whole corpus through ONE
  * partition (the w3 smell — fine for a dim table, fatal at 100 TB). And
  * the declarative two-phase variant (partition-local window keyed on the
  * partition id) costs a SECOND full exchange, because Catalyst cannot
  * know rows are already clustered by their own partition id — it
  * hash-shuffles the data again to satisfy the window's required
  * distribution (measured: two data-sized Exchanges in the plan). So the
  * local scan is the canonical `mapPartitions` accumulator — the genuine
  * per-partition imperative case the declarative API cannot express
  * without a redundant shuffle:
  *   1. range-partition by the order key, sort within partitions (the
  *      one unavoidable data-sized exchange);
  *   2. one forward pass per partition computing local running sums —
  *      rows never move;
  *   3. per-partition totals (one row per partition) → cumulative bases
  *      via a window over the partition INDEX (bounded by the partition
  *      count, not the data) → broadcast back.
  * The result is invariant to where the sampled range boundaries fall —
  * the offset of a row is the sum over all smaller keys regardless of the
  * partitioning — so the output is deterministic even though
  * `repartitionByRange` samples (PackingSpec pins both equality with the
  * single-partition window and partition-count invariance). */
object Packing {

  /** Adds `start_offset` = sum of `nCol` over all rows with a smaller
    * `idCol` (the exclusive prefix sum). `idCol` and `nCol` must be
    * (castable to) BIGINT, ids unique and non-null. `parts` bounds
    * phase-3 state (one row per partition). */
  def withStartOffsets(df: DataFrame, idCol: String, nCol: String,
      parts: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // materialized because BOTH consumers below need it — the
    // per-partition totals and the final join; without it Catalyst re-runs
    // the scan + range exchange once per branch (measured: two data-sized
    // Exchanges in the plan). The frame is narrow (four longs per row)
    val local = df
      .select(col(idCol).cast("long").as("__id"), col(nCol).cast("long").as("__n"))
      .repartitionByRange(parts, col("__id"))
      .sortWithinPartitions("__id")
      .as[(Long, Long)]
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId().toLong
        var acc = 0L
        it.map { case (id, n) => acc += n; (pid, id, n, acc) }
      }
      .toDF("__pid", "__id", "__n", "__run")
      .localCheckpoint()
    // one row per partition; the cumulative-base window is bounded by
    // `parts`, never by the data (local running sums are monotone, so
    // the partition total is their max)
    val wPid = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bases = local.groupBy("__pid").agg(max(col("__run")).as("__ptot"))
      .withColumn("__base", sum(col("__ptot")).over(wPid) - col("__ptot"))
      .select("__pid", "__base")
    local.join(broadcast(bases), "__pid")
      .select(col("__id").as(idCol), col("__n").as(nCol),
        (col("__base") + col("__run") - col("__n")).as("start_offset"))
  }

  /** Per-document packing plan for sequence length `seqLen`: offset
    * interval, first/last sequence index, boundary-crossing flag.
    * `last_seq` indexes the sequence holding the document's LAST token
    * ((start + n − 1) div L — for the degenerate zero-token document it
    * degrades to the sequence before `first_seq`, a convention both
    * engines compute identically). */
  def packingPlan(docs: DataFrame, idCol: String, textCol: String,
      seqLen: Long, parts: Int = 32): DataFrame = {
    val toks = docs.select(col(idCol),
      TextFunctions.bpeishTokenCount(col(textCol)).as("n_tokens"))
    withStartOffsets(toks, idCol, "n_tokens", parts)
      .withColumn("first_seq", expr(s"start_offset DIV $seqLen"))
      .withColumn("last_seq", expr(s"(start_offset + n_tokens - 1) DIV $seqLen"))
      .withColumn("crosses_boundary", col("last_seq") > col("first_seq"))
      .select(col(idCol), col("n_tokens"), col("start_offset"),
        col("first_seq"), col("last_seq"), col("crosses_boundary"))
  }
}
