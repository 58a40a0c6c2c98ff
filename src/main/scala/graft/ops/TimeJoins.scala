package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.{AsOfJoinPlan, RangeJoinPlan}

/** Time-series joins the reference (and stock Spark SQL) lacks: backward
  * as-of join and bounded time-range join (SURVEY §2.3 lists both as "not
  * present" — these extend the engine beyond parity).
  *
  * Both follow the preference order in SURVEY §2.11: composed from
  * built-in operators, no custom strategy needed —
  *  - as-of join = union the two sides, one window pass per key
  *    (`last(..., ignoreNulls)` over ts order) → exactly ONE shuffle+sort
  *    on the key, the same cost as a sort-merge join, no per-row probe.
  *  - range join = equi-join on a coarse time bucket (± one neighbor)
  *    then an exact range filter → turns an O(n²) theta join into an
  *    equi-shuffle whose fan-out is bounded by events-per-bucket.
  */
object TimeJoins {

  /** Backward as-of join: for every left row, attach `valueCol` from the
    * right row with the same `key` and the greatest `ts` ≤ the left ts
    * (inclusive, DuckDB `ASOF JOIN` semantics). Left rows with no prior
    * right row are dropped (inner semantics).
    *
    * Right-side ties on (key, ts): the row with the greatest `tieBreak`
    * wins (pass a unique right-side id for determinism).
    */
  def asofJoinBackward(left: DataFrame, right: DataFrame, key: String,
      ts: String, valueCol: String, tieBreak: String): DataFrame = {
    val l = left.withColumn("__side", lit(1))
      .withColumn("__rv", lit(null).cast(right.schema(valueCol).dataType))
      .withColumn("__rts", lit(null).cast(right.schema(ts).dataType))
    // keep valueCol in the projection (distinct: valueCol may equal
    // tieBreak) — projecting it away before right(valueCol) resolves
    // would fail analysis for the general distinct-column case
    val r = right.select(
        Seq(key, ts, tieBreak, valueCol).distinct.map(col): _*)
      .withColumn("__side", lit(0))
      .withColumn("__rv", right(valueCol))
      .withColumn("__rts", right(ts))
    val unioned = l.select((l.columns.filter(c => !c.startsWith("__"))
      .map(col) ++ Seq(col("__side"), col("__rv"), col("__rts"))): _*)
      .unionByName(r.select(col(key), col(ts), col("__side"), col("__rv"),
        col("__rts"), col(tieBreak).as("__tb")), allowMissingColumns = true)
    // right rows sort before left rows at equal ts (__side 0 < 1) so the
    // match is inclusive; __tb orders right-side ties
    val w = Window.partitionBy(key)
      .orderBy(col(ts), col("__side"), col("__tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("__asof_v", last(col("__rv"), ignoreNulls = true).over(w))
      .withColumn("__asof_ts", last(col("__rts"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1 && col("__asof_v").isNotNull)
      .drop("__side", "__rv", "__rts", "__tb")
      .withColumnRenamed("__asof_v", s"asof_$valueCol")
      .withColumnRenamed("__asof_ts", s"asof_$ts")
  }

  /** Backward as-of join via the custom physical operator
    * [[graft.plans.BroadcastAsOfJoinExec]] — same semantics and output
    * shape as [[asofJoinBackward]], but the right side is broadcast
    * (BroadcastExchange) and probed with a per-row binary search, so the
    * left side is NEVER shuffled or sorted. Use when the right side fits
    * the broadcast threshold; use [[asofJoinBackward]] (one shuffle+sort
    * of both sides) when both sides are large.
    */
  def asofJoinBroadcast(left: DataFrame, right: DataFrame, key: String,
      ts: String, valueCol: String, tieBreak: String): DataFrame = {
    val spark = left.sparkSession
    graft.GraftExtensions.setup(spark)
    val lp = left.queryExecution.analyzed
    val rp0 = right.queryExecution.analyzed
    // Self-join shapes (left and right carved from the same scan) share
    // exprIds across children; re-alias the right side so every attribute
    // in the plan is unique before the analyzer sees it.
    val rp: LogicalPlan =
      if (rp0.outputSet.intersect(lp.outputSet).nonEmpty)
        Project(rp0.output.map(a => Alias(a, a.name)()), rp0)
      else rp0
    def resolve(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    val (rKey, rTs, rVal, rTb) =
      (resolve(rp, key), resolve(rp, ts), resolve(rp, valueCol), resolve(rp, tieBreak))
    val node = AsOfJoinPlan(lp, rp,
      resolve(lp, key), rKey, resolve(lp, ts), rTs, rVal, rTb,
      AttributeReference(s"asof_$valueCol", rVal.dataType, nullable = true)(),
      AttributeReference(s"asof_$ts", rTs.dataType, nullable = true)())
    GraftSqlShims.ofRows(spark, node)
  }

  /** Bounded time-range join via the custom physical operator
    * [[graft.plans.BroadcastRangeJoinExec]] — same output shape and
    * semantics as [[rangeJoinBucketed]] (key, a_sec, b_sec pairs with
    * b strictly after a within `windowSecs`, distinct), but the right
    * side is broadcast and range-probed, so the left side is never
    * shuffled and no bucket-explode duplication happens. */
  def rangeJoinBroadcast(a: DataFrame, b: DataFrame, key: String, ts: String,
      windowSecs: Long): DataFrame = {
    val spark = a.sparkSession
    graft.GraftExtensions.setup(spark)
    val lp = a.select(col(key), col(ts).cast("long").as("a_sec"))
      .queryExecution.analyzed
    val rp0 = b.select(col(key), col(ts).cast("long").as("b_sec"))
      .queryExecution.analyzed
    val rp: LogicalPlan =
      if (rp0.outputSet.intersect(lp.outputSet).nonEmpty)
        Project(rp0.output.map(att => Alias(att, att.name)()), rp0)
      else rp0
    def resolve(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    val node = RangeJoinPlan(lp, rp,
      resolve(lp, key), resolve(rp, key),
      resolve(lp, "a_sec"), resolve(rp, "b_sec"), windowSecs,
      AttributeReference("b_sec", org.apache.spark.sql.types.LongType,
        nullable = false)())
    GraftSqlShims.ofRows(spark, node).distinct()
  }

  /** Bounded time-range self/two-table join: pairs (a, b) with the same
    * `key` and b strictly after a, within `windowSecs` — all comparisons
    * on floor-truncated epoch seconds (engine-portable; sub-second
    * fractions are deliberately out of the contract). Implemented as an
    * equi-join on the coarse bucket floor(sec / windowSecs) against bucket
    * and bucket−1, then the exact range filter — an equi-shuffle whose
    * fan-out is bounded by events-per-bucket, instead of an O(n²) theta
    * join.
    */
  def rangeJoinBucketed(a: DataFrame, b: DataFrame, key: String, ts: String,
      windowSecs: Long): DataFrame = {
    val aa = a.select(col(key), col(ts).cast("long").as("a_sec"))
      .withColumn("__b", floor(col("a_sec") / windowSecs))
    val bb = b.select(col(key), col(ts).cast("long").as("b_sec"))
      .withColumn("__b0", floor(col("b_sec") / windowSecs))
      .withColumn("__b", explode(array(col("__b0"), col("__b0") - 1)))
      .drop("__b0")
    aa.join(bb, Seq(key, "__b"))
      .filter(col("b_sec") > col("a_sec") &&
        col("b_sec") - col("a_sec") <= windowSecs)
      .drop("__b")
      .distinct()
  }

  /** INTERVAL OVERLAP join: pairs of A- and B-side intervals (same key)
    * that overlap — `aStart ≤ bEnd ∧ bStart ≤ aEnd` — without ever
    * planning a per-key cartesian. Each interval explodes to the GRID
    * CELLS it covers (cell width `bucketWidth`, floor division on
    * non-negative epoch seconds), the join is equi on (key, cell), and a
    * matched pair is emitted ONLY from the cell containing
    * max(aStart, bStart) — the standard spatial-join de-duplication rule,
    * so no distinct pass is needed and every overlapping pair appears
    * exactly once. Inputs carry (key, startCol, endCol [+ payload]);
    * output = key + both sides' columns prefixed a_/b_.
    *
    * Scale shape: one shuffle of each side on (key, cell); cost rides
    * Σ interval-length/bucketWidth (pick the width near the median
    * interval length) plus the true overlap count — never |A|·|B| per
    * key. Skewed keys compose with AQE skew-join like any equi-join. */
  def intervalOverlapJoin(a: DataFrame, b: DataFrame, key: String,
      startCol: String, endCol: String, bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    def cells(df: DataFrame, p: String): DataFrame = {
      val other = df.columns.filter(c => c != key && c != startCol && c != endCol)
      df.select(
        col(key) +:
          col(startCol).cast("long").as(s"${p}_start") +:
          col(endCol).cast("long").as(s"${p}_end") +:
          other.map(c => col(c).as(s"${p}_$c")): _*)
        .withColumn("__cell", explode(sequence(
          floor(col(s"${p}_start") / bucketWidth),
          floor(col(s"${p}_end") / bucketWidth))))
    }
    val aX = cells(a, "a")
    val bX = cells(b, "b")
    aX.join(bX, Seq(key, "__cell"))
      .filter(col("a_start") <= col("b_end") &&
        col("b_start") <= col("a_end"))
      // emit from exactly one cell: the one holding the overlap's start
      .filter(col("__cell") ===
        floor(greatest(col("a_start"), col("b_start")) / bucketWidth))
      .drop("__cell")
  }
}
