package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd word-shingle statistics: `graft_shingle_stats(text, n)`
  * → `struct<n_shingles bigint, n_distinct bigint>` — the total and
  * distinct counts of `n`-token whitespace shingles of the document.
  *
  * Replaces the composed Column form `size(shingleArray(text, n))` +
  * `size(array_distinct(shingleArray(text, n)))`: `transform`/`sequence`/
  * `array_distinct` are higher-order functions Spark evaluates on the
  * interpreted path, the shingle array is materialized (twice — the two
  * branches are separate expression trees after projection collapse), and
  * every shingle string survives long enough to be sorted into an array.
  * Measured 28.7 s for t15 at sf0.1; this expression tokenizes once,
  * builds each shingle into a reused StringBuilder and counts distincts in
  * one HashSet pass — no arrays materialized, whole-stage codegen intact.
  *
  * Semantics are identical to the composed form and the DuckDB oracle
  * twin (`list_distinct` over the `list_transform` shingles):
  *  - tokens = Java regex split of the space-trimmed text on `\s+` with
  *    limit -1 — exactly Spark's `split(trim(text), "\\s+")` (trim strips
  *    0x20 only, an empty string yields one empty token, see
  *    TextFunctions.tokens' contract note);
  *  - fewer than `n` tokens → (0, 0);
  *  - NULL text → (0, 0), matching the Column form (`when` treats the
  *    NULL size comparison as false → empty array) and the oracle's
  *    `CASE WHEN len(w) >= n ... ELSE []`.
  */
case class ShingleStats(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string column, got ${child.dataType.sql}")
    else if (n < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName n must be >= 1, got $n")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = StructType(Seq(
    StructField("n_shingles", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false)))

  override def prettyName: String = "graft_shingle_stats"

  /** Never null: absent text has zero shingles, not unknown shingles. */
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    ShingleStats.compute(child.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    val value = ctx.freshName("shingleStats")
    val resultCode =
      s"""InternalRow $value = graft.functions.ShingleStats.compute(
            ${childGen.isNull} ? null : ${childGen.value}, $n);"""
    ev.copy(
      code = code"""
        ${childGen.code}
        $resultCode""",
      isNull = FalseLiteral,
      value = org.apache.spark.sql.catalyst.expressions.codegen.JavaCode
        .variable(value, dataType))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleStats {

  private val Whitespace = Pattern.compile("\\s+")

  /** One pass over the document: split, slide the n-window, count total
    * and HashSet-distinct shingles. Called from both the interpreted and
    * the generated path (static forwarder). */
  def compute(text: UTF8String, n: Int): InternalRow = {
    if (text == null) return new GenericInternalRow(Array[Any](0L, 0L))
    // UTF8String.trim() strips 0x20 only — Spark's trim(), not Java's
    val toks = Whitespace.split(text.trim().toString, -1)
    val total = toks.length - n + 1
    if (total <= 0) return new GenericInternalRow(Array[Any](0L, 0L))
    val seen = new java.util.HashSet[String](total * 2)
    val sb = new java.lang.StringBuilder
    var distinct = 0
    var i = 0
    while (i < total) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(i + k))
        k += 1
      }
      if (seen.add(sb.toString)) distinct += 1
      i += 1
    }
    new GenericInternalRow(Array[Any](total.toLong, distinct.toLong))
  }

  /** Builder for SQL/`call_function` use: n arrives as a foldable integer
    * literal. */
  def build(children: Seq[Expression]): Expression = {
    require(children.size == 2,
      s"graft_shingle_stats(text, n) takes 2 args, got ${children.size}")
    val n = children(1) match {
      case Literal(i: Int, IntegerType) => i
      case other => throw new IllegalArgumentException(
        s"graft_shingle_stats n must be an integer literal, got $other")
    }
    ShingleStats(children.head, n)
  }
}
