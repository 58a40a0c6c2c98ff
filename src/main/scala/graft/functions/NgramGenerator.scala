package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst GENERATOR (the UDTF tier — one input row → many
  * output rows, Spark's `explode`/`posexplode`/`inline` family):
  * `graft_ngrams(text, n)` emits one row per word n-gram with its
  * position:
  *
  * {{{
  *   SELECT doc_id, pos, ngram
  *   FROM docs LATERAL VIEW graft_ngrams(text, 3) t AS pos, ngram
  *   -- or: df.selectExpr("doc_id", "graft_ngrams(text, 3)")
  * }}}
  *
  * One tokenize + slide pass per row — the fused form of the
  * tokens→sequence→explode→element_at chain ([[graft.dedup.Dedup
  * .wordShingles]]), with NO array-of-all-ngrams intermediate: rows
  * stream out of the generator, so a 100k-token document never
  * materializes its ~100k-element n-gram array in memory the way
  * `explode(transform(sequence(...)))` does.
  *
  * Tokenization matches the repo discipline exactly (trim, split on
  * `\s+`, empties dropped — [[graft.text.TextFunctions.tokens]]'s
  * semantics). NULL text, blank text, or fewer than `n` tokens → zero
  * rows (explode-of-empty semantics). `n` must be a foldable positive
  * literal — generators are row-multiplying operators and a per-row
  * variable fan-out is a plan-shape question, not an expression one.
  *
  * Evaluation is interpreted ([[CodegenFallback]]): Spark's GenerateExec
  * whole-stage-codegens only its built-in collection generators; a
  * custom Generator runs on the interpreted path by design. The
  * tokenize-and-slide work dominates, so the fallback costs little —
  * and the generator still avoids the materialized-array shape that is
  * the real scale hazard.
  */
case class NgramGenerator(child: Expression, nExpr: Expression)
  extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, nExpr)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string column, got ${child.dataType.sql}")
    else if (nExpr.dataType != IntegerType || !nExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a literal integer n")
    else if (nExpr.eval() == null ||
        nExpr.eval().asInstanceOf[Int] < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires n >= 1")
    else TypeCheckResult.TypeCheckSuccess

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", LongType, nullable = false),
    StructField("ngram", StringType, nullable = false)))

  override def prettyName: String = "graft_ngrams"

  private lazy val n: Int = nExpr.eval().asInstanceOf[Int]

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = child.eval(input).asInstanceOf[UTF8String]
    if (t == null) return Iterator.empty
    val trimmed = t.toString.trim
    if (trimmed.isEmpty) return Iterator.empty
    val toks = trimmed.split("\\s+")
    if (toks.length < n) return Iterator.empty
    // stream rows; only one n-token window is live at a time
    Iterator.range(0, toks.length - n + 1).map { i =>
      val sb = new java.lang.StringBuilder(toks(i))
      var k = 1
      while (k < n) { sb.append(' ').append(toks(i + k)); k += 1 }
      new GenericInternalRow(
        Array[Any](i.toLong, UTF8String.fromString(sb.toString)))
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), nExpr = newChildren(1))
}

object NgramGenerator {

  def build(children: Seq[Expression]): Expression = {
    require(children.size == 2,
      s"graft_ngrams(text, n) takes 2 args, got ${children.size}")
    NgramGenerator(children.head, children(1))
  }
}
