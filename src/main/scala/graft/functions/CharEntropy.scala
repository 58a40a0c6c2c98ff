package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass character-distribution entropy:
  * `graft_char_entropy(text)` →
  * `struct<n_chars bigint, n_distinct_chars bigint, entropy double>`.
  *
  * The fused scale path for [[graft.text.Corpus.charEntropy]]'s
  * relational form, which explodes one row PER CHARACTER (×doc-length
  * row amplification before the first aggregate — the t15 problem all
  * over again). This expression counts code points into a 128-slot ASCII
  * array (HashMap spill for the rest) in one pass per row and reproduces
  * the relational maths BIT-EXACTLY, operation by operation:
  * p = c/n in double, term = p·ln(p) in double (same JVM `Math.log`
  * Spark's `log` uses), `round(term, 9)` as HALF_UP on
  * `BigDecimal.valueOf` (Spark's Round on DoubleType), the rounded
  * double cast to DECIMAL (`BigDecimal.valueOf(d).setScale(9)`, Spark's
  * double→decimal cast), terms summed EXACTLY in BigDecimal — hence
  * order-independent, the property that makes the value hash-exact
  * across engines — and the final `round(−sum, 6)`. Summation iterates
  * characters in ascending code-point order, but exactness makes the
  * order irrelevant — that is the point of the decimal-term discipline.
  *
  * Characters are Unicode CODE POINTS (surrogate pairs count once),
  * matching the relational `split(text, "")` + `length(ch) = 1` filter
  * semantics. NULL/empty text → (0, 0, 0.0); the relational form emits
  * no row at all there, so query twins filter `n_chars > 0`.
  */
case class CharEntropy(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string column, got ${child.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_distinct_chars", LongType, nullable = false),
    StructField("entropy", DoubleType, nullable = false)))

  override def prettyName: String = "graft_char_entropy"
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    CharEntropy.compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    val value = ctx.freshName("charEntropy")
    val resultCode =
      s"""InternalRow $value = graft.functions.CharEntropy.compute(
            ${childGen.isNull} ? null : ${childGen.value});"""
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

object CharEntropy {

  /** One pass: code-point histogram (dense ASCII slots + map spill),
    * then the exact-decimal term sum. Static forwarder shared by the
    * interpreted and generated paths. */
  def compute(text: UTF8String): InternalRow = {
    if (text == null) return new GenericInternalRow(Array[Any](0L, 0L, 0.0))
    val s = text.toString
    val ascii = new Array[Long](128)
    var other: java.util.HashMap[Integer, Long] = null
    var n = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp < 128) ascii(cp) += 1
      else {
        if (other == null) other = new java.util.HashMap[Integer, Long]()
        other.merge(cp, 1L, (a, b) => a + b)
      }
      n += 1
      i += Character.charCount(cp)
    }
    if (n == 0L) return new GenericInternalRow(Array[Any](0L, 0L, 0.0))
    var distinct = 0L
    var sum = JBigDecimal.ZERO
    def addTerm(c: Long): Unit = {
      distinct += 1
      val p = c.toDouble / n.toDouble
      val term = p * Math.log(p)
      // replicate Spark op-for-op: round(term, 9) on the double, then
      // the rounded double's decimal cast; both HALF_UP on valueOf
      val r9 = JBigDecimal.valueOf(term).setScale(9, RoundingMode.HALF_UP)
        .doubleValue()
      sum = sum.add(JBigDecimal.valueOf(r9).setScale(9, RoundingMode.HALF_UP))
    }
    var cp = 0
    while (cp < 128) { if (ascii(cp) > 0) addTerm(ascii(cp)); cp += 1 }
    if (other != null) {
      val keys = new java.util.ArrayList[Integer](other.keySet())
      java.util.Collections.sort(keys)
      keys.forEach(k => addTerm(other.get(k)))
    }
    val entropy = JBigDecimal.valueOf(-sum.doubleValue())
      .setScale(6, RoundingMode.HALF_UP).doubleValue()
    new GenericInternalRow(Array[Any](n, distinct, entropy))
  }

  def build(children: Seq[Expression]): Expression = {
    require(children.size == 1,
      s"graft_char_entropy(text) takes 1 arg, got ${children.size}")
    CharEntropy(children.head)
  }
}
