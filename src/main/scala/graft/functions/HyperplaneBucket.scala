package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native codegen'd hyperplane LSH bucket: `graft_hplanes(vec, planes,
  * maxDims)` → BIGINT bucket id with bit p set iff
  * Σ_d vec[d]·w(p,d) ≥ 0, where w(p,d) = ((p·131 + d·37) mod 7) − 3.
  *
  * Replaces the composed form (one `graft_dot` against a 64-element
  * literal weight array PER PLANE, each re-scanning the vector, plus an
  * `array<double>` cast projection): this expression reads the float
  * array ONCE, accumulates all plane sums in one pass with the weights
  * computed arithmetically (no literal arrays, no cast), and stays inside
  * whole-stage codegen. Semantics are bit-identical to the composed form
  * and to the DuckDB oracle's `sqlBucket` twin: integer weights make each
  * float·int product exact in double, per-plane accumulation is
  * sequential ascending-index, and only the SIGN of each exact sum
  * reaches the bucket — so the bucket id is engine-portable (proven by
  * the emb3 histogram hash-match).
  *
  * `planes` and `maxDims` must be integer literals (they shape the
  * generated loop); dims beyond `maxDims` are ignored, matching the
  * composed form's bounded weight arrays.
  */
case class HyperplaneBucket(child: Expression, planes: Int, maxDims: Int)
    extends UnaryExpression {

  private def elemType: Option[DataType] = child.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType.isEmpty)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double>, got ${child.dataType.sql}")
    else if (planes < 1 || planes > 62)
      TypeCheckResult.TypeCheckFailure(s"$prettyName planes must be in [1,62], got $planes")
    else if (maxDims < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName maxDims must be >= 1, got $maxDims")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hplanes"

  /** Never null: degenerate vectors (NULL, empty, or all-null elements)
    * land in bucket 0, matching the DuckDB oracle — `list_sum` of an
    * empty/all-NULL list is NULL there, so its `CASE WHEN sum >= 0 ...
    * ELSE 0` yields 0 for every plane. (The composed per-plane-dot form
    * differs on these degenerate inputs only: `graft_dot` returns 0.0
    * for an empty array, whose `>= 0` sets every bit. The fused
    * expression follows the ORACLE, which is the cross-engine contract;
    * AnnSpec pins both behaviors.) */
  override def nullable: Boolean = false

  private lazy val isFloat = elemType.contains(FloatType)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val raw = child.eval(input)
    if (raw == null) return 0L
    val v = raw.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), maxDims)
    val acc = new Array[Double](planes)
    var contributed = false
    var d = 0
    while (d < n) {
      if (!v.isNullAt(d)) {
        contributed = true
        val x = if (isFloat) v.getFloat(d).toDouble else v.getDouble(d)
        var p = 0
        while (p < planes) {
          acc(p) += x * ((p * 131 + d * 37) % 7 - 3)
          p += 1
        }
      }
      d += 1
    }
    if (!contributed) return 0L
    var bucket = 0L
    var p = 0
    while (p < planes) {
      if (acc(p) >= 0) bucket |= 1L << p
      p += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val get = if (isFloat) "getFloat" else "getDouble"
    val childGen = child.genCode(ctx)
    // accumulator hoisted to instance state: one allocation per generated
    // object, reset per row — no per-row heap churn in the scan loop
    val acc = ctx.addMutableState("double[]", "hplaneAcc",
      v => s"$v = new double[$planes];")
    val n = ctx.freshName("n")
    val d = ctx.freshName("d")
    val p = ctx.freshName("p")
    val x = ctx.freshName("x")
    val value = ctx.freshName("bucket")
    val jt = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .javaType(dataType)
    val contributed = ctx.freshName("contributed")
    val resultCode =
      s"""$jt $value = 0L;
          if (!${childGen.isNull}) {
            java.util.Arrays.fill($acc, 0.0);
            boolean $contributed = false;
            int $n = java.lang.Math.min(${childGen.value}.numElements(), $maxDims);
            for (int $d = 0; $d < $n; $d++) {
              if (!${childGen.value}.isNullAt($d)) {
                $contributed = true;
                double $x = (double) ${childGen.value}.$get($d);
                for (int $p = 0; $p < $planes; $p++) {
                  $acc[$p] += $x * (($p * 131 + $d * 37) % 7 - 3);
                }
              }
            }
            if ($contributed) {
              for (int $p = 0; $p < $planes; $p++) {
                if ($acc[$p] >= 0) $value |= 1L << $p;
              }
            }
          }"""
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

object HyperplaneBucket {

  /** Builder for SQL/`call_function` use: planes and maxDims arrive as
    * foldable integer literals. */
  def build(children: Seq[Expression]): Expression = {
    require(children.size == 3,
      s"graft_hplanes(vec, planes, maxDims) takes 3 args, got ${children.size}")
    def intLit(e: Expression, what: String): Int = e match {
      case Literal(i: Int, IntegerType) => i
      case other => throw new IllegalArgumentException(
        s"graft_hplanes $what must be an integer literal, got $other")
    }
    HyperplaneBucket(children.head, intLit(children(1), "planes"),
      intLit(children(2), "maxDims"))
  }
}
