package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd dot product over two `array<float>` / `array<double>`
  * columns: `graft_dot(a, b)`.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) are evaluated
  * on the interpreted path — measured 28 s for the 2M-pair near-dup query
  * at sf0.1. This expression generates a primitive double loop inside
  * whole-stage codegen (no lambda dispatch, no boxed arrays), cutting the
  * same query to a fraction. Accumulation is sequential ascending-index in
  * double, bit-identical to both the `aggregate` fold it replaces and
  * DuckDB's `list_sum(list_transform(...))` — so oracle exactness is
  * preserved.
  *
  * Preconditions: element types must match and be float/double (checked at
  * analysis time); null elements contribute 0 to the sum (embedding data
  * has none — the guard exists so containsNull=true parquet schemas and
  * the fold path agree on null-free data).
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two arrays of matching float/double elements " +
          s"(non-null), got (${left.dataType.sql}, ${right.dataType.sql})")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  private lazy val isFloat = elemType(left).contains(FloatType)

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    if (isFloat) {
      while (i < n) {
        if (!a.isNullAt(i) && !b.isNullAt(i))
          acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
        i += 1
      }
    } else {
      while (i < n) {
        if (!a.isNullAt(i) && !b.isNullAt(i))
          acc += a.getDouble(i) * b.getDouble(i)
        i += 1
      }
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""int $n = java.lang.Math.min($a.numElements(), $b.numElements());
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
              $acc += (double) $a.$get($i) * (double) $b.$get($i);
            }
          }
          ${ev.value} = $acc;"""
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
