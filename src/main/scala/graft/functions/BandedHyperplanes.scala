package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native codegen'd BANDED hyperplane LSH: `graft_bands(vec, planesPerBand,
  * bands, maxDims)` → ARRAY<BIGINT> of `bands` bucket ids, where band t's
  * bucket has bit j set iff Σ_d vec[d]·w(t·r + j, d) ≥ 0 with the
  * independent integer weight family
  *
  *   w(p, d) = (((p·1009 + d·613 + p·d·31) mod 9973) mod 7) − 3  ∈ [−3, 3].
  *
  * This is the OR-amplified candidate generator for near-dup pair search:
  * a pair is a candidate iff it shares ANY band's bucket, so capture
  * probability is 1 − (1 − p^r)^b for per-plane agreement p = 1 − θ/π —
  * tunable recall at a Σ bucket² (per band) pair space instead of the n²
  * cartesian. [[HyperplaneBucket]]'s single-table family
  * (w = ((p·131 + d·37) mod 7) − 3) is UNUSABLE for banding: it is
  * periodic in p with period 7 (131 ≡ 5 and the modulus is 7), so only 7
  * distinct hyperplanes exist and bands beyond the first repeat them
  * (measured: recall flat from b=8 to b=12). The mix must stay
  * collision-free over every plane index the engine can request, or the
  * silent duplication returns at scale: the original mod-97 inner mix
  * repeated planes beyond p = 96 — from r = 13 at 8 bands, exactly the
  * regime [[graft.similarity.Ann.planesPerBandFor]] auto-selects past
  * ~1M docs — and a plain affine mix under a larger modulus still
  * collides whenever two planes' offsets differ by a multiple of 7
  * without crossing a modulus wrap. The p·d·31 BILINEAR term makes the
  * difference between any two planes vary with d (two planes can no
  * longer differ by a d-independent constant), and the inner modulus is
  * the prime 9973 > the maximum plane index r·b − 1 ≤ 3839. AnnSpec
  * pins the first 240 weight vectors (r = 30 × b = 8)
  * pairwise-distinct.
  *
  * Engine-portability contract (same argument as [[HyperplaneBucket]]):
  * integer weights make each float·int product exact in double, per-plane
  * accumulation is sequential ascending-index, and only the SIGN reaches
  * the bucket — so the DuckDB oracle replays every band bit-identically.
  * Degenerate vectors (NULL / empty / all-null elements) land every band
  * in bucket 0, matching the oracle's `CASE WHEN list_sum(...) >= 0 ...
  * ELSE 0` (list_sum of an empty/all-NULL list is NULL there).
  *
  * One pass over the float array accumulates all `bands·planesPerBand`
  * plane sums (no literal weight arrays, no array<double> cast), inside
  * whole-stage codegen.
  */
case class BandedHyperplanes(child: Expression, planesPerBand: Int, bands: Int,
    maxDims: Int) extends UnaryExpression {

  private def elemType: Option[DataType] = child.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType.isEmpty)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double>, got ${child.dataType.sql}")
    else if (planesPerBand < 1 || planesPerBand > 62)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName planesPerBand must be in [1,62], got $planesPerBand")
    else if (bands < 1 || bands > 128)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName bands must be in [1,128], got $bands")
    else if (maxDims < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName maxDims must be >= 1, got $maxDims")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_bands"
  override def nullable: Boolean = false

  private lazy val isFloat = elemType.contains(FloatType)
  private def totalPlanes: Int = planesPerBand * bands

  /** w(p, d) — kept in one place so eval, codegen, and the Scaladoc
    * formula cannot drift. */
  def weight(p: Int, d: Int): Int = ((p * 1009 + d * 613 + p * d * 31) % 9973) % 7 - 3

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val out = new Array[Long](bands)
    val raw = child.eval(input)
    if (raw == null) return ArrayData.toArrayData(out)
    val v = raw.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), maxDims)
    val acc = new Array[Double](totalPlanes)
    var contributed = false
    var d = 0
    while (d < n) {
      if (!v.isNullAt(d)) {
        contributed = true
        val x = if (isFloat) v.getFloat(d).toDouble else v.getDouble(d)
        var p = 0
        while (p < totalPlanes) {
          acc(p) += x * weight(p, d)
          p += 1
        }
      }
      d += 1
    }
    if (contributed) {
      var p = 0
      while (p < totalPlanes) {
        if (acc(p) >= 0) out(p / planesPerBand) |= 1L << (p % planesPerBand)
        p += 1
      }
    }
    ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val get = if (isFloat) "getFloat" else "getDouble"
    val childGen = child.genCode(ctx)
    // plane accumulator hoisted to instance state (one allocation per
    // generated object, reset per row); the band array must be fresh per
    // row — the returned ArrayData keeps a reference to it
    val acc = ctx.addMutableState("double[]", "bandAcc",
      v => s"$v = new double[$totalPlanes];")
    val out = ctx.freshName("bandOut")
    val n = ctx.freshName("n")
    val d = ctx.freshName("d")
    val p = ctx.freshName("p")
    val x = ctx.freshName("x")
    val value = ctx.freshName("bandsArr")
    val contributed = ctx.freshName("contributed")
    val resultCode =
      s"""long[] $out = new long[$bands];
          if (!${childGen.isNull}) {
            java.util.Arrays.fill($acc, 0.0);
            boolean $contributed = false;
            int $n = java.lang.Math.min(${childGen.value}.numElements(), $maxDims);
            for (int $d = 0; $d < $n; $d++) {
              if (!${childGen.value}.isNullAt($d)) {
                $contributed = true;
                double $x = (double) ${childGen.value}.$get($d);
                for (int $p = 0; $p < $totalPlanes; $p++) {
                  $acc[$p] += $x * ((($p * 1009 + $d * 613 + $p * $d * 31) % 9973) % 7 - 3);
                }
              }
            }
            if ($contributed) {
              for (int $p = 0; $p < $totalPlanes; $p++) {
                if ($acc[$p] >= 0) $out[$p / $planesPerBand] |= 1L << ($p % $planesPerBand);
              }
            }
          }
          org.apache.spark.sql.catalyst.util.ArrayData $value =
            org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
              .fromPrimitiveArray($out);"""
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

object BandedHyperplanes {

  /** Builder for SQL/`call_function` use: the shape args arrive as
    * foldable integer literals (they size the generated loops). */
  def build(children: Seq[Expression]): Expression = {
    require(children.size == 4,
      s"graft_bands(vec, planesPerBand, bands, maxDims) takes 4 args, got ${children.size}")
    def intLit(e: Expression, what: String): Int = e match {
      case Literal(i: Int, IntegerType) => i
      case other => throw new IllegalArgumentException(
        s"graft_bands $what must be an integer literal, got $other")
    }
    BandedHyperplanes(children.head, intLit(children(1), "planesPerBand"),
      intLit(children(2), "bands"), intLit(children(3), "maxDims"))
  }
}
