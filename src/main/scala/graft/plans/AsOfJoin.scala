package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, BindReferences, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{DataType, LongType, TimestampType}

/** Whole-operator as-of join as a first-class Catalyst citizen (SURVEY
  * §2.11 preference order, tier (c): custom `LogicalPlan` + `SparkStrategy`
  * + `SparkPlan`).
  *
  * The composed formulation (`TimeJoins.asofJoinBackward`: union + one
  * window pass) costs a full shuffle+sort of BOTH sides on the key. When
  * the right side is broadcast-small — the common "attach latest dimension
  * state / last prior event" shape — that shuffle is pure waste: this
  * operator broadcasts the right side through Spark's own
  * `BroadcastExchange` (so it shows up in the UI / AQE like any broadcast
  * join), builds one sorted per-key timeline per executor, and probes it
  * with a binary search per left row. The left (fact) side is never
  * shuffled and keeps its partitioning, exactly like `BroadcastHashJoin`.
  *
  * Semantics (match `asofJoinBackward` and DuckDB `ASOF JOIN` with
  * `r.ts <= l.ts`): for each left row, the right row with equal key and
  * the greatest ts ≤ left ts; ties on ts resolved to the greatest
  * `tieBreak`; left rows with no match are dropped (inner). Right rows
  * with a null key, ts, or value are excluded from the build, mirroring
  * `last(value, ignoreNulls = true)` in the window formulation.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    rightKey: Attribute,
    leftTs: Attribute,
    rightTs: Attribute,
    rightValue: Attribute,
    rightTieBreak: Attribute,
    asofValue: AttributeReference,
    asofTs: AttributeReference)
  extends BinaryNode {

  override def output: Seq[Attribute] = left.output :+ asofValue :+ asofTs

  override def producedAttributes: AttributeSet =
    AttributeSet(Seq(asofValue, asofTs))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner rule: AsOfJoinPlan → BroadcastAsOfJoinExec. Installed by
  * [[graft.GraftExtensions]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoinPlan =>
      BroadcastAsOfJoinExec(j.leftKey, j.rightKey, j.leftTs, j.rightTs,
        j.rightValue, j.rightTieBreak, j.asofValue, j.asofTs,
        planLater(j.left), planLater(j.right)) :: Nil
    case _ => Nil
  }
}

/** Flattened per-key sorted timelines over the broadcast rows, with a
  * generated-code-friendly (Java-shaped) probe API: `find` returns a slot
  * or -1, `ts`/`value` read the slot. One flat long[] + Object[] pair —
  * no per-probe allocation beyond primitive-key boxing.
  */
final class AsOfIndex(
    ranges: java.util.HashMap[Any, Array[Int]],
    tss: Array[Long],
    vals: Array[AnyRef]) {

  /** Slot of the last entry for `key` with ts ≤ `ts`, or -1. */
  def find(key: AnyRef, ts: Long): Int = {
    val r = ranges.get(key)
    if (r == null) return -1
    var lo = r(0); var hi = r(1) - 1; var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (tss(mid) <= ts) { ans = mid; lo = mid + 1 } else hi = mid - 1
    }
    ans
  }
  def ts(slot: Int): Long = tss(slot)
  def value(slot: Int): AnyRef = vals(slot)
}

/** Serializable index builder capturing build-side ordinals and types;
  * shared by the interpreted path (per-partition) and the codegen path
  * (as a reference object in the generated class). Rows with a null key,
  * ts, or value are excluded — mirroring `last(value, ignoreNulls=true)`
  * in the window formulation.
  */
final class AsOfIndexBuilder(
    keyIdx: Int, tsIdx: Int, valIdx: Int, tbIdx: Int,
    keyType: DataType, valType: DataType, tbType: DataType)
  extends Serializable {

  def build(rows: Array[InternalRow]): AsOfIndex = {
    val rawOrd = TypeUtils.getInterpretedOrdering(tbType).asInstanceOf[Ordering[Any]]
    // null-safe: a null tieBreak sorts FIRST (loses the greatest-wins
    // tie), matching the window formulation's default nulls-first
    // ORDER BY — the interpreted ordering alone would NPE on ts ties
    // with a null tieBreak value
    val tbOrd: Ordering[Any] = (a: Any, b: Any) =>
      if (a == null && b == null) 0
      else if (a == null) -1
      else if (b == null) 1
      else rawOrd.compare(a, b)
    val byKey = new java.util.HashMap[Any, scala.collection.mutable.ArrayBuffer[(Long, Any, AnyRef)]]()
    rows.foreach { row =>
      if (!row.isNullAt(keyIdx) && !row.isNullAt(tsIdx) && !row.isNullAt(valIdx)) {
        val k = row.get(keyIdx, keyType)
        val buf = byKey.computeIfAbsent(k,
          _ => scala.collection.mutable.ArrayBuffer.empty[(Long, Any, AnyRef)])
        buf += ((row.getLong(tsIdx), row.get(tbIdx, tbType),
          row.get(valIdx, valType).asInstanceOf[AnyRef]))
      }
    }
    var total = 0
    byKey.forEach((_, buf) => total += buf.length)
    val tss = new Array[Long](total)
    val vals = new Array[AnyRef](total)
    val ranges = new java.util.HashMap[Any, Array[Int]](byKey.size * 2)
    var pos = 0
    val ord = Ordering.Tuple2(Ordering.Long, tbOrd).on[(Long, Any, AnyRef)](t => (t._1, t._2))
    byKey.forEach { (k, buf) =>
      val start = pos
      buf.sortInPlace()(ord).foreach { case (t, _, v) =>
        tss(pos) = t; vals(pos) = v; pos += 1
      }
      ranges.put(k, Array(start, pos))
    }
    new AsOfIndex(ranges, tss, vals)
  }
}

/** Physical backward as-of join, broadcast build side, whole-stage
  * codegen on the probe side.
  *
  * Build (once per codegen object / partition, from the broadcast rows):
  * per-key timelines sorted by (ts, tieBreak), flattened into one
  * long[]/Object[] pair ([[AsOfIndex]]). Probe: per left row, upper-bound
  * binary search for the last entry with ts ≤ left ts — O(log m) per row,
  * no shuffle, no sort of the probe side. The generated probe keeps the
  * operator inside the parent WholeStageCodegen span (`*(n)
  * BroadcastAsOfJoin` in explain), like BroadcastHashJoinExec; the
  * iterator path below is the codegen-disabled fallback.
  */
case class BroadcastAsOfJoinExec(
    leftKey: Attribute,
    rightKey: Attribute,
    leftTs: Attribute,
    rightTs: Attribute,
    rightValue: Attribute,
    rightTieBreak: Attribute,
    asofValue: AttributeReference,
    asofTs: AttributeReference,
    left: SparkPlan,
    right: SparkPlan)
  extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = left.output :+ asofValue :+ asofTs

  override def producedAttributes: AttributeSet =
    AttributeSet(Seq(asofValue, asofTs))

  /** Left stays wherever it is; right must arrive as one broadcast array
    * of rows — EnsureRequirements inserts the BroadcastExchange. */
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(UnspecifiedDistribution, BroadcastDistribution(IdentityBroadcastMode))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  private def ordinal(attrs: Seq[Attribute], a: Attribute): Int = {
    val i = attrs.indexWhere(_.exprId == a.exprId)
    require(i >= 0, s"attribute $a not found in ${attrs.mkString(",")}")
    i
  }

  /** Both probe/build key and ts types must agree exactly: the build map
    * stores boxed keys (an int-keyed probe against a long-keyed build
    * would hash-miss every lookup and silently return empty), and ts is
    * compared as a raw long (micros vs seconds must not mix). */
  private def requireTsType(): Unit = {
    require(leftKey.dataType == rightKey.dataType,
      s"as-of key types must match: ${leftKey.dataType} vs ${rightKey.dataType}")
    Seq(leftTs, rightTs).foreach { a =>
      require(a.dataType == TimestampType || a.dataType == LongType,
        s"as-of ts must be TIMESTAMP or BIGINT, got ${a.dataType} (${a.name})")
    }
    require(leftTs.dataType == rightTs.dataType,
      s"as-of ts types must match: ${leftTs.dataType} vs ${rightTs.dataType}")
  }

  private def indexBuilder: AsOfIndexBuilder = new AsOfIndexBuilder(
    ordinal(right.output, rightKey), ordinal(right.output, rightTs),
    ordinal(right.output, rightValue), ordinal(right.output, rightTieBreak),
    rightKey.dataType, rightValue.dataType, rightTieBreak.dataType)

  override protected def doExecute(): RDD[InternalRow] = {
    requireTsType()
    val numOutputRows = longMetric("numOutputRows")
    val broadcastRows = right.executeBroadcast[Array[InternalRow]]()
    val builder = indexBuilder
    val lKeyIdx = ordinal(left.output, leftKey)
    val lTsIdx = ordinal(left.output, leftTs)
    val keyType = rightKey.dataType
    val outTypes = output.map(_.dataType).toArray

    left.execute().mapPartitions({ iter =>
      // Built once per task; the heavy payloads live in the broadcast
      // block, the index itself is small (right side is broadcast-small
      // by contract).
      val index = builder.build(broadcastRows.value)
      val proj = UnsafeProjection.create(outTypes)
      val joined = new JoinedRow()
      val attach = new GenericInternalRow(2)
      iter.flatMap { lrow =>
        if (lrow.isNullAt(lKeyIdx) || lrow.isNullAt(lTsIdx)) Iterator.empty
        else {
          val slot = index.find(
            lrow.get(lKeyIdx, keyType).asInstanceOf[AnyRef], lrow.getLong(lTsIdx))
          if (slot < 0) Iterator.empty
          else {
            attach.update(0, index.value(slot))
            attach.update(1, index.ts(slot))
            numOutputRows += 1
            Iterator.single(proj(joined(lrow, attach)))
          }
        }
      }
    }, preservesPartitioning = true)
  }

  // ---- whole-stage codegen (probe side only, like BroadcastHashJoin) ----

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.asInstanceOf[CodegenSupport].inputRDDs()

  /** At most one output row per probe row (no match buffering), so the
    * copy requirement is whatever the streamed side already needs —
    * same rule as BroadcastHashJoin's unique-key inner case. */
  override def needCopyResult: Boolean =
    left.asInstanceOf[CodegenSupport].needCopyResult

  override protected def doProduce(ctx: CodegenContext): String =
    left.asInstanceOf[CodegenSupport].produce(ctx, this)

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    requireTsType()
    val idxCls = classOf[AsOfIndex].getName
    val builderRef = ctx.addReferenceObj("asofIndexBuilder", indexBuilder,
      classOf[AsOfIndexBuilder].getName)
    val bcRef = ctx.addReferenceObj("asofBroadcast",
      right.executeBroadcast[Array[InternalRow]](),
      "org.apache.spark.broadcast.Broadcast")
    val idxVar = ctx.addMutableState(idxCls, "asofIndex",
      v => s"$v = $builderRef.build((org.apache.spark.sql.catalyst.InternalRow[]) $bcRef.value());")
    val numOutputRows = metricTerm(ctx, "numOutputRows")

    ctx.currentVars = input
    val keyEv = BindReferences.bindReference(leftKey, left.output).genCode(ctx)
    val tsEv = BindReferences.bindReference(leftTs, left.output).genCode(ctx)

    val slot = ctx.freshName("asofSlot")
    val valVar = ctx.freshName("asofVal")
    val tsVar = ctx.freshName("asofMatchTs")
    val valType = rightValue.dataType
    val valEv = ExprCode.forNonNullValue(JavaCode.variable(valVar, valType))
    val tsOutEv = ExprCode.forNonNullValue(JavaCode.variable(tsVar, asofTs.dataType))

    s"""
       |${keyEv.code}
       |${tsEv.code}
       |if (!(${keyEv.isNull}) && !(${tsEv.isNull})) {
       |  int $slot = $idxVar.find((Object) ${keyEv.value}, ${tsEv.value});
       |  if ($slot >= 0) {
       |    ${CodeGenerator.javaType(valType)} $valVar =
       |      (${CodeGenerator.boxedType(valType)}) $idxVar.value($slot);
       |    long $tsVar = $idxVar.ts($slot);
       |    $numOutputRows.add(1);
       |    ${consume(ctx, input ++ Seq(valEv, tsOutEv))}
       |  }
       |}
     """.stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
    copy(left = newLeft, right = newRight)
}
