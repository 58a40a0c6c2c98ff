package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitters sketch: `graft_heavy_hitters(item, k)` →
  * `array<string>` of candidate frequent items (at most k).
  *
  * The classic streaming summary with the MERGEABLE-summaries merge
  * (combine counters, subtract the (k+1)-th largest, drop non-positive):
  * constant k-counter state per partition, map-side combined like any
  * aggregate, and the standard guarantee survives merging — **every item
  * with true frequency > n/(k+1) is in the output**. The candidate SET
  * beyond that guarantee depends on merge order (Spark task scheduling),
  * so downstream checks must gate on the guarantee, not the exact set —
  * the e11 query emits "are all true heavy hitters captured", which the
  * theorem makes deterministically TRUE (that verdict is what the DuckDB
  * oracle asserts, the same error-contract pattern as the GK/HLL rows).
  *
  * 100 TB shape: state is k counters per partition regardless of input
  * size or key cardinality — the whole point vs an exact groupBy whose
  * hash table scales with distinct keys.
  */
case class HeavyHittersAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.LinkedHashMap[String, Long]] {

  require(k >= 1 && k <= 100000, s"graft_heavy_hitters k must be in [1, 1e5], got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_heavy_hitters"

  override def createAggregationBuffer(): mutable.LinkedHashMap[String, Long] =
    mutable.LinkedHashMap.empty

  override def update(buf: mutable.LinkedHashMap[String, Long],
      input: InternalRow): mutable.LinkedHashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val item = v.asInstanceOf[UTF8String].toString
      buf.get(item) match {
        case Some(c) => buf.update(item, c + 1)
        case None if buf.size < k => buf.update(item, 1L)
        case None => // decrement phase: all counters down one, drop zeros
          val dead = mutable.ArrayBuffer.empty[String]
          buf.foreach { case (i, c) =>
            if (c == 1L) dead += i else buf.update(i, c - 1)
          }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(b1: mutable.LinkedHashMap[String, Long],
      b2: mutable.LinkedHashMap[String, Long]): mutable.LinkedHashMap[String, Long] = {
    b2.foreach { case (i, c) => b1.update(i, b1.getOrElse(i, 0L) + c) }
    if (b1.size > k) {
      // subtract the (k+1)-th largest count from everything, keep > 0 —
      // the mergeable-summaries reduction that preserves the guarantee
      val cut = b1.values.toArray.sorted(Ordering.Long.reverse).apply(k)
      val dead = mutable.ArrayBuffer.empty[String]
      b1.foreach { case (i, c) =>
        if (c - cut <= 0L) dead += i else b1.update(i, c - cut)
      }
      dead.foreach(b1.remove)
    }
    b1
  }

  override def eval(buf: mutable.LinkedHashMap[String, Long]): Any =
    new GenericArrayData(
      buf.keys.toArray.sorted.map(UTF8String.fromString(_): AnyRef))

  override def serialize(buf: mutable.LinkedHashMap[String, Long]): Array[Byte] = {
    val entries = buf.toSeq.map { case (i, c) =>
      (i.getBytes(StandardCharsets.UTF_8), c) }
    val size = 4 + entries.map(e => 4 + e._1.length + 8).sum
    val bb = ByteBuffer.allocate(size)
    bb.putInt(entries.size)
    entries.foreach { case (b, c) =>
      bb.putInt(b.length); bb.put(b); bb.putLong(c)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.LinkedHashMap[String, Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = mutable.LinkedHashMap.empty[String, Long]
    (0 until n).foreach { _ =>
      val len = bb.getInt()
      val b = new Array[Byte](len)
      bb.get(b)
      buf.update(new String(b, StandardCharsets.UTF_8), bb.getLong())
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HeavyHittersAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HeavyHittersAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}
