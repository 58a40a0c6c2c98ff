package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType}

/** Native SimHash aggregate: `graft_simhash(hash60)` over a document's
  * token-hash rows → the assembled 60-bit SimHash.
  *
  * The Column formulation is 60 conditional-sum aggregate expressions in
  * one groupBy — correct and single-pass, but every input row evaluates
  * 60 separate codegen'd when/shift/sum chains into a 60-column internal
  * row. This aggregate keeps one int[60] vote buffer per group and does
  * the bit-test loop in tight JVM code; merge is elementwise addition,
  * eval assembles the sign bits. Semantics are EXACTLY
  * [[graft.dedup.Dedup.simhash]]'s: vote b += (bit b of hash ? +1 : −1),
  * bit b of the result set iff vote ≥ 0 — bit-identical to the Column
  * form and the t8 oracle (DedupSpec pins the equivalence).
  */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Int]] {

  private val Bits = 60

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def createAggregationBuffer(): Array[Int] = new Array[Int](Bits)

  override def update(buf: Array[Int], input: InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var b = 0
      while (b < Bits) {
        if (((h >>> b) & 1L) == 1L) buf(b) += 1 else buf(b) -= 1
        b += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Int], b2: Array[Int]): Array[Int] = {
    var b = 0
    while (b < Bits) { b1(b) += b2(b); b += 1 }
    b1
  }

  override def eval(buf: Array[Int]): Any = {
    var out = 0L
    var b = 0
    while (b < Bits) { if (buf(b) >= 0) out |= 1L << b; b += 1 }
    out
  }

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 * Bits)
    buf.foreach(bb.putInt)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(Bits)(bb.getInt())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}
