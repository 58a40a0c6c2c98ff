package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature aggregate: `graft_minhash(shingle, k)` over a
  * document's shingle rows → `array<bigint>` of the k per-slot minima.
  *
  * The relational formulation (posexplode of k hash columns per shingle →
  * groupBy(id, j).min) materializes k rows per shingle occurrence and
  * shuffles k rows per (doc, partition). This aggregate folds all k slots
  * in ONE pass over the shingle rows with a k-long buffer per group —
  * partial aggregation (map-side combine) works as with any aggregate,
  * the shuffle carries one k-element buffer per doc per partition, and no
  * intermediate row blowup exists. The standard Catalyst surface for
  * custom multi-slot aggregation state (`TypedImperativeAggregate`), the
  * same family Spark uses for percentile/HLL buffers.
  *
  * Hash semantics are EXACTLY [[graft.text.TextFunctions.hash60]]
  * (md5 of "j|shingle", first 15 hex chars parsed base-16 → 60-bit
  * non-negative long), so signatures are bit-identical to the relational
  * form and the DuckDB oracle replay (t7's CTEs) — MinHashAggSpec pins
  * the equivalence on random text.
  */
case class MinHashAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(k >= 1 && k <= 1024, s"graft_minhash k must be in [1, 1024], got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  // "j|" prefixes precomputed once per operator instance
  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate(k)(j => s"$j|".getBytes(StandardCharsets.UTF_8))

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(k)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val s = child.eval(input)
    if (s != null) {
      val shingleBytes = s.asInstanceOf[UTF8String].getBytes
      val md = MinHashAgg.md5.get()
      var j = 0
      while (j < k) {
        md.reset()
        md.update(prefixes(j))
        md.update(shingleBytes)
        val h = MinHashAgg.first60Bits(md.digest())
        if (h < buf(j)) buf(j) = h
        j += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var j = 0
    while (j < k) { if (b2(j) < b1(j)) b1(j) = b2(j); j += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * k)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(k)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

object MinHashAgg {

  private val md5: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** First 15 hex chars of the digest as a 60-bit long — exactly
    * `conv(substring(md5_hex, 1, 15), 16, 10)`: 7 full bytes plus the
    * high nibble of byte 8. */
  private[functions] def first60Bits(digest: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
    (v << 4) | ((digest(7) & 0xffL) >>> 4)
  }
}
