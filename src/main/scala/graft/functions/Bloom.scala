package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Bloom-filter build + probe pair — the runtime semi-join reduction:
  * aggregate the (small) dim side's keys into a bitset
  * (`graft_bloom(key, numBits, numHashes)` → binary, self-describing
  * header), broadcast it, and prefilter the (huge) fact side with the
  * codegen'd probe (`graft_bloom_contains(bloom, key)`) BEFORE the join —
  * rows that cannot match never reach the shuffle. False positives are
  * possible (the subsequent join removes them, so join results are
  * unchanged — the j8 oracle hash-checks exactly that); false negatives
  * are not. Hashing is the engine's portable md5/hash60 scheme, so the
  * filter is deterministic across partitionings (OR is commutative).
  *
  * 100 TB shape: the build is one aggregate over dim keys (buffers OR-
  * merged map-side); the probe is a stateless per-row bit test against a
  * broadcast byte array — the same architecture as Spark's own AQE
  * runtime bloom filters, here as an explicit, composable operator.
  */
object Bloom {

  private val md5: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  // "seed|" prefixes precomputed for every legal hash index — the probe
  // runs per fact row inside codegen, so no per-call allocations here
  private val seedPrefixes: Array[Array[Byte]] =
    Array.tabulate(16)(j => s"$j|".getBytes(StandardCharsets.UTF_8))

  private def hash60(seed: Int, keyBytes: Array[Byte]): Long = {
    val md = md5.get()
    md.reset()
    md.update(seedPrefixes(seed))
    md.update(keyBytes)
    MinHashAgg.first60Bits(md.digest())
  }

  private def readInt(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  private def readLong(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(off + i) & 0xffL); i += 1 }
    v
  }

  /** Shared by build and probe: the `numHashes` bit positions of a key. */
  private def setBits(words: Array[Long], numBits: Int, numHashes: Int,
      keyBytes: Array[Byte]): Unit = {
    var i = 0
    while (i < numHashes) {
      val bit = (hash60(i, keyBytes) % numBits).toInt
      words(bit >>> 6) |= 1L << (bit & 63)
      i += 1
    }
  }

  /** Probe helper (also called from generated code). Layout: int numBits,
    * int numHashes, then the bitset words. Allocation-free except the
    * key-bytes copy. */
  def mightContain(bloom: Array[Byte], key: UTF8String): Boolean = {
    val numBits = readInt(bloom, 0)
    val numHashes = readInt(bloom, 4)
    val keyBytes = key.getBytes
    var i = 0
    while (i < numHashes) {
      val bit = (hash60(i, keyBytes) % numBits).toInt
      if ((readLong(bloom, 8 + (bit >>> 6) * 8) & (1L << (bit & 63))) == 0L)
        return false
      i += 1
    }
    true
  }

  case class BloomAgg(
      child: Expression,
      numBits: Int,
      numHashes: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

    require(numBits >= 64 && numBits % 64 == 0 && numBits <= (1 << 28),
      s"graft_bloom numBits must be a multiple of 64 in [64, 2^28], got $numBits")
    require(numHashes >= 1 && numHashes <= 16,
      s"graft_bloom numHashes must be in [1, 16], got $numHashes")

    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false
    override def dataType: DataType = BinaryType
    override def prettyName: String = "graft_bloom"

    override def createAggregationBuffer(): Array[Long] =
      new Array[Long](numBits / 64)

    override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null)
        setBits(buf, numBits, numHashes, v.asInstanceOf[UTF8String].getBytes)
      buf
    }

    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      var i = 0
      while (i < b1.length) { b1(i) |= b2(i); i += 1 }
      b1
    }

    override def eval(buf: Array[Long]): Any = {
      val bb = ByteBuffer.allocate(8 + 8 * buf.length)
      bb.putInt(numBits)
      bb.putInt(numHashes)
      buf.foreach(bb.putLong)
      bb.array()
    }

    override def serialize(buf: Array[Long]): Array[Byte] = {
      val bb = ByteBuffer.allocate(8 * buf.length)
      buf.foreach(bb.putLong)
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val bb = ByteBuffer.wrap(bytes)
      Array.fill(numBits / 64)(bb.getLong())
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(child = newChildren(0))
  }

  /** `graft_bloom_contains(bloom, key)` — codegen'd probe (delegates to
    * [[mightContain]] so interpreted and generated paths share one
    * implementation). */
  case class BloomContains(left: Expression, right: Expression)
    extends BinaryExpression {

    override def dataType: DataType = BooleanType
    override def prettyName: String = "graft_bloom_contains"

    override protected def nullSafeEval(bloom: Any, key: Any): Any =
      mightContain(bloom.asInstanceOf[Array[Byte]], key.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (bloom, key) =>
        s"${ev.value} = graft.functions.Bloom.mightContain($bloom, $key);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }
}
