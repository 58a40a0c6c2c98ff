package graft.sources

import org.apache.parquet.column.Dictionary
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, MessageTypeParser}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.types.Decimal
import org.apache.spark.unsafe.types.UTF8String

/** Direct parquet-mr materialization into a flat value array — the
  * connector's row-read hot path ([[VersionedPartitionReader]]).
  *
  * The stock `GroupReadSupport` builds a `SimpleGroup` object tree per
  * ROW, and consuming it costs a string-keyed `getFieldIndex` lookup
  * per FIELD per row plus a repetition-count probe — on a 40M-row scan
  * that bookkeeping dominated the read (~9× the vectorized ops-layer
  * path, r15 DvRehearsal). Here the converters are bound to array
  * slots ONCE per file and parquet's decode loop writes values
  * straight into the slots: no per-row object tree, no name lookups,
  * and dictionary-encoded BINARY columns decode each distinct string
  * to a [[UTF8String]] once per dictionary instead of once per cell.
  *
  * Value domain matches what the reader previously extracted from
  * Groups, so mask/default/metadata handling upstream is unchanged:
  * INT64→Long, INT32→Int (dates stay epoch-day ints), DOUBLE/FLOAT/
  * BOOLEAN boxed, BINARY→UTF8String. An absent optional value leaves
  * `null` in its slot (the start() fill). The SAME array instance is
  * returned for every record — callers must consume or copy before the
  * next read (the partition reader copies into its output row). */
private[sources] final class ValsReadSupport extends ReadSupport[Array[Any]] {

  override def init(context: InitContext): ReadSupport.ReadContext = {
    // same projection mechanism GroupReadSupport honors: the caller
    // sets PARQUET_READ_SCHEMA to the projected subset of THIS file's
    // schema; absent, read the full file schema
    val s = context.getConfiguration.get(ReadSupport.PARQUET_READ_SCHEMA)
    val projected =
      if (s == null) context.getFileSchema
      else MessageTypeParser.parseMessageType(s)
    new ReadSupport.ReadContext(projected)
  }

  override def prepareForRead(conf: org.apache.hadoop.conf.Configuration,
      keyValueMetaData: java.util.Map[String, String],
      fileSchema: MessageType,
      readContext: ReadSupport.ReadContext): RecordMaterializer[Array[Any]] =
    new ValsMaterializer(readContext.getRequestedSchema)
}

private[sources] final class ValsMaterializer(projected: MessageType)
    extends RecordMaterializer[Array[Any]] {

  private val n = projected.getFieldCount
  private val current = new Array[Any](n)

  private val converters: Array[Converter] =
    Array.tabulate(n) { i =>
      val pt = projected.getType(i).asPrimitiveType()
      val tn = pt.getPrimitiveTypeName
      pt.getLogicalTypeAnnotation match {
        // decimals materialize straight to Spark's internal Decimal
        // (r16) — any physical layout: INT32/INT64 unscaled, or
        // BINARY/FIXED_LEN_BYTE_ARRAY two's-complement unscaled bytes
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          new DecimalSlotConverter(current, i, d.getPrecision, d.getScale)
        case _ if tn == PrimitiveTypeName.INT96 =>
          // Spark 3/4's default parquet timestamp layout (julian day +
          // nanos) → internal UTC micros, the TimestampType value domain
          new Int96SlotConverter(current, i)
        // non-micros INT64 timestamps (legacy MILLIS writers, NANOS) —
        // scaled to the internal micros domain; MICROS falls through to
        // the plain long slot
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
            if t.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS =>
          new TimestampScaleSlotConverter(current, i, mul = 1000L, div = 1L)
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
            if t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS =>
          new TimestampScaleSlotConverter(current, i, mul = 1L, div = 1000L)
        case _ if tn == PrimitiveTypeName.BINARY ||
            tn == PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY =>
          new StringSlotConverter(current, i)
        case _ => new PrimSlotConverter(current, i)
      }
    }

  private val root: GroupConverter = new GroupConverter {
    override def getConverter(fieldIndex: Int): Converter =
      converters(fieldIndex)
    override def start(): Unit = {
      var i = 0
      while (i < n) { current(i) = null; i += 1 }
    }
    override def end(): Unit = ()
  }

  override def getCurrentRecord: Array[Any] = current
  override def getRootConverter: GroupConverter = root
}

/** Fixed-width primitives: parquet calls the one matching add method. */
private[sources] final class PrimSlotConverter(out: Array[Any], i: Int)
    extends PrimitiveConverter {
  override def addLong(v: Long): Unit = out(i) = v
  override def addInt(v: Int): Unit = out(i) = v
  override def addDouble(v: Double): Unit = out(i) = v
  override def addFloat(v: Float): Unit = out(i) = v
  override def addBoolean(v: Boolean): Unit = out(i) = v
  override def addBinary(b: Binary): Unit = // INT96 etc — not served
    out(i) = UTF8String.fromBytes(b.getBytes)
}

/** Any decimal physical layout → Spark internal [[Decimal]]: INT32/
  * INT64 carry the unscaled value directly; BINARY/FIXED_LEN_BYTE_ARRAY
  * carry its two's-complement bytes. Dictionary-encoded columns decode
  * each distinct value once per dictionary. */
private[sources] final class DecimalSlotConverter(out: Array[Any], i: Int,
    precision: Int, scale: Int) extends PrimitiveConverter {
  private def fromUnscaled(u: Long): Decimal =
    Decimal(u, precision, scale)
  private def fromBinary(b: Binary): Decimal =
    Decimal(new java.math.BigDecimal(
      new java.math.BigInteger(b.getBytes), scale), precision, scale)
  override def addInt(v: Int): Unit = out(i) = fromUnscaled(v.toLong)
  override def addLong(v: Long): Unit = out(i) = fromUnscaled(v)
  override def addBinary(b: Binary): Unit = out(i) = fromBinary(b)
  private var dict: Array[AnyRef] = _
  override def hasDictionarySupport: Boolean = true
  override def setDictionary(dictionary: Dictionary): Unit = {
    dict = new Array[AnyRef](dictionary.getMaxId + 1)
    var id = 0
    while (id <= dictionary.getMaxId) {
      dict(id) =
        try fromBinary(dictionary.decodeToBinary(id))
        catch { case _: UnsupportedOperationException =>
          try fromUnscaled(dictionary.decodeToLong(id))
          catch { case _: UnsupportedOperationException =>
            fromUnscaled(dictionary.decodeToInt(id).toLong) } }
      id += 1
    }
  }
  override def addValueFromDictionary(id: Int): Unit = out(i) = dict(id)
}

/** INT64 timestamps in a non-micros unit → internal micros Long: NANOS
  * floor toward negative infinity (a pre-epoch instant stays before the
  * epoch, as in Spark's own reader), MILLIS fail loudly on overflow
  * instead of wrapping. */
private[sources] final class TimestampScaleSlotConverter(out: Array[Any],
    i: Int, mul: Long, div: Long) extends PrimitiveConverter {
  override def addLong(v: Long): Unit =
    out(i) = Math.multiplyExact(Math.floorDiv(v, div), mul)
}

/** INT96 (julian day + nanos-of-day, little-endian) → UTC micros Long —
  * the TimestampType internal domain; the CORRECTED (no julian rebase)
  * reading, matching the vectorized reader's configuration. */
private[sources] final class Int96SlotConverter(out: Array[Any], i: Int)
    extends PrimitiveConverter {
  private def micros(b: Binary): Long = {
    val buf = b.toByteBuffer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nanosOfDay = buf.getLong
    val julianDay = buf.getInt
    (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
  }
  override def addBinary(b: Binary): Unit = out(i) = micros(b)
  private var dict: Array[AnyRef] = _
  override def hasDictionarySupport: Boolean = true
  override def setDictionary(dictionary: Dictionary): Unit = {
    dict = new Array[AnyRef](dictionary.getMaxId + 1)
    var id = 0
    while (id <= dictionary.getMaxId) {
      dict(id) = Long.box(micros(dictionary.decodeToBinary(id)))
      id += 1
    }
  }
  override def addValueFromDictionary(id: Int): Unit = out(i) = dict(id)
}

/** BINARY → UTF8String, with the dictionary decoded ONCE per page set
  * (each distinct string converts once, cells share the instance). */
private[sources] final class StringSlotConverter(out: Array[Any], i: Int)
    extends PrimitiveConverter {
  private var dict: Array[AnyRef] = _
  override def hasDictionarySupport: Boolean = true
  override def setDictionary(dictionary: Dictionary): Unit = {
    dict = new Array[AnyRef](dictionary.getMaxId + 1)
    var id = 0
    while (id <= dictionary.getMaxId) {
      dict(id) = UTF8String.fromBytes(dictionary.decodeToBinary(id).getBytes)
      id += 1
    }
  }
  override def addValueFromDictionary(id: Int): Unit = out(i) = dict(id)
  override def addBinary(b: Binary): Unit =
    out(i) = UTF8String.fromBytes(b.getBytes)
}
