package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetInputFormat}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, PrimitiveType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.{ParquetToSparkSchemaConverter, VectorizedParquetRecordReader}
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** The connector's one reader: Spark's own
  * [[VectorizedParquetRecordReader]] (the engine `spark.read.parquet`
  * uses) over ONE file, decoding whole column chunks into
  * `ColumnarBatch`es that feed whole-stage codegen directly. It serves
  * every file partition of the batch, micro-batch and row-level scans,
  * and — as a key-only reader with no mask of its own — loads the
  * deletion vectors too ([[VersionedColumnarReader.morMask]]), so the
  * mask and the per-batch probe see key values through one decoder.
  * The snapshot-normalization duties map onto it cleanly:
  *
  *  - column mapping: the requested Catalyst schema is issued in the
  *    file's PHYSICAL names (output consumption is positional, so the
  *    logical names never need to reach the decoder);
  *  - evolution defaults + the `_group` metadata column: columns
  *    physically absent from this file ride `initBatch`'s partition
  *    constants — one constant vector each, zero per-row work (the
  *    exact mechanism Spark uses for hive partition columns);
  *  - column order: the batch lays out file-served columns then
  *    constants; a one-time reordering wrapper restores the scan's
  *    required order (vector objects are stable across batches);
  *  - deletion vectors (r16): the group's delete-key mask is probed
  *    per BATCH against the key column's vector. A batch with no
  *    masked row is served zero-copy (the common case — untouched row
  *    groups of a masked file); a batch with hits is COMPACTED into
  *    reusable on-heap vectors holding the survivors. The key column
  *    is added to the decode set when the query itself does not
  *    project it.
  *
  * Every top-level column the file holds is decoded by the reader,
  * arrays, maps and structs included (Spark's nested vectorized path).
  * Files are written by Spark with standard annotations; INT96
  * timestamps ride the vectorized reader's CORRECTED rebase. */
private[sources] class VersionedColumnarReader(file: String, group: String,
    required: StructType, pushed: Array[Filter],
    logicalToPhysical: Map[String, String],
    defaultValues: Map[String, Any],
    morKey: Option[String] = None,
    morVectorFiles: Seq[String] = Seq.empty)
    extends PartitionReader[ColumnarBatch] {

  private val conf = VersionedColumnarReader.freshConf()
  private val path = new Path(file)
  /** The file is opened ONCE: its status, stream and footer (row groups
    * included) are handed to the record reader, which would otherwise
    * stat, open and parse the footer again. */
  private val input = HadoopInputFile.fromPath(path, conf)
  private val stream = input.newStream()
  private val footer: ParquetMetadata =
    try ParquetFileReader.readFooter(input,
      HadoopReadOptions.builder(conf, path).build(), stream)
    catch { case t: Throwable => stream.close(); throw t }
  private val fileSchema: MessageType = footer.getFileMetaData.getSchema
  private val present: Map[String, Type] =
    fileSchema.getFields.asScala.map(f => f.getName -> f).toMap

  private val physName: Array[String] =
    required.fields.map(f => logicalToPhysical.getOrElse(f.name, f.name))

  /** MOR delete mask for THIS group (null when none pending, or when
    * the key column is physically absent from this file — absent means
    * every key value is NULL, and NULL never matches the anti-join). */
  private val maskKeyPhys: String =
    if (morVectorFiles.isEmpty) null
    else morKey.map(k => logicalToPhysical.getOrElse(k, k)).orNull
  private val maskSet: MorMask =
    if (maskKeyPhys == null || !present.contains(maskKeyPhys)) null
    else VersionedColumnarReader.morMask(morVectorFiles, maskKeyPhys, conf)

  /** Required indices served by the FILE vs by a CONSTANT vector. */
  private val (servedIdx, constIdx) =
    required.fields.indices.partition(i =>
      required.fields(i).name != VersionedSource.GroupCol &&
        present.contains(physName(i)))

  /** The decode schema: file-served required fields, plus the mask key
    * when the query does not project it (read for the probe, never
    * emitted). */
  private val servedSchema = StructType(servedIdx.map(i =>
    required.fields(i).copy(name = physName(i))))
  private val needExtraKey: Boolean =
    maskSet != null && !servedSchema.fieldNames.contains(maskKeyPhys)
  private val requestedSchema =
    if (!needExtraKey) servedSchema
    else StructType(servedSchema.fields :+ StructField(maskKeyPhys,
      VersionedColumnarReader.catalystTypeOf(
        present(maskKeyPhys).asPrimitiveType)))

  /** Key column's slot in the decoded batch + its Catalyst type. */
  private val keyBatchIdx: Int =
    if (maskSet == null) -1 else requestedSchema.fieldIndex(maskKeyPhys)
  private val keyType: DataType =
    if (maskSet == null) NullType else requestedSchema(keyBatchIdx).dataType

  private val constSchema = StructType(constIdx.map(i => required.fields(i)))
  private val constRow: InternalRow = new GenericInternalRow(
    constIdx.map { i =>
      val f = required.fields(i)
      if (f.name == VersionedSource.GroupCol) UTF8String.fromString(group)
      else defaultValues.getOrElse(physName(i), null) // internal-format
    }.toArray[Any])

  /** required index → column index in the (requested ++ const) batch.
    * The extra mask-key slot (when present) sits between the served
    * fields and the constants and is never emitted. */
  private val outOrder: Array[Int] = {
    val constBase = requestedSchema.length
    val m = (servedIdx.zipWithIndex ++
      constIdx.zipWithIndex.map { case (r, j) => r -> (constBase + j) }
      ).toMap
    Array.tabulate(required.length)(m)
  }

  private val reader: VectorizedParquetRecordReader = {
    // the stable conf key Spark's ParquetReadSupport.init reads; every
    // other key falls back to its SQLConf default (binaryAsString off,
    // int96AsTimestamp on)
    conf.set("org.apache.spark.sql.parquet.row.requested_schema",
      requestedSchema.json)
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    // Spark normally copies every SQL conf into the task's hadoop conf
    // (SessionState.newHadoopConf); the schema converter reads these
    // with a bare .toBoolean, so they must exist. Values are the SQLConf
    // defaults — the connector's files carry explicit STRING/DATE/
    // TIMESTAMP(MICROS)/DECIMAL annotations or INT96.
    conf.set("spark.sql.parquet.binaryAsString", "false")
    conf.set("spark.sql.parquet.int96AsTimestamp", "true")
    conf.set("spark.sql.caseSensitive", "false")
    conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    // pushed filters (physical names) → parquet row-group/page skipping;
    // Spark re-applies every filter as a residual, so this is purely an
    // I/O reduction
    VersionedColumnarReader.toParquetPredicate(
      pushed.map(VersionedColumnarReader.toPhysicalFilter(_,
        logicalToPhysical)), present)
      .foreach(p => ParquetInputFormat.setFilterPredicate(conf, p))
    val r = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, /* capacity = */
      VersionedColumnarReader.Capacity)
    // the base reader casts to the LEGACY mapred FileSplit
    val split = new org.apache.hadoop.mapred.FileSplit(
      path, 0, input.getLength, Array.empty[String])
    val attempt = new TaskAttemptContextImpl(conf,
      new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0))
    try r.initialize(split, attempt, Some(input), Some(stream), Some(footer))
    catch { case t: Throwable => stream.close(); throw t }
    r.initBatch(constSchema, constRow)
    r.enableReturningBatches()
    r
  }

  /** The per-row masked-probe, type-dispatched ONCE (the batch loop
    * pays a megamorphic-free call). Key values are compared in the
    * domain the mask builder takes them in ([[MorMask.valueAt]]): the
    * long domain probes the primitive table without boxing, everything
    * else boxed; an unhandled key type fails loudly. */
  private val probeMasked: (ColumnVector, Int) => Boolean = keyType match {
    case NullType => (_, _) => false // no mask: never probed
    case LongType | TimestampType | TimestampNTZType =>
      (v, i) => maskSet.containsLong(v.getLong(i))
    case IntegerType | DateType =>
      (v, i) => maskSet.containsLong(v.getInt(i).toLong)
    case ShortType => (v, i) => maskSet.containsLong(v.getShort(i).toLong)
    case ByteType => (v, i) => maskSet.containsLong(v.getByte(i).toLong)
    case t =>
      val at = MorMask.valueAt(t)
      (v, i) => maskSet.containsAny(at(v, i))
  }

  /** Survivor row ids of the current batch (compaction path only). */
  private val sel = new Array[Int](VersionedColumnarReader.Capacity)

  /** Reusable compaction vectors — one per FILE-SERVED required field
    * (constant vectors are row-position-independent and are reused
    * as-is in the compacted batch). Allocated on first masked batch. */
  private var compactVecs: Array[OnHeapColumnVector] = _
  private var compactBatch: ColumnarBatch = _
  private var copiers: Array[(ColumnVector, Int, WritableColumnVector) => Unit] = _

  private var outBatch: ColumnarBatch = _ // zero-copy reorder wrapper
  private var currentOut: ColumnarBatch = _

  override def next(): Boolean = {
    if (!reader.nextKeyValue()) return false
    val b = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
    val n = b.numRows()
    if (maskSet == null) { currentOut = zeroCopy(b, n); return true }
    // probe the key vector; collect survivors
    val kv = b.column(keyBatchIdx)
    var i = 0
    var kept = 0
    while (i < n) {
      if (kv.isNullAt(i) || !probeMasked(kv, i)) { sel(kept) = i; kept += 1 }
      i += 1
    }
    if (kept == n) { currentOut = zeroCopy(b, n); return true }
    currentOut = compact(b, kept)
    true
  }

  override def get(): ColumnarBatch = currentOut

  private def zeroCopy(b: ColumnarBatch, n: Int): ColumnarBatch = {
    if (outBatch == null) {
      // vector objects are reused across batches — reorder once
      val cols = new Array[ColumnVector](required.length)
      var i = 0
      while (i < required.length) { cols(i) = b.column(outOrder(i)); i += 1 }
      outBatch = new ColumnarBatch(cols, n)
    }
    outBatch.setNumRows(n)
    outBatch
  }

  /** Copy the `kept` selected rows of every file-served column into the
    * reusable on-heap vectors; constants ride through untouched (their
    * value is row-independent). */
  private def compact(b: ColumnarBatch, kept: Int): ColumnarBatch = {
    if (compactBatch == null) {
      compactVecs = OnHeapColumnVector.allocateColumns(
        VersionedColumnarReader.Capacity, servedSchema)
      copiers = servedSchema.fields.map(f =>
        VersionedColumnarReader.appenderFor(f.dataType))
      val cols = new Array[ColumnVector](required.length)
      var i = 0
      while (i < required.length) {
        val src = outOrder(i)
        cols(i) =
          if (src < servedSchema.length) compactVecs(src)
          else b.column(src) // constant vector (or — never — the key)
        i += 1
      }
      compactBatch = new ColumnarBatch(cols, kept)
    }
    var c = 0
    while (c < servedSchema.length) {
      val dst = compactVecs(c)
      dst.reset()
      val src = b.column(c)
      val cp = copiers(c)
      var r = 0
      while (r < kept) { cp(src, sel(r), dst); r += 1 }
      c += 1
    }
    compactBatch.setNumRows(kept)
    compactBatch
  }

  override def close(): Unit = {
    reader.close()
    if (compactVecs != null) compactVecs.foreach(_.close())
  }
}

private[sources] object VersionedColumnarReader {

  /** Rows per decoded batch — Spark's vectorized-reader default. */
  val Capacity = 4096

  /** Spark's own Catalyst type for a parquet column (its schema
    * converter at the SQLConf defaults, the reader's settings) — for the
    * mask key when the query does not project it, and for a deletion
    * vector's key. An INT64 TIMESTAMP(NANOS) column has none and fails
    * loudly here. */
  def catalystTypeOf(p: PrimitiveType): DataType =
    new ParquetToSparkSchemaConverter()
      .convert(new MessageType("key", java.util.List.of(p: Type)))
      .head.dataType

  /** Per-type survivor copier, picked once per column per file: appends
    * row `i` of a decoded vector to `dst`, nulls included. Arrays, maps
    * and structs recurse into their children; a decoded nested vector is
    * one of Spark's writable vectors, whose offsets address them. */
  def appenderFor(dt: DataType)
      : (ColumnVector, Int, WritableColumnVector) => Unit = {
    val value: (ColumnVector, Int, WritableColumnVector) => Unit = dt match {
      case BooleanType => (s, i, d) => d.appendBoolean(s.getBoolean(i))
      case ByteType => (s, i, d) => d.appendByte(s.getByte(i))
      case ShortType => (s, i, d) => d.appendShort(s.getShort(i))
      case IntegerType | DateType | _: YearMonthIntervalType =>
        (s, i, d) => d.appendInt(s.getInt(i))
      case LongType | TimestampType | TimestampNTZType |
          _: DayTimeIntervalType =>
        (s, i, d) => d.appendLong(s.getLong(i))
      case FloatType => (s, i, d) => d.appendFloat(s.getFloat(i))
      case DoubleType => (s, i, d) => d.appendDouble(s.getDouble(i))
      case _: StringType => (s, i, d) => {
        val b = s.getUTF8String(i).getBytes
        d.appendByteArray(b, 0, b.length)
      }
      case BinaryType => (s, i, d) => {
        val b = s.getBinary(i)
        d.appendByteArray(b, 0, b.length)
      }
      // the storage putDecimal picks by precision
      case t: DecimalType => (s, i, d) => {
        val v = s.getDecimal(i, t.precision, t.scale)
        if (t.precision <= Decimal.MAX_INT_DIGITS)
          d.appendInt(v.toUnscaledLong.toInt)
        else if (t.precision <= Decimal.MAX_LONG_DIGITS)
          d.appendLong(v.toUnscaledLong)
        else {
          val b = v.toJavaBigDecimal.unscaledValue.toByteArray
          d.appendByteArray(b, 0, b.length)
        }
      }
      case ArrayType(et, _) =>
        val elem = appenderFor(et)
        (s, i, d) => {
          val w = s.asInstanceOf[WritableColumnVector]
          val (off, n) = (w.getArrayOffset(i), w.getArrayLength(i))
          d.appendArray(n)
          var j = 0
          while (j < n) { elem(w.arrayData(), off + j, d.arrayData()); j += 1 }
        }
      case MapType(kt, vt, _) =>
        val (keys, vals) = (appenderFor(kt), appenderFor(vt))
        (s, i, d) => {
          val w = s.asInstanceOf[WritableColumnVector]
          val (off, n) = (w.getArrayOffset(i), w.getArrayLength(i))
          d.appendArray(n)
          var j = 0
          while (j < n) {
            keys(w.getChild(0), off + j, d.getChild(0))
            vals(w.getChild(1), off + j, d.getChild(1))
            j += 1
          }
        }
      case st: StructType =>
        val fields = st.fields.map(f => appenderFor(f.dataType))
        (s, i, d) => {
          d.appendStruct(false)
          var k = 0
          while (k < fields.length) {
            fields(k)(s.getChild(k), i, d.getChild(k)); k += 1
          }
        }
      case other => throw new IllegalStateException(
        s"no survivor copy for column type $other")
    }
    dt match {
      case _: StructType =>
        (s, i, d) => if (s.isNullAt(i)) d.appendStruct(true) else value(s, i, d)
      case _ =>
        (s, i, d) => if (s.isNullAt(i)) d.appendNull() else value(s, i, d)
    }
  }

  /** One fully-loaded Configuration per JVM; per-reader confs COPY it
    * (property-map copy, no XML). A fresh `new Configuration()` parses
    * the default XML resources under a static lock — at one reader per
    * packed FILE, 32 concurrent tasks serialized on that lock and
    * per-file init inflated ~20× under load (r15 probe: a 256-file scan
    * cost 2.9 s of which ~4.5 s single-threaded was per-file fixed
    * cost, nearly all of it here). */
  private val baseConf: Configuration = {
    val c = new Configuration()
    c.size() // force the default-resource parse ONCE, eagerly
    c
  }
  def freshConf(): Configuration = new Configuration(baseConf)

  /** Rewrite a pushed filter's column names logical → physical (the
    * column-mapping read half). Only the [[VersionedScan.supportsPushdown]]
    * shapes can arrive here. */
  def toPhysicalFilter(f: Filter, m: Map[String, String]): Filter = {
    if (m.isEmpty) return f
    def p(c: String) = m.getOrElse(c, c)
    f match {
      case EqualTo(c, v) => EqualTo(p(c), v)
      case GreaterThan(c, v) => GreaterThan(p(c), v)
      case GreaterThanOrEqual(c, v) => GreaterThanOrEqual(p(c), v)
      case LessThan(c, v) => LessThan(p(c), v)
      case LessThanOrEqual(c, v) => LessThanOrEqual(p(c), v)
      case And(l, r) => And(toPhysicalFilter(l, m), toPhysicalFilter(r, m))
      case other => other
    }
  }

  /** Per-group deletion-vector cache, keyed on the (sorted) vector file
    * list + key column: committed delete files are immutable, and one
    * group's many file-readers (and bench reps) must not re-read the
    * same vector. Values are taken in the probe's comparison domain
    * ([[MorMask.valueAt]]). NULL keys are excluded: anti-join equality
    * never matches NULL. */
  private val morMaskCache =
    new java.util.concurrent.ConcurrentHashMap[String, MorMask]()
  /** Total keys held across cached vectors — the clear policy is
    * BYTE-shaped, not entry-shaped: stale versions' big vectors must
    * not pin executor memory until 4096 entries accumulate. ~32M keys
    * ≈ a few hundred MB worst case (16 B/key in the primitive long
    * table), well under executor headroom. */
  private val morMaskCachedKeys = new java.util.concurrent.atomic.AtomicLong(0)

  def morMask(files: Seq[String], key: String, conf: Configuration)
      : MorMask = {
    if (morMaskCache.size() > 4096 ||
        morMaskCachedKeys.get() > (1L << 25)) {
      morMaskCache.clear()
      morMaskCachedKeys.set(0)
    }
    morMaskCache.computeIfAbsent(
      files.sorted.mkString("\n") + "#" + key, _ => {
        // each file's key column, typed by Spark's converter
        val typed = files.flatMap(f =>
          schemaOf(new Path(f), conf).getFields.asScala.collectFirst {
            case p: PrimitiveType if p.getName == key =>
              f -> catalystTypeOf(p)
          })
        // long-domain keys (the common case — the gated tables key on
        // LONG ids) load into a primitive open-addressing table:
        // ~16 B/key and a boxing-free per-row probe, vs a boxed
        // HashSet's ~60 B/key and an allocation per probe. Mixed or
        // other key types keep the generic set.
        val allLong =
          typed.nonEmpty && typed.forall(t => MorMask.isLongDomain(t._2))
        val longs = new scala.collection.mutable.ArrayBuilder.ofLong
        val out = scala.collection.mutable.HashSet.empty[Any]
        typed.foreach { case (f, t) =>
          val at = MorMask.valueAt(t)
          // a key-only read through the data scan's own decoder
          val r = new VersionedColumnarReader(f, "",
            StructType(Seq(StructField(key, t))), Array.empty, Map.empty,
            Map.empty)
          try while (r.next()) {
            val b = r.get()
            val v = b.column(0)
            var i = 0
            while (i < b.numRows()) {
              if (!v.isNullAt(i)) at(v, i) match {
                case l: Long if allLong => longs += l
                // the vector's buffers are reused batch to batch
                case u: UTF8String => out += u.copy()
                case other => out += other
              }
              i += 1
            }
          } finally r.close()
        }
        val mask: MorMask =
          if (allLong) {
            val arr = longs.result()
            LongMorMask.build(arr, arr.length)
          } else new AnyMorMask(out)
        morMaskCachedKeys.addAndGet(mask.size)
        mask
      })
  }

  /** Footer-schema cache keyed on the file path — safe because
    * committed data files are immutable; bounded by a coarse clear. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, MessageType]()

  def schemaOf(path: Path, conf: Configuration): MessageType = {
    if (schemaCache.size() > 65536) schemaCache.clear()
    schemaCache.computeIfAbsent(path.toString, _ => {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    })
  }

  /** Compile the pushed Spark filters to ONE conjunctive parquet
    * FilterPredicate over columns present in this file with a matching
    * physical type; anything else is simply not compiled (Spark's
    * residual filters keep correctness). */
  def toParquetPredicate(pushed: Array[Filter],
      present: Map[String, Type]): Option[FilterPredicate] = {

    def leaf(c: String, v: Any,
        mk: (String, Any) => FilterPredicate): Option[FilterPredicate] =
      present.get(c).collect { case p: PrimitiveType => p }.flatMap { p =>
        (p.getPrimitiveTypeName, v) match {
          case (PrimitiveTypeName.INT64, l: Long) => Some(mk(c, l))
          case (PrimitiveTypeName.INT32, i: Int) => Some(mk(c, i))
          case (PrimitiveTypeName.DOUBLE, d: Double) => Some(mk(c, d))
          case (PrimitiveTypeName.FLOAT, fl: Float) => Some(mk(c, fl))
          case (PrimitiveTypeName.BINARY, s: String) => Some(mk(c, s))
          case _ => None
        }
      }

    def convert(f: Filter): Option[FilterPredicate] = f match {
      case EqualTo(c, v) => leaf(c, v, {
        case (n, l: Long) => FilterApi.eq(FilterApi.longColumn(n), Long.box(l))
        case (n, i: Int) => FilterApi.eq(FilterApi.intColumn(n), Int.box(i))
        case (n, d: Double) => FilterApi.eq(FilterApi.doubleColumn(n), Double.box(d))
        case (n, fl: Float) => FilterApi.eq(FilterApi.floatColumn(n), Float.box(fl))
        case (n, s: String) =>
          FilterApi.eq(FilterApi.binaryColumn(n), Binary.fromString(s))
      })
      case GreaterThan(c, v) => leaf(c, v, {
        case (n, l: Long) => FilterApi.gt(FilterApi.longColumn(n), Long.box(l))
        case (n, i: Int) => FilterApi.gt(FilterApi.intColumn(n), Int.box(i))
        case (n, d: Double) => FilterApi.gt(FilterApi.doubleColumn(n), Double.box(d))
        case (n, fl: Float) => FilterApi.gt(FilterApi.floatColumn(n), Float.box(fl))
        case (n, s: String) =>
          FilterApi.gt(FilterApi.binaryColumn(n), Binary.fromString(s))
      })
      case GreaterThanOrEqual(c, v) => leaf(c, v, {
        case (n, l: Long) => FilterApi.gtEq(FilterApi.longColumn(n), Long.box(l))
        case (n, i: Int) => FilterApi.gtEq(FilterApi.intColumn(n), Int.box(i))
        case (n, d: Double) => FilterApi.gtEq(FilterApi.doubleColumn(n), Double.box(d))
        case (n, fl: Float) => FilterApi.gtEq(FilterApi.floatColumn(n), Float.box(fl))
        case (n, s: String) =>
          FilterApi.gtEq(FilterApi.binaryColumn(n), Binary.fromString(s))
      })
      case LessThan(c, v) => leaf(c, v, {
        case (n, l: Long) => FilterApi.lt(FilterApi.longColumn(n), Long.box(l))
        case (n, i: Int) => FilterApi.lt(FilterApi.intColumn(n), Int.box(i))
        case (n, d: Double) => FilterApi.lt(FilterApi.doubleColumn(n), Double.box(d))
        case (n, fl: Float) => FilterApi.lt(FilterApi.floatColumn(n), Float.box(fl))
        case (n, s: String) =>
          FilterApi.lt(FilterApi.binaryColumn(n), Binary.fromString(s))
      })
      case LessThanOrEqual(c, v) => leaf(c, v, {
        case (n, l: Long) => FilterApi.ltEq(FilterApi.longColumn(n), Long.box(l))
        case (n, i: Int) => FilterApi.ltEq(FilterApi.intColumn(n), Int.box(i))
        case (n, d: Double) => FilterApi.ltEq(FilterApi.doubleColumn(n), Double.box(d))
        case (n, fl: Float) => FilterApi.ltEq(FilterApi.floatColumn(n), Float.box(fl))
        case (n, s: String) =>
          FilterApi.ltEq(FilterApi.binaryColumn(n), Binary.fromString(s))
      })
      case And(l, r) =>
        (convert(l), convert(r)) match {
          case (Some(a), Some(b)) => Some(FilterApi.and(a, b))
          case (a, b) => a.orElse(b) // partial conjunction still prunes
        }
      case _ => None
    }

    pushed.flatMap(convert(_)) match {
      case Array() => None
      case ps => Some(ps.reduce(FilterApi.and))
    }
  }
}
