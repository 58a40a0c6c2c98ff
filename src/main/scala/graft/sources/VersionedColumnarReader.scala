package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** Columnar (vectorized) reader for the connector's file partitions —
  * the bulk-scan fast path (r15), extended (r16) to serve MERGE-ON-READ
  * masked groups and the TIMESTAMP/DECIMAL types.
  *
  * The row reader pays per-row record assembly in parquet-mr plus a
  * boxed `GenericInternalRow` per row; Spark's own
  * [[VectorizedParquetRecordReader]] (a public Java class, the same
  * engine `spark.read.parquet` uses) decodes whole column chunks into
  * `ColumnarBatch`es that feed whole-stage codegen directly. The
  * snapshot-normalization duties the custom reader exists for map onto
  * it cleanly:
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
  *    reusable on-heap vectors holding the survivors. Previously any
  *    pending DV dropped the WHOLE scan to the row path — measured
  *    4.4× the vectorized read at the 10M-key regime; the key column
  *    is added to the decode set when the query itself does not
  *    project it, exactly like the row reader.
  *
  * Files are written by Spark or parquet-mr with standard annotations;
  * INT96 timestamps ride the vectorized reader's CORRECTED rebase. */
private[sources] class VersionedColumnarReader(file: String, group: String,
    required: StructType, pushed: Array[Filter],
    logicalToPhysical: Map[String, String],
    defaultValues: Map[String, Any],
    morKey: Option[String] = None,
    morVectorFiles: Seq[String] = Seq.empty)
    extends PartitionReader[ColumnarBatch] {

  private val conf = VersionedPartitionReader.freshConf()
  private val path = new Path(file)
  private val fileSchema: MessageType =
    VersionedPartitionReader.schemaOf(path, conf)
  private val present: Map[String, PrimitiveType] =
    fileSchema.getFields.asScala.collect {
      case p: PrimitiveType => p.getName -> p
    }.toMap

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
    else VersionedPartitionReader.morMask(morVectorFiles, maskKeyPhys, conf)

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
      VersionedColumnarReader.catalystTypeOf(present(maskKeyPhys))))

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
    // I/O reduction exactly like the row reader's FilterCompat use
    VersionedPartitionReader.toParquetPredicate(
      pushed.map(VersionedPartitionReader.toPhysicalFilter(_,
        logicalToPhysical)), present)
      .foreach(p => ParquetInputFormat.setFilterPredicate(conf, p))
    val r = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, /* capacity = */
      VersionedColumnarReader.Capacity)
    val fileLen = path.getFileSystem(conf).getFileStatus(path).getLen
    // the base reader casts to the LEGACY mapred FileSplit
    val split = new org.apache.hadoop.mapred.FileSplit(
      path, 0, fileLen, Array.empty[String])
    val attempt = new TaskAttemptContextImpl(conf,
      new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0))
    r.initialize(split, attempt)
    r.initBatch(constSchema, constRow)
    r.enableReturningBatches()
    r
  }

  /** The per-row masked-probe, type-dispatched ONCE (the batch loop
    * pays a megamorphic-free call). Value domains match the mask
    * builder's ([[VersionedPartitionReader.morMask]]): plain integral →
    * primitive long probe; everything else boxed. */
  private val probeMasked: (ColumnVector, Int) => Boolean = keyType match {
    case LongType | TimestampType =>
      (v, i) => maskSet.containsLong(v.getLong(i))
    case IntegerType | DateType =>
      (v, i) => maskSet.containsLong(v.getInt(i).toLong)
    case DoubleType => (v, i) => maskSet.containsAny(v.getDouble(i))
    case FloatType => (v, i) => maskSet.containsAny(v.getFloat(i))
    case BooleanType => (v, i) => maskSet.containsAny(v.getBoolean(i))
    case StringType => (v, i) => maskSet.containsAny(v.getUTF8String(i))
    case d: DecimalType =>
      (v, i) => maskSet.containsAny(v.getDecimal(i, d.precision, d.scale))
    case NullType => (_, _) => false // no mask: never probed
    // a probe that answered "not deleted" for a type it cannot compare
    // would silently UN-delete rows — refuse the scan instead
    case other => throw new IllegalStateException(
      s"deletion-vector probe has no branch for key type $other")
  }

  /** Survivor row ids of the current batch (compaction path only). */
  private val sel = new Array[Int](VersionedColumnarReader.Capacity)

  /** Reusable compaction vectors — one per FILE-SERVED required field
    * (constant vectors are row-position-independent and are reused
    * as-is in the compacted batch). Allocated on first masked batch. */
  private var compactVecs: Array[OnHeapColumnVector] = _
  private var compactBatch: ColumnarBatch = _
  private var copiers: Array[(ColumnVector, Int, WritableColumnVector, Int) => Unit] = _

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
        VersionedColumnarReader.copierFor(f.dataType))
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
      while (r < kept) {
        val s = sel(r)
        if (src.isNullAt(s)) dst.putNull(r) else cp(src, s, dst, r)
        r += 1
      }
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

  /** Catalyst type of a parquet primitive (for the mask key when the
    * query does not project it) — mirrors Spark's schema converter for
    * the connector's served surface. */
  def catalystTypeOf(p: PrimitiveType): DataType = {
    p.getLogicalTypeAnnotation match {
      case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
        return DecimalType(d.getPrecision, d.getScale)
      case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
        return DateType
      case _: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        return TimestampType
      case _ => ()
    }
    p.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT64 => LongType
      case PrimitiveTypeName.INT32 => IntegerType
      case PrimitiveTypeName.DOUBLE => DoubleType
      case PrimitiveTypeName.FLOAT => FloatType
      case PrimitiveTypeName.BOOLEAN => BooleanType
      case PrimitiveTypeName.INT96 => TimestampType
      case _ => StringType
    }
  }

  /** Per-type survivor copier, picked once per column per file. */
  def copierFor(dt: DataType)
      : (ColumnVector, Int, WritableColumnVector, Int) => Unit = dt match {
    case LongType | TimestampType =>
      (s, sr, d, dr) => d.putLong(dr, s.getLong(sr))
    case IntegerType | DateType =>
      (s, sr, d, dr) => d.putInt(dr, s.getInt(sr))
    case DoubleType => (s, sr, d, dr) => d.putDouble(dr, s.getDouble(sr))
    case FloatType => (s, sr, d, dr) => d.putFloat(dr, s.getFloat(sr))
    case BooleanType => (s, sr, d, dr) => d.putBoolean(dr, s.getBoolean(sr))
    case StringType => (s, sr, d, dr) => {
      val u = s.getUTF8String(sr)
      d.putByteArray(dr, u.getBytes)
    }
    case dec: DecimalType => (s, sr, d, dr) =>
      d.putDecimal(dr, s.getDecimal(sr, dec.precision, dec.scale),
        dec.precision)
    case other => throw new IllegalStateException(s"unreachable type $other")
  }
}
