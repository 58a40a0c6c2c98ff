package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport, GroupWriteSupport}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, PrimitiveType, Types => PTypes}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.Type.Repetition

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Versioned

/** DataSourceV2 connector for the [[graft.ops.Versioned]] lakehouse
  * format — the external read surface Delta/Iceberg expose for their
  * logs, in minimal Spark-first form:
  *
  * {{{
  *   spark.read.format("graft-versioned")
  *     .option("path", dir)
  *     .option("versionAsOf", 2)   // optional time travel; latest otherwise
  *     .load()
  * }}}
  *
  * Planning (driver): the version's manifest yields the file groups;
  * pushed range/equality filters on the manifest's stats column prune
  * whole groups BEFORE any file is opened (the Iceberg scan-planning
  * path, s21's mechanism behind a standard Spark API). One
  * InputPartition per parquet file.
  *
  * Execution (per partition): parquet-mr reads the file directly —
  * column pruning via a projected read schema (only requested columns
  * are materialized) and the pushed filters compiled to parquet
  * FilterPredicates, so row groups whose column statistics exclude the
  * predicate are skipped at the parquet layer. All pushed filters are
  * ALSO retained as Spark-side residuals (pushFilters returns every
  * filter), so connector pruning is a pure performance layer — exactly
  * parquet's own row-group-statistics contract.
  *
  * EVERY pending table state is served IN the scan (round 15): column
  * renames ride as a logical↔physical name mapping applied per file,
  * metadata-only dropped columns are projected out, initial-default
  * columns are literal-filled for file groups whose physical schema
  * predates them, and pending merge-on-read deletes ride as PER-GROUP
  * DELETION VECTORS (round 16 — the Iceberg/Delta DV sidecar shape):
  * each reader loads only its OWN group's vector executor-side and
  * masks rows row-by-row, nothing collected on the driver, no size
  * cap — [[Versioned.read]]'s full normalization pushed into the
  * DSv2 path ([[Versioned.connectorPlan]]), so ALTERed and MOR-deleted
  * tables read through the connector with zero data rewritten and
  * nothing refused. Column types: BIGINT / INT / DOUBLE / FLOAT /
  * STRING / BOOLEAN / DATE — the gate discipline's surface.
  */
class VersionedSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-versioned"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (dir, version) = VersionedSource.pathAndVersion(options)
    val p = Versioned.connectorPlan(dir, version)
    // a TRUNCATE tombstone has no groups to infer from — its schema is
    // the recorded logical DDL
    if (p.isTombstone) return StructType.fromDDL(p.schemaDdl.get)
    // driver-side planning only; executors never touch this path
    VersionedSource.evolvedSchema(SparkSession.active, p.groups.map(_._2),
      p.renames, p.drops, p.defaults)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new VersionedTable(schema, new CaseInsensitiveStringMap(properties))
}

private[sources] object VersionedSource {
  def pathAndVersion(options: CaseInsensitiveStringMap): (String, Int) = {
    val dir = options.get("path")
    require(dir != null && dir.nonEmpty,
      "graft-versioned requires .option(\"path\", <table dir>)")
    val v = Option(options.get("versionAsOf")).map { s =>
      val parsed =
        try s.toInt
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"graft-versioned versionAsOf must be an integer ≥ 1, got '$s'") }
      require(parsed >= 1,
        s"graft-versioned versions start at 1, got versionAsOf=$parsed")
      parsed
    }.getOrElse(0)
    (dir, v)
  }

  val supportedTypes: Set[DataType] = Set(LongType, IntegerType, DoubleType,
    FloatType, StringType, BooleanType, DateType, TimestampType)

  /** The connector's served type set (r16: TIMESTAMP and DECIMAL join —
    * previously one such column anywhere in a required schema dropped
    * the whole scan off the vectorized path, and the scan gate refused
    * it outright; decimal measures and event timestamps are
    * bread-and-butter lakehouse columns). DecimalType is parametric, so
    * membership is a predicate, not a Set. TimestampNTZ stays out:
    * Versioned's own write paths produce UTC-adjusted instants only. */
  def isSupportedType(t: DataType): Boolean = t match {
    case _: DecimalType => true
    case other => supportedTypes.contains(other)
  }

  /** The metadata column exposing each row's manifest file-group name —
    * the grouping handle of the SQL row-level operations (Iceberg's
    * `_file` in group-granularity form): runtime group filtering
    * collects `DISTINCT _group` over the matching rows and the COW scan
    * then plans ONLY those groups. */
  val GroupCol = "_group"

  /** UNION of the per-group footer schemas of one version — a version's
    * groups may legitimately differ when later appends added columns
    * (the reader serves them as NULL for older groups); a same-name
    * column with CONFLICTING types is refused loudly (the v1-scope gate
    * discipline) instead of silently serving the oldest group's shape.
    * Each group's schema is read from its footer on the driver and
    * CACHED on the group dir ([[graft.ops.ParquetFooters.schema]]):
    * committed groups are immutable, so table-load planning stops
    * scaling O(groups) in footer I/O and launches no Spark job. */
  def mergedGroupSchema(spark: SparkSession, groupDirs: Seq[String])
      : StructType = {
    val schemas = groupDirs.map(d => graft.ops.ParquetFooters.schema(spark, Seq(d)))
    schemas.reduceLeft { (acc, s) =>
      s.fields.foldLeft(acc) { (a, f) =>
        a.fields.find(_.name == f.name) match {
          case Some(existing) =>
            require(existing.dataType == f.dataType,
              s"graft-versioned: column '${f.name}' has conflicting types " +
                s"across file groups (${existing.dataType} vs ${f.dataType})" +
                " — normalize the history (overwrite/OPTIMIZE) first")
            a
          case None => StructType(a.fields :+ f) // evolution-added column
        }
      }
    }
  }

  /** The LOGICAL schema a version serves after its pending schema
    * evolution: the physical union, plus metadata-only added columns no
    * group carries yet (typed by their recorded SQL type), minus
    * metadata-only drops, under the column mapping — exactly
    * [[Versioned.read]]'s normalization order (defaults → drops →
    * renames). */
  def evolvedSchema(spark: SparkSession, groupDirs: Seq[String],
      renames: Map[String, String], drops: Set[String],
      defaults: Map[String, (String, String)]): StructType = {
    val physical = mergedGroupSchema(spark, groupDirs)
    val withDefaults = defaults.toSeq.sortBy(_._1)
      .foldLeft(physical) { case (st, (name, (tpe, _))) =>
        if (st.fieldNames.contains(name)) st
        else StructType(st.fields :+ StructField(name, DataType.fromDDL(tpe)))
      }
    val dropped =
      StructType(withDefaults.fields.filterNot(f => drops.contains(f.name)))
    StructType(dropped.fields.map(f =>
      renames.get(f.name).map(l => f.copy(name = l)).getOrElse(f)))
  }
}

private[sources] class VersionedTable(tableSchema: StructType,
    options: CaseInsensitiveStringMap) extends Table
    with SupportsRead with SupportsWrite
    with SupportsMetadataColumns with SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsDelete {
  override def name(): String = s"graft_versioned_${options.get("path")}"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)

  /** `_group` — the row's manifest file-group name (see
    * [[VersionedSource.GroupCol]]). The handle SQL UPDATE / MERGE INTO's
    * runtime group filtering turns into COW narrowing. */
  override def metadataColumns(): Array[MetadataColumn] =
    if (tableSchema.fieldNames.contains(VersionedSource.GroupCol))
      Array.empty // a data column shadows the name; row-level ops degrade
    else Array(new MetadataColumn {
      override def name(): String = VersionedSource.GroupCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "manifest file-group of the row"
    })

  /** SQL UPDATE / MERGE INTO / (row-level) DELETE — group-based
    * copy-on-write ([[VersionedRowLevelOperation]]). */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new VersionedRowLevelOperation(tableSchema, options, info.command())
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap)
      : ScanBuilder = {
    // catalog-managed tables carry path/versionAsOf in the TABLE's
    // options, not the per-read options — merge with read options winning
    val merged = new java.util.HashMap[String, String]()
    merged.putAll(options)
    merged.putAll(caseInsensitiveOptions)
    new VersionedScanBuilder(tableSchema, new CaseInsensitiveStringMap(merged))
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    // table options carry the path for catalog-managed tables
    // (VersionedCatalog); write options win on conflicts (statsCol)
    new VersionedWriteBuilder(info, options)

  /** SQL DELETE deliberately DECLINES the metadata SupportsDelete path
    * (r13): every DELETE takes the row-level GROUP-BASED COW path
    * instead ([[VersionedRowLevelOperation]]) — runtime group filtering
    * rewrites only the file groups holding matches, where this
    * surface's survivor rewrite ([[Versioned.deleteCommit]]) would
    * rewrite the WHOLE snapshot. At 100 TB that is the difference
    * between a touched-group delete and a full-table rewrite; the
    * "simple" translatable predicates are exactly the ones most likely
    * to be group-clustered. (Full truncation has its own first-class
    * O(1) verb — [[truncateTable]] below, backed by
    * [[graft.ops.Versioned.truncateCommit]]'s tombstone snapshot.) */
  override def canDeleteWhere(filters: Array[Filter]): Boolean = false

  override def deleteWhere(filters: Array[Filter]): Unit =
    throw new IllegalStateException(
      "unreachable: canDeleteWhere declines every predicate " +
        "(row-level COW handles SQL DELETE)")

  /** SQL `TRUNCATE TABLE` — a first-class O(1) metadata verb (round 16):
    * publishes an empty tombstone snapshot
    * ([[graft.ops.Versioned.truncateCommit]]); no data file is touched,
    * every pre-truncate version still time-travels. */
  override def truncateTable(): Boolean = {
    graft.ops.Versioned.truncateCommit(SparkSession.active,
      options.get("path"))
    true
  }
}

private[sources] object VersionedTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit, not}

  /** Source Filter → Column predicate (the DELETE translation). */
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(c, v) => Some(col(c) === lit(v))
    case EqualNullSafe(c, v) => Some(col(c) <=> lit(v))
    case GreaterThan(c, v) => Some(col(c) > lit(v))
    case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
    case LessThan(c, v) => Some(col(c) < lit(v))
    case LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
    case In(c, vs) => Some(col(c).isin(vs.toIndexedSeq: _*))
    case IsNull(c) => Some(col(c).isNull)
    case IsNotNull(c) => Some(col(c).isNotNull)
    case And(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a && b
    case Or(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a || b
    case Not(x) => toColumn(x).map(not)
    case AlwaysTrue => Some(lit(true))
    case AlwaysFalse => Some(lit(false))
    case _ => None
  }
}

/** One leg of an answered-from-manifest aggregation. */
private[sources] sealed trait AggSpec
private[sources] case class MinSpec(col: String) extends AggSpec
private[sources] case class MaxSpec(col: String) extends AggSpec
private[sources] case object CountSpec extends AggSpec

private[sources] class VersionedScanBuilder(fullSchema: StructType,
    options: CaseInsensitiveStringMap) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  /** Snapshot PIN: 'latest' resolves to a concrete version exactly ONCE,
    * at builder construction — schema gating, the aggregate answer, and
    * execution planning all serve this one snapshot even when commits
    * land mid-query (the Delta/Iceberg snapshot-pinning contract; a
    * re-resolving scan could plan against one version and execute
    * against another). 0 = a CREATEd table with no commits yet, a valid
    * empty table. */
  private val resolved: (String, Int) = {
    val (d, v) = VersionedSource.pathAndVersion(options)
    (d, if (v != 0) v else Versioned.latestVersion(d))
  }
  protected def dir: String = resolved._1
  protected def pinnedVersion: Int = resolved._2

  /** The pinned snapshot's complete planning state (groups, stats,
    * pending renames/drops/defaults, MOR delete state) — resolved once
    * with the pin; the scan serves every pending normalization per
    * file, zero data rewritten. None = valid empty table. */
  protected val plan: Option[Versioned.ConnectorPlan] =
    if (pinnedVersion == 0) None
    else Some(Versioned.connectorPlan(dir, pinnedVersion))

  protected var required: StructType = fullSchema
  protected var pushed: Array[Filter] = Array.empty
  private var aggAnswer: Option[(Seq[AggSpec], Seq[Long])] = None

  /** Accept the filters the parquet/stats layers can use; EVERYTHING is
    * returned as residual — connector-side pruning is best-effort
    * (group stats + row-group stats), never exact row filtering. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(VersionedScan.supportsPushdown)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // Spark hands back a subset of fullSchema in table-schema order
    // (plus requested metadata columns, e.g. _group); empty projection
    // (e.g. COUNT(*)) stays empty — rows carry 0 cols
    required = requiredSchema

  /** Metadata-only aggregates — the Iceberg/Delta answer-from-manifest
    * path: a global (no GROUP BY, no residual filters) MIN/MAX on the
    * manifest's stats column, and/or COUNT(*) from the manifest's
    * per-group exact row counts, answered with ZERO data files open.
    * The answer VALUES are computed here, against the pinned snapshot —
    * plan and execution cannot diverge. Complete pushdown only:
    * anything the manifest cannot answer exactly declines, and Spark
    * runs the normal scan+aggregate. */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    answerable(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    answerable(agg) match {
      case some @ Some(_) => aggAnswer = some; true
      case None => false
    }

  private def refName(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 =>
      Some(nr.fieldNames()(0))
    case _ => None
  }

  private def answerable(agg: Aggregation)
      : Option[(Seq[AggSpec], Seq[Long])] = {
    // residual filters would make manifest bounds/counts over-wide;
    // grouped aggregates need per-group detail the manifest has not
    if (pushed.nonEmpty || agg.groupByExpressions.nonEmpty) return None
    if (pinnedVersion == 0) return None // empty table: normal (empty) scan
    // manifest stats/counts stay EXACT under pending renames/drops/
    // defaults (stats columns are logical names the rename commit
    // remaps; counts are row counts) — evolution does not decline.
    // Pending MOR deletes DO: the mask hides rows the manifest still
    // counts/bounds, so any metadata answer could be wrong.
    val p = plan.getOrElse(return None)
    if (p.morKey.nonEmpty) return None
    val (groups, stats, scolOpt) = (p.groups, p.stats, p.statsCol)
    val counts = Versioned.readCounts(dir, pinnedVersion)
    val names = groups.map(_._1)
    // every group must carry the metadata a leg reads (an all-NULL
    // stats group records no stats; pre-counts commits record no counts
    // → that leg's answer would silently lose rows → decline)
    val allStats = names.forall(stats.contains)
    val allCounts = names.forall(counts.contains)
    val statsColOk = scolOpt.exists(c =>
      fullSchema.fields.exists(f => f.name == c && f.dataType == LongType))
    val specs: Seq[Option[AggSpec]] = agg.aggregateExpressions.toSeq.map {
      case m: Min => refName(m.column)
        .filter(c => statsColOk && allStats && scolOpt.contains(c))
        .map(MinSpec)
      case m: Max => refName(m.column)
        .filter(c => statsColOk && allStats && scolOpt.contains(c))
        .map(MaxSpec)
      case _: CountStar => if (allCounts) Some(CountSpec) else None
      case _ => None
    }
    if (specs.isEmpty || specs.exists(_.isEmpty)) None
    else {
      val legs = specs.map(_.get)
      val vals = legs.map {
        case MinSpec(_) => names.map(stats(_)._1).min
        case MaxSpec(_) => names.map(stats(_)._2).max
        case CountSpec => names.map(counts(_)).sum
      }
      Some((legs, vals))
    }
  }

  override def build(): Scan =
    new VersionedScan(dir, pinnedVersion, required, pushed, aggAnswer, plan)
}

/** One scan task: a BIN of parquet files from ONE file group (packed
  * toward Spark's maxSplitBytes shape, r15) — per-file partitions made
  * a 256-small-file commit cost 256 task launches + 256 reader inits,
  * which dominated the scan. Packing stays WITHIN the group so
  * manifest-stats pruning still removes whole partitions and a
  * partition's deletion-vector set stays single-group. */
private[sources] case class VersionedFilePartition(files: Seq[String],
    group: String) extends InputPartition

/** The answered-from-manifest aggregate: one row, no files opened. */
private[sources] case class VersionedAggPartition(values: Seq[Long])
  extends InputPartition

/** `version` is the PINNED concrete snapshot (resolved once in the
  * builder); 0 only for a valid empty table (no commits yet). `plan` =
  * the snapshot's complete planning state; its pending renames / drops
  * / defaults / MOR delete mask are served per file by the readers —
  * ALTERed and MOR-deleted tables read through the connector with zero
  * data rewritten. */
private[sources] class VersionedScan(val dir: String, val version: Int,
    val required: StructType, val pushed: Array[Filter],
    aggAnswer: Option[(Seq[AggSpec], Seq[Long])] = None,
    plan: Option[Versioned.ConnectorPlan] = None)
    extends Scan with Batch {

  private def renames: Map[String, String] =
    plan.map(_.renames).getOrElse(Map.empty)
  private def defaults: Map[String, (String, String)] =
    plan.map(_.defaults).getOrElse(Map.empty)

  override def readSchema(): StructType = aggAnswer match {
    case Some((legs, _)) => StructType(legs.map {
      case MinSpec(c) => StructField(s"min($c)", LongType)
      case MaxSpec(c) => StructField(s"max($c)", LongType)
      case CountSpec => StructField("count(*)", LongType)
    })
    case None => required
  }
  override def toBatch: Batch = this

  /** A CREATEd-but-never-committed catalog table has no manifest yet —
    * it is a valid empty table (zero partitions), not an error; pinned
    * at builder time, so a commit landing mid-query stays invisible. */
  protected def isEmptyTable: Boolean = version == 0

  override def description(): String = {
    val scol = plan.flatMap(_.statsCol)
    s"graft-versioned $dir v=$version " +
      s"cols=[${required.fieldNames.mkString(",")}] " +
      s"PushedFilters: [${pushed.mkString(", ")}] " +
      s"statsCol=${scol.getOrElse("-")}" +
      (if (renames.isEmpty) "" else s" columnMapping=$renames") +
      plan.flatMap(_.morKey).map(k => s" morMaskOn=$k").getOrElse("") +
      aggAnswer.map { case (legs, _) => s" aggPushed=[${legs.map {
        case MinSpec(c) => s"min($c)"
        case MaxSpec(c) => s"max($c)"
        case CountSpec => "count(*)"
      }.mkString(",")}]" }.getOrElse("")
  }

  /** The pinned snapshot's file groups after manifest-stats pruning
    * against the pushed filters — (manifest name, absolute dir). */
  protected def plannedGroups(): Seq[(String, String)] = plan match {
    case None => Seq.empty
    case Some(p) =>
      val bounds = p.statsCol.map(c => VersionedScan.filterBounds(pushed, c))
      p.groups.filter { case (name, _) =>
        (bounds, p.stats.get(name)) match {
          case (Some((lo, hi)), Some((gLo, gHi))) => gLo <= hi && gHi >= lo
          case _ => true // no stats recorded for the group → conservative
        }
      }
  }

  /** Driver-side planning: manifest → groups → stats pruning →
    * size-packed file bins per group ([[VersionedScan.packPartitions]]);
    * a pushed aggregation plans ONE metadata partition carrying the
    * precomputed answer — nothing is re-resolved, nothing is opened. */
  override def planInputPartitions(): Array[InputPartition] = {
    if (isEmptyTable) return Array.empty
    aggAnswer match {
      case Some((_, vals)) => Array(VersionedAggPartition(vals))
      case None =>
        val conf = SparkSession.active.sessionState.newHadoopConf()
        val groupFiles = plannedGroups().map { case (name, groupDir) =>
          name -> VersionedScan.listParquetFilesWithSize(
            new Path(groupDir), conf)
        }
        VersionedScan.packPartitions(groupFiles,
          SparkSession.active.sparkContext.defaultParallelism)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    if (aggAnswer.isEmpty)
      required.fields.foreach(f =>
        require(f.name == VersionedSource.GroupCol ||
            VersionedSource.isSupportedType(f.dataType),
          s"graft-versioned v1 scope: unsupported column type ${f.dataType} " +
            s"for '${f.name}'"))
    // hadoop Configuration is not serializable as-is; the executor-side
    // reader builds a fresh default Configuration (local/HDFS defaults) —
    // object-store credentials would ride SerializableConfiguration in a
    // cluster deployment
    new VersionedReaderFactory(required, pushed,
      renames.map(_.swap), VersionedScan.evalDefaults(defaults),
      plan.flatMap(_.morKey),
      plan.map(VersionedScan.morVectorFiles(_,
        SparkSession.active.sessionState.newHadoopConf()))
        .getOrElse(Map.empty))
  }

  /** Streaming read: the version log IS the offset log (the Delta
    * streaming-source design) — offset = committed version number, each
    * micro-batch serves the file groups appended in (start, end]. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new VersionedMicroBatchStream(dir, required, pushed)
}

/** Offsets are committed version numbers; planInputPartitions((s, e]) =
  * one partition per parquet file of the groups the append steps
  * s+1..e added ([[Versioned.connectorStreamStep]] — overwrite steps and
  * pending-normalization states refuse loudly). The checkpoint's offset
  * commit gives the consumer exactly-once version consumption: a
  * restarted query resumes at its last committed version and a commit
  * landing mid-run is served incrementally by the next batch. */
private[sources] class VersionedMicroBatchStream(dir: String,
    required: StructType, pushed: Array[Filter])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private case class VOffset(v: Int) extends Offset {
    override def json: String = s"""{"version":$v}"""
  }

  /** Trigger.AvailableNow contract: the end offset is FROZEN at query
    * start — the run drains exactly the versions committed before it
    * began and stops, even while writers keep appending (without this
    * Spark logs the consult-the-developer fallback warning and the run
    * may chase a moving head). */
  @volatile private var frozenEnd: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    frozenEnd = Some(Versioned.latestVersion(dir))
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    VOffset(frozenEnd.getOrElse(Versioned.latestVersion(dir)))

  override def initialOffset(): Offset = VOffset(0)
  override def latestOffset(): Offset = VOffset(Versioned.latestVersion(dir))
  override def deserializeOffset(json: String): Offset =
    VOffset("[0-9]+".r.findFirstIn(json).getOrElse(
      throw new IllegalArgumentException(s"bad offset json: $json")).toInt)

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[VOffset].v, end.asInstanceOf[VOffset].v)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val groupFiles = ((s + 1) to e).flatMap(v =>
      Versioned.connectorStreamStep(dir, v).map(g =>
        new Path(g).getName ->
          VersionedScan.listParquetFilesWithSize(new Path(g), conf)))
    VersionedScan.packPartitions(groupFiles,
      SparkSession.active.sparkContext.defaultParallelism)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new VersionedReaderFactory(required, pushed)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Public bridge for the MV auto-rewrite (graft.plans.MvRewrite): the
  * (table dir, PINNED snapshot version) of a connector scan, or None for
  * scans the rewrite must never touch — the row-level COW scan (its
  * ReplaceData parent needs every row) and anything that is not a
  * versioned-table scan. The version is the one the ScanBuilder pinned
  * at construction, so an MV registered at that exact version rewrites
  * race-free (a commit landing mid-query changes neither side). */
object VersionedMvBridge {
  def scanInfo(scan: org.apache.spark.sql.connector.read.Scan)
      : Option[(String, Int)] = scan match {
    case _: VersionedRowLevelScan => None
    case s: VersionedScan => Some((s.dir, s.version))
    case _ => None
  }
}

private[sources] object VersionedScan {

  /** Per-data-group deletion-vector FILE paths for a pinned snapshot —
    * the read half of [[graft.ops.Versioned.deleteCommitMor]]'s
    * per-group layout (the Iceberg/Delta DV sidecar shape). Each delete
    * dir is either `__tg=<group>`-partitioned (keys pre-routed to the
    * groups whose manifest stats could hold them) or flat legacy (keys
    * apply to every group). Planning is driver-side STRING work — one
    * listing per delete dir, no key is read on the driver, no size cap:
    * each reader task loads only its OWN group's (small) vector,
    * executor-side, exactly like it reads its data file. Untouched
    * groups get no entry and pay zero per-row masking. */
  def morVectorFiles(p: Versioned.ConnectorPlan, conf: Configuration)
      : Map[String, Seq[String]] = {
    if (p.morKey.isEmpty || p.morGroupDirs.isEmpty) return Map.empty
    val flat = scala.collection.mutable.ArrayBuffer.empty[String]
    val byGroup =
      scala.collection.mutable.HashMap.empty[String, Seq[String]]
    // (scope, full file list) per routed delete dir: a data group NOT in
    // a delete's recorded routing scope was appended AFTER the delete —
    // it gets the delete's FULL key union (appends carry delete files
    // forward; a re-inserted key stays masked until applyDeletesCommit,
    // exactly like the ops-layer anti-join — review r16). A missing
    // scope file degrades to full-union-for-everyone: conservative,
    // never under-masks.
    val scoped =
      scala.collection.mutable.ArrayBuffer.empty[(Set[String], Seq[String])]
    p.morGroupDirs.foreach { d =>
      val root = new Path(d)
      val fs = root.getFileSystem(conf)
      val subs = fs.listStatus(root).filter(s =>
        s.isDirectory && s.getPath.getName.startsWith("__tg="))
      if (subs.isEmpty) flat ++= listParquetFiles(root, conf)
      else {
        val perGroup = subs.map { s =>
          s.getPath.getName.stripPrefix("__tg=") ->
            listParquetFiles(s.getPath, conf)
        }
        perGroup.foreach { case (g, fl) =>
          byGroup.update(g, byGroup.getOrElse(g, Seq.empty) ++ fl)
        }
        val scopePath = new Path(root, "_scope")
        val scope: Set[String] =
          if (!fs.exists(scopePath)) Set.empty
          else {
            val in = fs.open(scopePath)
            try scala.io.Source.fromInputStream(in, "UTF-8")
              .getLines().filter(_.nonEmpty).toSet
            finally in.close()
          }
        scoped += ((scope, perGroup.flatMap(_._2).toSeq))
      }
    }
    p.groups.map { case (name, _) =>
      name -> (flat.toSeq ++ byGroup.getOrElse(name, Seq.empty) ++
        scoped.collect {
          case (scope, files) if !scope.contains(name) => files
        }.flatten)
    }.filter(_._2.nonEmpty).toMap
  }

  /** Evaluate the manifest's default literals ONCE, driver-side, into
    * InternalRow-compatible constants the per-file readers fill where a
    * group's physical schema predates the column — the read half of the
    * ANSI DEFAULT feature ([[graft.ops.Versioned.addColumnCommit]]).
    * Literals/types are charset-gated at commit, so the expr text is
    * injection-safe (the withDefaults discipline). */
  def evalDefaults(defaults: Map[String, (String, String)])
      : Map[String, Any] =
    if (defaults.isEmpty) Map.empty
    else {
      val spark = SparkSession.active
      defaults.map { case (name, (tpe, lit)) =>
        val v = spark.range(1)
          .select(org.apache.spark.sql.functions
            .expr(s"CAST('$lit' AS $tpe)"))
          .head().get(0)
        name -> (v match {
          case s: String => UTF8String.fromString(s)
          case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
          case d: java.time.LocalDate => d.toEpochDay.toInt
          // internal micros for TimestampType defaults (r16)
          case t: java.sql.Timestamp =>
            t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L
          case t: java.time.Instant =>
            java.lang.Math.addExact(
              java.lang.Math.multiplyExact(t.getEpochSecond, 1000000L),
              t.getNano / 1000L)
          // internal Decimal at the DECLARED precision/scale (r16)
          case b: java.math.BigDecimal =>
            DataType.fromDDL(tpe) match {
              case dt: DecimalType =>
                org.apache.spark.sql.types.Decimal(
                  b.setScale(dt.scale), dt.precision, dt.scale)
              case _ => org.apache.spark.sql.types.Decimal(b)
            }
          case other => other
        })
      }
    }

  def supportsPushdown(f: Filter): Boolean = f match {
    case EqualTo(_, v) => isAtom(v)
    case GreaterThan(_, v) => isAtom(v)
    case GreaterThanOrEqual(_, v) => isAtom(v)
    case LessThan(_, v) => isAtom(v)
    case LessThanOrEqual(_, v) => isAtom(v)
    case And(l, r) => supportsPushdown(l) && supportsPushdown(r)
    case _ => false
  }

  private def isAtom(v: Any): Boolean = v match {
    case _: Long | _: Int | _: Double | _: Float | _: String | _: Boolean => true
    case _ => false
  }

  /** Conjunctive [lo, hi] bounds the pushed filters imply for `col`
    * (integral comparisons only — the manifest stats are BIGINT). */
  def filterBounds(pushed: Array[Filter], col: String): (Long, Long) = {
    var (lo, hi) = (Long.MinValue, Long.MaxValue)
    def asLong(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case _ => None
    }
    def walk(f: Filter): Unit = f match {
      case EqualTo(c, v) if c == col =>
        asLong(v).foreach { l => lo = math.max(lo, l); hi = math.min(hi, l) }
      case GreaterThan(c, v) if c == col =>
        asLong(v).foreach(l => lo = math.max(lo, l + 1))
      case GreaterThanOrEqual(c, v) if c == col =>
        asLong(v).foreach(l => lo = math.max(lo, l))
      case LessThan(c, v) if c == col =>
        asLong(v).foreach(l => hi = math.min(hi, l - 1))
      case LessThanOrEqual(c, v) if c == col =>
        asLong(v).foreach(l => hi = math.min(hi, l))
      case And(l, r) => walk(l); walk(r)
      case _ => ()
    }
    pushed.foreach(walk)
    (lo, hi)
  }

  /** Data files under a group dir (recursive — OPTIMIZE ZORDER groups
    * are hive-style subdirs), skipping hidden/metadata entries.
    *
    * Listing goes through `listStatus`, NEVER `listFiles`:
    * Hadoop's recursive `listFiles` wraps every entry in a
    * `LocatedFileStatus`, whose constructor EAGERLY loads permissions —
    * on the local filesystem that FORKS A SHELL (`ls -ld`) per file
    * (RawLocalFileSystem.loadPermissionInfoByNonNativeIO). At one fork
    * per file this put ~12 ms × |files| of process-spawn time on the
    * DRIVER per query — a 256-file table spent ~3 s planning a 0.3 s
    * scan (r15 stack-sample). `listStatus` statuses load permissions
    * lazily and we only touch path/length/isDirectory. */
  def listParquetFilesWithSize(root: Path, conf: Configuration)
      : Seq[(String, Long)] = {
    val fs = root.getFileSystem(conf)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def rec(p: Path): Unit = fs.listStatus(p).foreach { s =>
      if (s.isDirectory) rec(s.getPath)
      else {
        val n = s.getPath.getName
        if (n.endsWith(".parquet") && !n.startsWith("_") &&
            !n.startsWith("."))
          out += ((s.getPath.toString, s.getLen))
      }
    }
    rec(root)
    out.toSeq
  }

  def listParquetFiles(root: Path, conf: Configuration): Seq[String] =
    listParquetFilesWithSize(root, conf).map(_._1)

  /** Spark's FilePartition packing shape, per GROUP: bin target =
    * min(128 MB, max(4 MB open cost, totalBytes / parallelism)), files
    * sorted size-descending then greedily binned, each file padded by
    * the open cost so a thousand tiny epoch files do not collapse into
    * one task by byte count alone. Packing never crosses a group — a
    * partition keeps one group's name for metadata-column and
    * deletion-vector attribution, and manifest pruning keeps removing
    * whole partitions. */
  def packPartitions(groupFiles: Seq[(String, Seq[(String, Long)])],
      parallelism: Int): Array[InputPartition] = {
    val openCost = 4L << 20
    // Spark's maxSplitBytes shape EXACTLY (FilePartition.maxSplitBytes):
    // bytesPerCore counts each file PADDED by the open cost — without
    // that term a thousand tiny files yield a tiny target and the bins
    // collapse back to one file each (the regression this replaces)
    val totalPadded = groupFiles.iterator
      .flatMap(_._2.iterator.map(_._2 + openCost)).sum
    val target = math.min(128L << 20,
      math.max(openCost, totalPadded / math.max(1, parallelism)))
    groupFiles.flatMap { case (name, files) =>
      val bins = scala.collection.mutable.ArrayBuffer
        .empty[scala.collection.mutable.ArrayBuffer[String]]
      var cur = scala.collection.mutable.ArrayBuffer.empty[String]
      var curBytes = 0L
      files.sortBy(-_._2).foreach { case (f, len) =>
        // close on RAW length vs target; accumulate padded (Spark's
        // FilePartition.getFilePartitions discipline)
        if (cur.nonEmpty && curBytes + len > target) {
          bins += cur
          cur = scala.collection.mutable.ArrayBuffer.empty[String]
          curBytes = 0L
        }
        cur += f
        curBytes += len + openCost
      }
      if (cur.nonEmpty) bins += cur
      bins.map(b => VersionedFilePartition(b.toSeq, name): InputPartition)
    }.toArray
  }
}

/** `logicalToPhysical` / `defaultValues` / `morKey`+`morVectors` carry
  * the snapshot's pending schema evolution and merge-on-read delete
  * state to the executors (empty on unevolved tables — the common case
  * pays nothing). `morVectors` maps each data group to its deletion-
  * vector FILE paths — strings only; the keys themselves are read by
  * the executor task, never shipped in the task binary. */
private[sources] class VersionedReaderFactory(required: StructType,
    pushed: Array[Filter],
    logicalToPhysical: Map[String, String] = Map.empty,
    defaultValues: Map[String, Any] = Map.empty,
    morKey: Option[String] = None,
    morVectors: Map[String, Seq[String]] = Map.empty)
    extends PartitionReaderFactory {

  /** Columnar for the WHOLE scan iff every required type is in the
    * connector's served set. Deletion vectors no longer force the row
    * path (r16): masked groups ride the vectorized reader with a
    * per-BATCH key probe + survivor compaction
    * ([[VersionedColumnarReader]]) — the whole-scan row fallback cost
    * 4.4× on any table with one pending DV. Agg-pushdown scans plan a
    * single metadata partition — row-based, consistent. */
  private val columnarOk: Boolean =
    required.fields.forall(f => f.name == VersionedSource.GroupCol ||
      VersionedSource.isSupportedType(f.dataType))

  override def supportColumnarReads(p: InputPartition): Boolean = p match {
    case _: VersionedFilePartition => columnarOk
    case _ => false
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = p match {
    case fp: VersionedFilePartition =>
      val vecFiles = morVectors.getOrElse(fp.group, Seq.empty)
      new ChainedReader[ColumnarBatch](fp.files.iterator.map(f => () =>
        new VersionedColumnarReader(f, fp.group, required, pushed,
          logicalToPhysical, defaultValues, morKey, vecFiles)
          : PartitionReader[ColumnarBatch]))
    case other => throw new IllegalStateException(
      s"no columnar read for partition $other")
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case VersionedAggPartition(values) =>
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = { val r = !emitted; emitted = true; r }
          override def get(): InternalRow =
            new GenericInternalRow(values.map(v => v: Any).toArray)
          override def close(): Unit = ()
        }
      case fp: VersionedFilePartition =>
        new ChainedReader[InternalRow](fp.files.iterator.map(f => () =>
          new VersionedPartitionReader(f, fp.group, required, pushed,
            logicalToPhysical, defaultValues, morKey,
            morVectors.getOrElse(fp.group, Seq.empty))
            : PartitionReader[InternalRow]))
    }
}

/** Sequential concatenation of one bin's per-file readers — files open
  * LAZILY (one at a time) so a packed partition never holds more than
  * one decoder's buffers. */
private[sources] class ChainedReader[T](
    parts: Iterator[() => PartitionReader[T]]) extends PartitionReader[T] {
  private var cur: PartitionReader[T] = _
  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (!parts.hasNext) return false
        cur = parts.next()()
      }
      if (cur.next()) return true
      cur.close()
      cur = null
    }
    false // unreachable
  }
  override def get(): T = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
}

/** Executor-side reader: parquet-mr over ONE file, with a projected read
  * schema (column pruning at the parquet layer) and the pushed filters
  * compiled to FilterPredicates (row-group statistics skipping). */
private[sources] class VersionedPartitionReader(file: String, group: String,
    required: StructType, pushed: Array[Filter],
    logicalToPhysical: Map[String, String] = Map.empty,
    defaultValues: Map[String, Any] = Map.empty,
    morKey: Option[String] = None,
    morVectorFiles: Seq[String] = Seq.empty)
    extends PartitionReader[InternalRow] {

  /** The `_group` metadata column is constant per partition (one file =
    * one group) — precomputed once, no per-row work. */
  private val groupValue = UTF8String.fromString(group)

  /** Per-field PHYSICAL name under the snapshot's column mapping
    * (identity on unevolved tables) + the default constant to serve
    * when this file's schema predates the column. Resolved once per
    * reader — the row loop pays array lookups only. */
  private val physName: Array[String] =
    required.fields.map(f => logicalToPhysical.getOrElse(f.name, f.name))
  private val defaultOf: Array[Any] =
    physName.map(n => defaultValues.getOrElse(n, null))

  private val conf = VersionedPartitionReader.freshConf()
  private val path = new Path(file)

  /** The file's own schema — the projection must reuse the file's
    * physical types verbatim, and evolution-added columns missing here
    * are served as NULL. Cached per path: committed files are immutable
    * (the manifest-log discipline), and the builder's own read would
    * otherwise parse the same footer a second time — plus once more per
    * warm bench rep. */
  private val fileSchema: MessageType =
    VersionedPartitionReader.schemaOf(path, conf)

  private val present: Map[String, PrimitiveType] =
    fileSchema.getFields.asScala.collect {
      case p: PrimitiveType => p.getName -> p
    }.toMap

  /** MOR delete mask: the key's PHYSICAL name and THIS GROUP's deletion
    * vector, loaded executor-side from the group's vector files (cached
    * per distinct file list, so the many file-readers of one group on
    * one executor share a single load); null when the snapshot carries
    * no pending deletes or no vector targets this group (the common
    * case — the row loop then pays one null check). */
  private val maskKeyPhys: String =
    if (morVectorFiles.isEmpty) null
    else morKey.map(k => logicalToPhysical.getOrElse(k, k)).orNull
  private val maskSet: MorMask =
    if (maskKeyPhys == null) null
    else VersionedPartitionReader.morMask(morVectorFiles, maskKeyPhys, conf)

  /** Projected physical columns PRESENT in this file, in projection
    * order — [[ValsMaterializer]] slot j holds projCols(j)'s value. The
    * mask key must be read even when not projected by the query. */
  private val projCols: Array[String] = {
    val projNames =
      if (maskKeyPhys == null) physName
      else (physName :+ maskKeyPhys).distinct
    projNames.filter(present.contains)
  }
  private val projIdx: Map[String, Int] = projCols.zipWithIndex.toMap

  private val reader: ParquetReader[Array[Any]] = {
    val projected = projCols.flatMap(present.get)
    if (projected.nonEmpty)
      conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
        new MessageType("projected", projected.toList.asJava.asInstanceOf[
          java.util.List[org.apache.parquet.schema.Type]]).toString)
    // direct slot materialization (ValsReadSupport): no per-row Group
    // tree, no per-row name lookups — the r15 hot-path fix
    val b = ParquetReader.builder(new ValsReadSupport(), path).withConf(conf)
    // pushed filters carry LOGICAL names; the file speaks physical
    VersionedPartitionReader.toParquetPredicate(
      pushed.map(VersionedPartitionReader.toPhysicalFilter(_,
        logicalToPhysical)), present)
      .foreach(p => b.withFilter(FilterCompat.get(p)))
    b.build()
  }

  /** Output plumbing resolved ONCE per file: required field i comes
    * from converter slot srcIdx(i) (≥0), the `_group` metadata constant
    * (-1), or its evolution default / NULL (-2, column physically
    * absent from this file). The served type set is pinned loudly here
    * (the writer's 7 types — the converters' value domain). */
  private val srcIdx: Array[Int] = Array.tabulate(required.length) { i =>
    val f = required.fields(i)
    if (f.name == VersionedSource.GroupCol) -1
    else if (!present.contains(physName(i))) -2
    else {
      f.dataType match {
        case LongType | IntegerType | DoubleType | FloatType | BooleanType
             | DateType | StringType | TimestampType => ()
        case _: DecimalType => ()
        case t => throw new IllegalStateException(s"unreachable type $t")
      }
      projIdx(physName(i))
    }
  }

  private val maskIdx: Int =
    if (maskKeyPhys == null) -1 else projIdx.getOrElse(maskKeyPhys, -1)
  /** TRUE iff the key column's converter slot holds plain boxed
    * Long/Int — the zero-allocation [[LongMorMask]] probe domain. A
    * decimal-annotated INT64/INT32 materializes as [[Decimal]] (r16)
    * and must take the boxed probe. */
  private val maskIsPlainIntegral: Boolean = maskIdx >= 0 && {
    val p = present(maskKeyPhys)
    (p.getPrimitiveTypeName == PrimitiveTypeName.INT64 ||
      p.getPrimitiveTypeName == PrimitiveTypeName.INT32) &&
      !p.getLogicalTypeAnnotation.isInstanceOf[
        LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
  }

  private var current: Array[Any] = _

  /** TRUE iff the row's delete-key value is in the mask — the per-row
    * half of the merge-on-read anti-join ([[graft.ops.Versioned]]'s
    * applyMorDeletes); NULL keys never match (anti-join equality).
    * Integral keys probe the primitive [[LongMorMask]] with ZERO
    * hashing allocation — this runs once per row of every masked
    * group, the big-delete read's hot path. */
  private def isMasked(v: Any): Boolean =
    v != null && (if (maskIsPlainIntegral) v match {
      case l: java.lang.Long => maskSet.containsLong(l)
      case i: java.lang.Integer => maskSet.containsLong(i.toLong)
      case other => maskSet.containsAny(other)
    } else maskSet.containsAny(v))

  override def next(): Boolean = {
    current = reader.read()
    if (maskIdx >= 0)
      while (current != null && isMasked(current(maskIdx)))
        current = reader.read()
    current != null
  }

  override def get(): InternalRow = {
    // `current` is the materializer's reused slot array — copy into a
    // fresh row before the next read overwrites it
    val vals = new Array[Any](required.length)
    var i = 0
    while (i < required.length) {
      val s = srcIdx(i)
      vals(i) =
        if (s >= 0) current(s)
        else if (s == -1) groupValue // metadata column
        else defaultOf(i) // evolution-added column: default literal or NULL
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = reader.close()
}

/** A loaded deletion vector, probe-specialized by key type. The masked
  * read probes once per row of a masked group, so the common integral
  * case must cost no allocation ([[LongMorMask]]); everything else
  * keeps boxed-set semantics ([[AnyMorMask]]). */
private[sources] sealed trait MorMask {
  def containsLong(v: Long): Boolean
  def containsAny(v: Any): Boolean
  /** Stored key count — feeds the cache's byte-shaped clear policy. */
  def size: Long
}

/** Open-addressing primitive long set (linear probing, Murmur3
  * finalizer, load ≤ ~0.66): ~16 bytes/key, zero-allocation probes.
  * 0L is the empty-slot sentinel; key 0 rides a flag. */
private[sources] final class LongMorMask private (table: Array[Long],
    hasZero: Boolean, val size: Long) extends MorMask {
  override def containsLong(v: Long): Boolean = {
    if (v == 0L) return hasZero
    val m = table.length - 1
    var i = (LongMorMask.mix(v) & m).toInt
    var t = table(i)
    while (t != 0L) {
      if (t == v) return true
      i = (i + 1) & m
      t = table(i)
    }
    false
  }
  override def containsAny(v: Any): Boolean = v match {
    case l: Long => containsLong(l)
    case i: Int => containsLong(i.toLong)
    // cross-numeric-type masking parity with the boxed-set era (and with
    // the ops layer's anti-join, which coerces): Scala's cooperative
    // equality made Set[Any](5L).contains(5.0) TRUE, so a DOUBLE data
    // column probing a LONG-built mask must match exact whole values
    // (review r15 — returning false here resurrected deleted rows in
    // connector reads of mixed-typed snapshots)
    case d: Double =>
      d >= Long.MinValue.toDouble && d <= Long.MaxValue.toDouble &&
        d.toLong.toDouble == d && containsLong(d.toLong)
    case f: Float =>
      f >= Long.MinValue.toFloat && f <= Long.MaxValue.toFloat &&
        f.toLong.toFloat == f && containsLong(f.toLong)
    // a DECIMAL key column probing a LONG-built mask (delete files
    // written with BIGINT keys): exact whole values only, like Double
    case d: org.apache.spark.sql.types.Decimal =>
      val b = d.toJavaBigDecimal
      b.stripTrailingZeros.scale <= 0 &&
        b.compareTo(LongMorMask.MinLong) >= 0 &&
        b.compareTo(LongMorMask.MaxLong) <= 0 && containsLong(b.longValueExact)
    case _ => false
  }
}

private[sources] object LongMorMask {
  private val MinLong = java.math.BigDecimal.valueOf(Long.MinValue)
  private val MaxLong = java.math.BigDecimal.valueOf(Long.MaxValue)

  /** Murmur3 64-bit finalizer — full avalanche, so sequential ids
    * (range-generated keys, the common shape) spread uniformly. */
  private[sources] def mix(v: Long): Long = {
    var h = v
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** Build from the first `n` entries of `keys` (duplicates across
    * delete files collapse — the vector is a set). */
  def build(keys: Array[Long], n: Int): LongMorMask = {
    // LONG capacity math: at n ≈ 715M the Int expression n + (n >> 1)
    // overflows and the doubling loop either never terminates or exits
    // at 16 slots and the insert probe spins forever (review r15). A
    // single executor-side vector beyond ~1.4B keys cannot fit a JVM
    // array at this load factor — refuse loudly; that regime means the
    // legacy flat fallback served a multi-billion-key delete and the
    // fix is routed per-group vectors, not a bigger hash table.
    require(n.toLong + (n.toLong >> 1) <= (1L << 30),
      s"deletion vector too large for one reader ($n keys) — " +
        "route per-group (stats on the delete key) instead of the " +
        "flat fallback")
    var cap = 16
    while (cap < n + (n >> 1)) cap <<= 1 // load factor ≤ ~0.66
    val table = new Array[Long](cap)
    val m = cap - 1
    var hasZero = false
    var distinct = 0L
    var k = 0
    while (k < n) {
      val v = keys(k)
      if (v == 0L) {
        if (!hasZero) { hasZero = true; distinct += 1 }
      } else {
        var i = (mix(v) & m).toInt
        var t = table(i)
        var dup = false
        while (t != 0L && !dup) {
          if (t == v) dup = true
          else { i = (i + 1) & m; t = table(i) }
        }
        if (!dup) { table(i) = v; distinct += 1 }
      }
      k += 1
    }
    new LongMorMask(table, hasZero, distinct)
  }
}

/** Boxed fallback for non-integral delete keys (strings, doubles). */
private[sources] final class AnyMorMask(set: Set[Any]) extends MorMask {
  override def containsLong(v: Long): Boolean = set.contains(v)
  override def containsAny(v: Any): Boolean = set.contains(v)
  override def size: Long = set.size.toLong
}

private[sources] object VersionedPartitionReader {

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
    * same vector. Values are normalized to the reader's comparison
    * domain exactly as [[VersionedPartitionReader.isMasked]] extracts
    * row values (INT32 DATE = epoch days, BINARY = UTF8String). NULL
    * keys are excluded: anti-join equality never matches NULL. */
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
        // INTEGRAL keys (the common case — the gated tables key on
        // LONG ids) load into a primitive open-addressing table:
        // ~16 B/key and a boxing-free per-row probe, vs a boxed
        // HashSet's ~60 B/key and an allocation per probe. Mixed or
        // non-integral key types keep the generic set.
        val allLong = {
          val types = files.flatMap(f =>
            schemaOf(new Path(f), conf).getFields.asScala.collectFirst {
              case p: PrimitiveType if p.getName == key => p
            })
          // decimal-annotated INT64/INT32 materializes as Decimal (r16)
          // — it must keep the boxed set, or its keys would be silently
          // dropped from the primitive table and rows would UN-delete
          types.nonEmpty && types.forall(p =>
            (p.getPrimitiveTypeName == PrimitiveTypeName.INT64 ||
              p.getPrimitiveTypeName == PrimitiveTypeName.INT32) &&
              !p.getLogicalTypeAnnotation.isInstanceOf[
                LogicalTypeAnnotation.DecimalLogicalTypeAnnotation])
        }
        val longs = new scala.collection.mutable.ArrayBuilder.ofLong
        val out = scala.collection.mutable.HashSet.empty[Any]
        files.foreach { f =>
          val path = new Path(f)
          val fld = schemaOf(path, conf).getFields.asScala.collectFirst {
            case p: PrimitiveType if p.getName == key => p
          }
          fld.foreach { p =>
            val c = VersionedPartitionReader.freshConf()
            c.set(
              org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
              new MessageType("projected",
                java.util.List.of(p: org.apache.parquet.schema.Type))
                .toString)
            // single-column projection → converter slot 0; value domain
            // matches the partition reader's (Long/Int boxed,
            // UTF8String for BINARY)
            val r = ParquetReader.builder(new ValsReadSupport(), path)
              .withConf(c).build()
            try {
              var arr = r.read()
              while (arr != null) {
                val v = arr(0)
                if (v != null) {
                  if (allLong) v match {
                    case l: Long => longs += l
                    case i: Int => longs += i.toLong
                    case _ => ()
                  }
                  else out += v
                }
                arr = r.read()
              }
            } finally r.close()
          }
        }
        val mask: MorMask =
          if (allLong) {
            val arr = longs.result()
            LongMorMask.build(arr, arr.length)
          } else new AnyMorMask(out.toSet)
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
      present: Map[String, PrimitiveType]): Option[FilterPredicate] = {

    def leaf(c: String, v: Any,
        mk: (String, Any) => FilterPredicate): Option[FilterPredicate] =
      present.get(c).flatMap { p =>
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

// ------------------------------------------------------------------------
// WRITE path: df.write.format("graft-versioned").mode(append|overwrite)
// ------------------------------------------------------------------------

private[sources] class VersionedWriteBuilder(info: LogicalWriteInfo,
    tableOptions: CaseInsensitiveStringMap)
  extends WriteBuilder with SupportsOverwrite {
  private var overwrite = false
  /** mode("overwrite") / INSERT OVERWRITE arrive as truncate or an
    * always-true overwrite filter in DSv2 — both map to a Versioned
    * OVERWRITE commit (new snapshot, history retained). Partial
    * (filtered) overwrites are not a Versioned verb — refused. */
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    require(filters.isEmpty || filters.forall(_ == AlwaysTrue),
      "graft-versioned: only full-table overwrite is supported " +
        s"(got ${filters.mkString(", ")}) — use MERGE/DELETE via ops.Versioned")
    truncate()
  }
  override def build(): Write = new VersionedWrite(info, tableOptions, overwrite)
}

private[sources] class VersionedWrite(info: LogicalWriteInfo,
    tableOptions: CaseInsensitiveStringMap, overwrite: Boolean) extends Write {

  private def opt(k: String): Option[String] =
    Option(info.options().get(k)).orElse(Option(tableOptions.get(k)))

  private def validatedDir(): String = {
    val dir = opt("path").getOrElse(throw new IllegalArgumentException(
      "graft-versioned requires .option(\"path\", <table dir>)"))
    // refused UPFRONT, not at commit: the commit protocol's primitives
    // (hard-link put-if-absent manifests, same-fs ATOMIC_MOVE publish)
    // are local-filesystem operations — an hdfs:///s3a:// path would
    // stage data and then die at commit with a confusing NoSuchFile
    val scheme = new Path(dir).toUri.getScheme
    require(scheme == null || scheme == "file",
      s"graft-versioned v1 write scope: table path must be on the local " +
        s"filesystem (got scheme '$scheme' in '$dir') — the manifest " +
        "put-if-absent primitive is hard-link based")
    info.schema().fields.foreach(f =>
      require(VersionedSource.isSupportedType(f.dataType),
        s"graft-versioned v1 scope: unsupported column type ${f.dataType} " +
          s"for '${f.name}'"))
    dir
  }

  /** Appends onto a renamed table stage their files in PHYSICAL column
    * names ([[graft.ops.Versioned.stagedWriteSchema]] — a name swap in
    * the writer's parquet schema, zero row work); rows arrive
    * positionally so only the staged field names change. A rename
    * commit landing between this resolution and the staged commit fails
    * loudly there (schema mismatch — the OCC discipline). */
  override def toBatch: BatchWrite = {
    val dir = validatedDir()
    new VersionedBatchWrite(
      graft.ops.Versioned.stagedWriteSchema(dir, info.schema(), overwrite),
      dir, overwrite, opt("statsCol"), info.queryId())
  }

  /** Native streaming sink (`writeStream.format("graft-versioned")`) —
    * epoch-keyed exactly-once: each epoch stages its part files under an
    * epoch-unique dir, and the epoch commit publishes them through
    * [[Versioned.commitStagedGroupIdempotent]] under
    * (appId = streaming query id, txnVersion = epochId) — the Delta
    * txnAppId/txnVersion design, so a checkpoint-replayed epoch deletes
    * its re-staged files and commits NOTHING. Append output mode only
    * (a Versioned step is a file-group add). */
  override def toStreaming: StreamingWrite = {
    require(!overwrite,
      "graft-versioned streaming sink is append-only — complete/update " +
        "output modes would overwrite a consumed snapshot per epoch")
    val dir = validatedDir()
    // same physical-name translation as toBatch, resolved once at query
    // start — and that stays CORRECT across any mid-stream ALTER RENAME:
    // renames never change physical names (the column-mapping design),
    // so the stream's logical fields map to their permanent physical
    // names once and every later epoch commits under the then-current
    // mapping (pinned: VersionedSourceSpec "mid-stream ALTER"). Do NOT
    // re-resolve per epoch: a rename-then-reuse (RENAME k→old, ADD
    // COLUMN k) would re-map the stream's stale logical name onto the
    // NEW column and mis-route its data. A mid-stream ADD COLUMN is
    // survived by the staged-commit defaults relaxation instead
    // (graft.ops.Versioned.commitStagedGroup — omitted defaulted
    // columns are filled per group at read time).
    new VersionedStreamingWrite(
      graft.ops.Versioned.stagedWriteSchema(dir, info.schema(),
        overwrite = false),
      dir, opt("statsCol"), info.queryId())
  }
}

/** The streaming half of the write path: one staged dir per epoch
  * (`_staging/s<queryId>-e<epoch>`), published exactly-once via the
  * manifest log's txn high-water mark. `queryId` is the streaming
  * query's STABLE id (Spark passes the checkpoint-persisted id, not the
  * per-run runId), so a restart from the same checkpoint replays epochs
  * idempotently. */
private[sources] class VersionedStreamingWrite(schema: StructType,
    dir: String, statsCol: Option[String], queryId: String)
    extends StreamingWrite {

  private def stagingFor(epochId: Long) = s"$dir/_staging/s$queryId-e$epochId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    VersionedStreamingWriterFactory(schema, s"$dir/_staging/s$queryId")

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val staging = stagingFor(epochId)
    val acked = messages.collect {
      case VersionedCommitMessage(Some(f), _) =>
        java.nio.file.Paths.get(f).getFileName.toString
    }.toSet
    VersionedBatchWrite.dropUnacked(staging, acked)
    if (acked.isEmpty) {
      VersionedBatchWrite.deleteRecursive(staging)
      return // an empty epoch appends nothing — standard sink semantics
    }
    // omitDefaultedOk: the stream's writer schema was fixed at query
    // start, so epoch files legitimately lack a column added by a
    // mid-stream ALTER ADD COLUMN — readers fill its default per group
    Versioned.commitStagedGroupIdempotent(SparkSession.active, dir, staging,
      VersionedStreamingWrite.appIdOf(queryId), epochId, statsCol,
      omitDefaultedOk = true)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    VersionedBatchWrite.deleteRecursive(stagingFor(epochId))
}

private[sources] object VersionedStreamingWrite {
  /** The txn appId recorded in the manifest — namespaced so a batch
    * writer's id can never collide with a stream's. */
  def appIdOf(queryId: String): String = s"stream-$queryId"
}

private[sources] case class VersionedStreamingWriterFactory(
    schema: StructType, stagingPrefix: String)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new VersionedDataWriter(schema,
      s"$stagingPrefix-e$epochId/part-$partitionId-$taskId.parquet")
}

/** Executors stage parquet part files under `<table>/_staging/<queryId>`
  * (same filesystem as `data/`, so the publish is ONE atomic rename);
  * the driver's commit() turns the staged dir into the next version's
  * file group via [[Versioned.commitStagedGroup]] — manifest last, so a
  * failed/aborted job leaves nothing any reader can see. */
private[sources] class VersionedBatchWrite(schema: StructType, dir: String,
    overwrite: Boolean, statsCol: Option[String], queryId: String)
    extends BatchWrite {

  private val staging = s"$dir/_staging/q$queryId"

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    VersionedDataWriterFactory(schema, staging)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // compare by file NAME (unique per partition+task attempt) — the
    // staged path string may differ from the listed path in prefix form
    val acked = messages.collect {
      case VersionedCommitMessage(Some(f), _) =>
        java.nio.file.Paths.get(f).getFileName.toString
    }.toSet
    if (acked.isEmpty) {
      // an empty APPEND is a legitimate no-op (INSERT INTO ... WHERE
      // false must not throw — standard SQL semantics): publish nothing,
      // mint nothing. An empty OVERWRITE genuinely truncates — and a
      // Versioned overwrite to an empty group would be unreadable — so
      // it stays refused.
      require(!overwrite,
        "graft-versioned: empty OVERWRITE refused — an empty result " +
          "would truncate the table to an unreadable empty group")
      VersionedBatchWrite.deleteRecursive(staging)
      return
    }
    // publish ONLY acknowledged files: a crashed/killed/retried task
    // attempt can leave a truncated or duplicate part file in staging
    // without ever running abort() — committing the whole directory
    // would publish duplicated rows or an unreadable file
    VersionedBatchWrite.dropUnacked(staging, acked)
    Versioned.commitStagedGroup(SparkSession.active, dir, staging,
      overwrite, statsCol)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    VersionedBatchWrite.deleteRecursive(staging)
}

private[sources] object VersionedBatchWrite {
  /** Driver-side staging hygiene (local filesystem — gated upfront in
    * [[VersionedWrite]]): delete staged part files no task acknowledged. */
  def dropUnacked(staging: String, acked: Set[String]): Unit = {
    val root = java.nio.file.Paths.get(staging)
    if (!java.nio.file.Files.isDirectory(root)) return
    val s = java.nio.file.Files.list(root)
    try s.iterator().asScala.foreach { p =>
      val n = p.getFileName.toString
      if (n.endsWith(".parquet") && !acked.contains(n))
        java.nio.file.Files.deleteIfExists(p)
    } finally s.close()
  }

  def deleteRecursive(dirPath: String): Unit = {
    val root = java.nio.file.Paths.get(dirPath)
    if (!java.nio.file.Files.isDirectory(root)) return
    val s = java.nio.file.Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally s.close()
  }
}

/** `file` = the task's staged path IFF it wrote rows — the driver's
  * commit publishes only acknowledged files (crash/retry hygiene). */
private[sources] case class VersionedCommitMessage(file: Option[String],
    nRows: Long) extends WriterCommitMessage

private[sources] case class VersionedDataWriterFactory(schema: StructType,
    staging: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new VersionedDataWriter(schema,
      s"$staging/part-$partitionId-$taskId.parquet")
}

/** Per-partition parquet-mr writer; the file is created lazily on the
  * first row, so empty partitions stage nothing. */
private[sources] class VersionedDataWriter(schema: StructType, file: String)
  extends DataWriter[InternalRow] {

  private val messageType = VersionedDataWriter.toMessageType(schema)
  private val factory = new SimpleGroupFactory(messageType)
  /** Fixed-len byte width per big-decimal field, hoisted out of the row
    * loop (it is a constant of the declared precision; review r16). */
  private val decWidth: Array[Int] = schema.fields.map(_.dataType match {
    case d: DecimalType if d.precision > 18 =>
      VersionedDataWriter.minBytesForPrecision(d.precision)
    case _ => 0
  })
  private var writer: ParquetWriter[Group] = _
  private var rows = 0L

  private def ensureWriter(): Unit = if (writer == null) {
    val conf = VersionedPartitionReader.freshConf()
    GroupWriteSupport.setSchema(messageType, conf)
    writer = ExampleParquetWriter.builder(new Path(file)).withConf(conf).build()
  }

  override def write(row: InternalRow): Unit = {
    ensureWriter()
    val g = factory.newGroup()
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) {
        val n = schema.fields(i).name
        schema.fields(i).dataType match {
          case LongType => g.add(n, row.getLong(i))
          case IntegerType => g.add(n, row.getInt(i))
          case DoubleType => g.add(n, row.getDouble(i))
          case FloatType => g.add(n, row.getFloat(i))
          case BooleanType => g.add(n, row.getBoolean(i))
          case DateType => g.add(n, row.getInt(i)) // epoch days = parquet DATE
          case StringType =>
            g.add(n, Binary.fromString(row.getUTF8String(i).toString))
          case TimestampType => g.add(n, row.getLong(i)) // UTC micros = INT64
          case d: DecimalType if d.precision <= 18 =>
            g.add(n, row.getDecimal(i, d.precision, d.scale).toUnscaledLong)
          case d: DecimalType =>
            g.add(n, Binary.fromConstantByteArray(
              VersionedDataWriter.fixedLenBytes(
                row.getDecimal(i, d.precision, d.scale)
                  .toJavaBigDecimal.unscaledValue(),
                decWidth(i))))
          case t => throw new IllegalStateException(s"unreachable type $t")
        }
      }
      i += 1
    }
    writer.write(g)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    VersionedCommitMessage(if (writer != null) Some(file) else None, rows)
  }

  override def abort(): Unit = {
    if (writer != null) writer.close()
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(file))
  }

  override def close(): Unit = ()
}

private[sources] object VersionedDataWriter {

  /** StructType → parquet MessageType with the standard logical
    * annotations (UTF8 strings, DATE int32) — the same physical layout
    * Spark's own writer produces for these types, so Versioned.read and
    * the read connector serve connector-written groups identically. */
  def toMessageType(schema: StructType): MessageType = {
    val b = PTypes.buildMessage()
    schema.fields.foreach { f =>
      val rep = if (f.nullable) Repetition.OPTIONAL else Repetition.REQUIRED
      val prim = f.dataType match {
        case LongType => PTypes.primitive(PrimitiveTypeName.INT64, rep)
        case IntegerType => PTypes.primitive(PrimitiveTypeName.INT32, rep)
        case DoubleType => PTypes.primitive(PrimitiveTypeName.DOUBLE, rep)
        case FloatType => PTypes.primitive(PrimitiveTypeName.FLOAT, rep)
        case BooleanType => PTypes.primitive(PrimitiveTypeName.BOOLEAN, rep)
        case DateType => PTypes.primitive(PrimitiveTypeName.INT32, rep)
          .as(LogicalTypeAnnotation.dateType())
        case StringType => PTypes.primitive(PrimitiveTypeName.BINARY, rep)
          .as(LogicalTypeAnnotation.stringType())
        // UTC-adjusted micros — the layout Spark's own writer produces
        // for TimestampType with outputTimestampType=TIMESTAMP_MICROS
        case TimestampType => PTypes.primitive(PrimitiveTypeName.INT64, rep)
          .as(LogicalTypeAnnotation.timestampType(true,
            LogicalTypeAnnotation.TimeUnit.MICROS))
        // Spark's modern decimal layout: INT64 unscaled while the
        // precision fits, minimal fixed-len binary past 18 digits
        case d: DecimalType if d.precision <= 18 =>
          PTypes.primitive(PrimitiveTypeName.INT64, rep)
            .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
        case d: DecimalType =>
          PTypes.primitive(PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY, rep)
            .length(minBytesForPrecision(d.precision))
            .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
        case t => throw new IllegalArgumentException(
          s"graft-versioned write: unsupported type $t for '${f.name}'")
      }
      b.addField(prim.named(f.name))
    }
    b.named("graft_versioned")
  }

  /** Smallest two's-complement byte width holding any `precision`-digit
    * unscaled decimal (Spark's fixed-len decimal sizing rule). */
  def minBytesForPrecision(precision: Int): Int = {
    var numBytes = 1
    while (math.pow(2.0, 8 * numBytes - 1) < math.pow(10.0, precision))
      numBytes += 1
    numBytes
  }

  /** Unscaled value as the exact `width`-byte two's-complement array the
    * FIXED_LEN_BYTE_ARRAY layout stores (sign-extended left padding). */
  def fixedLenBytes(unscaled: java.math.BigInteger, width: Int): Array[Byte] = {
    val minimal = unscaled.toByteArray
    require(minimal.length <= width,
      s"decimal unscaled value needs ${minimal.length} bytes > width $width")
    if (minimal.length == width) minimal
    else {
      val out = new Array[Byte](width)
      val pad: Byte = if (unscaled.signum() < 0) -1 else 0
      java.util.Arrays.fill(out, 0, width - minimal.length, pad)
      System.arraycopy(minimal, 0, out, width - minimal.length, minimal.length)
      out
    }
  }
}
