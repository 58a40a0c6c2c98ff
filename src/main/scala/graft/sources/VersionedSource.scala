package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalOutputFile, OutputFile}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, GenericInternalRow, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

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
  * InputPartition per size-packed bin of one group's parquet files.
  *
  * Execution (per partition): Spark's own vectorized parquet reader
  * decodes each file ([[VersionedColumnarReader]]) — column pruning via
  * the requested schema (only requested columns are materialized) and
  * the pushed filters compiled to parquet FilterPredicates, so row
  * groups whose column statistics exclude the predicate are skipped at
  * the parquet layer. All pushed filters are ALSO retained as
  * Spark-side residuals (pushFilters returns every filter), so
  * connector pruning is a pure performance layer — exactly parquet's
  * own row-group-statistics contract. Writes stage their part files
  * through Spark's own parquet write support ([[VersionedDataWriter]]).
  *
  * EVERY pending table state is served IN the scan (round 15): column
  * renames ride as a logical↔physical name mapping applied per file,
  * metadata-only dropped columns are projected out, initial-default
  * columns are literal-filled for file groups whose physical schema
  * predates them, and pending merge-on-read deletes ride as PER-GROUP
  * DELETION VECTORS (round 16 — the Iceberg/Delta DV sidecar shape):
  * each reader loads only its OWN group's vector executor-side and
  * masks rows batch by batch, nothing collected on the driver, no size
  * cap. The version's planning state comes from
  * [[Versioned.connectorPlan]], so ALTERed and MOR-deleted tables read
  * with zero data rewritten and nothing refused. This scan is the only
  * reader of every Versioned data and delete file: the ops layer's reads
  * ([[Versioned.read]], its pruned and change-feed variants and the
  * delete-key reads) are frames over the same relation
  * ([[VersionedRead]]). Column types: the
  * atomic types and arrays, maps and structs of them
  * ([[VersionedSource.isSupportedType]]).
  */
class VersionedSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-versioned"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (dir, version) = VersionedSource.pathAndVersion(options)
    VersionedSource.servedSchema(SparkSession.active,
      Versioned.connectorPlan(dir, version))
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

  /** The connector's served type set: the types
    * [[VersionedColumnarReader]] decodes and compacts — the atomic types
    * and arrays, maps and structs of them, at any nesting. It reads no
    * session conf, so what a table can serve does not depend on the
    * session. One predicate gates the reader factory (batch,
    * micro-batch and row-level scans), the writers and the catalog. */
  def isSupportedType(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | DateType | TimestampType |
        TimestampNTZType | BinaryType | _: StringType | _: DecimalType |
        _: YearMonthIntervalType | _: DayTimeIntervalType => true
    case ArrayType(et, _) => isSupportedType(et)
    case MapType(kt, vt, _) => isSupportedType(kt) && isSupportedType(vt)
    case st: StructType => st.fields.forall(f => isSupportedType(f.dataType))
    case _ => false
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

  /** The LOGICAL schema a version serves: the recorded DDL of a
    * TRUNCATE tombstone (no groups to read), else the physical union,
    * plus metadata-only added columns no group carries yet (typed by
    * their recorded SQL type), minus metadata-only drops, under the
    * column mapping (defaults → drops → renames). */
  def servedSchema(spark: SparkSession, p: Versioned.ConnectorPlan)
      : StructType = {
    if (p.isTombstone) return StructType.fromDDL(p.schemaDdl.get)
    val withDefaults = p.defaults.toSeq.sortBy(_._1)
      .foldLeft(mergedGroupSchema(spark, p.groups.map(_._2))) {
        case (st, (name, (tpe, _))) =>
          if (st.fieldNames.contains(name)) st
          else StructType(st.fields :+ StructField(name, DataType.fromDDL(tpe)))
      }
    StructType(withDefaults.fields.filterNot(f => p.drops.contains(f.name))
      .map(f => p.renames.get(f.name).map(l => f.copy(name = l)).getOrElse(f)))
  }
}

/** A snapshot the ops layer pinned before building its relation: the
  * version's planning state, narrowed to a group subset when `subset`
  * (a pruned read, a change-feed step or the delete keys). */
private[sources] final case class Pinned(plan: Versioned.ConnectorPlan,
    subset: Boolean)

/** The ops layer's reads ([[Versioned.read]], its pruned and change-feed
  * variants, the delete fold's group rewrite, the delete keys): a DataFrame
  * over the connector's own relation, built directly — no format
  * lookup, no read options — and pinned to `plan`. `groups` narrows the
  * scan to those manifest groups while the schema stays the version's,
  * so a subset frame lines up with every other read of the version. */
object VersionedRead {
  def frame(spark: SparkSession, dir: String, plan: Versioned.ConnectorPlan,
      groups: Option[Seq[String]] = None): DataFrame = {
    val options = new CaseInsensitiveStringMap(java.util.Map.of("path", dir))
    val pinned = groups.map(_.toSet) match {
      case None => Pinned(plan, subset = false)
      case Some(keep) =>
        Pinned(plan.copy(groups = plan.groups.filter(g => keep(g._1))),
          subset = true)
    }
    val table = new VersionedTable(VersionedSource.servedSchema(spark, plan),
      options, Some(pinned))
    GraftSqlShims.ofRows(spark,
      DataSourceV2Relation.create(table, None, None, options))
  }
}

private[sources] class VersionedTable(tableSchema: StructType,
    options: CaseInsensitiveStringMap, pinned: Option[Pinned] = None)
    extends Table
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
    new VersionedScanBuilder(tableSchema, new CaseInsensitiveStringMap(merged),
      pinned)
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
    options: CaseInsensitiveStringMap, pinned: Option[Pinned] = None)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  /** Snapshot PIN: 'latest' resolves to a concrete version exactly ONCE,
    * at builder construction — schema gating, the aggregate answer, and
    * execution planning all serve this one snapshot even when commits
    * land mid-query (the Delta/Iceberg snapshot-pinning contract; a
    * re-resolving scan could plan against one version and execute
    * against another). 0 = a CREATEd table with no commits yet, a valid
    * empty table. An ops-layer read arrives already [[Pinned]]. */
  private val resolved: (String, Int) = {
    val (d, v) = VersionedSource.pathAndVersion(options)
    (d, pinned.map(_.plan.version)
      .getOrElse(if (v != 0) v else Versioned.latestVersion(d)))
  }
  protected def dir: String = resolved._1
  protected def pinnedVersion: Int = resolved._2

  /** The pinned snapshot's complete planning state (groups, stats,
    * pending renames/drops/defaults, MOR delete state) — resolved once
    * with the pin; the scan serves every pending normalization per
    * file, zero data rewritten. None = valid empty table. */
  protected val plan: Option[Versioned.ConnectorPlan] =
    pinned.map(_.plan).orElse(
      if (pinnedVersion == 0) None
      else Some(Versioned.connectorPlan(dir, pinnedVersion)))

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
    new VersionedScan(dir, pinnedVersion, fullSchema, required, pushed,
      aggAnswer, plan,
      subset = pinned.exists(_.subset))
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
  * data rewritten. `subset`: the plan holds only some of the version's
  * groups. */
private[sources] class VersionedScan(val dir: String, val version: Int,
    fullSchema: StructType, val required: StructType, val pushed: Array[Filter],
    aggAnswer: Option[(Seq[AggSpec], Seq[Long])] = None,
    plan: Option[Versioned.ConnectorPlan] = None,
    val subset: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics {

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

  /** The planned groups' parquet files with their lengths, listed once
    * per scan (committed groups are immutable) for the optimizer's
    * statistics and the partition planning alike. */
  protected lazy val plannedFiles: Seq[(String, Seq[(String, Long)])] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    plannedGroups().map { case (name, groupDir) =>
      name -> VersionedScan.listParquetFilesWithSize(new Path(groupDir), conf)
    }
  }

  /** Spark's parquet `FileScan` estimate, so a join with a small
    * versioned read still broadcasts at plan time: the planned files'
    * bytes scaled to the read columns' share of a row. No row count —
    * a pending deletion vector hides rows the manifest counts. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(
        if (isEmptyTable || aggAnswer.isDefined) readSchema().defaultSize
        else (SQLConf.get.fileCompressionFactor * readSchema().defaultSize *
          plannedFiles.iterator.flatMap(_._2).map(_._2).sum /
          math.max(1, fullSchema.defaultSize)).toLong)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }

  /** Driver-side planning: manifest → groups → stats pruning →
    * size-packed file bins per group ([[VersionedScan.packPartitions]]);
    * a pushed aggregation plans ONE metadata partition carrying the
    * precomputed answer — nothing is re-resolved, nothing is opened. */
  override def planInputPartitions(): Array[InputPartition] = {
    if (isEmptyTable) return Array.empty
    aggAnswer match {
      case Some((_, vals)) => Array(VersionedAggPartition(vals))
      case None => VersionedScan.packPartitions(plannedFiles,
        SparkSession.active.sparkContext.defaultParallelism)
    }
  }

  /** `readSchema()` is the metadata answer's BIGINT legs when an
    * aggregate was pushed — no data column is read, so none is gated. */
  override def createReaderFactory(): PartitionReaderFactory =
    // hadoop Configuration is not serializable as-is; the executor-side
    // reader builds a fresh default Configuration (local/HDFS defaults) —
    // object-store credentials would ride SerializableConfiguration in a
    // cluster deployment
    new VersionedReaderFactory(readSchema(), pushed,
      renames.map(_.swap), VersionedScan.evalDefaults(defaults),
      plan.flatMap(_.morKey),
      plan.map(VersionedScan.morVectorFiles(_,
        SparkSession.active.sessionState.newHadoopConf()))
        .getOrElse(Map.empty))

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
  * ReplaceData parent needs every row), a group-subset scan (its rows
  * are not the version's) and anything that is not a versioned-table
  * scan. The version is the one the ScanBuilder pinned at construction,
  * so an MV registered at that exact version rewrites race-free (a
  * commit landing mid-query changes neither side). */
object VersionedMvBridge {
  def scanInfo(scan: org.apache.spark.sql.connector.read.Scan)
      : Option[(String, Int)] = scan match {
    case _: VersionedRowLevelScan => None
    case s: VersionedScan if !s.subset => Some((s.dir, s.version))
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
    // forward; a re-inserted key stays masked until applyDeletesCommit —
    // review r16). A missing scope file degrades to full-union-for-
    // everyone: conservative, never under-masks.
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
    * the internal-format constants the per-file readers fill where a
    * group's physical schema predates the column — the read half of the
    * ANSI DEFAULT feature ([[graft.ops.Versioned.addColumnCommit]]): the
    * CAST the commit probed, folded without a Spark job. */
  def evalDefaults(defaults: Map[String, (String, String)])
      : Map[String, Any] =
    defaults.map { case (name, (tpe, lit)) =>
      name -> Cast(Literal(lit), DataType.fromDDL(tpe),
        Some(SQLConf.get.sessionLocalTimeZone)).eval()
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
  * the executor task, never shipped in the task binary.
  *
  * The ONE read-side type gate: batch, micro-batch and row-level COW
  * scans all build their readers here, so each refuses a column outside
  * the connector's served set at planning, before any task runs. Every
  * file partition is then read columnar ([[VersionedColumnarReader]]);
  * the only row partition is the answered-from-manifest aggregate. */
private[sources] class VersionedReaderFactory(required: StructType,
    pushed: Array[Filter],
    logicalToPhysical: Map[String, String] = Map.empty,
    defaultValues: Map[String, Any] = Map.empty,
    morKey: Option[String] = None,
    morVectors: Map[String, Seq[String]] = Map.empty)
    extends PartitionReaderFactory {

  required.fields.foreach(f =>
    require(f.name == VersionedSource.GroupCol ||
        VersionedSource.isSupportedType(f.dataType),
      s"graft-versioned v1 scope: unsupported column type ${f.dataType} " +
        s"for '${f.name}'"))

  override def supportColumnarReads(p: InputPartition): Boolean =
    p.isInstanceOf[VersionedFilePartition]

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
      case other => throw new IllegalStateException(
        s"no row read for partition $other")
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

private[graft] object MorMask {
  /** Key types compared as longs — the [[LongMorMask]] domain: integral
    * ids, DATE epoch days, TIMESTAMP and TIMESTAMP_NTZ micros. */
  def isLongDomain(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType | DateType |
        TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Row `i`'s key in the mask's comparison domain, as the deletion-
    * vector load takes it and the per-batch probe compares it. A type
    * with no branch fails loudly: answering "not deleted" for a key it
    * cannot compare would silently UN-delete rows. */
  def valueAt(t: DataType): (ColumnVector, Int) => Any = t match {
    case LongType | TimestampType | TimestampNTZType => (v, i) => v.getLong(i)
    case IntegerType | DateType => (v, i) => v.getInt(i).toLong
    case ShortType => (v, i) => v.getShort(i).toLong
    case ByteType => (v, i) => v.getByte(i).toLong
    case DoubleType => (v, i) => v.getDouble(i)
    case FloatType => (v, i) => v.getFloat(i)
    case BooleanType => (v, i) => v.getBoolean(i)
    case StringType => (v, i) => v.getUTF8String(i)
    case d: DecimalType => (v, i) => v.getDecimal(i, d.precision, d.scale)
    case other => throw new IllegalStateException(
      s"deletion-vector probe has no branch for key type $other")
  }
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
    // Spark's join equality, which coerces): Scala's cooperative
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

/** Boxed fallback for non-integral delete keys (strings, doubles).
  * Membership is Scala's cooperative `==`, which already equates -0.0
  * and 0.0 as Spark's join keys do; NaN keys are canonicalized on build
  * and probe alike, since `==` never matches NaN but Spark's join
  * equality (an anti-join's) does. */
private[sources] final class AnyMorMask(keys: Iterable[Any]) extends MorMask {
  private val set: Set[Any] = keys.iterator.map(AnyMorMask.canonical).toSet
  override def containsLong(v: Long): Boolean = set.contains(v)
  override def containsAny(v: Any): Boolean =
    set.contains(AnyMorMask.canonical(v))
  override def size: Long = set.size.toLong
}

private[sources] object AnyMorMask {
  private case object NaN
  def canonical(v: Any): Any = v match {
    case d: Double if d.isNaN => NaN
    case f: Float if f.isNaN => NaN
    case other => other
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
      dir, overwrite, opt("statsCol"), statsImage, info.queryId())
  }

  /** The `statsCol` option's BIGINT image over the staged rows, bound
    * through the logical schema: the staged fields are its fields
    * renamed position by position. */
  private def statsImage: Seq[(String, Expression)] =
    opt("statsCol").toSeq
      .flatMap(VersionedDataWriter.statsImage(info.schema(), _))

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
      dir, opt("statsCol"), statsImage, info.queryId())
  }
}

/** The streaming half of the write path: one staged dir per epoch
  * (`_staging/s<queryId>-e<epoch>`), published exactly-once via the
  * manifest log's txn high-water mark. `queryId` is the streaming
  * query's STABLE id (Spark passes the checkpoint-persisted id, not the
  * per-run runId), so a restart from the same checkpoint replays epochs
  * idempotently. */
private[sources] class VersionedStreamingWrite(schema: StructType,
    dir: String, statsCol: Option[String], stats: Seq[(String, Expression)],
    queryId: String) extends StreamingWrite {

  private def stagingFor(epochId: Long) = s"$dir/_staging/s$queryId-e$epochId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    VersionedStreamingWriterFactory(VersionedDataWriter.conf(schema),
      s"$dir/_staging/s$queryId", stats)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val staging = stagingFor(epochId)
    val written = VersionedBatchWrite.written(messages)
    VersionedBatchWrite.dropUnacked(staging, written)
    if (written.isEmpty) {
      VersionedBatchWrite.deleteRecursive(staging)
      return // an empty epoch appends nothing — standard sink semantics
    }
    // omitDefaultedOk: the stream's writer schema was fixed at query
    // start, so epoch files legitimately lack a column added by a
    // mid-stream ALTER ADD COLUMN — readers fill its default per group
    Versioned.commitStagedGroupIdempotent(SparkSession.active, dir, staging,
      VersionedStreamingWrite.appIdOf(queryId), epochId, written, statsCol,
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
    writeConf: Map[String, String], stagingPrefix: String,
    stats: Seq[(String, Expression)]) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new VersionedDataWriter(writeConf,
      s"$stagingPrefix-e$epochId/part-$partitionId-$taskId.parquet", stats)
}

/** Executors stage parquet part files under `<table>/_staging/<queryId>`
  * (same filesystem as `data/`, so the publish is ONE atomic rename);
  * the driver's commit() turns the staged dir into the next version's
  * file group via [[Versioned.commitStagedGroup]] — manifest last, so a
  * failed/aborted job leaves nothing any reader can see. */
private[sources] class VersionedBatchWrite(schema: StructType, dir: String,
    overwrite: Boolean, statsCol: Option[String],
    stats: Seq[(String, Expression)], queryId: String) extends BatchWrite {

  private val staging = s"$dir/_staging/q$queryId"

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    VersionedDataWriterFactory(VersionedDataWriter.conf(schema), staging, stats)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val written = VersionedBatchWrite.written(messages)
    if (written.isEmpty) {
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
    VersionedBatchWrite.dropUnacked(staging, written)
    Versioned.commitStagedGroup(SparkSession.active, dir, staging, written,
      overwrite, statsCol)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    VersionedBatchWrite.deleteRecursive(staging)
}

private[sources] object VersionedBatchWrite {
  /** The acknowledged messages: those of the tasks that staged a file. */
  def written(messages: Array[WriterCommitMessage])
      : Seq[VersionedCommitMessage] =
    messages.toSeq.collect {
      case m @ VersionedCommitMessage(Some(_), _, _) => m }

  /** Driver-side staging hygiene (local filesystem — gated upfront in
    * [[VersionedWrite]]): delete staged part files no task acknowledged,
    * compared by file NAME (unique per partition and task attempt) — the
    * staged path string may differ from the listed path in prefix form. */
  def dropUnacked(staging: String, written: Seq[VersionedCommitMessage])
      : Unit = {
    val acked =
      written.map(m => java.nio.file.Paths.get(m.file.get).getFileName.toString)
        .toSet
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
  * commit publishes only acknowledged files (crash/retry hygiene);
  * `nRows` its row count, the group's exact manifest `counts` entry;
  * `stats` the [min, max] of each stats column's BIGINT image
  * ([[VersionedDataWriter.statsImage]]) over the file's non-NULL
  * images, by column name — reduced on the driver into the manifest's
  * `stats` and `stats2` without re-reading the file. */
final case class VersionedCommitMessage(file: Option[String], nRows: Long,
    stats: Map[String, (Long, Long)] = Map.empty) extends WriterCommitMessage

object VersionedCommitMessage {
  /** Per stats column, the [min, max] over every file of `messages`; a
    * column no file holds a non-NULL image of has no entry. */
  def ranges(messages: Seq[VersionedCommitMessage])
      : Map[String, (Long, Long)] =
    messages.flatMap(_.stats)
      .groupMapReduce(_._1)(_._2) { case ((lo1, hi1), (lo2, hi2)) =>
        (math.min(lo1, lo2), math.max(hi1, hi2)) }
}

private[sources] case class VersionedDataWriterFactory(
    writeConf: Map[String, String], staging: String,
    stats: Seq[(String, Expression)]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new VersionedDataWriter(writeConf,
      s"$staging/part-$partitionId-$taskId.parquet", stats)
}

/** The one writer of Versioned data and delete groups: the connector's
  * batch, streaming and row-level writes build it through their
  * factories, and the ops layer's verbs through [[VersionedWriter.stage]].
  * Rows go through Spark's own [[ParquetWriteSupport]] — the row encoder
  * `df.write.parquet` uses, so staged files carry exactly the layout
  * Spark's readers expect — into a plain local file: no Hadoop
  * FileSystem, so no checksum sidecar and no permission fork. The file
  * is created lazily on the first row, so empty partitions stage
  * nothing; `commit` adds the file's rows and bytes to the task's output
  * metrics. `stats` are (column, BIGINT image bound to the written row)
  * pairs whose min/max the writer tracks as the rows pass. */
private[sources] class VersionedDataWriter(writeConf: Map[String, String],
    file: String, stats: Seq[(String, Expression)])
    extends DataWriter[InternalRow] {

  private var writer: ParquetWriter[InternalRow] = _
  private var rows = 0L
  private val image =
    if (stats.isEmpty) null else UnsafeProjection.create(stats.map(_._2))
  // lo > hi until a non-NULL image arrives
  private val lo = Array.fill(stats.size)(Long.MaxValue)
  private val hi = Array.fill(stats.size)(Long.MinValue)

  override def write(row: InternalRow): Unit = {
    if (image != null) {
      val r = image(row)
      for (i <- lo.indices if !r.isNullAt(i)) {
        lo(i) = math.min(lo(i), r.getLong(i))
        hi(i) = math.max(hi(i), r.getLong(i))
      }
    }
    if (writer == null) writer = VersionedDataWriter.open(file, writeConf)
    writer.write(row)
    rows += 1
  }

  override def commit(): VersionedCommitMessage = {
    if (writer == null) return VersionedCommitMessage(None, 0L)
    writer.close()
    org.apache.spark.GraftSparkShims.addTaskOutput(
      java.nio.file.Files.size(java.nio.file.Paths.get(file)), rows)
    VersionedCommitMessage(Some(file), rows, stats.indices
      .collect { case i if lo(i) <= hi(i) => stats(i)._1 -> (lo(i), hi(i)) }
      .toMap)
  }

  override def abort(): Unit = {
    if (writer != null) writer.close()
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(file))
  }

  override def close(): Unit = ()
}

private[sources] object VersionedDataWriter {

  /** The write configuration, built once on the driver: the row schema
    * (nullable, as Spark's file sources write it, and with field
    * metadata dropped, so a footer serves the plain Catalyst types) plus
    * the format choices pinned as constants rather than read from the
    * session: SNAPPY pages, the standard (non-legacy) decimal layout and
    * UTC-adjusted INT64 TIMESTAMP(MICROS). Spark's schema converter reads
    * the last two keys unconditionally; neither matters here (no field
    * carries an id, none is a variant). */
  def conf(schema: StructType): Map[String, String] = Map(
    ParquetWriteSupport.SPARK_ROW_SCHEMA ->
      GraftSqlShims.asNullable(
        StructType(schema.map(_.copy(metadata = Metadata.empty)))).json,
    ParquetOutputFormat.COMPRESSION -> CompressionCodecName.SNAPPY.name,
    SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key -> "false",
    SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key -> "TIMESTAMP_MICROS",
    SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key -> "false",
    SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key -> "false")

  /** The BIGINT image the manifest records for stats column `c`, bound
    * to a row of `schema`: `try_cast(c AS BIGINT)` for a numeric or
    * timestamp column (1-D `stats`; other columns have none and record
    * no stats), or with `strict` `cast(c AS BIGINT)` under the session's
    * ANSI mode (the Z-order `stats2`). A missing column fails the write
    * before any row is written. */
  def statsImage(schema: StructType, c: String, strict: Boolean = false)
      : Option[(String, Expression)] = {
    val i = schema.fields.indexWhere(f => SQLConf.get.resolver(f.name, c))
    require(i >= 0, s"stats column $c is not in the written columns " +
      schema.fieldNames.mkString("[", ", ", "]"))
    val ref = BoundReference(i, schema(i).dataType, schema(i).nullable)
    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    schema(i).dataType match {
      case _ if strict => Some(c -> Cast(ref, LongType, tz))
      case _: NumericType | TimestampType =>
        Some(c -> Cast(ref, LongType, tz, EvalMode.TRY))
      case _ => None
    }
  }

  private class Builder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration)
        : WriteSupport[InternalRow] = new ParquetWriteSupport()
  }

  def open(file: String, writeConf: Map[String, String])
      : ParquetWriter[InternalRow] = {
    val conf = VersionedColumnarReader.freshConf()
    writeConf.foreach { case (k, v) => conf.set(k, v) }
    val path = java.nio.file.Paths.get(file)
    java.nio.file.Files.createDirectories(path.getParent)
    new Builder(new LocalOutputFile(path)).withConf(conf)
      .withCompressionCodec(CompressionCodecName.valueOf(
        writeConf(ParquetOutputFormat.COMPRESSION)))
      .build()
  }
}

/** The ops layer's write primitive: stage a DataFrame's rows as parquet
  * part files under a staging dir through [[VersionedDataWriter]], for
  * the caller to move into place as one file group. */
object VersionedWriter {

  /** Run `df`'s plan as ONE SQL execution (AQE plans its final stage;
    * QueryExecutionListeners see it) whose tasks each write their rows
    * to `stagingDir/part-<partition>-<task>.parquet`, and return the
    * tasks' messages (file, row count). An unpartitioned write that
    * produced no file stages one empty file carrying the schema, as
    * Spark's file writer does, so an empty group still reads.
    *
    * With `partitionCol`, each task's input must be clustered on that
    * column (sorted within partitions): the task rolls to a new file
    * under `<col>=<value>/` (Spark's partition-path escaping) at each
    * value change, and the column is left out of the files — the layout
    * `partitionBy` writes. A value that reappears after the task moved
    * past it fails the write.
    *
    * Each file's message carries the min/max of the `statsCols`' BIGINT
    * images ([[VersionedDataWriter.statsImage]], `strictStats` as its
    * `strict`), so the caller records manifest statistics without
    * reading the group back. */
  def stage(df: DataFrame, stagingDir: String,
      partitionCol: Option[String] = None, statsCols: Seq[String] = Nil,
      strictStats: Boolean = false): Seq[VersionedCommitMessage] = {
    val schema = df.schema
    val partIdx = partitionCol.map(schema.fieldIndex)
    val dataIdx = schema.indices.filterNot(partIdx.contains)
    val dataSchema = StructType(dataIdx.map(schema(_)))
    val writeConf = VersionedDataWriter.conf(dataSchema)
    val stats = statsCols.flatMap(
      VersionedDataWriter.statsImage(dataSchema, _, strictStats))
    val tz = SQLConf.get.sessionLocalTimeZone
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stagingDir))
    val qe = df.queryExecution
    val messages = SQLExecution.withNewExecutionId(qe, Some("stage")) {
      df.sparkSession.sparkContext.runJob(qe.toRdd,
        (ctx: TaskContext, rows: Iterator[InternalRow]) => {
          val name = s"part-${ctx.partitionId}-${ctx.taskAttemptId}.parquet"
          partIdx match {
            case None =>
              writeAll(new VersionedDataWriter(writeConf,
                s"$stagingDir/$name", stats), rows).toSeq
            case Some(pi) =>
              writeClustered(rows, schema, pi, dataIdx, tz, writeConf,
                stats, stagingDir, name)
          }
        }).toSeq.flatten
    }
    if (partIdx.isEmpty && messages.forall(_.file.isEmpty)) {
      val empty = s"$stagingDir/part-empty.parquet"
      VersionedDataWriter.open(empty, writeConf).close()
      Seq(VersionedCommitMessage(Some(empty), 0L))
    } else messages.filter(_.file.isDefined)
  }

  private def writeAll(w: VersionedDataWriter, rows: Iterator[InternalRow])
      : Option[VersionedCommitMessage] =
    try {
      rows.foreach(w.write)
      Some(w.commit())
    } catch { case t: Throwable => w.abort(); throw t }

  private def writeClustered(rows: Iterator[InternalRow], schema: StructType,
      partIdx: Int, dataIdx: Seq[Int], tz: String,
      writeConf: Map[String, String], stats: Seq[(String, Expression)],
      stagingDir: String, name: String)
      : Seq[VersionedCommitMessage] = {
    val col = schema(partIdx)
    val valueOf = Cast(BoundReference(partIdx, col.dataType, col.nullable),
      StringType, Some(tz))
    val project = UnsafeProjection.create(
      dataIdx.map(i => BoundReference(i, schema(i).dataType, schema(i).nullable)))
    val out = scala.collection.mutable.ArrayBuffer.empty[VersionedCommitMessage]
    val done = scala.collection.mutable.HashSet.empty[String]
    var current: String = null
    var w: VersionedDataWriter = null
    try {
      rows.foreach { row =>
        val dirName = ExternalCatalogUtils.getPartitionPathString(col.name,
          Option(valueOf.eval(row)).map(_.toString).orNull)
        if (dirName != current) {
          if (w != null) { out += w.commit(); done += current }
          require(!done(dirName), s"staged write partitioned on '${col.name}'" +
            s" needs input clustered on it: $dirName reappeared")
          current = dirName
          w = new VersionedDataWriter(writeConf,
            s"$stagingDir/$dirName/$name", stats)
        }
        w.write(project(row))
      }
      if (w != null) out += w.commit()
      out.toSeq
    } catch { case t: Throwable => if (w != null) w.abort(); throw t }
  }
}
