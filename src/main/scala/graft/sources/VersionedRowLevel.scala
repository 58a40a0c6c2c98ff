package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{InputPartition, ScanBuilder, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Versioned

/** GROUP-BASED copy-on-write row-level operations — the engine behind
  * SQL `UPDATE`, `MERGE INTO`, and predicate `DELETE` on Versioned
  * tables (Iceberg's COW `ReplaceData` design, public):
  *
  *  1. Spark's row-level rewrite rules (RewriteUpdateTable /
  *     RewriteMergeIntoTable / RewriteDeleteFromTable) plan a scan over
  *     this operation plus a ReplaceData write of the transformed rows.
  *  2. Runtime group filtering (RowLevelOperationRuntimeGroupFiltering)
  *     runs the condition as a regular batch scan projecting the
  *     [[VersionedSource.GroupCol]] metadata column, collects
  *     `DISTINCT _group` of the MATCHING rows, and hands it to this
  *     scan as a runtime IN filter — so only file groups that actually
  *     hold matches are read and rewritten (COW narrowing: a MERGE
  *     against a 100 TB table that touches one group rewrites one
  *     group).
  *  3. The write stages the replacement rows and commits via
  *     [[Versioned.replaceGroupsStagedCommit]]: new manifest = parent
  *     groups MINUS the groups this scan planned PLUS the staged group,
  *     carried stats/counts verbatim, snapshot-conflict-checked against
  *     the version the scan pinned.
  *
  * One operation instance spans the statement; it carries the pinned
  * snapshot version and the planned group set from scan to write. */
private[sources] class VersionedRowLevelOperation(tableSchema: StructType,
    tableOptions: CaseInsensitiveStringMap,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  /** Snapshot the scan planned against + the group names it planned
    * (post runtime narrowing) — the write's removed-set and conflict
    * basis. Written once by the scan's planInputPartitions. */
  @volatile private[sources] var scanned: Option[(Int, Seq[String])] = None

  override def command(): RowLevelOperation.Command = cmd

  /** `_group` must ride the row-level read relation: runtime group
    * filtering resolves its filter attribute against the scan's output,
    * and the rewrite keeps metadata attributes out of the write. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(VersionedSource.GroupCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    val merged = new java.util.HashMap[String, String]()
    merged.putAll(tableOptions)
    merged.putAll(options)
    new VersionedRowLevelScanBuilder(tableSchema,
      new CaseInsensitiveStringMap(merged), this)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new VersionedRowLevelWrite(info, tableOptions,
          VersionedRowLevelOperation.this)
    }

  override def description(): String =
    s"graft-versioned $cmd (group-based copy-on-write)"
}

/** The operation's scan builder — the plain pinned-snapshot builder,
  * except `build()` yields a runtime-filterable scan that reports its
  * planned groups back to the operation. */
private[sources] class VersionedRowLevelScanBuilder(fullSchema: StructType,
    options: CaseInsensitiveStringMap, op: VersionedRowLevelOperation)
    extends VersionedScanBuilder(fullSchema, options) {
  override def build(): org.apache.spark.sql.connector.read.Scan = {
    require(options.get("versionAsOf") == null,
      "row-level operations run against the table head — not a time travel")
    // COW carries groups BY NAME and stages raw replacement files — the
    // same physical-homogeneity rule as the staged append: pending
    // schema evolution and MOR deletes must be materialized first
    require(plan.forall(p => !p.hasEvolution && p.morKey.isEmpty),
      "row-level SQL DML requires a materialized snapshot — the table " +
        "has pending column renames/drops/defaults or merge-on-read " +
        "deletes; run the matching Versioned.apply*Commit (or OPTIMIZE) " +
        "first")
    new VersionedRowLevelScan(dir, pinnedVersion, fullSchema, required,
      pushed, op, plan)
  }
}

/** The COW scan: serves the pinned snapshot like [[VersionedScan]], plus
  * runtime group filtering on the `_group` metadata column. Groups NOT
  * in the runtime IN-set hold no matching rows — they are neither read
  * nor rewritten (carried verbatim by the commit). */
private[sources] class VersionedRowLevelScan(dir: String, version: Int,
    fullSchema: StructType, required: StructType, pushed: Array[Filter],
    op: VersionedRowLevelOperation,
    plan: Option[graft.ops.Versioned.ConnectorPlan])
    extends VersionedScan(dir, version, fullSchema, required, pushed, None,
      plan)
    with SupportsRuntimeV2Filtering {

  @volatile private var groupFilter: Option[Set[String]] = None

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(VersionedSource.GroupCol))

  override def filter(predicates: Array[Predicate]): Unit = {
    val sets = predicates.flatMap(VersionedRowLevelScan.inGroupValues)
    // multiple IN predicates on _group intersect; none → no narrowing
    if (sets.nonEmpty) groupFilter = Some(sets.reduce(_ intersect _))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    if (isEmptyTable) {
      op.scanned = Some((version, Seq.empty))
      return Array.empty
    }
    val kept = plannedFiles.filter { case (name, _) =>
      groupFilter.forall(_.contains(name))
    }
    op.scanned = Some((version, kept.map(_._1)))
    VersionedScan.packPartitions(kept,
      SparkSession.active.sparkContext.defaultParallelism)
  }

  /** The COW contract inverts the normal pushdown rule: Spark pushes the
    * command's condition so the source can prune WHOLE GROUPS (done in
    * [[plannedGroups]] via manifest stats), but every row of a surviving
    * group must come back — the replacement write carries the
    * non-matching rows too. So the partition reader gets NO filters: a
    * parquet record-level filter here would silently DROP the copied
    * rows (Iceberg's SparkCopyOnWriteScan rule). */
  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new VersionedReaderFactory(required, Array.empty)
}

private[sources] object VersionedRowLevelScan {
  /** `IN(_group, v1, v2, ...)` → the value set; anything else → None
    * (ignored — runtime filters are a pure narrowing, never required
    * for correctness). */
  def inGroupValues(p: Predicate): Option[Set[String]] =
    if (p.name() != "IN" || p.children().isEmpty) None
    else p.children()(0) match {
      case ref: NamedReference
          if ref.fieldNames().sameElements(
            Array(VersionedSource.GroupCol)) =>
        Some(p.children().drop(1).collect {
          case l: Literal[_] => l.value() match {
            case v: UTF8String => v.toString
            case v: String => v
            case v => v.toString
          }
        }.toSet)
      case _ => None
    }
}

/** The ReplaceData write: stages replacement rows exactly like the batch
  * writer, then commits parent − scannedGroups + stagedGroup. */
private[sources] class VersionedRowLevelWrite(info: LogicalWriteInfo,
    tableOptions: CaseInsensitiveStringMap,
    op: VersionedRowLevelOperation) extends Write {

  override def toBatch: BatchWrite = {
    def opt(k: String): Option[String] =
      Option(info.options().get(k)).orElse(Option(tableOptions.get(k)))
    val dir = opt("path").getOrElse(throw new IllegalArgumentException(
      "graft-versioned row-level write: table options carry no path"))
    val scheme = new Path(dir).toUri.getScheme
    require(scheme == null || scheme == "file",
      s"graft-versioned v1 write scope: local filesystem only (got '$dir')")
    info.schema().fields.foreach(f =>
      require(VersionedSource.isSupportedType(f.dataType),
        s"graft-versioned v1 scope: unsupported column type ${f.dataType} " +
          s"for '${f.name}'"))
    new VersionedRowLevelBatchWrite(info.schema(), dir, opt("statsCol"),
      info.queryId(), op)
  }
}

private[sources] class VersionedRowLevelBatchWrite(schema: StructType,
    dir: String, statsCol: Option[String], queryId: String,
    op: VersionedRowLevelOperation) extends BatchWrite {

  private val staging = s"$dir/_staging/rl$queryId"

  /** The writers track the column the commit records stats on:
    * `statsCol`, else the one the head version's stats describe. */
  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    val v = Versioned.latestVersion(dir)
    val c = statsCol.orElse(
      if (v == 0) None else Versioned.readStatsCol(dir, v))
    VersionedDataWriterFactory(VersionedDataWriter.conf(schema), staging,
      c.toSeq.flatMap(VersionedDataWriter.statsImage(schema, _)))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val written = VersionedBatchWrite.written(messages)
    VersionedBatchWrite.dropUnacked(staging, written)
    val (scanVersion, removed) = op.scanned.getOrElse(
      throw new IllegalStateException(
        "row-level write committed before its scan planned — " +
          "the ReplaceData contract always scans first"))
    Versioned.replaceGroupsStagedCommit(SparkSession.active, dir, staging,
      written, removed, expectParent = scanVersion, statsCol = statsCol)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    VersionedBatchWrite.deleteRecursive(staging)
}
