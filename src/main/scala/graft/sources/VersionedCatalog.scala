package graft.sources

import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.Versioned

/** TableCatalog plugin mapping catalog identifiers onto Versioned table
  * directories — the SQL DDL/DML surface of the lakehouse (Delta's
  * catalog integration, minimal Spark-first form):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.lake", classOf[VersionedCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.lake.warehouse", "/data/lakehouse")
  *
  *   CREATE TABLE lake.ns.t (k BIGINT, v DOUBLE)          -- or CTAS
  *   INSERT INTO lake.ns.t SELECT ...                     -- append commit
  *   INSERT OVERWRITE lake.ns.t SELECT ...                -- overwrite commit
  *   SELECT * FROM lake.ns.t                              -- connector read
  *   SELECT * FROM lake.ns.t VERSION AS OF 1              -- time travel
  *   SELECT * FROM lake.ns.t TIMESTAMP AS OF '...'        -- commitTs travel
  * }}}
  *
  * A table lives at `<warehouse>/<namespace...>/<name>`; its truth is the
  * Versioned manifest log. CREATE TABLE records the declared schema in a
  * `_schema.json` sidecar (the pre-first-commit schema source); once a
  * commit exists the manifest's files define the schema. Reads, writes,
  * pushdown, and streaming all flow through the [[VersionedSource]]
  * connector classes — the catalog only resolves names.
  *
  * Identifier/namespace parts are charset-gated (they become filesystem
  * paths). Partition transforms are refused (Versioned clusters via
  * OPTIMIZE ZORDER, not hive partitioning).
  */
class VersionedCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"catalog '$name' requires spark.sql.catalog.$name.warehouse")
  }

  override def name(): String = catalogName

  private def requirePart(p: String): String = {
    require(p != null && p.nonEmpty && p.matches("[A-Za-z0-9_.\\-]+") &&
        p != "." && p != "..",
      s"catalog '$catalogName': identifier part '$p' has forbidden characters")
    p
  }

  private def tableDir(ident: Identifier): String =
    (ident.namespace().map(requirePart) :+ requirePart(ident.name()))
      .mkString(s"$warehouse/", "/", "")

  private def schemaSidecar(dir: String) = Paths.get(dir, "_schema.json")
  private def propsSidecar(dir: String) = Paths.get(dir, "_props.json")

  private def exists(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    Versioned.latestVersion(dir) > 0 || Files.exists(schemaSidecar(dir))
  }

  override def tableExists(ident: Identifier): Boolean = exists(ident)

  override def loadTable(ident: Identifier): Table = loadAt(ident, 0)

  /** SQL `VERSION AS OF <v>` lands here. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v =
      try version.toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"graft-versioned versions are integers, got '$version'") }
    // 0 is the internal latest sentinel, never a committed version — a
    // user asking for it must get the same loud miss as VERSION AS OF 99
    require(v >= 1, s"graft-versioned versions start at 1, got $v")
    loadAt(ident, v)
  }

  /** SQL `TIMESTAMP AS OF <ts>` lands here (micros since epoch). */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    loadAt(ident,
      Versioned.versionAtTimestamp(tableDir(ident), timestamp / 1000L))

  private def loadAt(ident: Identifier, version: Int): Table = {
    val dir = tableDir(ident)
    val schema: StructType =
      if (Versioned.latestVersion(dir) > 0) {
        val p = Versioned.connectorPlan(dir, version)
        // the LOGICAL schema: union of per-group schemas (a later append
        // may have added columns), under the version's pending renames /
        // drops / defaults — ALTERed tables serve their evolved shape;
        // a TRUNCATE tombstone serves its recorded DDL
        if (p.isTombstone) DataType.fromDDL(p.schemaDdl.get)
          .asInstanceOf[StructType]
        else VersionedSource.evolvedSchema(SparkSession.active,
          p.groups.map(_._2), p.renames, p.drops, p.defaults)
      } else if (Files.exists(schemaSidecar(dir))) {
        require(version == 0,
          s"$catalogName.${ident} has no commits — nothing to time travel to")
        DataType.fromJson(new String(Files.readAllBytes(schemaSidecar(dir)),
          java.nio.charset.StandardCharsets.UTF_8)).asInstanceOf[StructType]
      } else throw new NoSuchTableException(ident)
    val opts = new java.util.HashMap[String, String]()
    opts.put("path", dir)
    if (version > 0) opts.put("versionAsOf", version.toString)
    // table properties persisted at CREATE time (statsCol drives the
    // write path's manifest statistics on every later INSERT)
    if (Files.exists(propsSidecar(dir))) {
      val txt = new String(Files.readAllBytes(propsSidecar(dir)),
        java.nio.charset.StandardCharsets.UTF_8)
      "\"statsCol\":\"([A-Za-z0-9_]+)\"".r.findFirstMatchIn(txt)
        .foreach(m => opts.put("statsCol", m.group(1)))
    }
    new VersionedTable(schema, new CaseInsensitiveStringMap(opts))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft-versioned tables do not take PARTITIONED BY — cluster via " +
        "Versioned.compactZOrder (OPTIMIZE ZORDER)")
    schema.fields.foreach(f =>
      require(VersionedSource.isSupportedType(f.dataType),
        s"graft-versioned v1 scope: unsupported column type ${f.dataType} " +
          s"for '${f.name}'"))
    if (exists(ident)) throw new TableAlreadyExistsException(ident)
    val dir = tableDir(ident)
    Files.createDirectories(Paths.get(dir))
    Files.write(schemaSidecar(dir),
      schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val opts = new java.util.HashMap[String, String]()
    opts.put("path", dir)
    Option(properties.get("statsCol")).foreach { c =>
      require(c.matches("[A-Za-z0-9_]+"), s"bad statsCol '$c'")
      Files.write(propsSidecar(dir),
        s"""{"statsCol":"$c"}""".getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
      opts.put("statsCol", c)
    }
    new VersionedTable(schema, new CaseInsensitiveStringMap(opts))
  }

  /** ALTER TABLE requires only capabilities the default set lacks:
    * column DEFAULT values (the metadata-only ADD COLUMN design needs
    * them — pre-ALTER groups read the default). */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** SQL `ALTER TABLE ... ADD COLUMN ... DEFAULT <lit>` /
    * `RENAME COLUMN` / `DROP COLUMN` — each an O(1) METADATA-ONLY
    * commit on the version log ([[Versioned.addColumnCommit]] /
    * [[Versioned.renameColumnCommit]] / [[Versioned.dropColumnCommit]]):
    * zero data rewritten, time travel exact (pre-ALTER versions serve
    * their own shape), and the table stays fully readable through the
    * connector (the scan serves renames/drops/defaults per file).
    * ADD COLUMN requires a DEFAULT clause: without one, pre-ALTER file
    * groups would have no value to serve (the real systems' initial-
    * default requirement for non-null adds, applied uniformly). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    val spark = SparkSession.active
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "graft-versioned columns are flat — nested adds unsupported")
        require(add.position() == null,
          "graft-versioned ADD COLUMN appends — FIRST/AFTER unsupported")
        require(VersionedSource.isSupportedType(add.dataType()),
          s"graft-versioned v1 scope: unsupported column type " +
            s"${add.dataType()} for '${add.fieldNames()(0)}'")
        val name = add.fieldNames()(0)
        require(add.defaultValue() != null,
          "graft-versioned ALTER TABLE ADD COLUMN requires a DEFAULT " +
            "literal (metadata-only add: pre-ALTER file groups serve " +
            s"the default) — e.g. ADD COLUMN $name " +
            s"${add.dataType().sql} DEFAULT 0")
        // getValue() is NULL when the DEFAULT expression did not fold
        // to a connector literal (e.g. DEFAULT rand()) — a clear
        // refusal, not an NPE: the metadata-only design can only serve
        // a constant
        require(add.defaultValue().getValue() != null,
          "graft-versioned ALTER TABLE ADD COLUMN DEFAULT must be a " +
            "foldable literal (pre-ALTER file groups serve the constant) " +
            s"— got non-literal ${add.defaultValue().getSql()}")
        val litStr = add.defaultValue().getValue().value() match {
          case null => throw new IllegalArgumentException(
            "DEFAULT NULL is unsupported — every serveable value is typed")
          case u: org.apache.spark.unsafe.types.UTF8String => u.toString
          case days: java.lang.Integer
              if add.dataType() == org.apache.spark.sql.types.DateType =>
            java.time.LocalDate.ofEpochDay(days.toLong).toString
          case other => other.toString
        }
        Versioned.addColumnCommit(spark, dir, name, add.dataType().sql,
          litStr)
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames().length == 1,
          "graft-versioned columns are flat — nested renames unsupported")
        val from = rn.fieldNames()(0)
        Versioned.renameColumnCommit(spark, dir, from, rn.newName())
        // keep the statsCol sidecar in step: later INSERTs record stats
        // under the table's CURRENT logical name (the manifest's scol
        // was remapped by the rename commit)
        if (Files.exists(propsSidecar(dir))) {
          // parse the recorded value rather than exact-string replace
          // (formatting variants would silently miss), then rewrite the
          // sidecar in canonical form
          val txt = new String(Files.readAllBytes(propsSidecar(dir)),
            java.nio.charset.StandardCharsets.UTF_8)
          val statsColRe = """"statsCol"\s*:\s*"([^"]*)"""".r
          statsColRe.findFirstMatchIn(txt).map(_.group(1)) match {
            case Some(c) if c == from =>
              Files.write(propsSidecar(dir),
                s"""{"statsCol":"${rn.newName()}"}""".getBytes(
                  java.nio.charset.StandardCharsets.UTF_8))
            case _ => ()
          }
        }
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "graft-versioned columns are flat — nested drops unsupported")
        Versioned.dropColumnCommit(spark, dir, del.fieldNames()(0))
      case other => throw new UnsupportedOperationException(
        s"graft-versioned ALTER TABLE does not support $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (!exists(ident)) return false
    val root = Paths.get(tableDir(ident))
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    finally s.close()
    // a re-CREATE at this path must re-read footers, even on a
    // filesystem whose mtime granularity can't see a fast recreate
    graft.ops.ParquetFooters.invalidateUnder(tableDir(ident))
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!exists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (exists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(Paths.get(tableDir(newIdent)).getParent)
    Files.move(Paths.get(tableDir(oldIdent)), Paths.get(tableDir(newIdent)))
    // the vacated path may be re-created; the target path may shadow a
    // previously-cached (dropped) table's entries
    graft.ops.ParquetFooters.invalidateUnder(tableDir(oldIdent))
    graft.ops.ParquetFooters.invalidateUnder(tableDir(newIdent))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = Paths.get(
      (namespace.map(requirePart)).mkString(s"$warehouse/", "/", ""))
    if (!Files.isDirectory(nsDir)) throw new NoSuchNamespaceException(namespace)
    val s = Files.list(nsDir)
    try s.iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        (Versioned.latestVersion(p.toString) > 0 ||
          Files.exists(p.resolve("_schema.json"))))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally s.close()
  }

  // -- SupportsNamespaces (directories under the warehouse root) --------

  /** A child directory is a TABLE iff it carries a manifest log or the
    * pre-commit schema sidecar; any other directory is a namespace. */
  private def isTableDir(p: java.nio.file.Path): Boolean =
    Files.isDirectory(p.resolve("_manifests")) ||
      Files.exists(p.resolve("_schema.json"))

  private def childNamespaces(parent: Array[String]): Array[Array[String]] = {
    val dir = Paths.get(
      (parent.map(requirePart)).foldLeft(warehouse)(_ + "/" + _))
    if (!Files.isDirectory(dir)) return Array.empty
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(p => Files.isDirectory(p) && !isTableDir(p))
      .map(p => parent :+ p.getFileName.toString).toArray
    finally s.close()
  }

  override def listNamespaces(): Array[Array[String]] =
    childNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) childNamespaces(namespace)
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || Files.isDirectory(Paths.get(
      namespace.map(requirePart).mkString(s"$warehouse/", "/", "")))

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] =
    if (namespaceExists(namespace)) new java.util.HashMap[String, String]()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace) && namespace.nonEmpty)
      throw new NamespaceAlreadyExistsException(namespace)
    Files.createDirectories(Paths.get(
      namespace.map(requirePart).mkString(s"$warehouse/", "/", "")))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft-versioned namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val dir = Paths.get(
      namespace.map(requirePart).mkString(s"$warehouse/", "/", ""))
    val hasChildren = {
      val s = Files.list(dir)
      try s.iterator().hasNext finally s.close()
    }
    require(cascade || !hasChildren,
      s"namespace ${namespace.mkString(".")} is not empty")
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    finally s.close()
    true
  }
}
