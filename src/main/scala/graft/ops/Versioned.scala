package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.VersionedCommitMessage

import scala.jdk.CollectionConverters._

/** Manifest-based snapshot versioning over plain parquet — the minimal
  * Spark-first form of the lakehouse time-travel mechanism (Delta's
  * transaction log / Iceberg's snapshot manifests, public designs):
  * every commit writes its rows as a NEW immutable file group under
  * `data/` and records a manifest listing the file groups visible at
  * that version. Readers plan ONLY the groups in their version's
  * manifest, so:
  *
  *  - historical versions stay byte-stable forever (time travel);
  *  - an append never rewrites existing data (file groups are the unit
  *    of addition, exactly Iceberg's add-files commit);
  *  - a failed write is invisible (the manifest is published LAST, via
  *    atomic put-if-absent hard-link — no manifest, no version, and a
  *    racing writer can never silently replace a committed manifest).
  *
  * Manifests live under `_manifests/` (underscore: invisible to Spark's
  * file index, so a naive `spark.read.parquet(dir)` of the table root
  * cannot half-read metadata). At 100 TB the same layout holds — the
  * manifest grows with file-group count, not rows, and a read is one
  * manifest fetch + a planned multi-path parquet scan. Concurrent
  * writers are served by [[commitAppendOcc]] (optimistic retry on the
  * version pointer with append-append auto-rebase — the Delta/Iceberg
  * OCC protocol) and [[idempotentCommit]] (exactly-once under retries,
  * atomic against zombie-writer races); cross-table zero-copy forks by
  * [[cloneShallow]]. File-level statistics compose with [[DataSkipping]].
  *
  * Row-level MERGE and DELETE are FILE-GRANULARITY copy-on-write when
  * the table carries manifest statistics ([[mergeCommitCow]],
  * [[deleteCommitCow]]): only the groups whose recorded [min,max]
  * intersects the update keys / delete range are rewritten; untouched
  * groups carry over into the new manifest BY NAME, verbatim — the
  * Delta/Iceberg file-level COW shape, where a 100 TB table pays for a
  * merge in proportion to the data it touches, never the table size.
  */
object Versioned {

  /** Charset for writer-supplied identifiers that flow into paths and
    * manifest JSON (writer ids, txn app ids). The manifest is written by
    * string construction and parsed by anchored regex, so an id carrying
    * `"`, `,`, `/` or whitespace would corrupt the log — rejected loudly
    * at the API edge instead. */
  private val IdPattern = "[A-Za-z0-9_.-]{1,128}"

  private def requireId(kind: String, s: String): Unit =
    require(s != null && s.matches(IdPattern),
      s"$kind '$s' must match $IdPattern (it flows into paths and manifest JSON)")

  /** Default-column type/literal charsets — shared by the manifest writer
    * and [[addColumnCommit]]'s pre-publish probe. Both strings are
    * interpolated into Spark SQL `expr` text AND manifest JSON, so no
    * quote characters of any kind are representable: a literal like
    * `' || java_method(...) || '` is rejected here, BEFORE the probe
    * expression is built and evaluated. */
  private val DefaultTypePattern = "[A-Za-z0-9(), ]+"
  private val DefaultLiteralPattern = "[A-Za-z0-9_. :\\-]*"

  private def requireDefault(t: String, value: String): Unit = {
    require(t != null && t.matches(DefaultTypePattern),
      s"default column type has forbidden characters: $t")
    require(value != null && value.matches(DefaultLiteralPattern),
      s"default literal has forbidden characters: $value")
  }

  /** Group entries (local names or clone paths/URIs) live inside the
    * manifest's quoted, comma-separated groups array — characters that
    * would break that framing are rejected at write time. */
  private def requireGroupRef(g: String): Unit =
    require(g != null && g.nonEmpty &&
      !g.exists(c => c == '"' || c == '\\' || c == ',' || c.isControl),
      s"group ref '$g' may not contain quotes, backslashes, commas or control chars")

  private def manifestDir(dir: String): Path = Paths.get(dir, "_manifests")

  /** Recursive delete (children before parents); no-op on a missing
    * path. One helper for the staged-dir/orphan sweeps that used to be
    * inlined four times. */
  private def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }
  private def manifestPath(dir: String, v: Int): Path =
    manifestDir(dir).resolve(s"v$v.json")

  /** Reserved `__tg=` value for deletion-vector keys routed to NO data
    * group (outside every group's [min,max] at delete time). Never a
    * real group name (groups are `c{v}`/`d{v}`/hive subpaths), so a
    * reader's per-group lookup skips it; the out-of-scope full union
    * includes it — preserving the carried-forward mask for keys a later
    * append may re-insert, like the legacy flat layout. */
  private[graft] val NoneGroup: String = "__none"

  /** A manifest group entry is normally a commit-dir NAME under this
    * table's `data/` (possibly a hive-style subdir, e.g. a z-bucket of
    * one compaction commit); a shallow clone ([[cloneShallow]]) instead
    * records foreign groups as absolute paths/URIs, used verbatim. */
  private def resolveGroup(dir: String, g: String): String =
    if (g.startsWith("/") || g.contains("://")) g else s"$dir/data/$g"

  /** Manifest file names under `_manifests/`, stream closed via
    * try/finally (Files.list leaks a directory fd otherwise — and
    * [[lastTxnVersion]] runs once per streaming micro-batch). */
  private def manifestNames(dir: String): Seq[String] = {
    val md = manifestDir(dir)
    if (!Files.isDirectory(md)) return Seq.empty
    val stream = Files.list(md)
    try stream.iterator().asScala.map(_.getFileName.toString).toList
    finally stream.close()
  }

  /** Largest committed version, or 0 if the table does not exist yet. */
  def latestVersion(dir: String): Int =
    manifestNames(dir)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toInt }
      .foldLeft(0)(math.max)

  private def manifestText(dir: String, v: Int): String = {
    val p = manifestPath(dir, v)
    require(Files.exists(p), s"no manifest for version $v at $p")
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
  }

  private def readManifest(dir: String, v: Int): Seq[String] = {
    // group refs are charset-validated at write time (requireGroupRef),
    // so quote/comma framing is unambiguous here
    "\"groups\":\\[([^\\]]*)\\]".r.findFirstMatchIn(manifestText(dir, v))
      .map(_.group(1).split(",").map(_.trim.stripPrefix("\"")
        .stripSuffix("\"")).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
  }

  private def readStats(dir: String, v: Int): Map[String, (Long, Long)] =
    "\"stats\":\\{([^}]*)\\}".r.findFirstMatchIn(manifestText(dir, v))
      .map { m =>
        "\"([^\"]+)\":\\[(-?[0-9]+),(-?[0-9]+)\\]".r.findAllMatchIn(m.group(1))
          .map(g => g.group(1) -> (g.group(2).toLong, g.group(3).toLong)).toMap
      }.getOrElse(Map.empty)

  /** Per-group EXACT row counts recorded at commit time (summed from the
    * group's parquet footers — metadata, not a data scan). The manifest
    * half of metadata-only `COUNT(*)`: the connector's aggregate
    * pushdown answers a global count from these entries alone, zero data
    * files opened. Empty for groups minted by commits that predate (or
    * don't record) counts — the pushdown then declines, conservatively. */
  def readCounts(dir: String, v: Int): Map[String, Long] =
    "\"counts\":\\{([^}]*)\\}".r.findFirstMatchIn(manifestText(dir, v))
      .map { m =>
        "\"([^\"]+)\":([0-9]+)".r.findAllMatchIn(m.group(1))
          .map(g => g.group(1) -> g.group(2).toLong).toMap
      }.getOrElse(Map.empty)

  /** TWO-dimensional per-group statistics ([aLo,aHi,bLo,bHi]) recorded by
    * [[compactZOrder]] — the manifest half of Z-ORDER clustering. */
  private def readStats2(dir: String, v: Int)
      : Map[String, (Long, Long, Long, Long)] =
    "\"stats2\":\\{([^}]*)\\}".r.findFirstMatchIn(manifestText(dir, v))
      .map { m =>
        ("\"([^\"]+)\":\\[(-?[0-9]+),(-?[0-9]+),(-?[0-9]+),(-?[0-9]+)\\]".r
          .findAllMatchIn(m.group(1))
          .map(g => g.group(1) ->
            (g.group(2).toLong, g.group(3).toLong,
              g.group(4).toLong, g.group(5).toLong)).toMap)
      }.getOrElse(Map.empty)

  private def manifestJson(v: Int, parent: Int, overwrite: Boolean,
      groups: Seq[String], stats: Map[String, (Long, Long)] = Map.empty,
      stats2: Map[String, (Long, Long, Long, Long)] = Map.empty,
      txn: Option[(String, Long)] = None, commitTs: Option[Long] = None,
      dgroups: Seq[String] = Seq.empty, dkey: Option[String] = None,
      renames: Map[String, String] = Map.empty,
      defaults: Map[String, (String, String)] = Map.empty,
      drops: Set[String] = Set.empty,
      scol: Option[String] = None,
      scol2: Option[(String, String)] = None,
      counts: Map[String, Long] = Map.empty,
      schemaDdl: Option[String] = None)
      : String = {
    groups.foreach(requireGroupRef)
    dgroups.foreach(requireGroupRef)
    val renJson =
      if (renames.isEmpty) ""
      else {
        renames.foreach { case (p, l) =>
          requireId("rename physical column", p)
          requireId("rename logical column", l)
        }
        s""","renames":{${renames.toSeq.sortBy(_._1)
          .map { case (p, l) => s""""$p":"$l"""" }.mkString(",")}}"""
      }
    require(dgroups.isEmpty == dkey.isEmpty,
      "delete groups and their key column travel together")
    val dJson =
      if (dgroups.isEmpty) ""
      else {
        requireId("delete key column", dkey.get)
        s""","dgroups":[${dgroups.map(g => "\"" + g + "\"").mkString(",")}],""" +
          s""""dkey":"${dkey.get}""""
      }
    val statsJson =
      if (stats.isEmpty) ""
      else s""","stats":{${stats.toSeq.sortBy(_._1).map { case (g, (lo, hi)) =>
        s""""$g":[$lo,$hi]""" }.mkString(",")}}"""
    val stats2Json =
      if (stats2.isEmpty) ""
      else s""","stats2":{${stats2.toSeq.sortBy(_._1)
        .map { case (g, (aLo, aHi, bLo, bHi)) =>
          s""""$g":[$aLo,$aHi,$bLo,$bHi]""" }.mkString(",")}}"""
    val txnJson = txn.map { case (app, tv) =>
      requireId("txn appId", app)
      s""","txn":{"app":"$app","v":$tv}""" }.getOrElse("")
    val tsJson = commitTs.map(ts => s""","ts":$ts""").getOrElse("")
    val defJson =
      if (defaults.isEmpty) ""
      else {
        defaults.foreach { case (n, (t, value)) =>
          requireId("default column", n)
          requireDefault(t, value)
        }
        s""","defaults":{${defaults.toSeq.sortBy(_._1)
          .map { case (n, (t, value)) => s""""$n":["$t","$value"]""" }
          .mkString(",")}}"""
      }
    val dropJson =
      if (drops.isEmpty) ""
      else {
        drops.foreach(requireId("dropped column", _))
        s""","drops":[${drops.toSeq.sorted
          .map(c => "\"" + c + "\"").mkString(",")}]"""
      }
    val scolJson = scol.map { c =>
      requireId("stats column", c); s""","scol":"$c""""
    }.getOrElse("")
    val scol2Json = scol2.map { case (a, b) =>
      requireId("stats2 column a", a); requireId("stats2 column b", b)
      s""","scol2":["$a","$b"]"""
    }.getOrElse("")
    val countsJson =
      if (counts.isEmpty) ""
      else s""","counts":{${counts.toSeq.sortBy(_._1).map { case (g, n) =>
        s""""$g":$n""" }.mkString(",")}}"""
    val ddlJson = schemaDdl.map { ddl =>
      // the DDL rides inside a JSON string — refuse the two characters
      // that could escape it (identifiers are charset-gated upstream;
      // StructType.toDDL emits only names, types, backticks, punctuation)
      require(!ddl.contains("\"") && !ddl.contains("\\"),
        s"schema DDL must not contain quotes or backslashes: $ddl")
      s""","schemaDdl":"$ddl""""
    }.getOrElse("")
    s"""{"version":$v,"parent":$parent,"overwrite":$overwrite,""" +
      s""""groups":[${groups.map(g => "\"" + g + "\"").mkString(",")}]""" +
      dJson + statsJson + stats2Json + txnJson + tsJson + renJson +
      defJson + dropJson + scolJson + scol2Json + countsJson + ddlJson + "}"
  }

  /** The recorded logical schema DDL of a version — present exactly on
    * EMPTY tombstone snapshots ([[truncateCommit]]), where there are no
    * file groups to infer a schema from. */
  def readSchemaDdl(dir: String, v: Int): Option[String] =
    "\"schemaDdl\":\"([^\"]*)\"".r.findFirstMatchIn(manifestText(dir, v))
      .map(_.group(1))

  /** Column-mapping state of a version: physical name (as stored in the
    * parquet files, immutable) → current logical name. Empty when the
    * table has never been renamed. */
  def readRenames(dir: String, v: Int): Map[String, String] =
    "\"renames\":\\{([^}]*)\\}".r.findFirstMatchIn(manifestText(dir, v))
      .map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(",").map { kv =>
        val m = "\"([^\"]+)\":\"([^\"]+)\"".r.findFirstMatchIn(kv)
          .getOrElse(throw new IllegalStateException(
            s"corrupt renames entry in v$v at $dir: $kv"))
        m.group(1) -> m.group(2)
      }.toMap)
      .getOrElse(Map.empty)

  /** Translate a LOGICAL-schema batch back to the table's PHYSICAL
    * column names before writing its file group (Delta column mapping's
    * write half: files always carry the original physical names, so a
    * renamed table's groups stay schema-homogeneous). */
  private def toPhysical(df: DataFrame, m: Map[String, String]): DataFrame =
    m.foldLeft(df) { case (d, (p, l)) => d.withColumnRenamed(l, p) }

  private def requireNoRenames(dir: String, v: Int, verb: String): Unit =
    require(readRenames(dir, v).isEmpty,
      s"$verb at $dir requires an unrenamed snapshot — groups are carried " +
        "by name and files keep physical column names; run " +
        "applyRenamesCommit first to materialize the column mapping")

  /** Initial-default column state of a version ([[addColumnCommit]]):
    * column name → (SQL type, default literal). A file group whose
    * physical schema predates the column reads the default; groups
    * written after materialize the value physically. Empty when the
    * table has never had a column added this way. */
  def readDefaults(dir: String, v: Int): Map[String, (String, String)] =
    "\"defaults\":\\{([^}]*)\\}".r.findFirstMatchIn(manifestText(dir, v))
      .map(_.group(1)).filter(_.nonEmpty)
      .map(body =>
        "\"([^\"]+)\":\\[\"([^\"]+)\",\"([^\"]*)\"\\]".r
          .findAllMatchIn(body)
          .map(m => m.group(1) -> (m.group(2), m.group(3))).toMap)
      .getOrElse(Map.empty)

  /** Write-path default fill (the ANSI `DEFAULT` half of the feature):
    * a batch that omits a defaulted column gets it materialized before
    * its group is written, so post-ALTER groups always carry the column
    * physically and only PRE-ALTER groups need the read-side fill. */
  private def withDefaults(df: DataFrame,
      defaults: Map[String, (String, String)]): DataFrame =
    defaults.foldLeft(df) { case (d, (n, (t, value))) =>
      if (d.columns.contains(n)) d
      else d.withColumn(n,
        org.apache.spark.sql.functions.expr(s"CAST('$value' AS $t)"))
    }

  private def requireNoDefaults(dir: String, v: Int, verb: String): Unit =
    require(readDefaults(dir, v).isEmpty,
      s"$verb at $dir requires materialized column defaults — groups are " +
        "carried by name and pre-ALTER groups lack the column physically; " +
        "run applyDefaultsCommit first")

  /** The COLUMN the version's 1-D manifest statistics describe, when
    * recorded. Manifest stats are otherwise column-anonymous numbers —
    * without this label a verb could prune/plan on a DIFFERENT column's
    * values against them and silently plan wrong groups (e.g. an
    * applyDeletesCommit keyed on `id` against `ts` ranges resurrecting
    * every deleted row via the no-intersection fast path). */
  def readStatsCol(dir: String, v: Int): Option[String] =
    "\"scol\":\"([^\"]+)\"".r.findFirstMatchIn(manifestText(dir, v))
      .map(_.group(1))

  /** The column PAIR the version's 2-D statistics describe. */
  def readStatsCol2(dir: String, v: Int): Option[(String, String)] =
    "\"scol2\":\\[\"([^\"]+)\",\"([^\"]+)\"\\]".r
      .findFirstMatchIn(manifestText(dir, v))
      .map(m => (m.group(1), m.group(2)))

  private def requireStatsColMatch(dir: String, v: Int, requested: String,
      verb: String): Unit =
    readStatsCol(dir, v).foreach(rec => require(rec == requested,
      s"$verb at $dir plans on '$requested' but version $v's manifest " +
        s"statistics are recorded on '$rec' — planning a different " +
        "column's values against them would select wrong groups"))

  /** Dropped-column state of a version ([[dropColumnCommit]]): logical
    * names projected OUT of every read. Files keep the column bytes
    * (the drop is metadata-only); pre-DROP versions still read it. */
  def readDrops(dir: String, v: Int): Set[String] =
    "\"drops\":\\[([^\\]]*)\\]".r.findFirstMatchIn(manifestText(dir, v))
      .map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(",").map(_.stripPrefix("\"").stripSuffix("\"")).toSet)
      .getOrElse(Set.empty)

  /** Write-path enforcement of the drop: a batch still carrying a
    * dropped column gets it stripped before its group is written. */
  private def withoutDrops(df: DataFrame, drops: Set[String]): DataFrame =
    if (drops.isEmpty) df else df.drop(drops.toSeq: _*)

  private def requireNoDrops(dir: String, v: Int, verb: String): Unit =
    require(readDrops(dir, v).isEmpty,
      s"$verb at $dir requires materialized column drops — groups are " +
        "carried by name and pre-DROP groups still carry the column " +
        "physically; run applyDropsCommit first")

  /** Equality-DELETE file groups of a version (merge-on-read state) and
    * the key column they delete on. Empty for copy-on-write-only
    * histories. */
  def readDeletes(dir: String, v: Int): (Seq[String], Option[String]) = {
    val text = manifestText(dir, v)
    val dgs = "\"dgroups\":\\[([^\\]]*)\\]".r.findFirstMatchIn(text)
      .map(_.group(1).split(",").map(_.trim.stripPrefix("\"")
        .stripSuffix("\"")).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val dk = "\"dkey\":\"([^\"]+)\"".r.findFirstMatchIn(text).map(_.group(1))
    (dgs, dk)
  }

  /** The distinct keys of version `v`'s delete groups `dgs` (one column,
    * `dk`) — the planning input of [[applyDeletesCommit]] and the change
    * feed's delete steps. One connector read over all of them: its file
    * listing recurses, so the flat legacy layout and the per-group
    * `__tg=` layout ([[deleteCommitMor]]) read alike, and their footers
    * carry the key column only. The frame is pinned as a group subset,
    * so nothing takes it for the version's snapshot. */
  private[ops] def deleteKeys(spark: SparkSession, dir: String, v: Int,
      dgs: Seq[String], dk: String): DataFrame =
    graft.sources.VersionedRead.frame(spark, dir,
      ConnectorPlan(v, dgs.map(g => g -> resolveGroup(dir, g)), Map.empty,
        None, Map.empty, Set.empty, Map.empty, None, Seq.empty), Some(dgs))
      .select(dk).distinct()

  private def requireNoMorDeletes(dir: String, v: Int, verb: String): Unit =
    require(readDeletes(dir, v)._1.isEmpty,
      s"$verb at $dir requires a delete-free snapshot — run " +
        "applyDeletesCommit first (merge-on-read deletes are pending)")

  /** Write `df` as the file group `data/<group>`: staged by the
    * connector's writer ([[graft.sources.VersionedWriter.stage]]) under
    * `_staging/`, then moved into place with one rename, so a failed
    * write leaves no group and an occupied `data/<group>` fails the write
    * instead of merging into it. Returns the tasks' commit messages: the
    * group's EXACT row count (the manifest's per-group `counts`, which
    * make a global `COUNT(*)` answerable from the manifest alone) and the
    * min/max of the `statsCols`' BIGINT images over the WRITTEN rows
    * (the manifest describes what is on disk, not the input plan). */
  private def writeGroup(df: DataFrame, dir: String, group: String,
      partitionCol: Option[String] = None, statsCols: Seq[String] = Nil,
      strictStats: Boolean = false)
      : Seq[VersionedCommitMessage] = {
    val target = Paths.get(resolveGroup(dir, group))
    if (Files.exists(target))
      throw new java.nio.file.FileAlreadyExistsException(target.toString)
    val staging = Paths.get(dir, "_staging", s"o${java.util.UUID.randomUUID}")
    try {
      val messages = graft.sources.VersionedWriter.stage(df,
        staging.toString, partitionCol, statsCols, strictStats)
      Files.createDirectories(target.getParent)
      Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
      messages
    } finally deleteRecursively(staging) // after the move: nothing left
  }

  /** Commit `df` as the next version. `overwrite = false` (append)
    * makes the new version = parent's file groups + the new group;
    * `overwrite = true` makes it the new group alone. Returns the
    * committed version number. The data write happens fully BEFORE the
    * manifest is published (atomic put-if-absent), so readers can never
    * see a partial commit — and a CONCURRENT commit racing this one
    * fails loudly with `ConcurrentModificationException` instead of
    * silently replacing the winner's manifest (single-writer verb;
    * concurrent appenders use [[commitAppendOcc]], retried loaders
    * [[idempotentCommit]]).
    *
    * `statsCol` (a LONG column — cast dates to epoch-day etc. at the
    * caller) records the new group's min/max in the manifest — the
    * Iceberg-manifest statistics that let [[prunedRead]] plan only
    * intersecting groups. Parent groups keep whatever stats their own
    * commits recorded. */
  def commit(df: DataFrame, dir: String, overwrite: Boolean = false,
      statsCol: Option[String] = None, txn: Option[(String, Long)] = None,
      commitTs: Option[Long] = None): Int = {
    val parent = latestVersion(dir)
    val v = parent + 1
    val group = s"c$v"
    // appends to a renamed table write PHYSICAL names (groups must stay
    // schema-homogeneous); an overwrite starts fresh and clears the map
    val renames =
      if (overwrite || parent == 0) Map.empty[String, String]
      else readRenames(dir, parent)
    // an overwrite's data carries its values already, so the defaults
    // map correctly CLEARS; an append fills omitted defaulted columns
    // at write time (groups after the ALTER are physically complete)
    val defaults =
      if (overwrite || parent == 0) Map.empty[String, (String, String)]
      else readDefaults(dir, parent)
    val drops =
      if (overwrite || parent == 0) Set.empty[String]
      else readDrops(dir, parent)
    val parentStats =
      if (overwrite || parent == 0) Map.empty[String, (Long, Long)]
      else readStats(dir, parent)
    // the stats column's IDENTITY travels with the stats: a caller
    // recording a different column than the carried groups' stats
    // describe would mix meanings in one manifest — refused loudly,
    // BEFORE the data write so a refusal never orphans a group
    val parentScol =
      if (overwrite || parent == 0) None else readStatsCol(dir, parent)
    statsCol.foreach { c =>
      parentScol match {
        case Some(pc) => require(pc == c,
          s"commit records stats on '$c' but carried groups' stats at " +
            s"$dir describe '$pc'")
        // UNLABELED legacy stats on carried groups: stamping '$c' would
        // relabel stats of an UNKNOWN column, re-enabling the wrong-column
        // pruning the label exists to prevent — refused loudly
        case None => require(parentStats.isEmpty,
          s"commit records stats on '$c' but carried groups at $dir hold " +
            "unlabeled legacy stats (column unknown) — an overwrite or " +
            "OPTIMIZE must re-key them first")
      }
    }
    // the written group carries physical names; map the caller's
    // logical stats column back before the writer tracks it
    val physStats =
      statsCol.map(c => renames.find(_._2 == c).map(_._1).getOrElse(c))
    val written = writeGroup(
      withoutDrops(withDefaults(toPhysical(df, renames), defaults), drops),
      dir, group, statsCols = physStats.toSeq)
    val groups =
      (if (overwrite || parent == 0) Seq.empty
       else readManifest(dir, parent)) :+ group
    // no range (no non-NULL BIGINT image): no stats, planned conservatively
    val newStats = physStats.flatMap(VersionedCommitMessage.ranges(written).get)
      .map(group -> _)
    // an append carries the parent's pending MOR delete files forward
    // (they still mask rows of the carried data groups); an overwrite
    // starts a fresh snapshot and drops them
    val (dgs, dk) =
      if (overwrite || parent == 0) (Seq.empty[String], None)
      else readDeletes(dir, parent)
    val parentStats2 =
      if (overwrite || parent == 0)
        Map.empty[String, (Long, Long, Long, Long)]
      else readStats2(dir, parent)
    val parentCounts =
      if (overwrite || parent == 0) Map.empty[String, Long]
      else readCounts(dir, parent)
    // counts only stay exact while EVERY group carries one — a parent
    // group minted before counts existed leaves the map partial and the
    // pushdown declines (the same all-groups gate as stats)
    val json = manifestJson(v, parent, overwrite, groups,
      parentStats ++ newStats, parentStats2, txn = txn,
      commitTs = commitTs, dgroups = dgs, dkey = dk, renames = renames,
      defaults = defaults, drops = drops,
      scol = statsCol.orElse(parentScol),
      scol2 = if (overwrite || parent == 0) None
              else readStatsCol2(dir, parent),
      counts = parentCounts + (group -> written.map(_.nRows).sum))
    if (!publishIfAbsent(dir, v, json))
      throw new java.util.ConcurrentModificationException(
        s"commit at $dir lost the race for version $v — " +
          "use commitAppendOcc for concurrent appends")
    v
  }

  /** Highest `txnVersion` this `appId` has committed to the table, or
    * None — the read half of [[idempotentCommit]]. Scans the retained
    * manifests (bounded by commit count, not data). */
  def lastTxnVersion(dir: String, appId: String): Option[Long] = {
    val pat = ("\"txn\":\\{\"app\":\"" +
      java.util.regex.Pattern.quote(appId) + "\",\"v\":(-?[0-9]+)\\}").r
    val vs = manifestNames(dir)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toInt }
      .flatMap(v => pat.findFirstMatchIn(manifestText(dir, v))
        .map(_.group(1).toLong))
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** IDEMPOTENT commit under an (appId, txnVersion) pair — the Delta
    * `txnAppId`/`txnVersion` mechanism that makes a streaming foreachBatch
    * sink (or any at-least-once writer) exactly-once on the table: a
    * RETRY of an already-committed transaction is a no-op, because the
    * manifest log remembers the highest txnVersion each app committed.
    * Returns Some(tableVersion) when the commit landed, None when it was
    * skipped as a replay (txnVersion ≤ the recorded high-water mark).
    * The writer's txnVersions must be monotone per app (a micro-batch id
    * is).
    *
    * ATOMIC against the zombie-retry race this mechanism exists for: the
    * data group is written once under a process-unique name, then the
    * publish loop re-checks the txn high-water mark and publishes via
    * the put-if-absent primitive — two concurrent replays of the same
    * (appId, txnVersion) commit EXACTLY once (the loser observes the
    * winner's txn marker on its next attempt, deletes its orphaned data
    * group, and skips). `beforePublish` is a deterministic race-injection
    * seam for tests (runs after the data write, before the first publish
    * attempt — the [[commitAppendOcc]] convention). */
  def idempotentCommit(df: DataFrame, dir: String, appId: String,
      txnVersion: Long, overwrite: Boolean = false,
      beforePublish: () => Unit = () => ()): Option[Int] = {
    requireId("appId", appId)
    if (lastTxnVersion(dir, appId).exists(_ >= txnVersion)) return None
    // unique name: two zombies replaying the same (app, txn) must not
    // collide on the data write — only the manifest linearizes them
    val group = s"t_${appId}_${txnVersion}_" +
      java.util.UUID.randomUUID().toString.take(8)
    // physical names are immutable originals, so translating with the
    // mapping visible at write time stays correct even if a rename
    // commit lands before this group's manifest publishes; an overwrite
    // starts a fresh snapshot (logical = physical), so no translation
    val lvAtWrite = latestVersion(dir)
    val rows = writeGroup(withoutDrops(withDefaults(toPhysical(df,
        if (overwrite || lvAtWrite == 0) Map.empty
        else readRenames(dir, lvAtWrite)),
        if (overwrite || lvAtWrite == 0) Map.empty
        else readDefaults(dir, lvAtWrite)),
        if (overwrite || lvAtWrite == 0) Set.empty
        else readDrops(dir, lvAtWrite)), dir, group).map(_.nRows).sum
    val orphan = Paths.get(resolveGroup(dir, group))
    beforePublish()
    var attempts = 0
    while (attempts < 64) {
      val parent = latestVersion(dir)
      if (lastTxnVersion(dir, appId).exists(_ >= txnVersion)) {
        // a racing replay won: drop the orphaned group, report skip
        // (checked FIRST — if our own txn already landed, we publish
        // nothing, so a racing overwrite's staleness is moot)
        deleteRecursively(orphan)
        return None
      }
      // a racing OVERWRITE anywhere past the basis snapshot (captured at
      // the data write) is a TRUE conflict — the snapshot this commit
      // (or its read-merge basis, the st10 IVM shape) was built on no
      // longer exists; silently rebasing would e.g. re-append a key a
      // racing MOR delete just removed, or republish a merge computed
      // from the stale snapshot (lost update). UNCONDITIONAL — our own
      // commit being an overwrite does not exempt it; a blind overwrite
      // that truly reads nothing can run commit(overwrite = true).
      // Checked against the BASIS, not just the failed publish slot, so
      // an overwrite landing in the beforePublish window (before the
      // first attempt ever reads latestVersion) is caught too — the
      // commitAppendOcc rule.
      ((lvAtWrite + 1) to parent).foreach { w =>
        if (manifestIsOverwrite(dir, w)) {
          deleteRecursively(orphan)
          throw new java.util.ConcurrentModificationException(
            s"idempotentCommit($appId, $txnVersion) based on v$lvAtWrite " +
              s"conflicts with concurrent OVERWRITE commit v$w at $dir")
        }
      }
      val v = parent + 1
      val groups =
        (if (overwrite || parent == 0) Seq.empty
         else readManifest(dir, parent)) :+ group
      val stats =
        if (overwrite || parent == 0) Map.empty[String, (Long, Long)]
        else readStats(dir, parent)
      val (dgs, dk) =
        if (overwrite || parent == 0) (Seq.empty[String], None)
        else readDeletes(dir, parent)
      val ren =
        if (overwrite || parent == 0) Map.empty[String, String]
        else readRenames(dir, parent)
      val json = manifestJson(v, parent, overwrite, groups, stats,
        stats2 =
          if (overwrite || parent == 0) Map.empty
          else readStats2(dir, parent),
        txn = Some((appId, txnVersion)), dgroups = dgs, dkey = dk,
        renames = ren,
        defaults =
          if (overwrite || parent == 0) Map.empty
          else readDefaults(dir, parent),
        drops =
          if (overwrite || parent == 0) Set.empty
          else readDrops(dir, parent),
        scol =
          if (overwrite || parent == 0) None
          else readStatsCol(dir, parent),
        scol2 =
          if (overwrite || parent == 0) None
          else readStatsCol2(dir, parent),
        counts =
          (if (overwrite || parent == 0) Map.empty[String, Long]
           else readCounts(dir, parent)) + (group -> rows))
      if (publishIfAbsent(dir, v, json)) return Some(v)
      // publish lost to a racing APPEND (a false conflict): loop back —
      // the next iteration's basis sweep ((lvAtWrite+1)..parent) vets
      // every commit that landed, including the one that beat us, and
      // throws if ANY of them is an overwrite
      attempts += 1
    }
    // exhaustion aborts like the other two abort paths: no manifest ever
    // referenced the group, so leaving it would leak one full data group
    // per starved writer (nothing sweeps unreferenced UNCOMMITTED groups)
    deleteRecursively(orphan)
    throw new IllegalStateException(
      s"idempotentCommit($appId, $txnVersion) lost 64 straight races at $dir")
  }

  /** Commit timestamp recorded in version `v`'s manifest; None when the
    * version carries no timestamp OR its manifest has been vacuumed away
    * (expired history must not break timestamp travel to RETAINED
    * versions — Delta keeps timestamp travel working within retained
    * history). */
  private def readTs(dir: String, v: Int): Option[Long] = {
    val p = manifestPath(dir, v)
    if (!Files.exists(p)) return None
    val json = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    "\"ts\":(-?[0-9]+)".r.findFirstMatchIn(json).map(_.group(1).toLong)
  }

  /** Time travel BY TIMESTAMP (`SELECT ... TIMESTAMP AS OF`): read the
    * latest RETAINED version whose recorded commit timestamp is ≤ `ts`.
    * Commit timestamps are caller-INJECTED (`commit(..., commitTs = ...)`)
    * per the repo's F9 discipline — wall clocks are nondeterministic,
    * tables whose history must replay pin their clocks. Versions without
    * a recorded ts — including versions [[vacuum]] expired — are
    * ignored; fails when `ts` precedes every retained stamped commit
    * (exactly Delta's behaviour). */
  def readAsOfTimestamp(spark: SparkSession, dir: String, ts: Long)
      : DataFrame =
    read(spark, dir, versionAtTimestamp(dir, ts))

  /** Statistics-pruned snapshot read: plan only the file groups whose
    * recorded [min,max] of `statsCol` intersects [lo,hi] (a group
    * without stats is conservatively read), then apply the residual
    * predicate. Returns (frame, groupsPlanned, groupsTotal) — the
    * manifest-planning half of an Iceberg scan over this log. */
  def prunedRead(spark: SparkSession, dir: String, statsCol: String,
      lo: Long, hi: Long, version: Int = 0): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.col
    val v = if (version == 0) latestVersion(dir) else version
    requireStatsColMatch(dir, v, statsCol, "prunedRead")
    val groups = readManifest(dir, v)
    val stats = readStats(dir, v)
    val planned = groups.filter(g =>
      stats.get(g).forall { case (glo, ghi) => ghi >= lo && glo <= hi })
    (groupsRead(spark, dir, v, planned)
      .filter(col(statsCol) >= lo && col(statsCol) <= hi),
      planned.size, groups.size)
  }

  /** Box-pruned snapshot read over TWO-dimensional manifest statistics
    * (written by [[compactZOrder]]): plan only the groups whose recorded
    * rectangle intersects [aLo,aHi]×[bLo,bHi] (a group without 2-d stats
    * is conservatively read), then apply the residual predicate. Returns
    * (frame, groupsPlanned, groupsTotal) — [[ZOrder.boxPrunedRead]]'s
    * contract lifted from per-file sidecars to the version log. */
  def boxPrunedRead(spark: SparkSession, dir: String, aCol: String,
      bCol: String, aLo: Long, aHi: Long, bLo: Long, bHi: Long,
      version: Int = 0): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.col
    val v = if (version == 0) latestVersion(dir) else version
    readStatsCol2(dir, v).foreach { case (ra, rb) =>
      require(ra == aCol && rb == bCol,
        s"boxPrunedRead at $dir prunes on ($aCol, $bCol) but version " +
          s"$v's 2-D statistics are recorded on ($ra, $rb) — pruning on " +
          "different columns would plan wrong groups")
    }
    val groups = readManifest(dir, v)
    val stats2 = readStats2(dir, v)
    val planned = groups.filter(g => stats2.get(g).forall {
      case (gaLo, gaHi, gbLo, gbHi) =>
        gaHi >= aLo && gaLo <= aHi && gbHi >= bLo && gbLo <= bHi })
    (groupsRead(spark, dir, v, planned).filter(
      col(aCol) >= aLo && col(aCol) <= aHi &&
        col(bCol) >= bLo && col(bCol) <= bHi),
      planned.size, groups.size)
  }

  /** The file groups of version `v` whose recorded [min,max] of the
    * stats column could contain at least one value of `keys[keyCol]` —
    * the "files to rewrite" planning step of file-granularity COW
    * (Delta's MERGE file-pruning join, public design): the group-range
    * table is tiny (bounded by commit count), so it broadcasts against
    * ONE scan of the update batch; groups without stats are
    * conservatively touched. Returns (touched, untouched), both in
    * manifest order. */
  private def touchedGroups(keys: DataFrame, keyCol: String, dir: String,
      v: Int): (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val groups = readManifest(dir, v)
    val stats = readStats(dir, v)
    val (statGroups, blindGroups) = groups.partition(stats.contains)
    val touchedStat: Set[String] =
      if (statGroups.isEmpty) Set.empty
      else {
        val spark = keys.sparkSession
        import spark.implicits._
        val ranges = statGroups.map(g => (g, stats(g)._1, stats(g)._2))
          .toDF("__g", "__lo", "__hi")
        keys.select(col(keyCol).cast("long").as("__k"))
          .join(broadcast(ranges),
            col("__k") >= col("__lo") && col("__k") <= col("__hi"))
          .select("__g").distinct()
          .collect().map(_.getString(0)).toSet // bounded by group count
      }
    val hit = blindGroups.toSet ++ touchedStat
    (groups.filter(hit), groups.filterNot(hit))
  }

  /** MERGE INTO the versioned table (the Delta/Iceberg row-level MERGE
    * shape over this manifest log): merge `updates` by `key`
    * ([[Upsert.merge]] semantics — matched rows take the update
    * wholesale, new keys insert, the rest pass through) and commit the
    * result as a new version. Historical versions stay readable — an
    * auditor can diff pre- and post-merge snapshots forever.
    *
    * With `statsCol` (a LONG column present in `updates`, typically the
    * key itself) the merge is FILE-GRANULARITY copy-on-write — see
    * [[mergeCommitCow]]; without it, the whole snapshot is rewritten
    * (the only correct plan when the table carries no statistics).
    * Returns the committed version. */
  def mergeCommit(updates: DataFrame, dir: String, key: String,
      statsCol: Option[String] = None): Int = statsCol match {
    case Some(sc) => mergeCommitCow(updates, dir, key, sc)._1
    case None =>
      val merged = Upsert.merge(read(updates.sparkSession, dir), updates, key)
      commit(merged, dir, overwrite = true)
  }

  /** File-granularity copy-on-write MERGE — the 100 TB merge shape
    * (Delta/Iceberg file-level COW, public design): plan the file groups
    * whose manifest [min,max] of `statsCol` could contain an update key
    * (one broadcast range-join over the update batch — [[touchedGroups]]),
    * rewrite ONLY those groups merged with the updates as one new group,
    * and carry every untouched group into the new manifest BY NAME,
    * verbatim, stats included. Cost is proportional to the touched data
    * plus the update batch — a merge against a 10 PB table that touches
    * one group rewrites one group.
    *
    * An update key outside every group's range still lands (the merge of
    * the touched slice inserts it; with zero touched groups the batch
    * commits as a pure APPEND — which [[changes]] then serves file-level).
    * Returns (version, rewrittenGroups, carriedGroups). */
  def mergeCommitCow(updates: DataFrame, dir: String, key: String,
      statsCol: String): (Int, Seq[String], Seq[String]) = {
    val spark = updates.sparkSession
    val parent = latestVersion(dir)
    require(parent > 0, s"nothing to merge into at $dir")
    requireNoMorDeletes(dir, parent, "file-granularity MERGE")
    requireNoRenames(dir, parent, "file-granularity MERGE")
    requireNoDefaults(dir, parent, "file-granularity MERGE")
    requireNoDrops(dir, parent, "file-granularity MERGE")
    requireStatsColMatch(dir, parent, statsCol, "file-granularity MERGE")
    val (touched, carried) = touchedGroups(updates, statsCol, dir, parent)
    val merged =
      if (touched.isEmpty) updates
      else Upsert.merge(groupsRead(spark, dir, parent, touched), updates, key)
    val v = commitRewrite(merged, spark, dir, parent, carried, Some(statsCol))
    (v, touched, carried)
  }

  /** Row-level DELETE — the remaining CRUD verb over the log (Delta/
    * Iceberg `DELETE FROM ... WHERE`): read the latest snapshot, drop the
    * matching rows, publish the survivors as a new OVERWRITE version.
    * History stays readable (the audit property every destructive verb
    * here preserves); [[changes]] across the delete step emits exactly
    * the deleted rows as `delete` change rows. Full-snapshot rewrite —
    * when the table carries manifest statistics on the predicate column,
    * use [[deleteCommitCow]] instead. Returns the committed version. */
  def deleteCommit(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column): Int =
    commit(read(spark, dir).filter(!predicate), dir, overwrite = true)

  /** File-granularity copy-on-write DELETE of rows with
    * `statsCol ∈ [lo, hi]`: only the groups whose manifest range
    * intersects the delete range are rewritten (filtered to survivors,
    * one new group); untouched groups carry over BY NAME, stats
    * included — the [[mergeCommitCow]] plan for the delete verb.
    * Returns (version, rewrittenGroups, carriedGroups). */
  def deleteCommitCow(spark: SparkSession, dir: String, statsCol: String,
      lo: Long, hi: Long): (Int, Seq[String], Seq[String]) = {
    import org.apache.spark.sql.functions.col
    val parent = latestVersion(dir)
    require(parent > 0, s"nothing to delete from at $dir")
    requireNoMorDeletes(dir, parent, "file-granularity DELETE")
    requireNoRenames(dir, parent, "file-granularity DELETE")
    // fail fast HERE, not in commitRewrite: the no-touch branch below
    // mints its own manifest and would otherwise silently clear pending
    // schema actions (drop resurrection / default loss)
    requireNoDefaults(dir, parent, "file-granularity DELETE")
    requireNoDrops(dir, parent, "file-granularity DELETE")
    requireStatsColMatch(dir, parent, statsCol, "file-granularity DELETE")
    val groups = readManifest(dir, parent)
    val stats = readStats(dir, parent)
    val touched = groups.filter(g =>
      stats.get(g).forall { case (glo, ghi) => ghi >= lo && glo <= hi })
    val carried = groups.filterNot(touched.toSet)
    require(touched.nonEmpty || carried.nonEmpty, "empty manifest")
    val survivors =
      if (touched.isEmpty) null
      else groupsRead(spark, dir, parent, touched)
        .filter(!(col(statsCol) >= lo && col(statsCol) <= hi))
    if (touched.isEmpty) {
      // nothing intersects: the delete is a metadata no-op — still mint
      // a version so the verb's contract (a new version exists) holds
      // (2-D stats + both stats-column identities carry too, or a
      // no-op delete would lose Z-ORDER pruning for every carried group)
      val v = parent + 1
      val json = manifestJson(v, parent, overwrite = true, carried, stats,
        readStats2(dir, parent), scol = readStatsCol(dir, parent),
        scol2 = readStatsCol2(dir, parent),
        counts = readCounts(dir, parent).filter(kv => carried.contains(kv._1)))
      if (!publishIfAbsent(dir, v, json))
        throw new java.util.ConcurrentModificationException(
          s"deleteCommitCow at $dir lost the race for version $v")
      (v, Seq.empty, carried)
    } else {
      val v = commitRewrite(survivors, spark, dir, parent, carried,
        Some(statsCol))
      (v, touched, carried)
    }
  }

  /** MERGE-ON-READ equality delete (the Iceberg v2 equality-delete-file /
    * Delta deletion-vector design, public): instead of rewriting ANY data
    * group, commit a SMALL file of deleted keys; every subsequent read of
    * the snapshot masks those keys out ([[read]]'s scan loads each
    * group's deletion vector). This is the third point on the delete
    * write-amplification spectrum —
    * [[deleteCommit]] rewrites the table, [[deleteCommitCow]] rewrites
    * the touched groups, this rewrites NOTHING (cost O(deleted keys)) and
    * moves the work to read time, which is the right trade for frequent
    * small deletes (GDPR erasure against a 100 TB table) between
    * maintenance windows. Delete files accumulate across commits
    * (appends carry them forward) until [[applyDeletesCommit]] folds
    * them into the data. Multiple MOR deletes must share one key column.
    * Marked overwrite in the log: a racing OCC append is a TRUE conflict
    * (it might re-insert a deleted key). Returns the committed version. */
  def deleteCommitMor(deletes: DataFrame, dir: String, key: String): Int = {
    requireId("delete key column", key)
    val parent = latestVersion(dir)
    require(parent > 0, s"nothing to delete from at $dir")
    // a TRUNCATE tombstone holds no rows: deleting from it is a no-op
    // (and must not publish a groups-empty manifest that loses the
    // recorded schema — review r16)
    val groups = readManifest(dir, parent)
    if (groups.isEmpty) return parent
    requireNoRenames(dir, parent, "merge-on-read DELETE")
    requireNoDefaults(dir, parent, "merge-on-read DELETE")
    requireNoDrops(dir, parent, "merge-on-read DELETE")
    val (pdgs, pdk) = readDeletes(dir, parent)
    require(pdk.forall(_ == key),
      s"pending MOR deletes use key '${pdk.get}', got '$key'")
    val v = parent + 1
    val dgroup = s"d$v"
    val spark = deletes.sparkSession
    import org.apache.spark.sql.functions.{broadcast, col}
    // delete files carry the TABLE's key type, so every reader probes
    // like-typed values: a LONG delete key against a DECIMAL key column
    // would otherwise build a mask the connector's typed probe misses.
    // A key whose cast does not compare equal to itself under Spark's
    // coercion (5.5 into BIGINT, 'x' into BIGINT) matches no table value
    // under join equality either, so it is dropped, never truncated into
    // a match. Only NULL keys are dropped (join equality never matches
    // NULL); a NaN key matches NaN rows under join equality, so it is
    // kept — `na.drop()` would drop NaN with the NULLs.
    val given = deletes.col(key)
    val tableKeyType = ParquetFooters.schema(spark,
        groups.map(resolveGroup(dir, _))).fields
      .find(f => spark.sessionState.conf.resolver(f.name, key)).map(_.dataType)
    // refused before anything is written (valueAt throws for a key no
    // deletion vector can compare): such a delete would fail every read
    graft.sources.MorMask.valueAt(
      tableKeyType.getOrElse(deletes.select(given).schema.head.dataType))
    val keys = (tableKeyType match {
      case Some(t) if t != deletes.select(given).schema.head.dataType =>
        deletes.select(given.try_cast(t).as(key), given.as("__given"))
          .filter(col(key) === col("__given")).select(col(key))
      case _ => deletes.select(given.as(key))
    }).filter(col(key).isNotNull)
    // PER-GROUP DELETION VECTORS (the Iceberg/Delta DV sidecar shape):
    // when the manifest stats describe the delete key for EVERY data
    // group, each key is routed to the group(s) whose [min,max] range
    // could hold it and the delete group is laid out hive-partitioned
    // by target group (`__tg=<group>/`). A reader then loads ONLY its
    // own group's vector — no global key union on the driver, no size
    // cap, and untouched groups pay zero per-row masking. Keys landing
    // in no group's range go to the reserved `__tg=__none` partition:
    // they cannot exist in any in-scope group (outside every [min,max]),
    // but the carried-forward-mask contract says a deleted key stays
    // masked if a LATER append re-inserts it, so they must persist —
    // readers fold `__none` into the out-of-scope full union only,
    // identical to the legacy flat layout's semantics. Without
    // usable stats the legacy single-file layout applies to all groups
    // (the conservative plan, like applyDeletesCommit's fallback).
    val ranges = readStats(dir, parent)
    val statsUsable = readStatsCol(dir, parent).contains(key) &&
      groups.forall(ranges.contains)
    val dgroupDir = s"$dir/data/$dgroup"
    // ONE job: the write. Emptiness is the tasks' row count (a persist +
    // isEmpty probe used to cost two more jobs); an empty delete group is
    // removed before the manifest publishes.
    val written = if (statsUsable) {
      import org.apache.spark.sql.functions.coalesce
      import org.apache.spark.sql.functions.lit
      val rangeDf = spark.createDataFrame(
        groups.map(g => (g, ranges(g)._1, ranges(g)._2)))
        .toDF("__tg", "__lo", "__hi")
      val distinctKeys = keys.distinct()
      val routed = distinctKeys.join(broadcast(rangeDf),
          distinctKeys(key).cast("long") >= col("__lo") &&
            distinctKeys(key).cast("long") <= col("__hi"), "left")
        .select(distinctKeys(key),
          coalesce(col("__tg"), lit(NoneGroup)).as("__tg"))
      // O(deleted keys × touched groups) rows; hash-repartition on the
      // target group so EACH touched group's vector is written by its
      // own task — a big-delete regime (quarter-table GDPR erasure at
      // 100 TB) routes billions of keys, and a single write task would
      // be the same funnel shape topFraction retired. One file per
      // `__tg=` dir (all rows of a group hash to one partition; a task
      // owning two colliding groups writes one file per dir).
      writeGroup(routed.repartition(col("__tg")).sortWithinPartitions("__tg"),
        dir, dgroup, Some("__tg"))
    } else {
      // a delete file is small by design — one file; deduplicating AFTER
      // the coalesce needs no exchange (a single partition is already
      // clustered on every key)
      writeGroup(keys.coalesce(1).distinct(), dir, dgroup)
    }
    val wroteGroup = written.map(_.nRows).sum > 0
    if (!wroteGroup) deleteRecursively(Paths.get(dgroupDir))
    else if (statsUsable)
      // the routing SCOPE: the groups that existed when this delete
      // was routed. A data group appended LATER is outside the
      // scope and the connector must mask it with the FULL key
      // union (appends carry delete files forward — a re-inserted
      // key stays deleted until applyDeletesCommit; review r16)
      Files.write(Paths.get(dgroupDir, "_scope"),
        groups.mkString("\n").getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
    // keys matching nothing (or an empty delete frame) still commit a
    // version — the caller's delete "happened" — but add no delete group
    val dgs = if (wroteGroup) pdgs :+ dgroup else pdgs
    val json = manifestJson(v, parent, overwrite = true,
      groups, ranges, readStats2(dir, parent), dgroups = dgs,
      dkey = if (dgs.nonEmpty) Some(key) else None,
      scol = readStatsCol(dir, parent),
      scol2 = readStatsCol2(dir, parent))
    if (!publishIfAbsent(dir, v, json))
      throw new java.util.ConcurrentModificationException(
        s"deleteCommitMor at $dir lost the race for version $v")
    v
  }

  /** Fold the pending merge-on-read delete files into the data — the
    * maintenance verb (Iceberg rewrite_data_files on deletes / Delta
    * PURGE): plan the data groups whose manifest stats could contain a
    * deleted key (the [[touchedGroups]] broadcast range-join over the
    * UNION of the delete files), rewrite only those through the masked
    * read, carry the rest by name, and publish a delete-free version.
    * Requires the delete key to be the stats column (or the table to
    * carry no stats, in which case everything rewrites — the only
    * correct plan). Returns (version, rewrittenGroups, carriedGroups). */
  def applyDeletesCommit(spark: SparkSession, dir: String)
      : (Int, Seq[String], Seq[String]) = {
    val parent = latestVersion(dir)
    require(parent > 0, s"nothing to apply at $dir")
    requireNoRenames(dir, parent, "applyDeletesCommit")
    requireNoDefaults(dir, parent, "applyDeletesCommit")
    requireNoDrops(dir, parent, "applyDeletesCommit")
    val (dgs, Some(dk)) = readDeletes(dir, parent): @unchecked
    // the manifest stats can only plan the fold when they describe the
    // DELETE KEY's column; stats on any other column (or unlabeled
    // legacy stats) make every group conservatively touched — comparing
    // id keys against e.g. ts ranges would take the no-intersection
    // fast path and RESURRECT every deleted row
    val statsUsable = readStatsCol(dir, parent).contains(dk)
    val (touched, carried) =
      if (statsUsable)
        touchedGroups(deleteKeys(spark, dir, parent, dgs, dk), dk, dir, parent)
      else (readManifest(dir, parent), Seq.empty[String])
    if (touched.isEmpty) {
      // no group can contain a deleted key: just drop the delete files
      val v = parent + 1
      val json = manifestJson(v, parent, overwrite = true, carried,
        readStats(dir, parent), readStats2(dir, parent))
      if (!publishIfAbsent(dir, v, json))
        throw new java.util.ConcurrentModificationException(
          s"applyDeletesCommit at $dir lost the race for version $v")
      (v, Seq.empty, carried)
    } else {
      val purged = groupsRead(spark, dir, parent, touched)
      // in the pruned path the recorded stats column IS dk (checked
      // above); in the conservative path nothing is carried, so fresh
      // dk stats are consistent either way
      val v = commitRewrite(purged, spark, dir, parent, carried, Some(dk))
      (v, touched, carried)
    }
  }

  /** RESTORE TO VERSION AS OF (Delta RESTORE, public verb): re-publish an
    * older snapshot's file-group list (data + pending deletes + stats,
    * all BY NAME — zero data copied, O(commit count)) as the NEW latest
    * version. History after the restore point stays readable; [[changes]]
    * across the restore step emits exactly the diff that undoes the
    * intervening commits. Fails if the target's manifest was vacuumed. */
  def restore(spark: SparkSession, dir: String, toVersion: Int): Int = {
    val parent = latestVersion(dir)
    require(toVersion >= 1 && toVersion < parent,
      s"need 1 <= toVersion < $parent, got $toVersion")
    val (dgs, dk) = readDeletes(dir, toVersion)
    val v = parent + 1
    val json = manifestJson(v, parent, overwrite = true,
      readManifest(dir, toVersion), readStats(dir, toVersion),
      readStats2(dir, toVersion), dgroups = dgs, dkey = dk,
      renames = readRenames(dir, toVersion),
      defaults = readDefaults(dir, toVersion),
      drops = readDrops(dir, toVersion),
      scol = readStatsCol(dir, toVersion),
      scol2 = readStatsCol2(dir, toVersion),
      // restoring TO a tombstone re-publishes its recorded schema
      schemaDdl = readSchemaDdl(dir, toVersion))
    if (!publishIfAbsent(dir, v, json))
      throw new java.util.ConcurrentModificationException(
        s"restore at $dir lost the race for version $v")
    v
  }

  /** ALTER TABLE RENAME COLUMN — Delta column mapping's name mode
    * (public design): the rename is a METADATA-ONLY commit. Zero data
    * rewritten: file groups keep their immutable physical column names
    * forever; the manifest records physical → logical, every read path
    * applies it last, and appends translate back to physical before
    * writing ([[commit]]'s toPhysical step — groups stay
    * schema-homogeneous). Time travel is exact: versions before the
    * rename still read under the OLD name (each manifest carries its
    * own mapping). At 100 TB this is the difference between an O(1)
    * schema change and a full-table rewrite. Group-carrying rewrite
    * verbs and the change feed refuse over a pending mapping (Delta's
    * own column-mapping restrictions); [[applyRenamesCommit]]
    * materializes it away. Returns the committed version. */
  /** ALTER on a TOMBSTONE head (zero file groups, [[truncateCommit]]):
    * there are no files to normalize, so the change applies DIRECTLY to
    * the recorded logical schema — a new empty snapshot with the
    * transformed DDL and NO pending rename/default/drop state (review
    * r16: without this, a metadata verb after TRUNCATE published an
    * empty manifest with no schema and wedged the head). */
  private def alterTombstone(dir: String, parent: Int,
      transform: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType): Int = {
    val st = org.apache.spark.sql.types.StructType.fromDDL(
      readSchemaDdl(dir, parent).getOrElse(throw new IllegalStateException(
        s"empty manifest without recorded schema at $dir v$parent")))
    val v = parent + 1
    val json = manifestJson(v, parent, overwrite = false, Seq.empty,
      schemaDdl = Some(transform(st).toDDL))
    if (!publishIfAbsent(dir, v, json))
      throw new java.util.ConcurrentModificationException(
        s"ALTER at $dir lost the race for version $v")
    v
  }

  def renameColumnCommit(spark: SparkSession, dir: String, from: String,
      to: String): Int = {
    requireId("rename source column", from)
    requireId("rename target column", to)
    require(from != to, s"rename $from -> $to is a no-op")
    val parent = latestVersion(dir)
    require(parent > 0, s"nothing to rename at $dir")
    // mutual exclusion with initial-default/dropped columns: a rename
    // of (or over) one would need the maps re-keyed and the per-group
    // normalization name-mapped — materialize one feature first
    requireNoDefaults(dir, parent, "RENAME COLUMN")
    requireNoDrops(dir, parent, "RENAME COLUMN")
    val cols = read(spark, dir, parent).columns.toSet
    require(cols(from), s"column $from not in snapshot schema $cols")
    require(!cols(to), s"column $to already exists in snapshot schema")
    if (readManifest(dir, parent).isEmpty)
      return alterTombstone(dir, parent, st =>
        org.apache.spark.sql.types.StructType(st.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f)))
    val m = readRenames(dir, parent)
    // compose: the mapping stays keyed by ORIGINAL physical names
    val phys = m.find(_._2 == from).map(_._1).getOrElse(from)
    val newM = (m - phys) ++ (if (phys == to) Map.empty else Map(phys -> to))
    val (dgs, dk) = readDeletes(dir, parent)
    val v = parent + 1
    // the stats-column identity is a LOGICAL name: renaming that very
    // column remaps it so post-rename pruning on the new name still
    // matches (s42 pins that carried stats keep pruning after a rename)
    val scolRemapped = readStatsCol(dir, parent)
      .map(c => if (c == from) to else c)
    val scol2Remapped = readStatsCol2(dir, parent).map { case (a, b) =>
      (if (a == from) to else a, if (b == from) to else b)
    }
    val json = manifestJson(v, parent, overwrite = false,
      readManifest(dir, parent), readStats(dir, parent),
      readStats2(dir, parent), dgroups = dgs, dkey = dk, renames = newM,
      scol = scolRemapped, scol2 = scol2Remapped)
    if (!publishIfAbsent(dir, v, json))
      throw new java.util.ConcurrentModificationException(
        s"renameColumnCommit at $dir lost the race for version $v")
    v
  }

  /** Materialize the column mapping: rewrite the snapshot once so
    * physical names equal logical names and the mapping clears —
    * unblocks the group-carrying rewrite verbs after a rename. */
  def applyRenamesCommit(spark: SparkSession, dir: String): Int = {
    val parent = latestVersion(dir)
    require(readRenames(dir, parent).nonEmpty,
      s"no column mapping to materialize at $dir")
    commit(read(spark, dir, parent), dir, overwrite = true)
  }

  /** ALTER TABLE ADD COLUMN ... DEFAULT — a METADATA-ONLY commit (the
    * Iceberg initial-default / Delta DEFAULT-feature design, public):
    * zero data rewritten. The manifest records (column, type, default
    * literal); [[read]] fills the default into file groups whose
    * physical schema predates the column, [[commit]] materializes it
    * into batches that omit it (so post-ALTER groups are physically
    * complete), and time travel is exact — versions before the ALTER
    * read WITHOUT the column, each manifest carrying its own default
    * map. At 100 TB this is an O(1) schema change where a naive engine
    * pays a full-table rewrite. Group-carrying rewrite verbs and RENAME
    * refuse over pending defaults ([[requireNoDefaults]], mirroring the
    * column-mapping restriction); [[applyDefaultsCommit]] materializes
    * them away. Returns the committed version. */
  def addColumnCommit(spark: SparkSession, dir: String, name: String,
      sqlType: String, defaultLiteral: String): Int = {
    requireId("added column", name)
    // charset gate FIRST — the probe below interpolates both strings
    // into expr() text, so a quote-bearing literal would inject an
    // arbitrary SQL expression (e.g. java_method) into the probe's
    // evaluation if this ran after it (the manifest writer re-checks,
    // but by then the probe has already executed)
    requireDefault(sqlType, defaultLiteral)
    val parent = latestVersion(dir)
    require(parent > 0, s"nothing to alter at $dir")
    requireNoRenames(dir, parent, "ADD COLUMN")
    require(!readDrops(dir, parent).contains(name),
      s"column $name was dropped metadata-only — re-adding would " +
        "resurrect stale pre-DROP values; run applyDropsCommit first")
    val cols = read(spark, dir, parent).columns.toSet
    require(!cols(name), s"column $name already exists in snapshot schema")
    // the cast must PARSE AND EVALUATE before anything publishes — a
    // typo'd type ('strng') passes the charset check but would poison
    // every subsequent read (and applyDefaultsCommit, the recovery verb)
    try spark.range(1)
      .select(org.apache.spark.sql.functions
        .expr(s"CAST('$defaultLiteral' AS $sqlType)"))
      .collect()
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"default CAST('$defaultLiteral' AS $sqlType) does not evaluate: " +
          e.getMessage)
    }
    if (readManifest(dir, parent).isEmpty)
      // tombstone: no pre-ALTER rows exist to serve the default —
      // the column just joins the recorded schema
      return alterTombstone(dir, parent, st =>
        org.apache.spark.sql.types.StructType(st.fields :+
          org.apache.spark.sql.types.StructField(name,
            org.apache.spark.sql.types.DataType.fromDDL(sqlType))))
    val (dgs, dk) = readDeletes(dir, parent)
    val v = parent + 1
    val json = manifestJson(v, parent, overwrite = false,
      readManifest(dir, parent), readStats(dir, parent),
      readStats2(dir, parent), dgroups = dgs, dkey = dk,
      defaults = readDefaults(dir, parent) +
        (name -> (sqlType, defaultLiteral)),
      scol = readStatsCol(dir, parent),
      scol2 = readStatsCol2(dir, parent))
    if (!publishIfAbsent(dir, v, json))
      throw new java.util.ConcurrentModificationException(
        s"addColumnCommit at $dir lost the race for version $v")
    v
  }

  /** Materialize pending initial-default columns: rewrite the snapshot
    * once so every group physically carries them and the default map
    * clears — unblocks the group-carrying rewrite verbs and RENAME. */
  def applyDefaultsCommit(spark: SparkSession, dir: String): Int = {
    val parent = latestVersion(dir)
    require(readDefaults(dir, parent).nonEmpty,
      s"no column defaults to materialize at $dir")
    commit(read(spark, dir, parent), dir, overwrite = true)
  }

  /** ALTER TABLE DROP COLUMN — the dual of [[addColumnCommit]], also
    * METADATA-ONLY (Delta DROP COLUMN under column mapping, public
    * design): files keep the column's bytes forever, the manifest
    * records the dropped name, every read projects it out last, and
    * batches still carrying it are stripped at write. Time travel is
    * exact: pre-DROP versions still read the column. Re-adding a
    * dropped name is refused (pre-DROP groups would resurrect stale
    * values — the real systems avoid this with per-column physical
    * ids; the guard is the honest equivalent). Returns the version. */
  def dropColumnCommit(spark: SparkSession, dir: String,
      name: String): Int = {
    requireId("dropped column", name)
    val parent = latestVersion(dir)
    require(parent > 0, s"nothing to alter at $dir")
    requireNoRenames(dir, parent, "DROP COLUMN")
    require(!readDefaults(dir, parent).contains(name),
      s"column $name has a pending initial default — materialize first")
    val cols = read(spark, dir, parent).columns.toSet
    require(cols(name), s"column $name not in snapshot schema $cols")
    val (dgs, dk) = readDeletes(dir, parent)
    require(!dk.contains(name),
      s"column $name is the pending merge-on-read delete key — " +
        "apply the deletes first")
    require(!readStatsCol(dir, parent).contains(name) &&
      !readStatsCol2(dir, parent).exists(p => p._1 == name || p._2 == name),
      s"column $name carries the manifest statistics — dropping it would " +
        "orphan them; compact/OPTIMIZE onto another stats column first")
    if (readManifest(dir, parent).isEmpty) {
      require(read(spark, dir, parent).columns.length > 1,
        s"cannot drop the last column of $dir")
      return alterTombstone(dir, parent, st =>
        org.apache.spark.sql.types.StructType(
          st.fields.filterNot(_.name == name)))
    }
    val v = parent + 1
    val json = manifestJson(v, parent, overwrite = false,
      readManifest(dir, parent), readStats(dir, parent),
      readStats2(dir, parent), dgroups = dgs, dkey = dk,
      defaults = readDefaults(dir, parent),
      drops = readDrops(dir, parent) + name,
      scol = readStatsCol(dir, parent),
      scol2 = readStatsCol2(dir, parent))
    if (!publishIfAbsent(dir, v, json))
      throw new java.util.ConcurrentModificationException(
        s"dropColumnCommit at $dir lost the race for version $v")
    v
  }

  /** Materialize pending drops: rewrite the snapshot once so no group
    * carries the dropped bytes and the drop set clears — unblocks the
    * group-carrying rewrite verbs and RENAME, and reclaims the space
    * a metadata-only drop deliberately does not. */
  def applyDropsCommit(spark: SparkSession, dir: String): Int = {
    val parent = latestVersion(dir)
    require(readDrops(dir, parent).nonEmpty,
      s"no column drops to materialize at $dir")
    commit(read(spark, dir, parent), dir, overwrite = true)
  }

  /** Publish `df` as version parent+1 whose manifest = `carried` (with
    * their existing stats/stats2 carried over verbatim) + the newly
    * written group holding `df` — the shared commit tail of every
    * file-granularity rewrite verb (COW merge/delete, bin-packed
    * compaction). Marked `overwrite` iff any parent group was dropped,
    * so [[changes]] correctly serves a pure-append step file-level and
    * pays the snapshot diff only when data was actually rewritten. */
  private def commitRewrite(df: DataFrame, spark: SparkSession, dir: String,
      parent: Int, carried: Seq[String], statsCol: Option[String],
      repartitionTo: Int = 0): Int = {
    requireNoDefaults(dir, parent, "file-granularity rewrite")
    requireNoDrops(dir, parent, "file-granularity rewrite")
    val parentGroups = readManifest(dir, parent).toSet
    val v = parent + 1
    val group = s"c$v"
    val parentStats = readStats(dir, parent)
    val parentStats2 = readStats2(dir, parent)
    val carriedSet = carried.toSet
    val overwrite = (parentGroups -- carriedSet).nonEmpty
    // identity consistency only matters while carried groups still hold
    // stats under the old label — a full rewrite (nothing carried) may
    // legitimately re-key the statistics to a new column. Guarded BEFORE
    // the data write so a refusal never orphans a group.
    val carriedStats = parentStats.filter(kv => carriedSet(kv._1))
    val parentScol =
      if (carriedStats.nonEmpty) readStatsCol(dir, parent) else None
    statsCol.foreach { c =>
      parentScol match {
        case Some(pc) => require(pc == c,
          s"rewrite records stats on '$c' but carried groups' stats at " +
            s"$dir describe '$pc'")
        // same rule as commit(): never stamp a label over carried
        // UNLABELED legacy stats (their column is unknown)
        case None => require(carriedStats.isEmpty,
          s"rewrite records stats on '$c' but carried groups at $dir " +
            "hold unlabeled legacy stats (column unknown) — a full " +
            "rewrite must re-key them first")
      }
    }
    val written = writeGroup(
      if (repartitionTo > 0) df.repartition(repartitionTo) else df, dir, group,
      statsCols = statsCol.toSeq)
    val newStats = statsCol.flatMap(VersionedCommitMessage.ranges(written).get)
      .map(group -> _)
    val carriedStats2 = parentStats2.filter(kv => carriedSet(kv._1))
    val json = manifestJson(v, parent, overwrite, carried :+ group,
      carriedStats ++ newStats, carriedStats2,
      scol = statsCol.orElse(parentScol),
      scol2 = if (carriedStats2.nonEmpty) readStatsCol2(dir, parent)
              else None,
      counts = readCounts(dir, parent).filter(kv => carriedSet(kv._1)) +
        (group -> written.map(_.nRows).sum))
    if (!publishIfAbsent(dir, v, json))
      throw new java.util.ConcurrentModificationException(
        s"rewrite commit at $dir lost the race for version $v")
    v
  }

  /** On-disk byte size of each file group in a version's manifest — the
    * planning input of [[compactBinPacked]]. One filesystem listing per
    * group (bounded by commit count, not data). */
  def groupSizes(spark: SparkSession, dir: String, version: Int = 0)
      : Seq[(String, Long)] = {
    val v = if (version == 0) latestVersion(dir) else version
    val conf = spark.sparkContext.hadoopConfiguration
    readManifest(dir, v).map { g =>
      val p = new org.apache.hadoop.fs.Path(resolveGroup(dir, g))
      g -> p.getFileSystem(conf).getContentSummary(p).getLength
    }
  }

  /** OPTIMIZE: BIN-PACK the latest snapshot's under-target file groups
    * (Delta OPTIMIZE / Iceberg rewrite_data_files, the real planning
    * shape): groups smaller than `targetBytes` are read and rewritten as
    * ONE new group split into ceil(smallBytes/targetBytes) files — so no
    * single write task handles more than ~targetBytes — while groups
    * already at or above target CARRY OVER by name, untouched (a 100 TB
    * table's compaction pays for its small-file tail, never a full
    * rewrite). Content is invariant by construction; history stays
    * readable. `statsCol` re-records manifest statistics for the packed
    * group (compaction must not lose the planning metadata); carried
    * groups keep theirs. Returns
    * (version, binCount, packedGroups, carriedGroups); when fewer than
    * two groups are under target there is nothing to pack and NO version
    * is minted (version = current, binCount = 0). */
  def compactBinPacked(spark: SparkSession, dir: String,
      statsCol: Option[String] = None, targetBytes: Long = 128L << 20)
      : (Int, Int, Seq[String], Seq[String]) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val v = latestVersion(dir)
    require(v > 0, s"nothing to compact at $dir")
    // a packed group re-written WITHOUT the pending delete files would
    // resurrect deleted rows once the dgroups are dropped — apply first
    requireNoMorDeletes(dir, v, "bin-packed OPTIMIZE")
    requireNoRenames(dir, v, "bin-packed OPTIMIZE")
    val sizes = groupSizes(spark, dir, v)
    val smalls = sizes.filter(_._2 < targetBytes)
    val carried = sizes.filterNot(s => smalls.exists(_._1 == s._1)).map(_._1)
    if (smalls.size < 2) return (v, 0, Seq.empty, readManifest(dir, v))
    val smallBytes = smalls.map(_._2).sum
    val bins = math.max(1L,
      (smallBytes + targetBytes - 1) / targetBytes).toInt
    val packed = groupsRead(spark, dir, v, smalls.map(_._1))
    val nv = commitRewrite(packed, spark, dir, v, carried, statsCol,
      repartitionTo = bins)
    (nv, bins, smalls.map(_._1), carried)
  }

  /** OPTIMIZE with the default 128 MB target — kept as the simple verb
    * (the s22/s25 shape: at test scale every group is under target, so
    * the table packs to a single group). Returns the new version, or the
    * current one when nothing needed packing. */
  def compact(spark: SparkSession, dir: String,
      statsCol: Option[String] = None, targetBytes: Long = 128L << 20): Int =
    compactBinPacked(spark, dir, statsCol, targetBytes)._1

  /** OPTIMIZE ... ZORDER BY (a, b) — compaction that RE-CLUSTERS the
    * snapshot on two keys (Delta's `OPTIMIZE ... ZORDER BY`, public
    * verb): the whole snapshot is rewritten ordered by the Morton code
    * of (aCol, bCol), split into 2^bucketBits groups keyed by the code's
    * TOP bits (quadtree cells — each group covers one contiguous z-range,
    * i.e. a small (a,b) rectangle set), and the new manifest records each
    * group's 2-D min/max (`stats2`), so [[boxPrunedRead]] plans only the
    * groups intersecting a query box — on EITHER dimension, which is the
    * entire point of Z-ORDER over a 1-D sort.
    *
    * Inputs must be pre-gridded to [0, 2^gridBits) ints (the
    * [[ZOrder.writeZOrdered]] bucket-first rule). The bucket id is pure
    * column arithmetic (z >> (2·gridBits − bucketBits)) — deterministic,
    * no range sampling — and the write is ONE hive-partitioned pass whose
    * tasks also record each bucket's 2-D min/max. Returns
    * (version, groupCount). */
  def compactZOrder(spark: SparkSession, dir: String, aCol: String,
      bCol: String, gridBits: Int, bucketBits: Int): (Int, Int) = {
    import org.apache.spark.sql.functions._
    require(gridBits >= 1 && gridBits <= 16, s"gridBits=$gridBits outside [1,16]")
    require(bucketBits >= 1 && bucketBits <= 2 * gridBits,
      s"bucketBits=$bucketBits outside [1, ${2 * gridBits}]")
    val parent = latestVersion(dir)
    require(parent > 0, s"nothing to optimize at $dir")
    requireNoMorDeletes(dir, parent, "OPTIMIZE ZORDER BY")
    requireNoRenames(dir, parent, "OPTIMIZE ZORDER BY")
    val v = parent + 1
    val base = s"c$v"
    val shiftBits = 2 * gridBits - bucketBits
    val snap = read(spark, dir, parent)
    val z = ZOrder.zValue(col(aCol), col(bCol))
    val written = writeGroup(snap
      .withColumn("__zb", shiftright(z, shiftBits).cast("int"))
      .withColumn("__z", z)
      .repartition(col("__zb"))
      .sortWithinPartitions("__zb", "__z")
      .drop("__z"), dir, base, Some("__zb"), Seq(aCol, bCol),
      strictStats = true)
    // 2-D stats of the WRITTEN buckets (`__zb=<b>` dirs), from the
    // messages of the files under each
    val buckets = written.groupBy(m =>
        s"$base/${Paths.get(m.file.get).getParent.getFileName}")
      .map { case (g, ms) => g -> VersionedCommitMessage.ranges(ms) }
    val groups = buckets.keys.toSeq.sorted
    val stats2 = buckets.collect { case (g, r)
        if r.contains(aCol) && r.contains(bCol) =>
      g -> (r(aCol)._1, r(aCol)._2, r(bCol)._1, r(bCol)._2)
    }
    val json = manifestJson(v, parent, overwrite = true, groups,
      stats2 = stats2, scol2 = Some((aCol, bCol)))
    if (!publishIfAbsent(dir, v, json))
      throw new java.util.ConcurrentModificationException(
        s"compactZOrder at $dir lost the race for version $v")
    (v, groups.size)
  }

  private def manifestIsOverwrite(dir: String, v: Int): Boolean =
    manifestText(dir, v).contains("\"overwrite\":true")

  /** DESCRIBE HISTORY — the table's commit log as a DataFrame, oldest
    * first: (version, parent, overwrite, n_groups, n_delete_groups,
    * has_txn, schema_actions). O(commit count) manifest reads, zero
    * data touched — the metadata-table verb (Delta DESCRIBE HISTORY /
    * Iceberg `table$snapshots`, public designs). `schema_actions`
    * counts pending renames + defaults + drops at that version, so
    * metadata-only ALTERs are visible in the log. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    (1 to latestVersion(dir)).map { v =>
      val parent = "\"parent\":(\\d+)".r
        .findFirstMatchIn(manifestText(dir, v))
        .map(_.group(1).toLong).getOrElse(0L)
      (v.toLong, parent, manifestIsOverwrite(dir, v),
        readManifest(dir, v).size.toLong,
        readDeletes(dir, v)._1.size.toLong,
        manifestText(dir, v).contains("\"txn\":"),
        (readRenames(dir, v).size + readDefaults(dir, v).size +
          readDrops(dir, v).size).toLong)
    }.toDF("version", "parent", "overwrite", "n_groups",
      "n_delete_groups", "has_txn", "schema_actions")
  }

  /** True when commit `v` was an append (its manifest extends the parent's
    * file-group list), so [[changes]] serves that step FILE-LEVEL — reading
    * only the added groups, never diffing snapshots. v=1 counts: the first
    * commit's change set is its own group. */
  def stepIsAppend(dir: String, v: Int): Boolean =
    v == 1 || !manifestIsOverwrite(dir, v)

  /** Key-level diff of two snapshots — the change rows that turn `before`
    * into `after`: `insert` (key only in after), `delete` (key only in
    * before), and `update_preimage`/`update_postimage` pairs (key in both,
    * any column differs; null-safe). Unchanged rows are suppressed. One
    * key-shuffle of each side, change rows built in a single pass (the
    * conditional row-array is inlined and exploded — the joined plan is
    * never re-evaluated per change type). */
  def snapshotDiff(before: DataFrame, after: DataFrame, key: String)
      : DataFrame = {
    import org.apache.spark.sql.functions._
    require(before.columns.sameElements(after.columns),
      s"schema mismatch: ${before.columns.mkString(",")} vs ${after.columns.mkString(",")}")
    val cols = before.columns.toSeq
    val vals = cols.filter(_ != key)
    val b = vals.foldLeft(before)((d, c) => d.withColumnRenamed(c, s"__b_$c"))
      .withColumn("__b", lit(true))
    val a = vals.foldLeft(after)((d, c) => d.withColumnRenamed(c, s"__a_$c"))
      .withColumn("__a", lit(true))
    val joined = b.join(a, Seq(key), "full_outer")
    def side(prefix: String, tag: String) = struct(
      lit(tag).as("_change_type") +:
        cols.map(c => (if (c == key) col(c) else col(s"$prefix$c")).as(c)): _*)
    val changed = vals
      .map(c => !(col(s"__b_$c") <=> col(s"__a_$c")))
      .foldLeft(lit(false))(_ || _)
    import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
    val rowType = StructType(
      StructField("_change_type", StringType, nullable = false) +:
        cols.map(c => before.schema(c).copy(nullable = true)))
    val emptyRows = array().cast(ArrayType(rowType))
    val rows =
      when(col("__b").isNull, array(side("__a_", "insert")))
        .when(col("__a").isNull, array(side("__b_", "delete")))
        .when(changed, array(side("__b_", "update_preimage"),
          side("__a_", "update_postimage")))
        .otherwise(emptyRows)
    joined.select(explode(rows).as("__chg"))
      .select(cols.map(c => col(s"__chg.$c")) :+ col("__chg._change_type"): _*)
  }

  /** BALANCED unionAll over the per-commit change frames: a linear
    * foldLeft builds a left-deep tree whose ANALYZER recursion depth is
    * the commit count — a thousand-commit feed would strain (or
    * stack-overflow) driver planning before the optimizer's
    * CombineUnions ever flattens it. Pairwise reduction keeps the tree
    * (and the recursion) at depth log2(n) with zero extra jobs. */
  private def balancedUnion(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "balancedUnion of zero frames")
    if (dfs.size == 1) dfs.head
    else balancedUnion(dfs.grouped(2).map {
      case Seq(a, b) => a.unionAll(b)
      case Seq(a) => a
    }.toSeq)
  }

  /** Change-data feed between two committed versions — the incremental-read
    * verb of the lakehouse formats (Delta CDF / Iceberg incremental scan):
    * every commit step in (fromVersion, toVersion] contributes its change
    * rows, tagged `_change_type` + `_commit_version`.
    *
    * Scale shape — the reason CDC exists at 100 TB: an APPEND step is
    * served file-level (scan ONLY the groups that commit added; cost
    * bounded by the new data, the table is never touched), and only an
    * OVERWRITE step (merge/compaction) pays a key-shuffle snapshot diff.
    * A compaction step correctly yields ZERO change rows (content
    * invariance is what s22 gates). The step frames union in a BALANCED
    * tree ([[balancedUnion]]), so a thousand-commit feed keeps
    * logarithmic plan depth. */
  def changes(spark: SparkSession, dir: String, fromVersion: Int,
      toVersion: Int, key: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val latest = latestVersion(dir)
    require(fromVersion >= 0 && fromVersion < toVersion && toVersion <= latest,
      s"need 0 <= from < to <= $latest, got ($fromVersion, $toVersion)")
    // the step frames read file groups under their PHYSICAL names; a
    // feed crossing a column-mapping change would mix schemas — blocked,
    // exactly Delta's CDF-across-column-mapping restriction
    (math.max(1, fromVersion) to toVersion).foreach(v =>
      requireNoRenames(dir, v, s"change feed (v$v in range)"))
    // an ADD COLUMN inside the range changes the feed's schema shape
    // mid-stream — blocked, the CDF-across-schema-change restriction
    // (a feed entirely after the ALTER is fine: every step reads
    // through the version's own scan)
    val feedDefaults = readDefaults(dir, toVersion)
    val feedDrops = readDrops(dir, toVersion)
    (math.max(1, fromVersion) to toVersion).foreach { v =>
      require(readDefaults(dir, v) == feedDefaults,
        s"change feed at $dir crosses an ADD COLUMN boundary (v$v) — " +
          "read feeds entirely before or after the schema change")
      require(readDrops(dir, v) == feedDrops,
        s"change feed at $dir crosses a DROP COLUMN boundary (v$v) — " +
          "read feeds entirely before or after the schema change")
    }
    // canonical column order for the union (all commits share the schema)
    val dataCols = read(spark, dir, toVersion).columns.toSeq
    val steps = ((fromVersion + 1) to toVersion).map { v =>
      val step =
        if (stepIsAppend(dir, v)) {
          val added =
            readManifest(dir, v).toSet -- (
              if (v == 1) Set.empty[String] else readManifest(dir, v - 1).toSet)
          // the added groups through version v's own scan: carried MOR
          // delete files mask keys deleted before the append, and pending
          // defaults/drops normalize each group as every read does
          groupsRead(spark, dir, v, added.toSeq)
            .withColumn("_change_type", lit("insert"))
        } else {
          // MOR-delete fast path: data groups unchanged, delete files
          // grew — the change set is exactly the newly masked rows, one
          // semi-join of the prior snapshot against the NEW delete keys
          // (cost bounded by the delete, never a full-outer diff)
          val (pd, _) = readDeletes(dir, v - 1)
          val (cd, cdk) = readDeletes(dir, v)
          val newDels = cd.filterNot(pd.toSet)
          if (newDels.nonEmpty && cd.take(pd.size) == pd &&
              readManifest(dir, v) == readManifest(dir, v - 1)) {
            read(spark, dir, v - 1)
              .join(deleteKeys(spark, dir, v, newDels, cdk.get), Seq(cdk.get),
                "left_semi")
              .withColumn("_change_type", lit("delete"))
          } else snapshotDiff(read(spark, dir, v - 1), read(spark, dir, v), key)
        }
      step.select((dataCols :+ "_change_type").map(col): _*)
        .withColumn("_commit_version", lit(v.toLong))
    }
    balancedUnion(steps)
  }

  /** Apply a change feed to a base snapshot — the CONSUMER side of
    * [[changes]]: reconstructs the later snapshot from an older one plus
    * the feed, which is the contract that makes CDC useful (a downstream
    * table can follow the log without ever re-reading it). Multi-step
    * feeds collapse to the LAST change per key by commit version
    * (ties broken toward the post-image): a trailing `delete` removes the
    * key, a trailing `insert`/`update_postimage` is its final row,
    * `update_preimage` rows are informational only. One key-shuffle of
    * each side — the same cost shape as [[Upsert.merge]]. */
  def applyChanges(base: DataFrame, feed: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dataCols = base.columns.toSeq
    // pre-images are informational; among the effective classes a key
    // appears at most once per commit (diff semantics), so the version
    // alone orders the reduction — the tie-break column never fires
    val last = Upsert.latestPerKey(
      feed.filter(col("_change_type") =!= "update_preimage"),
      key, "_commit_version", "_change_type")
    val touched = last.select(col(key)).distinct()
    val untouched = base.join(touched, Seq(key), "left_anti")
    val finalRows = last.filter(col("_change_type") =!= "delete")
      .select(dataCols.map(col): _*)
    untouched.unionByName(finalRows)
  }

  /** VACUUM: expire every version below `retainFromVersion` and delete the
    * file groups no retained manifest references — the storage-reclaim verb
    * (Delta VACUUM / Iceberg expire_snapshots + remove_orphan_files).
    * Time travel to an expired version fails (its manifest is gone);
    * retained versions are untouched. Returns
    * (manifestsRemoved, groupsRemoved). At 100 TB the group sweep is a
    * listing + set difference over file-GROUP names (bounded by commit
    * count, not data) and a batch delete of whole directories. Group
    * entries may be hive-style subpaths of one commit dir
    * ([[compactZOrder]]); retention is tested on the top-level commit
    * dir, so a commit's buckets live and die together. */
  /** Production default for [[vacuum]]'s orphan grace window: a data
    * group younger than this is NEVER swept even if no retained
    * manifest references it, because it may belong to an IN-FLIGHT
    * commit whose manifest has not published yet (commitAppendOcc and
    * idempotentCommit write data fully before publishing — the exact
    * window a graceless sweep corrupts). Delta's retention-window
    * design; tests pass 0 to sweep deliberately-orphaned fresh groups. */
  val DefaultOrphanGraceMs: Long = 15L * 60L * 1000L

  def vacuum(spark: SparkSession, dir: String, retainFromVersion: Int,
      orphanGraceMs: Long = DefaultOrphanGraceMs): (Int, Int) = {
    val latest = latestVersion(dir)
    require(retainFromVersion >= 1 && retainFromVersion <= latest,
      s"need 1 <= retainFrom <= $latest, got $retainFromVersion")
    val retained = (retainFromVersion to latest)
      .flatMap(v => readManifest(dir, v) ++ readDeletes(dir, v)._1)
      .map(_.split('/').head).toSet
    val expired = (1 until retainFromVersion)
      .filter(v => Files.deleteIfExists(manifestPath(dir, v)))
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    def stale(root: Path): List[Path] = if (!Files.isDirectory(root)) Nil else {
      val s = Files.list(root)
      try s.iterator().asScala.filter(p =>
        Files.getLastModifiedTime(p).toMillis <= cutoff).toList
      finally s.close()
    }
    val orphans = stale(Paths.get(dir, "data")).filter(p =>
      Files.isDirectory(p) && !retained.contains(p.getFileName.toString))
    // a crashed write's staged dir (connector or ops) is never published
    // and no reader resolves it: swept by the same grace rule
    (orphans ++ stale(Paths.get(dir, "_staging"))).foreach(deleteRecursively)
    (expired.size, orphans.size)
  }

  /** [[read]] — kept as the SCHEMA EVOLUTION verb's name: every read
    * serves the union of the version's group schemas, null-filling
    * columns an older group never wrote. */
  def readMerged(spark: SparkSession, dir: String, version: Int = 0)
      : DataFrame = read(spark, dir, version)

  /** File-group count of a version's manifest (layout observability). */
  def groupCount(dir: String, version: Int = 0): Int = {
    val v = if (version == 0) latestVersion(dir) else version
    readManifest(dir, v).size
  }

  /** File-group NAMES of a version's manifest — the carried-verbatim
    * contract surface of the COW verbs (s35 pins that untouched groups
    * appear in the post-merge manifest under their original names). */
  def groupNames(dir: String, version: Int = 0): Seq[String] = {
    val v = if (version == 0) latestVersion(dir) else version
    readManifest(dir, v)
  }

  /** Read a specific version (time travel), or the latest when `version`
    * is 0, through the connector's scan pinned to that version
    * ([[graft.sources.VersionedRead]]): only the manifest's file groups
    * are planned, in table column order, with every pending state
    * served per file — renames, initial defaults (only groups whose
    * physical schema predates the column read it), drops, and
    * merge-on-read deletes ([[deleteCommitMor]]). The schema is the
    * union of the groups' schemas; a TRUNCATE tombstone serves its
    * recorded schema, empty. A table without that version's manifest
    * (never committed, or vacuumed) fails loudly. */
  def read(spark: SparkSession, dir: String, version: Int = 0): DataFrame =
    graft.sources.VersionedRead.frame(spark, dir, connectorPlan(dir, version))

  /** [[read]] of version `v` narrowed to `groups` — the pruned reads,
    * the change feed's append steps and the delete fold's rewrite. */
  private def groupsRead(spark: SparkSession, dir: String, v: Int,
      groups: Seq[String]): DataFrame =
    graft.sources.VersionedRead.frame(spark, dir, connectorPlan(dir, v),
      Some(groups))

  /** TRUNCATE as a first-class verb (SQL `TRUNCATE TABLE` via the
    * connector's TruncatableTable): publish an EMPTY TOMBSTONE snapshot —
    * zero file groups, the parent's LOGICAL schema recorded as DDL so
    * reads serve a typed empty frame. O(1) metadata-only (no data file
    * is touched or deleted — VACUUM reclaims unreferenced groups later);
    * history is retained, so `VERSION AS OF` any pre-truncate version
    * still serves its rows. Pending renames/defaults/drops and MOR
    * deletes do NOT carry forward — there are no rows left to normalize,
    * and the recorded schema is already the post-evolution logical
    * shape. Marked overwrite in the log: the streaming source refuses
    * the step (a consumed snapshot was replaced) and a racing OCC append
    * conflicts, both correct. Appends after a truncate are ordinary
    * first-group commits against the recorded schema. */
  def truncateCommit(spark: SparkSession, dir: String): Int = {
    val parent = latestVersion(dir)
    // TRUNCATE of an empty (v0) table is legal SQL and a NO-OP — there
    // is no snapshot to tombstone and nothing to record (the catalog's
    // schema sidecar already serves the empty read)
    if (parent == 0) return 0
    val ddl = read(spark, dir, parent).schema.toDDL
    val v = parent + 1
    val json = manifestJson(v, parent, overwrite = true, Seq.empty,
      schemaDdl = Some(ddl))
    if (!publishIfAbsent(dir, v, json))
      throw new java.util.ConcurrentModificationException(
        s"truncate at $dir lost the race for version $v")
    v
  }

  /** Connector WRITE surface (graft.sources.VersionedSource): publish a
    * directory of parquet files that executors ALREADY wrote (staged
    * under the table root, same filesystem) as the next version's file
    * group — data moves once (atomic rename), the manifest publishes
    * last via put-if-absent, so a crash anywhere leaves the staged dir
    * invisible to every reader (the commit() crash-invisibility
    * contract, minus the DataFrame write this path's caller did
    * itself). Carried state follows commit(): appends inherit parent
    * groups, stats, and pending MOR delete files; overwrites start
    * fresh. Appends under pending DEFAULTS/DROPS commit and carry the
    * pending state forward (the staged batch was written against the
    * LOGICAL snapshot schema, so it is physically complete — the
    * per-group read normalization leaves it untouched); pending RENAMES
    * are served by writing the staged files in PHYSICAL names at the
    * staged-write boundary (the connector writer translates via
    * [[stagedWriteSchema]]) — a staged schema matching neither the
    * logical nor the physical layout is refused. Crash recovery: a
    * prior attempt that moved `data/c{v}` but crashed before publishing
    * manifest v left an orphan no reader can see — it is swept here
    * before the move (manifest v absent ⇒ nothing references the dir;
    * concurrent batch racers are still linearized by the put-if-absent
    * publish, and the streaming sink is single-writer per app).
    * `written` are the staged files' commit messages: the group's row
    * count and the [min, max] of `statsCol` (a LOGICAL name) as the
    * writers saw them. */
  def commitStagedGroup(spark: SparkSession, dir: String, stagedDir: String,
      written: Seq[VersionedCommitMessage], overwrite: Boolean = false,
      statsCol: Option[String] = None, txn: Option[(String, Long)] = None,
      omitDefaultedOk: Boolean = false): Int = {
    val parent = latestVersion(dir)
    val v = parent + 1
    val group = s"c$v"
    if (!overwrite && parent != 0) {
      // Pending DEFAULTS/DROPS are fine: the staged batch was written
      // against the LOGICAL snapshot schema, so it physically carries
      // every defaulted column (post-ALTER groups are complete — the
      // withDefaults write contract) and omits every dropped one; the
      // per-group read normalization leaves such a group untouched.
      // Pending RENAMES: groups keep PHYSICAL column names (homogeneity
      // under the column mapping), so the staged writer must have
      // translated logical→physical at the write boundary
      // ([[stagedWriteSchema]]) — the staged schema is checked
      // against the PHYSICAL layout here.
      // names AND types: a name-only check would accept an INT32 append
      // onto an INT64 column — the commit lands, then every head read
      // dies on the mixed-type merge (silently-accepted poison version)
      def sig(st: org.apache.spark.sql.types.StructType) =
        st.fields.map(f => f.name -> f.dataType).toMap
      val renames = readRenames(dir, parent) // physical → logical
      val logicalToPhys = renames.map(_.swap)
      val tableSig = sig(read(spark, dir, parent).schema)
        .map { case (n, t) => logicalToPhys.getOrElse(n, n) -> t }
      val stagedSig = sig(ParquetFooters.schema(spark, Seq(stagedDir)))
      // ONLY when the caller opted in (`omitDefaultedOk` — the RUNNING
      // streaming sink, whose writer schema was fixed at query start),
      // a staged group may OMIT a column that carries a registered
      // DEFAULT: the scan fills defaults PER GROUP by physical absence
      // (the connector's per-file reader), so the group reads complete
      // anyway — that is what lets a live stream survive a mid-stream
      // ALTER ADD COLUMN. BATCH
      // appends stay strict (review r15): Spark's analysis includes the
      // new column for them, so an omission there is schema drift and
      // must refuse loudly, keeping the post-ALTER-groups-are-complete
      // invariant for every batch-written group. The stats column is
      // never omittable — the writer tracks its min/max.
      // Present columns still type-check exactly; unknown staged
      // columns and missing UNDEFAULTED columns always refuse.
      val defaults = readDefaults(dir, parent)
      val missingUndefaulted = (tableSig.keySet -- stagedSig.keySet)
        .filterNot(p => omitDefaultedOk && !statsCol.contains(p) &&
          !statsCol.contains(renames.getOrElse(p, p)) &&
          defaults.contains(renames.getOrElse(p, p)))
      require(missingUndefaulted.isEmpty && stagedSig.forall {
          case (n, t) => tableSig.get(n).contains(t) },
        s"staged append schema $stagedSig does not match the table's " +
          s"physical layout $tableSig (missing undefaulted: " +
          s"$missingUndefaulted)" +
          (if (renames.isEmpty) ""
           else " (pending column mapping: stage in PHYSICAL names, " +
             s"logical→physical = $logicalToPhys)"))
    }
    val target = Paths.get(dir, "data", group)
    Files.createDirectories(target.getParent)
    // idempotent (txn-keyed) commits stamp their staged dir BEFORE the
    // move so a crash orphan is attributable: data/c{v} occupied +
    // manifest v unpublished + the orphan carries OUR appId ⇒ a prior
    // attempt of THIS single-writer app died between move and publish
    // (the streaming sink's restart then replays the epoch — without
    // the sweep the retry wedges forever on the occupied slot). No
    // reader can reference the dir (readers resolve groups through
    // published manifests only) and no LIVE writer can own it (single
    // writer per app), so sweeping is safe. An orphan WITHOUT our
    // marker may be a concurrent foreign committer mid-move — fail
    // loudly as before (review r16: an unconditional sweep could eat a
    // live racer's just-moved data).
    txn.foreach { case (app, tv) =>
      Files.write(Paths.get(stagedDir, "_graft_txn"),
        s"$app\n$tv".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    if (Files.exists(target)) {
      if (Files.exists(manifestPath(dir, v)))
        throw new java.util.ConcurrentModificationException(
          s"staged commit at $dir lost the race for version $v")
      val marker = target.resolve("_graft_txn")
      val ownOrphan = txn.isDefined && Files.exists(marker) &&
        new String(Files.readAllBytes(marker),
          java.nio.charset.StandardCharsets.UTF_8)
          .linesIterator.toSeq.headOption.contains(txn.get._1)
      if (!ownOrphan)
        throw new java.util.ConcurrentModificationException(
          s"group $group already exists at $dir (unattributed — possibly " +
            "a concurrent committer mid-publish or a foreign crash " +
            "orphan; remove data/" + group + " manually if dead)")
      deleteRecursively(target)
    }
    val parentStats =
      if (overwrite || parent == 0) Map.empty[String, (Long, Long)]
      else readStats(dir, parent)
    val parentScol =
      if (overwrite || parent == 0) None else readStatsCol(dir, parent)
    statsCol.foreach { c =>
      parentScol match {
        case Some(pc) => require(pc == c,
          s"staged commit records stats on '$c' but carried groups at " +
            s"$dir describe '$pc'")
        case None => require(parentStats.isEmpty,
          s"staged commit records stats on '$c' but carried groups at " +
            s"$dir hold unlabeled legacy stats")
      }
    }
    Files.move(Paths.get(stagedDir), target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val groups =
      (if (overwrite || parent == 0) Seq.empty
       else readManifest(dir, parent)) :+ group
    val newStats = statsCol.flatMap(VersionedCommitMessage.ranges(written).get)
      .map(group -> _)
    val (dgs, dk) =
      if (overwrite || parent == 0) (Seq.empty[String], None)
      else readDeletes(dir, parent)
    val parentCounts =
      if (overwrite || parent == 0) Map.empty[String, Long]
      else readCounts(dir, parent)
    val json = manifestJson(v, parent, overwrite, groups,
      parentStats ++ newStats,
      if (overwrite || parent == 0) Map.empty else readStats2(dir, parent),
      dgroups = dgs, dkey = dk, txn = txn,
      // pending renames/defaults/drops carry forward: pre-ALTER groups
      // still need the read-side normalization (the staged group itself
      // is physically complete — and under a pending rename it was
      // staged in PHYSICAL names, so the column mapping applies to it
      // exactly like every other group)
      renames =
        if (overwrite || parent == 0) Map.empty else readRenames(dir, parent),
      defaults =
        if (overwrite || parent == 0) Map.empty else readDefaults(dir, parent),
      drops =
        if (overwrite || parent == 0) Set.empty else readDrops(dir, parent),
      scol = statsCol.orElse(parentScol),
      scol2 = if (overwrite || parent == 0) None else readStatsCol2(dir, parent),
      counts = parentCounts + (group -> written.map(_.nRows).sum))
    if (!publishIfAbsent(dir, v, json))
      throw new java.util.ConcurrentModificationException(
        s"staged commit at $dir lost the race for version $v")
    v
  }

  /** IDEMPOTENT staged-group commit — [[idempotentCommit]]'s contract on
    * [[commitStagedGroup]]'s write path: the native streaming sink's
    * epoch commit (graft.sources.VersionedSource STREAMING_WRITE), where
    * `appId` is the streaming QUERY id (stable across checkpoint
    * restarts) and `txnVersion` the epoch. A replayed epoch (txnVersion ≤
    * the manifest log's recorded high-water mark for the app) deletes its
    * re-staged files and commits NOTHING — exactly-once on the table.
    * Single-writer per app (the streaming engine's guarantee); a racing
    * foreign commit still fails loudly via put-if-absent. Returns
    * Some(version) when the commit landed, None on a replay skip. */
  def commitStagedGroupIdempotent(spark: SparkSession, dir: String,
      stagedDir: String, appId: String, txnVersion: Long,
      written: Seq[VersionedCommitMessage], statsCol: Option[String] = None,
      omitDefaultedOk: Boolean = false): Option[Int] = {
    requireId("appId", appId)
    if (lastTxnVersion(dir, appId).exists(_ >= txnVersion)) {
      deleteRecursively(Paths.get(stagedDir))
      return None
    }
    Some(commitStagedGroup(spark, dir, stagedDir, written, overwrite = false,
      statsCol = statsCol, txn = Some((appId, txnVersion)),
      omitDefaultedOk = omitDefaultedOk))
  }

  /** The field names the connector's staged writer must use for an
    * APPEND onto `dir`'s head snapshot: the PHYSICAL layout — logical
    * names mapped back through the pending column mapping
    * ([[renameColumnCommit]]), identity on unrenamed tables and fresh
    * snapshots (overwrite / v0, where logical = physical). The write
    * half of the rename-append contract [[commitStagedGroup]] checks:
    * staged files join a snapshot whose groups keep physical names, so
    * the translation happens at the staged-WRITE boundary (a name swap
    * in the writer's parquet schema — zero row work), not by rewriting
    * staged files at commit. */
  def stagedWriteSchema(dir: String,
      schema: org.apache.spark.sql.types.StructType,
      overwrite: Boolean): org.apache.spark.sql.types.StructType = {
    val v = latestVersion(dir)
    if (overwrite || v == 0) return schema
    val l2p = readRenames(dir, v).map(_.swap)
    if (l2p.isEmpty) schema
    else org.apache.spark.sql.types.StructType(
      schema.fields.map(f => f.copy(name = l2p.getOrElse(f.name, f.name))))
  }

  /** Row-level-operation commit — the write half of the SQL
    * UPDATE / MERGE INTO surface (graft.sources — group-based
    * copy-on-write, the Iceberg COW `ReplaceData` shape): publish the
    * staged replacement rows as one new file group and a manifest whose
    * group list = parent's groups MINUS `removed` (the groups the
    * operation's scan planned — runtime group filtering narrows them to
    * the groups that actually hold matches) PLUS the staged group.
    * Carried groups keep their stats/counts verbatim; a zero-removed
    * operation (e.g. a pure-insert MERGE) publishes as an APPEND step, a
    * group-rewriting one as an overwrite step (a consumed snapshot was
    * replaced — the streaming source must refuse it, [[stepIsAppend]]).
    * `expectParent` pins the snapshot the scan planned against: a commit
    * landing in between fails loudly (write-serializable, the OCC rule).
    * An EMPTY staged dir with removed groups publishes the survivors
    * alone (a whole-group delete); empty with nothing removed is a no-op
    * returning the parent version. `written` as in [[commitStagedGroup]]. */
  def replaceGroupsStagedCommit(spark: SparkSession, dir: String,
      stagedDir: String, written: Seq[VersionedCommitMessage],
      removed: Seq[String], expectParent: Int,
      statsCol: Option[String] = None): Int = {
    val nRows = written.map(_.nRows).sum
    val parent = latestVersion(dir)
    require(parent == expectParent,
      s"row-level commit at $dir planned against v$expectParent but the " +
        s"table is now at v$parent — concurrent write conflict")
    if (parent == 0) {
      // row-level DML against an EMPTY (v0) catalog table: there is
      // nothing to remove, so a pure-insert MERGE degrades to the
      // table's FIRST commit — a plain staged append; a no-match
      // no-insert operation stays a no-op at v0 (legal SQL must not
      // fail loudly just because the table is empty)
      require(removed.isEmpty,
        s"cannot remove groups $removed from empty table at $dir")
      if (nRows == 0) {
        deleteRecursively(Paths.get(stagedDir))
        return 0
      }
      return commitStagedGroup(spark, dir, stagedDir, written,
        overwrite = false, statsCol = statsCol)
    }
    // the scan already refused these states; re-check at commit (cheap,
    // and the write must not depend on the scan having run first)
    requireNoMorDeletes(dir, parent, "row-level operation")
    requireNoRenames(dir, parent, "row-level operation")
    requireNoDefaults(dir, parent, "row-level operation")
    requireNoDrops(dir, parent, "row-level operation")
    statsCol.foreach(c =>
      requireStatsColMatch(dir, parent, c, "row-level operation"))
    val parentGroups = readManifest(dir, parent)
    val removedSet = removed.toSet
    require(removedSet.subsetOf(parentGroups.toSet),
      s"removed groups ${removedSet -- parentGroups.toSet} are not in v$parent")
    val carried = parentGroups.filterNot(removedSet)
    // the writer creates a file on its first row: rows staged ⇔ files
    val hasStaged = nRows > 0
    // a row-level operation that deletes EVERY row (e.g. DELETE FROM t
    // with no WHERE) would publish an empty manifest no read can serve —
    // refused loudly, like the batch writer's empty-OVERWRITE rule
    require(carried.nonEmpty || hasStaged,
      s"row-level operation at $dir would truncate the table to empty — " +
        "use TRUNCATE TABLE (the O(1) tombstone verb, truncateCommit), " +
        "DROP the table, or INSERT OVERWRITE a new result instead")
    if (!hasStaged) {
      // nothing staged: drop the (possibly existing, empty) staging dir
      deleteRecursively(Paths.get(stagedDir))
      if (removed.isEmpty) return parent // nothing changed at all
    }
    val v = parent + 1
    val group = s"c$v"
    val newGroups = if (hasStaged) Seq(group) else Seq.empty
    if (hasStaged) {
      val target = Paths.get(dir, "data", group)
      Files.createDirectories(target.getParent)
      require(!Files.exists(target), s"group $group already exists at $dir")
      Files.move(Paths.get(stagedDir), target, StandardCopyOption.ATOMIC_MOVE)
    }
    val keep = carried.toSet
    val parentScol = readStatsCol(dir, parent)
    val newStats =
      if (hasStaged) statsCol.orElse(parentScol)
        .flatMap(VersionedCommitMessage.ranges(written).get).map(group -> _)
      else None
    val newCounts =
      if (hasStaged) Map(group -> nRows) else Map.empty[String, Long]
    val json = manifestJson(v, parent, overwrite = removed.nonEmpty,
      carried ++ newGroups,
      readStats(dir, parent).filter(kv => keep(kv._1)) ++ newStats,
      readStats2(dir, parent).filter(kv => keep(kv._1)),
      scol = statsCol.orElse(parentScol),
      scol2 = readStatsCol2(dir, parent),
      counts = readCounts(dir, parent).filter(kv => keep(kv._1)) ++ newCounts)
    if (!publishIfAbsent(dir, v, json))
      throw new java.util.ConcurrentModificationException(
        s"row-level commit at $dir lost the race for version $v")
    v
  }

  /** Version in effect at `tsMillis` (the SQL TIMESTAMP AS OF resolver):
    * the newest commit whose recorded commit timestamp is ≤ the asked
    * time. Only commits that recorded a `commitTs` participate; fails
    * loudly when none qualify ([[readAsOfTimestamp]]'s rule). */
  def versionAtTimestamp(dir: String, tsMillis: Long): Int = {
    val stamped = (1 to latestVersion(dir))
      .flatMap(v => readTs(dir, v).map(v -> _))
    val eligible = stamped.filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"no retained commit at or before ts=$tsMillis at $dir (stamped: $stamped)")
    // tie-break toward the HIGHEST version — readAsOfTimestamp's rule
    // (equal stamps are routine under the F9 pinned-clock discipline)
    eligible.maxBy(e => (e._2, e._1))._1
  }

  /** Streaming-source planning surface (graft.sources.VersionedSource,
    * micro-batch read — the Delta streaming-source analog where the
    * OFFSET is the committed version number): the group directories an
    * APPEND step `v` added. Refuses overwrite steps (a consumed
    * snapshot was replaced — the Delta source's ignoreChanges=false
    * contract) and the connector-scope normalization states (pending
    * MOR deletes / renames / drops / defaults — batch reads serve
    * these via [[connectorPlan]], but exactly-once stream increments
    * cannot replay a mutating mask faithfully). */
  def connectorStreamStep(dir: String, v: Int): Seq[String] = {
    require(stepIsAppend(dir, v),
      s"streaming read at $dir: v$v is an OVERWRITE step — the stream " +
        "serves append-only histories (reprocess from a fresh checkpoint)")
    require(readDeletes(dir, v)._1.isEmpty && readRenames(dir, v).isEmpty &&
        readDrops(dir, v).isEmpty && readDefaults(dir, v).isEmpty,
      s"streaming read at $dir: v$v carries pending deletes/renames/" +
        "drops/defaults the raw-file stream cannot serve faithfully")
    val added = readManifest(dir, v).toSet --
      (if (v == 1) Set.empty[String] else readManifest(dir, v - 1).toSet)
    added.toSeq.sorted.map(resolveGroup(dir, _))
  }

  /** One version's COMPLETE connector planning state
    * (graft.sources.VersionedSource): data file groups (name → absolute
    * dir), manifest statistics, and every pending normalization the
    * scan serves per file — column renames (physical→logical), drops,
    * initial defaults, and merge-on-read delete state (key column +
    * delete-file dirs; each reader loads ONLY its own group's deletion
    * vector executor-side — the Iceberg/Delta DV sidecar read shape,
    * [[deleteCommitMor]]'s per-group layout). */
  final case class ConnectorPlan(
      version: Int,
      groups: Seq[(String, String)],
      stats: Map[String, (Long, Long)],
      statsCol: Option[String],
      renames: Map[String, String],
      drops: Set[String],
      defaults: Map[String, (String, String)],
      morKey: Option[String],
      morGroupDirs: Seq[String],
      schemaDdl: Option[String] = None) {
    def hasEvolution: Boolean =
      renames.nonEmpty || drops.nonEmpty || defaults.nonEmpty
    /** TRUNCATE tombstone: zero groups, schema served from the recorded
      * DDL ([[truncateCommit]]). */
    def isTombstone: Boolean = groups.isEmpty
  }

  /** Schema-evolution- and MOR-aware connector planning surface
    * (graft.sources.VersionedSource rounds 14–15): every pending table
    * state is RETURNED AS METADATA for the connector to serve per file
    * (rename = logical↔physical name mapping at the reader; default =
    * literal fill for groups whose physical schema predates the column;
    * drop = projected out of the served schema; MOR deletes = per-group
    * deletion vectors each reader loads executor-side and applies
    * row-by-row, nothing collected on the driver), so ALTERed and
    * MOR-deleted tables read with ZERO data rewritten and nothing
    * refused. Every snapshot read ([[read]] included) plans from it. */
  def connectorPlan(dir: String, version: Int = 0): ConnectorPlan = {
    val v = if (version == 0) latestVersion(dir) else version
    val groups = readManifest(dir, v)
    val ddl = readSchemaDdl(dir, v)
    require(groups.nonEmpty || ddl.nonEmpty,
      s"version $v has an empty manifest and no recorded schema at $dir")
    val (dgs, dk) = readDeletes(dir, v)
    ConnectorPlan(v, groups.map(g => g -> resolveGroup(dir, g)),
      readStats(dir, v), readStatsCol(dir, v), readRenames(dir, v),
      readDrops(dir, v), readDefaults(dir, v), dk,
      dgs.map(resolveGroup(dir, _)), ddl)
  }

  /** Publish `json` as version `v`'s manifest IFF no manifest for `v`
    * exists yet — the put-if-absent primitive optimistic concurrency
    * needs. A plain rename(2) silently REPLACES an existing target (a
    * lost update); hard-link creation is atomic and fails loudly on an
    * existing target, which is exactly the Delta-log "put if absent"
    * contract. Returns false when another writer already owns `v`. */
  private[ops] def publishIfAbsent(dir: String, v: Int, json: String)
      : Boolean = {
    Files.createDirectories(manifestDir(dir))
    val tmp = Files.createTempFile(manifestDir(dir), s".v$v-", ".tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    try { Files.createLink(manifestPath(dir, v), tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.delete(tmp)
  }

  /** Concurrent-writer APPEND with optimistic conflict resolution — the
    * lakehouse OCC protocol (Delta's commitInfo retry loop / Iceberg's
    * snapshot CAS): write the data group ONCE under a writer-unique name
    * (data never conflicts and is never rewritten), then try to publish
    * the manifest at `latest + 1` via [[publishIfAbsent]]. Losing the
    * race to another APPEND is a FALSE conflict — appends commute — so
    * the loser rebases: re-read the winner's manifest, extend ITS group
    * list with the already-written group, publish at the next version.
    * An OVERWRITE landing in the race window is a TRUE conflict (the
    * snapshot this append was based on no longer exists) and aborts with
    * `ConcurrentModificationException` — serializable-append semantics.
    *
    * `beforePublish` is a deterministic race-injection seam for tests
    * (runs after the data write, before the first publish attempt).
    * Liveness: a failed attempt means some other writer COMMITTED, so
    * with W concurrent appenders every writer lands within W attempts. */
  def commitAppendOcc(df: DataFrame, dir: String, writerId: String,
      maxAttempts: Int = 64, beforePublish: () => Unit = () => ()): Int = {
    requireId("writerId", writerId)
    // attempt-unique name: a fixed w_<writer> would make the writer
    // one-shot per table — an aborted true-conflict attempt leaves its
    // group behind and every natural retry would then die in the data
    // write with a misleading path-exists error until a vacuum sweeps it
    val group = s"w_${writerId}_" +
      java.util.UUID.randomUUID().toString.take(8)
    val lvAtWrite = latestVersion(dir)
    writeGroup(withoutDrops(withDefaults(toPhysical(df,
        if (lvAtWrite == 0) Map.empty else readRenames(dir, lvAtWrite)),
        if (lvAtWrite == 0) Map.empty else readDefaults(dir, lvAtWrite)),
        if (lvAtWrite == 0) Set.empty else readDrops(dir, lvAtWrite)),
      dir, group)
    var parent = latestVersion(dir)
    beforePublish() // race window: parent is captured, nothing published

    var attempts = 0
    while (attempts < maxAttempts) {
      val v = parent + 1
      val groups =
        (if (parent == 0) Seq.empty else readManifest(dir, parent)) :+ group
      val (dgs, dk) =
        if (parent == 0) (Seq.empty[String], None) else readDeletes(dir, parent)
      if (publishIfAbsent(dir, v, manifestJson(v, parent, overwrite = false,
          groups,
          stats = if (parent == 0) Map.empty else readStats(dir, parent),
          stats2 = if (parent == 0) Map.empty else readStats2(dir, parent),
          dgroups = dgs, dkey = dk,
          renames = if (parent == 0) Map.empty
                    else readRenames(dir, parent),
          defaults = if (parent == 0) Map.empty
                     else readDefaults(dir, parent),
          drops = if (parent == 0) Set.empty
                  else readDrops(dir, parent),
          scol = if (parent == 0) None else readStatsCol(dir, parent),
          scol2 = if (parent == 0) None
                  else readStatsCol2(dir, parent)))) return v
      attempts += 1
      val newLatest = latestVersion(dir)
      ((parent + 1) to newLatest).foreach { w =>
        if (manifestIsOverwrite(dir, w)) {
          // true conflict: clean up the orphaned group before aborting
          // so the caller's retry starts from a clean slate
          deleteRecursively(Paths.get(resolveGroup(dir, group)))
          throw new java.util.ConcurrentModificationException(
            s"append by '$writerId' based on v$parent conflicts with " +
              s"overwrite commit v$w at $dir")
        }
      }
      parent = newLatest
    }
    throw new IllegalStateException(
      s"writer '$writerId' lost $maxAttempts straight races at $dir")
  }

  /** SHALLOW CLONE (Delta `CLONE ... SHALLOW` / an Iceberg snapshot ref
    * materialized as a new table): create `dstDir` whose v1 manifest
    * references the SOURCE's current file groups by absolute path —
    * zero data copied, metadata only, O(commit count) not O(rows).
    * The clone then evolves independently: its own commits add groups
    * under its own `data/`, and source commits never change it (the
    * clone's manifest pinned the group list at clone time). The clone's
    * [[vacuum]] can never delete source data (the orphan sweep only
    * considers directories under the clone's own `data/`). Documented
    * hazard, same as the real systems: vacuuming the SOURCE can orphan
    * groups a clone still references — expire sources only after deep-
    * copying or re-cloning. Manifest statistics are keyed by local group
    * name and deliberately not carried over (cloned groups read
    * conservatively). Returns the clone's version (always 1). */
  def cloneShallow(srcDir: String, dstDir: String): Int = {
    require(latestVersion(dstDir) == 0, s"clone target $dstDir already exists")
    val v = latestVersion(srcDir)
    require(v > 0, s"nothing to clone at $srcDir")
    // a relative srcDir would yield group refs the reader mistakes for
    // local names — pin them absolute (URIs pass through verbatim)
    val absSrc =
      if (srcDir.contains("://")) srcDir
      else Paths.get(srcDir).toAbsolutePath.toString
    val groups = readManifest(srcDir, v).map(resolveGroup(absSrc, _))
    // pending MOR delete files travel with the snapshot they mask
    val (srcDgs, srcDk) = readDeletes(srcDir, v)
    Files.createDirectories(manifestDir(dstDir))
    val tmp = manifestDir(dstDir).resolve(".v1.json.tmp")
    Files.write(tmp, manifestJson(1, 0, overwrite = true, groups,
        dgroups = srcDgs.map(resolveGroup(absSrc, _)), dkey = srcDk,
        renames = readRenames(srcDir, v),
        defaults = readDefaults(srcDir, v),
        drops = readDrops(srcDir, v),
        schemaDdl = readSchemaDdl(srcDir, v))
      .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath(dstDir, 1), StandardCopyOption.ATOMIC_MOVE)
    1
  }

  // ─── CHECK constraints (Delta `ALTER TABLE ADD CONSTRAINT` family) ───

  private def constraintsPath(dir: String): Path =
    Paths.get(dir, "_manifests", "constraints.jsonl")

  private val ConstraintLine =
    "\\{\"name\":\"([^\"]+)\",\"check\":\"([^\"]+)\"\\}".r

  /** The table's CHECK constraints, in declaration order: (name, SQL
    * predicate). ANSI CHECK semantics throughout — a row VIOLATES iff
    * the predicate evaluates to FALSE; NULL/unknown passes (the
    * standard's and Delta's reading). */
  def constraints(dir: String): Seq[(String, String)] = {
    val p = constraintsPath(dir)
    if (!Files.exists(p)) Seq.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map {
        case ConstraintLine(n, c) => (n, c)
        case bad => throw new IllegalStateException(
          s"corrupt constraint line at $p: $bad")
      }
  }

  /** Violation counts of `df` against `cs`, in ONE aggregation pass
    * (every predicate evaluated per-row in the same map stage — the
    * write-path validation must not multiply scans of the batch). */
  def checkViolations(df: DataFrame,
      cs: Seq[(String, String)]): Map[String, Long] = {
    if (cs.isEmpty) return Map.empty
    import org.apache.spark.sql.functions._
    val aggs = cs.map { case (n, p) =>
      sum(when(expr(p) <=> lit(false), 1L).otherwise(0L)).as(n) }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cs.zipWithIndex.map { case ((n, _), i) =>
      n -> (if (row.isNullAt(i)) 0L else row.getLong(i)) }.toMap
  }

  /** ADD CONSTRAINT: validate the CURRENT snapshot first (a constraint
    * the existing data violates is refused — Delta's retroactive check),
    * then record it for every future [[commitChecked]]. The predicate
    * travels through the regex-parsed sidecar, so quotes/newlines are
    * rejected at the edge like writer ids. */
  def addConstraintCommit(spark: SparkSession, dir: String, name: String,
      check: String): Unit = {
    requireId("constraint name", name)
    require(check.nonEmpty && !check.exists(c =>
        c == '"' || c == '\\' || c == '\n' || c == '\r'),
      s"constraint predicate must avoid quotes/backslashes/newlines: $check")
    require(!constraints(dir).exists(_._1 == name),
      s"constraint $name already exists at $dir")
    if (latestVersion(dir) > 0) {
      val bad = checkViolations(read(spark, dir), Seq(name -> check))(name)
      require(bad == 0L,
        s"cannot add constraint $name at $dir: " +
          s"$bad existing rows violate ($check)")
    }
    Files.createDirectories(constraintsPath(dir).getParent)
    Files.write(constraintsPath(dir),
      (s"""{"name":"$name","check":"$check"}""" + "\n")
        .getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }

  /** [[commit]] gated on the table's CHECK constraints — the write-path
    * enforcement half: any violating row refuses the WHOLE batch before
    * a single byte of data or manifest lands (history untouched, the
    * transactional all-or-nothing Delta gives CHECK violations). The
    * validation pass is one aggregation over the batch; at 100 TB the
    * batch is scanned once more than an unchecked commit — the price of
    * enforcement, paid on the (small) increment, never the table. */
  def commitChecked(df: DataFrame, dir: String, overwrite: Boolean = false,
      statsCol: Option[String] = None): Int = {
    val bad = checkViolations(df, constraints(dir)).filter(_._2 > 0)
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"CHECK constraint violation at $dir — batch refused: " +
          bad.toSeq.sortBy(_._1).map { case (n, c) => s"$n ($c rows)" }
            .mkString(", "))
    commit(df, dir, overwrite, statsCol)
  }
}
