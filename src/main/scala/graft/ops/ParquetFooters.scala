package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Group metadata answered from parquet FOOTERS on the driver — never a
  * Spark job. A schema-less `spark.read.parquet(paths)` launches one
  * footer-inference job per read (~75 ms of fixed cost at benchmark
  * scale, where a [[Versioned]] verb moves a few thousand rows); this
  * object reads the same footer Spark's non-merge inference would read
  * and hands the schema to `spark.read.schema(...)`, so Spark jobs only
  * move data. The connector plans every read of a Versioned data or
  * delete group from its group schemas ([[schema]]); [[read]], a plain
  * `spark.read.parquet`, serves only the MV rewrite rule's read of a
  * materialized view's artifact, which is no Versioned table. */
object ParquetFooters {

  /** Per-root resolution: which file Spark's inference would pick under
    * this root (summary files first, then the smallest data path — the
    * `ParquetUtils.splitFiles` order) and that file's schema. None when
    * the root holds no readable file. */
  private final case class Resolved(rank: (Int, String), schema: StructType)

  /** Keyed on `root@mtime` (one stat, vs a listing + footer read):
    * committed groups are immutable, and a DROPped and re-created table
    * at the SAME path gets a new mtime. A failed stat bypasses the cache
    * (fail closed — keying on a sentinel would collapse to root-only and
    * serve a stale schema forever). [[invalidateUnder]] covers
    * same-millisecond recreates on coarse-mtime filesystems. */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Resolved]]()

  /** Spark's `spark.read.parquet(roots: _*).schema` data schema, read on
    * the driver: the footer of the first summary file, else of the
    * smallest data-file path across ALL roots (manifest order is not
    * path order: groups `c1`, `c10`, `c2` sort as strings), converted
    * with the session's parquet settings. Partition columns of
    * hive-style subdirectories are not part of it — Spark's partition
    * discovery adds them to a `spark.read.schema(...)` read exactly as
    * it does to an inferred one. Anything the footer path cannot answer
    * (glob patterns, missing paths, roots without data files, unreadable
    * footers) falls back to Spark's own inference, errors included. */
  def schema(spark: SparkSession, roots: Seq[String]): StructType = {
    require(roots.nonEmpty, "schema of zero parquet roots")
    val resolved =
      if (roots.exists(r => r.exists("*?[]{}\\".contains(_)))) None
      else {
        val conf = spark.sparkContext.hadoopConfiguration
        val per = roots.map(r => resolve(spark, r, conf))
        if (per.exists(_.isEmpty)) None // a failed stat: Spark reports it
        else per.flatten.flatten.minByOption(_.rank)
      }
    resolved.map(_.schema)
      .getOrElse(spark.read.parquet(roots: _*).schema)
  }

  /** `spark.read.parquet(roots: _*)` with the schema from [[schema]] —
    * the same frame, minus the inference job. */
  def read(spark: SparkSession, roots: Seq[String]): DataFrame =
    spark.read.schema(schema(spark, roots)).parquet(roots: _*)

  /** Drop every cached resolution under `tableDir` — the catalog's
    * DROP/RENAME hook, so an in-JVM recreate at the same path never
    * serves the old table's schema even when the filesystem's mtime
    * granularity (1 s on some) cannot tell the two apart. */
  def invalidateUnder(tableDir: String): Unit = {
    val prefix = tableDir.stripSuffix("/") + "/"
    cache.keySet.removeIf(k =>
      k.startsWith(prefix) || k.startsWith(tableDir + "@"))
  }

  /** Outer None: the root could not be stat'ed (not cached). */
  private def resolve(spark: SparkSession, root: String, conf: Configuration)
      : Option[Option[Resolved]] = {
    if (cache.size() > 65536) cache.clear()
    val p = new Path(root)
    val st =
      try { val fs = p.getFileSystem(conf); Some(fs -> fs.getFileStatus(p)) }
      catch { case _: Exception => None }
    st.map { case (fs, status) =>
      cache.computeIfAbsent(s"$root@${status.getModificationTime}",
        _ => firstFile(fs, status).flatMap { case (rank, file) =>
          try Some(Resolved(rank, schemaOf(spark, file, conf)))
          catch { case _: Exception => None }
        })
    }
  }

  /** The file Spark's non-merge inference reads under one root, ranked
    * `_common_metadata` < `_metadata` < data files, then by qualified
    * path. */
  private def firstFile(fs: FileSystem, root: FileStatus)
      : Option[((Int, String), FileStatus)] = {
    val leaves = if (root.isFile) Iterator(root) else leafFiles(fs, root.getPath)
    leaves.map { f =>
      val n = f.getPath.getName
      val kind =
        if (n == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE) 0
        else if (n == ParquetFileWriter.PARQUET_METADATA_FILE) 1
        else 2
      ((kind, f.getPath.toString), f)
    }.minByOption(_._1)
  }

  /** Recursive leaf listing with the file index's hidden-path rule:
    * names starting `_` or `.` are skipped unless they are partition
    * directories (`k=v`) or parquet summary files; `._COPYING_`
    * uploads are skipped. */
  private def leafFiles(fs: FileSystem, dir: Path): Iterator[FileStatus] =
    fs.listStatus(dir).iterator.filterNot(s => hidden(s.getPath.getName))
      .flatMap(s => if (s.isDirectory) leafFiles(fs, s.getPath) else Iterator(s))

  private def hidden(name: String): Boolean = {
    val exclude = (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")
    val include = name.startsWith(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE) ||
      name.startsWith(ParquetFileWriter.PARQUET_METADATA_FILE)
    exclude && !include
  }

  private def schemaOf(spark: SparkSession, file: FileStatus,
      conf: Configuration): StructType = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    // the session's binaryAsString / int96AsTimestamp / inferTimestampNTZ
    // / nanosAsLong, as the inference job's converter reads them
    // reported nullable, as every file-source read reports its schema
    org.apache.spark.sql.GraftSqlShims.asNullable(
      ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
  }
}
