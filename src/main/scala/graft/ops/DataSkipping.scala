package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level data skipping: a clustered write plus a min/max manifest,
  * and a reader that prunes files by predicate range BEFORE the scan —
  * the zone-map/skipping-index mechanism every lakehouse table format
  * (Delta `stats`, Iceberg manifests, Hudi column_stats) builds on, made
  * explicit over plain parquet.
  *
  * Why this exists next to hive partitioning (S5/S6) and Z-ordering
  * ([[ZOrder]]): partition keys prune by DIRECTORY and only on the
  * partition columns; parquet row-group stats prune only after the
  * footers of every file have been opened. At 100 TB the footer-open
  * round trips alone dominate a selective query — the planner needs a
  * manifest it can read in ONE small scan to decide which of the ~10⁵
  * files to touch at all. That is what [[writeClustered]] records and
  * [[prunedRead]] consumes.
  *
  * The driver-side `collect()` here is the manifest (one row per FILE,
  * bounded by file count, never by data) — the same driver-resident
  * planning state every table-format reader holds; it is how file
  * pruning must work, not a distributed-compute smell.
  *
  * Pruning is sound because the write CLUSTERS by the skip column
  * (`repartitionByRange` + in-partition sort), so each file owns a
  * narrow, near-disjoint value range and a range predicate touches
  * ~range/total of the files. On unclustered data the same code is
  * correct but skips nothing — min/max spans everything — which is the
  * honest semantics of every zone map.
  */
object DataSkipping {

  /** Writes `df` as `nFiles` range-clustered parquet files under `dir`
    * plus a `_manifest` subdirectory (underscore-prefixed, so batch
    * parquet readers of `dir` ignore it) with one row per file:
    * (file, min_v, max_v, rows) in the skip column's native type. The
    * manifest is built by ONE distributed scan of the just-written files
    * grouped by `input_file_name()` — the same pass a table format's
    * commit protocol folds into the write. */
  def writeClustered(df: DataFrame, dir: String, skipCol: String,
      nFiles: Int = 16): Unit = {
    val spark = df.sparkSession
    df.repartitionByRange(nFiles, col(skipCol))
      .sortWithinPartitions(skipCol)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(skipCol)).as("min_v"), max(col(skipCol)).as("max_v"),
        count(lit(1)).as("rows"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_manifest")
  }

  /** Files whose [min_v, max_v] intersects [lo, hi] (inclusive; a file
    * with any nulls in the skip column is never written by
    * [[writeClustered]] into min/max — Spark min/max ignore nulls, so
    * null rows are only safe to skip when the predicate requires a
    * value, which a range predicate does). Returns (selected, total). */
  private def selectFiles(spark: SparkSession, dir: String,
      lo: Column, hi: Column): (Seq[String], Int) = {
    val manifest = spark.read.parquet(s"$dir/_manifest")
    val rows = manifest.select(col("file"),
        (col("max_v") >= lo && col("min_v") <= hi).as("keep"))
      .collect()
    (rows.filter(_.getBoolean(1)).map(_.getString(0)).toSeq, rows.length)
  }

  /** A scan of `dir` planned over ONLY the manifest-selected files, with
    * the residual range predicate still applied (min/max intersection is
    * a superset test). Returns the pruned frame plus (filesRead,
    * filesTotal) so callers can assert skipping actually happened. */
  def prunedRead(spark: SparkSession, dir: String, skipCol: String,
      lo: Column, hi: Column): (DataFrame, Int, Int) = {
    val (files, total) = selectFiles(spark, dir, lo, hi)
    val df =
      if (files.isEmpty)
        spark.read.parquet(dir).filter(lit(false))
      else spark.read.parquet(files: _*)
    (df.filter(col(skipCol) >= lo && col(skipCol) <= hi), files.length, total)
  }

  /** Write `df` UNCLUSTERED (round-robin into `nFiles`) plus a per-file
    * BLOOM manifest on `keyCol` (`_bloom/`: file, bloom bitset, rows) —
    * the bloom-filter index of the table formats (Delta bloom indexes,
    * Iceberg/Parquet bloom filters). This is the skipping case zone maps
    * CANNOT serve: a point lookup on a high-cardinality key in an
    * unclustered layout intersects every file's [min,max], but a bloom
    * answers "definitely not here" per file with no clustering
    * requirement at ~10 bits/key. Built by ONE distributed pass through
    * the custom [[graft.functions.Bloom.BloomAgg]] (buffers OR-merged
    * map-side); keys are probed in their canonical string form. */
  def writeWithBloom(df: DataFrame, dir: String, keyCol: String,
      nFiles: Int, numBits: Int, numHashes: Int): Unit = {
    val spark = df.sparkSession
    graft.GraftExtensions.setup(spark)
    df.repartition(nFiles).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(
        expr(s"graft_bloom(CAST($keyCol AS STRING), $numBits, $numHashes)")
          .as("bloom"),
        count(lit(1)).as("rows"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_bloom")
  }

  /** Point-lookup scan planned over only the files whose bloom might
    * contain `key` (false positives read and removed by the residual
    * equality; false negatives impossible). The manifest collect is one
    * (bloom, file) row per FILE — the same driver-resident planning
    * state as [[prunedRead]], a few KB per file. Returns (frame,
    * filesRead, filesTotal). */
  def bloomPrunedRead(spark: SparkSession, dir: String, keyCol: String,
      key: String): (DataFrame, Int, Int) = {
    val rows = spark.read.parquet(s"$dir/_bloom")
      .select(col("file"), col("bloom")).collect()
    val keyU = org.apache.spark.unsafe.types.UTF8String.fromString(key)
    val files = rows
      .filter(r => graft.functions.Bloom.mightContain(
        r.getAs[Array[Byte]](1), keyU))
      .map(_.getString(0)).toSeq
    val residual = (d: DataFrame) =>
      d.filter(col(keyCol).cast("string") === key)
    val df =
      if (files.isEmpty) residual(spark.read.parquet(dir)).filter(lit(false))
      else residual(spark.read.parquet(files: _*))
    (df, files.size, rows.length)
  }
}
