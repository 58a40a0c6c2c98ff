package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.StructType

/** An independent reader of Versioned snapshots, for specs that check the
  * connector scan (which [[Versioned.read]] now is) against something
  * that does not share its code. It rebuilds a version from the public
  * metadata readers and plain parquet reads:
  *
  *  - the groups' footer-schema read ([[ParquetFooters.read]]: Spark's
  *    non-merge inference, so a column only a later group carries is
  *    missing unless that group's path sorts first);
  *  - per-group initial-default fill and dropped-column projection, the
  *    groups unioned by position under the first group's columns;
  *  - a `left_anti` join against the union of the delete dirs, which
  *    puts the delete key FIRST in the output;
  *  - the column mapping applied last.
  *
  * Column order therefore differs from the connector's table order when
  * merge-on-read deletes are pending; compare through a projection. */
object ReferenceRead {

  private def path(dir: String, g: String): String =
    if (g.startsWith("/") || g.contains("://")) g else s"$dir/data/$g"

  private def groups(spark: SparkSession, dir: String,
      gs: Seq[String]): DataFrame =
    ParquetFooters.read(spark, gs.map(path(dir, _)))

  def read(spark: SparkSession, dir: String, version: Int = 0): DataFrame = {
    val v = if (version == 0) Versioned.latestVersion(dir) else version
    val gs = Versioned.groupNames(dir, v)
    if (gs.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType.fromDDL(Versioned.readSchemaDdl(dir, v).getOrElse(
          throw new IllegalArgumentException(
            s"version $v has an empty manifest and no recorded schema"))))
    val defaults = Versioned.readDefaults(dir, v)
    val drops = Versioned.readDrops(dir, v)
    def normalized(df: DataFrame): DataFrame = {
      val filled = defaults.foldLeft(df) { case (d, (n, (t, value))) =>
        if (d.columns.contains(n)) d
        else d.withColumn(n, expr(s"CAST('$value' AS $t)"))
      }
      if (drops.isEmpty) filled else filled.drop(drops.toSeq: _*)
    }
    val data =
      if (defaults.isEmpty && drops.isEmpty) groups(spark, dir, gs)
      else {
        val canonical = normalized(groups(spark, dir, gs.take(1))).columns
        gs.map(g => normalized(groups(spark, dir, Seq(g)))
          .select(canonical.map(col): _*)).reduce(_ unionAll _)
      }
    val masked = Versioned.readDeletes(dir, v) match {
      case (dgs, Some(dk)) if dgs.nonEmpty =>
        val keys = dgs.map(g => groups(spark, dir, Seq(g)).select(dk))
          .reduce(_ unionAll _).distinct()
        data.join(keys, Seq(dk), "left_anti")
      case _ => data
    }
    Versioned.readRenames(dir, v).foldLeft(masked) {
      case (d, (p, l)) => d.withColumnRenamed(p, l)
    }
  }
}
