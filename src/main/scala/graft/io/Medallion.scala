package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.checks.{Check, Checks}
import graft.standards.Sdtm

/** Medallion ingestion pipeline (SURVEY.md §3.2, reference
  * `ingestion/flows.py` + `ingest_csv.py` + `cdisc_sdtm_mapping.py:97-113`):
  * CSV land → validated bronze parquet partitioned by (study_id, domain) →
  * standardized SDTM silver parquet.
  *
  * The reference's 5 000-row chunking exists to bound pandas memory; Spark
  * partitioned reads subsume it (`maxPartitionBytes` is the knob). The
  * reference's per-domain fail-fast validation gate becomes one
  * conditional-aggregate job per domain before the bronze write.
  * At scale: `partitionBy("study_id","domain")` gives partition pruning on
  * exactly the keys every downstream query filters on; the writer target
  * can be any Hadoop FS URI (s3a:// in production, file:// here).
  */
object Medallion {

  /** S1/S2 — known-domain CSVs read all-string with the domain's column
    * set ENFORCED (missing columns fail analysis loudly, extras are
    * dropped; typing happens downstream in the domain mapper,
    * null-on-failure like the reference) — no inference pass. Unknown
    * domains fall back to header+inference. */
  def readCsv(spark: SparkSession, path: String, domain: Option[String]): DataFrame =
    domain.flatMap(Sdtm.schemas.get) match {
      case Some(schema) =>
        spark.read.option("header", "true").csv(path)
          .select(schema.fieldNames.map(col).toSeq: _*)
      case None =>
        spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    }

  /** Parse-level robustness (a failure class BELOW the check suite):
    * PERMISSIVE CSV read against a pinned schema, with rows the parser
    * could not fit captured whole in `_corrupt_record`. Returns
    * (clean rows, corrupt raw lines) — the corrupt side goes to the same
    * dead-letter flow as check violations. A malformed line must never
    * kill a 100 TB load NOR silently coerce into nulls.
    */
  def readCsvPermissive(spark: SparkSession, path: String,
      schema: StructType): (DataFrame, DataFrame) = {
    val withCorrupt = StructType(schema.fields :+
      StructField("_corrupt_record", StringType, nullable = true))
    val raw = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt)
      .csv(path)
      // corrupt-record column contract: Spark requires materializing the
      // raw frame before filtering on _corrupt_record. The eager
      // localCheckpoint parses every column once; its blocks are freed
      // with the returned frames, and nothing enters the session's cache.
      .localCheckpoint()
    (raw.filter(col("_corrupt_record").isNull).drop("_corrupt_record"),
      raw.filter(col("_corrupt_record").isNotNull).select(col("_corrupt_record")))
  }

  final case class DomainResult(
      domain: String, rows: Long, violations: Map[String, Long], passed: Boolean,
      samples: Map[String, Seq[String]] = Map.empty)

  /** V11 — evaluate a check suite, one aggregation pass; returns per-check
    * violation counts (reference `validation/validator.py:63-145`). */
  def validate(df: DataFrame, checks: Seq[Check]): Map[String, Long] =
    if (checks.isEmpty) Map.empty
    else {
      val row = Checks.evaluate(df, checks).collect()(0)
      checks.map(c => c.name -> row.getAs[Long](c.name)).toMap
    }

  /** Default per-domain check suites (from `validation/pandera_schemas.py`). */
  val domainChecks: Map[String, Seq[Check]] = {
    import graft.checks._
    Map(
      "DM" -> Seq(NotNull("STUDYID"), NotNull("SUBJID"),
        MatchesRegex("SUBJID", "^[A-Z0-9\\-]+$"), MaxLength("STUDYID", 50),
        InSet("SEX", Seq("M", "F", "U")), InRange("AGE", 0, 150)),
      "AE" -> Seq(NotNull("STUDYID"), NotNull("SUBJID"),
        InSet("AESEV", Seq("MILD", "MODERATE", "SEVERE", "SERIOUS"))),
      "LB" -> Seq(NotNull("SUBJID"), NotNull("LBTESTCD"), MaxLength("LBTESTCD", 8),
        CrossColumn("lb_range_order",
          !(col("LBLNOR").isNotNull && col("LBHNOR").isNotNull) ||
            col("LBLNOR") <= col("LBHNOR"))),
      "VS" -> Seq(NotNull("SUBJID"), NotNull("VSTESTCD"), MaxLength("VSTESTCD", 8)),
      "EX" -> Seq(NotNull("SUBJID"),
        CrossColumn("ex_date_order",
          !(col("EXSTDTC").isNotNull && col("EXENDTC").isNotNull) ||
            col("EXSTDTC") <= col("EXENDTC"))))
  }

  /** Land → bronze: validate each domain frame (fail-fast like
    * `ingest_csv.py:128-131` unless `failFast=false`), then write
    * hive-partitioned parquet (S5). Returns per-domain results.
    * `checkSuites` defaults to the built-in [[domainChecks]]; pass a map
    * built from [[graft.checks.SuiteLoader]] suites to drive the gate from
    * declarative JSON documents (the reference's GE-suite pattern). */
  def landToBronze(domains: Map[String, DataFrame], studyId: String,
      bronzeRoot: String, failFast: Boolean = true,
      checkSuites: Map[String, Seq[Check]] = domainChecks): Seq[DomainResult] = {
    val unknown = domains.keySet -- Sdtm.Domains.toSet
    require(unknown.isEmpty,
      s"unknown domain(s) ${unknown.mkString(",")} — would be silently " +
        s"dropped; expected one of ${Sdtm.Domains.mkString(",")}")
    val results = Seq.newBuilder[DomainResult]
    val it = Sdtm.Domains.iterator.filter(domains.contains)
    var aborted = false
    while (it.hasNext && !aborted) {
      val domain = it.next()
      val df = domains(domain)
      val checks = checkSuites.getOrElse(domain, Nil)
      // one aggregation pass yields the row count AND every violation
      // count — no separate df.count() scan per domain
      val row = Checks.evaluateWithCount(df, checks).collect()(0)
      val nRows = row.getAs[Long]("n_rows")
      val violations = checks.map(c => c.name -> row.getAs[Long](c.name)).toMap
      val passed = violations.values.forall(_ == 0L)
      // Failing domains carry example rows (reference validator.py:63-77);
      // the capture scan is filtered to violating rows only, so the green
      // path pays nothing and the red path pays ∝ violations.
      val samples =
        if (passed || checks.isEmpty) Map.empty[String, Seq[String]]
        else Checks.sampleFailures(df,
          checks.filter(c => violations.getOrElse(c.name, 0L) > 0L))
      results += DomainResult(domain, nRows, violations, passed, samples)
      if (passed) {
        // dynamic partition overwrite: replace only this domain's
        // partitions — static mode would wipe the other domains' data
        df.withColumn("study_id", lit(studyId))
          .withColumn("domain", lit(domain))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("study_id", "domain")
          .parquet(bronzeRoot)
      } else if (failFast) aborted = true
    }
    results.result()
  }

  /** Bronze → silver: read back by partition key (S6 — the partition
    * columns ARE the routing), apply the domain mapper, write one silver
    * parquet per domain (`cdisc_sdtm_mapping.py:97-113`). */
  def bronzeToSilver(spark: SparkSession, bronzeRoot: String, studyId: String,
      silverRoot: String): Seq[String] = {
    // domains carry different schemas under one root → merge footers
    val bronze = spark.read.option("mergeSchema", "true").parquet(bronzeRoot)
      .filter(col("study_id") === studyId)
    val domains = bronze.select("domain").distinct().collect().map(_.getString(0))
    domains.sorted.map { domain =>
      val mapped = Sdtm.mappers(domain)(
        bronze.filter(col("domain") === domain).drop("study_id", "domain"))
      val out = s"$silverRoot/$domain.parquet"
      mapped.write.mode("overwrite").parquet(out)
      out
    }.toSeq
  }

  /** Small-file compaction: rewrite a parquet directory into files of
    * roughly `targetFileBytes`. Streaming micro-batch appends (and any
    * per-batch landing) accumulate small files; at 100 TB the resulting
    * task explosion and footer overhead dominate scan cost long before
    * the data does. File count is sized from the on-disk bytes, the
    * rewrite goes through a temp dir and an atomic-as-possible swap, and
    * rows are untouched (no sort — pair with sortWithinPartitions when
    * clustering for row-group skipping is also wanted).
    */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val bytes = fs.getContentSummary(dir).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(s"$path.__compact_tmp")
    spark.read.parquet(path).repartition(nFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    // Two-rename swap (Hadoop FS, so any URI scheme works; on HDFS the
    // renames are metadata ops, on object stores the writer should prefer
    // a manifest/table format). There is a brief window between the two
    // renames where `path` is absent — readers racing a compaction should
    // go through a snapshot/manifest layer; this helper targets quiesced
    // maintenance windows, matching the reference's offline compaction.
    val backup = new org.apache.hadoop.fs.Path(s"$path.__compact_old")
    require(fs.rename(dir, backup), s"could not move $path aside")
    require(fs.rename(tmp, dir), s"could not swap $tmp into $path")
    fs.delete(backup, true)
    nFiles
  }

  /** S11 — write the ingest report to any Hadoop FS URI (`file:` local,
    * `s3a:` production — reference `ingest_csv.py:166-190` writes it next
    * to the raw bucket). */
  def writeReport(spark: SparkSession, uri: String, results: Seq[DomainResult]): Unit =
    ObjectStore.putString(spark, uri, reportJson(results))

  /** S11 — JSON ingest report (reference `ingest_csv.py:166-190`). */
  def reportJson(results: Seq[DomainResult]): String = {
    val items = results.map { r =>
      val v = r.violations.toSeq.sorted
        .map { case (k, n) => s""""$k":$n""" }.mkString("{", ",", "}")
      // sample rows are already JSON objects (to_json of the full row) —
      // embed them raw so the report nests structured failure examples
      val s = r.samples.toSeq.sortBy(_._1)
        .map { case (k, rows) => s""""$k":${rows.mkString("[", ",", "]")}""" }
        .mkString("{", ",", "}")
      s"""{"domain":"${r.domain}","rows":${r.rows},"passed":${r.passed},""" +
        s""""violations":$v,"samples":$s}"""
    }
    items.mkString("[", ",", "]")
  }
}
