package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.standards.{Sdtm, SyntheticSdtm}

class MedallionSpec extends SparkSpec {

  test("land→bronze→silver round-trip with partitioned layout (S4/S5/S6)") {
    val tmp = Files.createTempDirectory("graft-medallion").toString
    val domains = SyntheticSdtm.allDomains(spark, 30, 42L)
    // drop the seeded invalid SEX='X' row => green path
    val clean = domains.updated("DM", domains("DM").filter(col("SUBJID") =!= "SUBJ0000"))

    val results = Medallion.landToBronze(clean, "STUDY001", s"$tmp/bronze")
    assert(results.size == 5 && results.forall(_.passed))

    // partition columns come back as columns (S6)
    val bronze = spark.read.parquet(s"$tmp/bronze")
    assert(bronze.columns.contains("study_id") && bronze.columns.contains("domain"))
    assert(bronze.select("domain").distinct().count() == 5)

    val silver = Medallion.bronzeToSilver(spark, s"$tmp/bronze", "STUDY001", s"$tmp/silver")
    assert(silver.size == 5)
    val dm = spark.read.parquet(s"$tmp/silver/DM.parquet")
    assert(dm.columns.toSeq == Sdtm.dmSchema.fieldNames.toSeq)
    assert(dm.count() == 29)
  }

  test("red path: seeded invalid SEX='X' fails DM validation and fail-fast aborts") {
    val tmp = Files.createTempDirectory("graft-medallion-red").toString
    val domains = SyntheticSdtm.allDomains(spark, 30, 42L) // includes SEX='X'
    val results = Medallion.landToBronze(domains, "STUDY001", s"$tmp/bronze")
    val dmResult = results.find(_.domain == "DM").get
    assert(!dmResult.passed)
    assert(dmResult.violations("SEX_not_in_set") == 1L)
    assert(results.size == 1) // fail-fast: later domains never ran
    // failing check carries sample offending rows (reference
    // validator.py:63-77): the seeded row is identifiable in the sample
    val dmSamples = dmResult.samples("SEX_not_in_set")
    assert(dmSamples.size == 1 && dmSamples.head.contains("\"SEX\":\"X\""))
    // non-fail-fast continues through all domains
    val all = Medallion.landToBronze(domains, "STUDY001",
      s"$tmp/bronze2", failFast = false)
    assert(all.size == 5)
    val report = Medallion.reportJson(all)
    assert(report.contains("\"passed\":false"))
    assert(report.contains("\"samples\":{\"SEX_not_in_set\":[{"))
    // green domains carry no samples
    assert(all.filter(_.passed).forall(_.samples.isEmpty))
  }

  test("red/green gate driven by the declarative JSON suite document") {
    val tmp = Files.createTempDirectory("graft-medallion-suite").toString
    val dmSuite = graft.checks.SuiteLoader.fromResource("graft/suites/dm_suite.json")
    // 7 row checks: the length expectation now gates BOTH bounds, so
    // STUDYID carries MinLength(1) (non-empty) alongside MaxLength(50)
    assert(dmSuite.name == "dm_suite" && dmSuite.rowChecks.size == 7)
    assert(dmSuite.rowChecks.contains(graft.checks.MinLength("STUDYID", 1)))
    val suites = Medallion.domainChecks.updated("DM", dmSuite.rowChecks)
    val domains = SyntheticSdtm.allDomains(spark, 30, 42L) // includes SEX='X'
    // red: the seeded bad row trips the JSON-declared in-set rule
    val red = Medallion.landToBronze(domains, "STUDY001", s"$tmp/bronze",
      checkSuites = suites)
    val dmRed = red.find(_.domain == "DM").get
    assert(!dmRed.passed && dmRed.violations("SEX_not_in_set") == 1L)
    // green: quarantined fix lands cleanly through the same suite
    val clean = domains.updated("DM",
      domains("DM").filter(col("SUBJID") =!= "SUBJ0000"))
    val green = Medallion.landToBronze(clean, "STUDY001", s"$tmp/bronze",
      checkSuites = suites)
    assert(green.size == 5 && green.forall(_.passed))
  }

  test("permissive CSV read splits clean rows from corrupt raw lines") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-permissive").toString
    val schema = StructType(Seq(
      StructField("SUBJID", StringType), StructField("AGE", IntegerType)))
    // row 2 has a non-numeric AGE, row 3 has too many columns
    Files.writeString(java.nio.file.Paths.get(s"$tmp/dm.csv"),
      "SUBJID,AGE\nS1,42\nS2,not_a_number\nS3,31,EXTRA,COLS\nS4,55\n")
    val (clean, corrupt) = Medallion.readCsvPermissive(spark, s"$tmp/dm.csv", schema)
    assert(clean.select("SUBJID").as[String].collect().toSet == Set("S1", "S4"))
    // both the type failure and the arity failure are captured whole
    // (raw line) for the dead letter — neither kills the load nor
    // silently coerces
    val bad = corrupt.as[String].collect().toSet
    assert(bad == Set("S2,not_a_number", "S3,31,EXTRA,COLS"))
  }

  test("permissive CSV read leaves nothing in the session's cache") {
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("graft-permissive-cache").toString
    Files.writeString(java.nio.file.Paths.get(s"$tmp/dm.csv"),
      "SUBJID,AGE\nS1,42\nS2,not_a_number\n")
    spark.catalog.clearCache() // start from an empty cache
    val (clean, corrupt) = Medallion.readCsvPermissive(spark, s"$tmp/dm.csv",
      StructType(Seq(StructField("SUBJID", StringType),
        StructField("AGE", IntegerType))))
    assert(clean.count() == 1L && corrupt.count() == 1L)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("compact rewrites many small files into few, preserving rows") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-compact").toString
    val path = s"$tmp/events"
    // 40 tiny appends → 40+ part files (micro-batch landing shape)
    (1 to 40).foreach { i =>
      Seq((i.toLong, s"payload_$i")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(path)
    }
    val beforeRows = spark.read.parquet(path).orderBy("id").collect().toSeq
    val beforeFiles = new java.io.File(path).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(beforeFiles >= 40)

    val nFiles = Medallion.compact(spark, path)
    val afterFiles = new java.io.File(path).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(afterFiles == nFiles && afterFiles < beforeFiles)
    assert(spark.read.parquet(path).orderBy("id").collect().toSeq == beforeRows)
  }
}
