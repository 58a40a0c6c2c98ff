package perfbench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{analytics, checks, io, ml, standards, warehouse}
import graft.dedup.NearDupIndex
import graft.text.Curation

/** One product-pipeline pass. `run(out)` is the timed part; it writes
  * under `out` and returns the untimed output check plus the pass's
  * output digest (the same seed must give the same digest in every
  * execution, traced or not). */
trait Pass {
  def run(out: String): (() => Unit, String)
}

/** The reference's `make demo` path on a seeded synthetic cohort, one
  * layer span per step: generate → red/green DQ landing → silver →
  * staging → star → marts → fit → score → registry and report. */
final class ClinicalPass(spark: SparkSession, subjects: Int, seed: Long) extends Pass {
  import Workload.check
  private val Study = "STUDY001"
  private val runTs = to_timestamp(lit("2024-06-01 00:00:00"))
  private type Domains = Map[String, DataFrame]

  private def generate(): Domains = Trace.span("standards.generate") {
    val d = standards.SyntheticSdtm.allDomains(spark, subjects, seed)
    d.values.foreach(_.cache().count())
    d
  }

  /** The generator seeds one invalid SEX='X' row (SUBJ0000): the cohort
    * without it. */
  private def cleaned(domains: Domains): Domains =
    domains.updated("DM", domains("DM").filter(col("SUBJID") =!= "SUBJ0000"))

  /** Red landing (must fail on the seeded row), green landing, silver. */
  private def land(domains: Domains, out: String) = {
    val suites = io.Medallion.domainChecks.updated("DM",
      checks.SuiteLoader.fromResource("graft/suites/dm_suite.json").rowChecks)
    val (red, green) = Trace.span("io.land_to_bronze") {
      (io.Medallion.landToBronze(domains, Study, s"$out/bronze", checkSuites = suites),
        io.Medallion.landToBronze(cleaned(domains), Study, s"$out/bronze", checkSuites = suites))
    }
    val silver = Trace.span("io.bronze_to_silver")(
      io.Medallion.bronzeToSilver(spark, s"$out/bronze", Study, s"$out/silver"))
    (red, green, silver)
  }

  /** Staging, the star schema and the analytics marts. */
  private def model(clean: Domains, out: String) = {
    val dm = clean("DM")
    val stg = Trace.span("standards.staging") {
      val s = Seq(standards.Sdtm.stgDemographics(dm, Study, runTs),
        standards.Sdtm.stgAdverseEvents(clean("AE"), Study, runTs),
        standards.Sdtm.stgLaboratory(clean("LB"), Study, runTs),
        standards.Sdtm.stgVitalSigns(clean("VS"), Study, runTs),
        standards.Sdtm.stgExposure(clean("EX"), Study, runTs)).map(_.cache())
      s.foreach(_.count())
      s
    }
    val dim = Trace.span("warehouse.star") {
      val d = warehouse.Star.dimSubject(dm)
      warehouse.Star.factSubjectOutcomes(
        warehouse.Star.intSubjectSummary(stg(0), stg(1), stg(2), stg(3), stg(4)), runTs)
        .write.parquet(s"$out/fact_subject_outcomes")
      d
    }
    val outcomes = spark.read.parquet(s"$out/fact_subject_outcomes")
    Trace.span("analytics.marts") {
      val factAe = warehouse.Star.factAdverseEvents(clean("AE"), dim)
      Seq("ae_rates_by_arm" -> analytics.ClinicalAnalytics.aeRatesByArm(factAe, dim),
        "arm_distribution" -> analytics.ClinicalAnalytics.armDistribution(dim),
        "risk_crosstab" -> analytics.ClinicalAnalytics.riskCrosstab(outcomes))
        .foreach { case (n, df) => df.write.parquet(s"$out/analytics/$n") }
    }
    (stg, dim, outcomes)
  }

  /** Fit, evaluate and score, then register the model and write the
    * ingest report. */
  private def learn(clean: Domains, landed: Seq[io.Medallion.DomainResult], out: String) = {
    val (features, fitted, test) = Trace.span("ml.fit") {
      val f = ml.RiskModel.subjectFeatures(clean("DM"), clean("AE")).cache()
      val (train, test) = ml.RiskModel.stratifiedSplit(f)
      (f, ml.RiskModel.pipeline().fit(train), test)
    }
    val metrics = Trace.span("ml.score") {
      val m = ml.RiskModel.evaluate(fitted, test)
      ml.RiskModel.scoreBatch(fitted, features).write.parquet(s"$out/scores")
      m
    }
    val stage = Trace.span("ml.registry") {
      val log = new ml.Registry.EventLog(s"$out/registry/events.jsonl")
      val t0 = 1717200000000L
      log.register("risk_model", 1, t0,
        Map("owner" -> "perfbench", "dataset" -> "sdtm_synth", "training_date" -> "2024-06-01"),
        Map("auc" -> metrics.auc, "ap" -> metrics.averagePrecision))
      log.transition(spark, "risk_model", 1, "Staging", t0 + 1000L)
      log.transition(spark, "risk_model", 1, "Production", t0 + 2000L)
      io.Medallion.writeReport(spark, s"$out/ingest_report.json", landed)
      log.currentStage(spark, "risk_model", 1)
    }
    (features, metrics, stage)
  }

  /** The pass in three independent parts (landing; warehouse and marts;
    * model and registry), each on its own generated cohort, for a
    * parallel warm-up: the one pass is the longest chain of the set-up. */
  def parts(out: String): Seq[() => Unit] = Seq(
    () => land(generate(), s"$out/land"),
    () => model(cleaned(generate()), s"$out/model"),
    () => learn(cleaned(generate()), Nil, s"$out/learn"))

  def run(out: String): (() => Unit, String) = {
    val domains = generate()
    val clean = cleaned(domains)
    val (red, green, silver) = land(domains, out)
    val (stg, dim, outcomes) = model(clean, out)
    val (features, metrics, stage) = learn(clean, green, out)
    val scores = spark.read.parquet(s"$out/scores")
    val digest = Workload.digest(scores.select("SUBJID", "RISK"))

    val verify = () => {
      check(red.exists(r => r.domain == "DM" && !r.passed), "red landing passed the seeded bad DM row")
      check(green.size == standards.Sdtm.Domains.size && green.forall(_.passed),
        s"clean landing failed: ${green.filterNot(_.passed).map(_.domain)}")
      val generated = clean.map { case (k, df) => k -> df.count() }
      green.foreach(r => check(r.rows == generated(r.domain),
        s"bronze ${r.domain} has ${r.rows} rows, generated ${generated(r.domain)}"))
      check(silver.size == green.size, s"silver wrote ${silver.size} domains of ${green.size}")
      silver.foreach { p =>
        val d = p.split('/').last.stripSuffix(".parquet")
        val n = spark.read.parquet(p).count()
        check(n == generated(d), s"silver $d has $n rows, bronze ${generated(d)}")
      }
      val nDm = generated("DM")
      check(outcomes.count() == nDm, s"fact_subject_outcomes rows != $nDm subjects")
      check(dim.count() == nDm, s"dim_subject rows != $nDm subjects")
      check(scores.count() == nDm && scores.filter(col("RISK").isNull).isEmpty,
        s"not every one of $nDm subjects was scored")
      Seq("auc" -> metrics.auc, "ap" -> metrics.averagePrecision).foreach { case (k, v) =>
        check(v >= 0 && v <= 1, s"$k = $v") }
      check(stage.contains("Production"), s"registry stage $stage")
      stg.foreach(_.unpersist())
      features.unpersist()
      domains.values.foreach(_.unpersist())
    }
    (verify, digest)
  }
}

/** A seeded corpus in the shape of the board's `documents` table: word
  * soup over a small vocabulary, plus exact copies and one-word edits of
  * earlier documents. `exactCopies` maps a copy's id to its original. */
final class Corpus(docs: Int, seed: Long) {
  private val vocab = ("batch part spark line column order small sort fast value scan a " +
    "hash slow group agg filter query big key window row table stream merge data the " +
    "join vector customer").split(' ')
  val (rows, exactCopies): (Seq[(Long, String)], Map[Long, Long]) = {
    val r = new Random(seed)
    val base = (0 until docs).map(i =>
      i.toLong -> Seq.fill(20 + r.nextInt(50))(vocab(r.nextInt(vocab.length))).mkString(" "))
    // copies get ids ≡ 0 or 3 (mod 6), the ingest batches of NearDupIndexPass;
    // their originals have ids ≢ 0 (mod 3), so they sit in the indexed corpus
    val copies = (0 until docs / 10).map { j =>
      val orig = 3L * r.nextInt(docs / 3) + 1 + r.nextInt(2)
      (docs.toLong / 6 + 1 + j) * 6 + 3 * (j % 2) -> orig
    }
    val edits = (0 until docs / 10).map { j =>
      val text = base(r.nextInt(docs))._2
      (docs.toLong / 6 + 1 + docs / 10 + j) * 6 + 1 -> text.replaceFirst(" ", " fast ")
    }
    (base ++ copies.map { case (c, o) => c -> base(o.toInt)._2 } ++ edits, copies.toMap)
  }

  def write(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "text").coalesce(1).write.parquet(path)
  }
}

/** The curation pass: quality filter, language filter, exact dedup and
  * near-duplicate prune of the corpus (the stages t33 opens with), with
  * the funnel of survivors per stage and the train/val/test split. */
final class CurationPass(spark: SparkSession, corpus: String) extends Pass {
  def run(out: String): (() => Unit, String) = {
    val docs = spark.read.parquet(corpus)
    val (funnel, digest) = Trace.span("text.curation") {
      val cfg = Curation.Config()
      val st = Curation.stages(docs, "doc_id", "text", cfg)
      val counts = Seq(st.raw, st.quality, st.lang, st.exactDedup, st.nearDup).map(_.count())
      val curated = st.nearDup
        .withColumn("split", graft.ops.Sampling.splitColumn(col("doc_id"), cfg.splits, cfg.splitSeed))
      val d = Workload.digest(curated.select("doc_id", "split"))
      st.exactDedup.unpersist()
      st.nearDup.unpersist()
      (counts, d)
    }
    val verify = () => {
      funnel.sliding(2).foreach { case Seq(n, m) =>
        Workload.check(m <= n, s"curation funnel grows: ${funnel.mkString(" > ")}") }
      Workload.check(funnel(3) < funnel(2),
        s"exact dedup removed none of the corpus's exact copies: ${funnel.mkString(" > ")}")
      Workload.check(digest.startsWith(s"${funnel.last}:"),
        s"curated output $digest does not hold the ${funnel.last} surviving documents")
    }
    (verify, digest)
  }
}

/** The t45 shape: build a near-duplicate index over two thirds of the
  * corpus, then ingest two batches; every exact copy in a batch must be
  * reported against its original. */
final class NearDupIndexPass(spark: SparkSession, corpus: String,
    exactCopies: Map[Long, Long]) extends Pass {
  private val p = NearDupIndex.Params(n = 3, k = 12, rowsPerBand = 3, minJaccard = 0.2)

  def run(out: String): (() => Unit, String) = {
    val docs = spark.read.parquet(corpus)
    val dir = s"$out/index"
    Trace.span("dedup.index_build")(
      NearDupIndex.build(docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", p, dir))
    val found = Seq(1L -> 0, 2L -> 3).flatMap { case (step, rem) =>
      Trace.span("dedup.index_ingest")(NearDupIndex.ingest(spark,
        docs.filter(col("doc_id") % 6 === rem), "doc_id", "text", p, dir, step)
        .select(col("batch_id"), col("corpus_id"), col("jaccard")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    }
    val stored = NearDupIndex.pairsOf(spark, dir, "doc_id")
    val digest = Workload.digest(stored)
    val verify = () => {
      val pairs = found.map(f => f._1 -> f._2).toSet
      exactCopies.foreach { case (c, o) =>
        Workload.check(pairs((c, o)), s"exact copy $c of $o not reported") }
      found.foreach { case (b, c, j) =>
        Workload.check(j >= p.minJaccard, s"pair ($b, $c) below the threshold: $j") }
      Workload.check(digest.startsWith(s"${found.size}:"),
        s"stored pairs $digest differ from the ${found.size} returned")
    }
    (verify, digest)
  }
}
