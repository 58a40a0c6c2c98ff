package graft.dedup

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.GraftTestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

class NearDupIndexSpec extends SparkSpec {
  import spark.implicits._

  private val P = NearDupIndex.Params(n = 3, k = 12, rowsPerBand = 3,
    minJaccard = 0.2)

  private def freshDir(): String =
    Files.createTempDirectory("graft-ndidx").toString + "/idx"

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "completely different content about spark engines entirely here"),
    (3L, "a third unrelated corpus document describing weather patterns"))
    .toDF("doc_id", "text")

  test("probe finds exact-verified near-dups of indexed docs; unrelated " +
      "batch docs match nothing") {
    val dir = freshDir()
    NearDupIndex.build(corpus, "doc_id", "text", P, dir)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // dup of 1
      (11L, "totally novel text never seen in any indexed document"))
      .toDF("doc_id", "text")
    val pairs = NearDupIndex.probe(spark, batch, "doc_id", "text", P, dir)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((10L, 1L)))
    assert(pairs.head.getAs[Double]("jaccard") == 1.0)
  }

  test("touched-doc narrowed probe (r16 scale path) is row-identical to " +
      "the un-narrowed probe") {
    val dir = freshDir()
    NearDupIndex.build(corpus, "doc_id", "text", P, dir)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // dup of 1
      (11L, "a third unrelated corpus document describing weather changes"),
      (12L, "totally novel text never seen in any indexed document"))
      .toDF("doc_id", "text")
    // threshold 0 forces the narrowing (broadcast candidate-id
    // semi-filters); MaxValue forces the plain path — same rows out
    val narrowed = NearDupIndex.probeThreshold(spark, batch, "doc_id",
        "text", P, dir, narrowThreshold = 0L)
      .orderBy("batch_id", "corpus_id").collect().toSeq
    val plain = NearDupIndex.probeThreshold(spark, batch, "doc_id",
        "text", P, dir, narrowThreshold = Long.MaxValue)
      .orderBy("batch_id", "corpus_id").collect().toSeq
    assert(narrowed == plain)
    assert(narrowed.nonEmpty) // the dup pair must exist on both paths
  }

  test("ingest appends ONLY survivors: a dup of the corpus never enters " +
      "the index, a novel doc becomes probe-able by the NEXT batch") {
    val dir = freshDir()
    NearDupIndex.build(corpus, "doc_id", "text", P, dir)
    val batch1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // dup
      (11L, "fresh survivor text about distributed minhash indexing steps"))
      .toDF("doc_id", "text")
    val p1 = NearDupIndex.ingest(spark, batch1, "doc_id", "text", P, dir, step = 1L)
    assert(p1.select("batch_id").as[Long].collect().toSeq == Seq(10L))
    // batch2 near-dups batch1's SURVIVOR (11) and the dropped dup's
    // original (1) — both must be found via the stored index; a pair
    // against 10 must NOT exist (10 was never appended)
    val batch2 = Seq(
      (20L, "fresh survivor text about distributed minhash indexing steps"),
      (21L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val p2 = NearDupIndex.ingest(spark, batch2, "doc_id", "text", P, dir, step = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2 == Set((20L, 11L), (21L, 1L)), s"got $p2")
  }

  test("probe result is pinned to the index version at call time — a " +
      "later append cannot leak into an already-built frame") {
    val dir = freshDir()
    NearDupIndex.build(corpus, "doc_id", "text", P, dir)
    val batch = Seq(
      (30L, "a third unrelated corpus document describing weather patterns"))
      .toDF("doc_id", "text")
    val before = NearDupIndex.probe(spark, batch, "doc_id", "text", P, dir)
    NearDupIndex.ingest(spark,
      Seq((31L, "a third unrelated corpus document describing weather patterns x"))
        .toDF("doc_id", "text"),
      "doc_id", "text", P, dir, step = 1L)
    // the pre-append frame still sees exactly one match (corpus doc 3),
    // not 31's appended near-dup
    assert(before.select("corpus_id").as[Long].collect().toSeq == Seq(3L))
  }

  test("params must tile the signature and stay positive") {
    intercept[IllegalArgumentException] {
      NearDupIndex.Params(3, 12, 5, 0.2) // 5 does not divide 12
    }
    intercept[IllegalArgumentException] {
      NearDupIndex.Params(3, 12, 3, 0.0)
    }
  }

  test("incremental two-step protocol equals the one-shot cross-corpus " +
      "recompute on the final index content") {
    val dir = freshDir()
    NearDupIndex.build(corpus, "doc_id", "text", P, dir)
    val batch1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "fresh survivor text about distributed minhash indexing steps"))
      .toDF("doc_id", "text")
    NearDupIndex.ingest(spark, batch1, "doc_id", "text", P, dir, step = 1L)
    val batch2 = Seq(
      (20L, "fresh survivor text about distributed minhash indexing steps"))
      .toDF("doc_id", "text")
    val inc = NearDupIndex.ingest(spark, batch2, "doc_id", "text", P, dir, step = 2L)
      .select("batch_id", "corpus_id", "inter", "sz1", "sz2", "jaccard")
      .collect().toSet
    // ground truth: crossCorpusPairs of batch2 vs (corpus + batch1
    // survivors) recomputed from text
    val surv1 = Seq(
      (11L, "fresh survivor text about distributed minhash indexing steps"))
      .toDF("doc_id", "text")
    val full = Dedup.crossCorpusPairs(batch2, corpus.unionByName(surv1),
        "doc_id", "text", P.n, P.k, P.rowsPerBand, P.minJaccard)
      .collect().toSet
    assert(inc == full, s"incremental $inc != recompute $full")
  }

  test("ingestIdempotent: a replayed micro-batch is a no-op (no version, " +
      "no duplicate pair rows, no double-appended survivors)") {
    val dir = freshDir()
    NearDupIndex.build(corpus, "doc_id", "text", P, dir)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // dup
      (11L, "fresh survivor text about distributed minhash indexing steps"))
      .toDF("doc_id", "text")
    assert(NearDupIndex.ingestIdempotent(spark, batch, "doc_id", "text",
      P, dir, "crawl", 0L), "first delivery must land")
    val vAfter = graft.ops.Versioned.latestVersion(dir)
    // zombie replay of the same micro-batch id
    assert(!NearDupIndex.ingestIdempotent(spark, batch, "doc_id", "text",
      P, dir, "crawl", 0L), "replay must be skipped")
    assert(graft.ops.Versioned.latestVersion(dir) == vAfter)
    val pairs = NearDupIndex.pairsOf(spark, dir, "doc_id").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq((1L, 10L, 1L)), s"got ${pairs.toSeq}") // step 1: 10 dups 1
    // survivor 11 appended exactly once — a second batch still sees ONE
    // match against it, and the step numbering continues
    assert(NearDupIndex.ingestIdempotent(spark,
      Seq((20L, "fresh survivor text about distributed minhash indexing steps"))
        .toDF("doc_id", "text"), "doc_id", "text", P, dir, "crawl", 1L))
    val p2 = NearDupIndex.pairsOf(spark, dir, "doc_id")
      .filter(col("step") === 2L).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(p2 == Seq((20L, 11L)), s"got $p2")
  }

  /** The relational sketch the one-shuffle [[NearDupIndex.sketch]]
    * replaced — distinct shingle scan, fused signature aggregate, banding
    * group-by and a per-id count — kept as the independent reference the
    * equivalence leg pins it against. */
  private def sketchRelational(df: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val sh = Dedup.wordShingles(df, "doc_id", "text", P.n)
    val bands = Dedup.bandBuckets(
      Dedup.signaturesFromShingles(sh, "doc_id", P.k), "doc_id", P.rowsPerBand)
    (bands, sh, sh.groupBy("doc_id").agg(count(lit(1)).as("sz")))
  }

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).view
      .mapValues(_.size).toMap

  test("the one-shuffle sketch's band, shingle and size rows equal the " +
      "relational sketch's, short, NULL, empty and repeated-id docs included") {
    val docs = corpus.unionByName(Seq(
      (4L, "two words"),                          // fewer than n tokens
      (5L, null),
      (6L, ""),
      (7L, "a b c a b c a b c d"),                // repeated shingles
      (8L, "one row of the repeated id document"),
      (8L, "second row of the repeated id holds more words")) // same id
      .toDF("doc_id", "text"))
    val (b, s, z) = NearDupIndex.sketch(docs, "doc_id", "text", P)
    val (rb, rs, rz) = sketchRelational(docs)
    Seq("bands" -> (b, rb), "shingles" -> (s, rs), "sizes" -> (z, rz))
      .foreach { case (family, (got, want)) =>
        assert(got.schema.map(f => f.name -> f.dataType) ==
          want.schema.map(f => f.name -> f.dataType), family)
        assert(multiset(got) == multiset(want), family)
      }
    val ids = z.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 3L, 7L, 8L), s"sized docs: $ids")
  }

  /** Spark jobs `thunk` launches on this thread, the executed plans of
    * the Versioned commits it stages, and its result. */
  private def audited[T](thunk: => T): (Int, Seq[SparkPlan], T) = {
    val sc = spark.sparkContext
    val group = s"ndidx-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger()
    val staged = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == group)) n.incrementAndGet()
    }
    val plans = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "stage") staged.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    GraftTestListenerBus.drain(sc)
    sc.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    sc.setJobGroup(group, "ndidx budget")
    try {
      val out = thunk
      GraftTestListenerBus.drain(sc)
      (n.get, staged.toArray(Array.empty[SparkPlan]).toSeq, out)
    } finally {
      sc.clearJobGroup()
      spark.listenerManager.unregister(plans)
      sc.removeSparkListener(jobs)
    }
  }

  test("one ingest stays within its job budget and commits a plan over " +
      "materialized leaves (no in-memory scan of a cached probe)") {
    val dir = freshDir()
    NearDupIndex.build(corpus, "doc_id", "text", P, dir)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // dup
      (11L, "fresh survivor text about distributed minhash indexing steps"))
      .toDF("doc_id", "text")
    val (n, staged, pairs) = audited(
      NearDupIndex.ingest(spark, batch, "doc_id", "text", P, dir, step = 1L))
    assert(n <= 13, s"one ingest launched $n jobs")
    assert(staged.size == 1, s"${staged.size} staged writes")
    val helper = new AdaptiveSparkPlanHelper {}
    val scans = helper.collectWithSubqueries(staged.head) {
      case m: InMemoryTableScanLike => m }
    assert(scans.isEmpty, s"commit plan:\n${staged.head}")
    assert(pairs.select("batch_id", "corpus_id").collect().toSeq ==
      Seq(Row(10L, 1L)))
  }

  test("build, ingests and probes leave nothing in the session's cache") {
    spark.catalog.clearCache() // start from an empty cache
    val dir = freshDir()
    NearDupIndex.build(corpus, "doc_id", "text", P, dir)
    Seq(1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> "fresh survivor text about distributed minhash indexing steps")
      .foreach { case (step, text) =>
        NearDupIndex.ingest(spark, Seq((10L * step, text)).toDF("doc_id", "text"),
          "doc_id", "text", P, dir, step).collect()
      }
    NearDupIndex.probe(spark, corpus, "doc_id", "text", P, dir).collect()
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
