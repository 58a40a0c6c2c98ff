package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{GraftSqlShims, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.plans.{AsOfJoinStrategy, MvRewrite, RangeJoinStrategy}
import graft.privacy.EliminateHmacRoundTrip

/** Both install paths of the engine's Catalyst extension set:
  * `GraftExtensions.apply` (what a session built with
  * `spark.sql.extensions=graft.GraftExtensions` receives — asserted on
  * the extensions object's contributions, since extensions only apply at
  * session construction) and `GraftExtensions.setup` into a live session.
  * The expected set is spelled out here, independently of the tables in
  * `GraftExtensions`, so a dropped row fails.
  */
class ExtensionsSpec extends SparkSpec {

  /** Every SQL function, with a query that resolves and runs it. */
  private val functionQueries: Seq[(String, String)] = Seq(
    "hmac_tokenize" -> "SELECT hmac_tokenize('SUBJ0001', 'k')",
    "hmac_detokenize" -> "SELECT hmac_detokenize('QUJD', 'k')",
    "graft_dot" -> "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))",
    "graft_hplanes" -> "SELECT graft_hplanes(CAST(array(1, -2) AS ARRAY<FLOAT>), 4, 2)",
    "graft_bands" -> "SELECT graft_bands(CAST(array(1, -2) AS ARRAY<FLOAT>), 2, 3, 2)",
    "graft_char_entropy" -> "SELECT graft_char_entropy('abca')",
    "graft_shingle_stats" -> "SELECT graft_shingle_stats('a b c a b c', 2)",
    "graft_bloom" ->
      "SELECT graft_bloom(CAST(id AS STRING), 1024, 3) FROM range(4)",
    "graft_bloom_contains" -> ("SELECT graft_bloom_contains(b, '1') FROM " +
      "(SELECT graft_bloom(CAST(id AS STRING), 1024, 3) AS b FROM range(4))"),
    "graft_heavy_hitters" ->
      "SELECT graft_heavy_hitters(CAST(id % 2 AS STRING), 2) FROM range(6)",
    "graft_ngrams" -> "SELECT graft_ngrams('a b c d', 2)",
    "graft_simhash" -> "SELECT graft_simhash(id) FROM range(4)",
    "graft_minhash" ->
      "SELECT graft_minhash(CAST(id AS STRING), 8) FROM range(4)")
  private val functionIds = functionQueries.map(q => FunctionIdentifier(q._1))
  private val expectedStrategies = Seq(AsOfJoinStrategy, RangeJoinStrategy)
  private val expectedRules = Seq(EliminateHmacRoundTrip, MvRewrite)

  private lazy val (registry, strategies, rules) = {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftSqlShims.extensionContributions(ext, spark)
  }

  /** A session that shares the SparkContext but starts from Spark's own
    * function registry and no extra strategies or rules. */
  private def freshSession(): SparkSession = {
    val s = spark.newSession()
    assert(!functionIds.exists(s.sessionState.functionRegistry.functionExists))
    assert(s.experimental.extraStrategies.isEmpty)
    assert(s.experimental.extraOptimizations.isEmpty)
    s
  }

  /** Each strategy and rule of the set is installed exactly once. */
  private def assertInstalledOnce(s: SparkSession): Unit = {
    expectedStrategies.foreach(st =>
      assert(s.experimental.extraStrategies.count(_ eq st) == 1, st))
    expectedRules.foreach(r =>
      assert(s.experimental.extraOptimizations.count(_ eq r) == 1, r))
  }

  test("injects every custom function into a registry") {
    functionIds.foreach(id => assert(registry.functionExists(id), id))
  }

  test("injects the as-of and range-join planner strategies") {
    expectedStrategies.foreach(st => assert(strategies.count(_ eq st) == 1, st))
  }

  test("injects the HMAC round-trip and MV rewrite optimizer rules") {
    expectedRules.foreach(r => assert(rules.count(_ eq r) == 1, r))
  }

  test("setup installs the same set into a fresh session, and each function resolves from SQL") {
    val s = freshSession()
    GraftExtensions.setup(s)
    functionIds.foreach(id =>
      assert(s.sessionState.functionRegistry.functionExists(id), id))
    assertInstalledOnce(s)
    functionQueries.foreach { case (fn, q) =>
      assert(s.sql(q).collect().length >= 1, fn)
    }
  }

  test("a second setup leaves the registry, strategies and rules untouched") {
    val s = freshSession()
    GraftExtensions.setup(s)
    val reg = s.sessionState.functionRegistry
    // a marker builder under one of the set's names: a setup that
    // re-registered present functions would replace it
    val marker = FunctionIdentifier("graft_dot")
    reg.registerFunction(marker,
      new ExpressionInfo(classOf[Literal].getName, "graft_dot"),
      (_: Seq[Expression]) => Literal(42.0))
    val before = functionIds.map(id => reg.lookupFunctionBuilder(id).get)
    val strategiesBefore = s.experimental.extraStrategies
    val rulesBefore = s.experimental.extraOptimizations
    GraftExtensions.setup(s)
    functionIds.zip(before).foreach { case (id, b) =>
      assert(reg.lookupFunctionBuilder(id).get eq b, id)
    }
    assert(s.experimental.extraStrategies eq strategiesBefore)
    assert(s.experimental.extraOptimizations eq rulesBefore)
    assert(s.sql("SELECT graft_dot(array(1.0D), array(1.0D))").head()
      .getDouble(0) == 42.0)
  }

  test("concurrent setups on one session install each piece exactly once") {
    val threads = 8
    val pool = Executors.newFixedThreadPool(threads)
    // several rounds, each on its own fresh session: one round rarely
    // interleaves two installs, so a lost update needs repeats to show
    val sessions = try (1 to 10).map { _ =>
      val s = freshSession()
      val barrier = new CyclicBarrier(threads)
      (1 to threads).map(_ => pool.submit(new Runnable {
        def run(): Unit = { barrier.await(); GraftExtensions.setup(s) }
      })).foreach(_.get(60, TimeUnit.SECONDS))
      s
    } finally pool.shutdown()
    sessions.foreach(assertInstalledOnce)
    functionQueries.foreach { case (fn, q) =>
      assert(sessions.last.sql(q).collect().length >= 1, fn)
    }
  }

  test("no main source other than GraftExtensions installs a Catalyst extension") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    // a second install path: a write through `spark.experimental`, a
    // direct function-registry write, or a SparkSessionExtensions inject
    val installs = Seq("""\.experimental\b""", """\bregisterFunction\b""",
      """\.inject[A-Z]\w*\b""").map(_.r)
    def hits(p: Path): Seq[String] = {
      val text = new String(Files.readAllBytes(p), "UTF-8")
      installs.flatMap(_.findAllIn(text))
    }
    val (home, others) =
      files.partition(_.getFileName.toString == "GraftExtensions.scala")
    assert(home.size == 1 && hits(home.head).nonEmpty,
      s"the scan must see GraftExtensions.scala's own installs under $root")
    val offenders = others.filter(hits(_).nonEmpty)
    assert(offenders.isEmpty,
      s"extensions must be installed through GraftExtensions' tables: $offenders")
  }
}
