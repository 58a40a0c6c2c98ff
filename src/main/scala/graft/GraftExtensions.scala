package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types.IntegerType
import graft.functions._
import graft.plans.{AsOfJoinStrategy, MvRewrite, RangeJoinStrategy}
import graft.privacy.{EliminateHmacRoundTrip, HmacDetokenize, HmacSha256Base64}

/** SparkSessionExtensions entry point: enable with
  * `spark.sql.extensions=graft.GraftExtensions` to get the engine's custom
  * Catalyst pieces in every session at build time. Sessions built without
  * it get the same pieces from [[GraftExtensions.setup]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}

/** The engine's Catalyst extension set — the one place that knows it.
  * Both install paths read these tables: [[GraftExtensions.apply]] at
  * session build, [[setup]] into a live session. */
object GraftExtensions {

  private type FunctionRow =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_])(
      build: Seq[Expression] => Expression): FunctionRow =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** Argument `i` of `name` as an integer literal (the aggregates' sketch
    * sizes are plan constants, not per-row values). */
  private def intArg(name: String, children: Seq[Expression], i: Int): Int =
    children(i) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$name argument ${i + 1} must be an integer literal, got $other")
    }

  /** Every SQL function: (name, catalog info, builder). */
  private val functions: Seq[FunctionRow] = Seq(
    fn("hmac_tokenize", classOf[HmacSha256Base64])(
      c => HmacSha256Base64(c(0), c(1))),
    fn("hmac_detokenize", classOf[HmacDetokenize])(
      c => HmacDetokenize(c(0), c(1))),
    fn("graft_dot", classOf[ArrayDotProduct])(
      c => ArrayDotProduct(c(0), c(1))),
    fn("graft_hplanes", classOf[HyperplaneBucket])(HyperplaneBucket.build),
    fn("graft_bands", classOf[BandedHyperplanes])(BandedHyperplanes.build),
    fn("graft_char_entropy", classOf[CharEntropy])(CharEntropy.build),
    fn("graft_shingle_stats", classOf[ShingleStats])(ShingleStats.build),
    fn("graft_bloom", classOf[Bloom.BloomAgg])(c => Bloom.BloomAgg(c(0),
      intArg("graft_bloom", c, 1), intArg("graft_bloom", c, 2))),
    fn("graft_bloom_contains", classOf[Bloom.BloomContains])(
      c => Bloom.BloomContains(c(0), c(1))),
    fn("graft_heavy_hitters", classOf[HeavyHittersAgg])(
      c => HeavyHittersAgg(c(0), intArg("graft_heavy_hitters", c, 1))),
    fn("graft_ngrams", classOf[NgramGenerator])(NgramGenerator.build),
    fn("graft_simhash", classOf[SimHashAgg])(c => SimHashAgg(c(0))),
    fn("graft_minhash", classOf[MinHashAgg])(
      c => MinHashAgg(c(0), intArg("graft_minhash", c, 1))))

  /** Planner strategies for the custom physical joins
    * (`graft.plans.AsOfJoinPlan` / `RangeJoinPlan` → broadcast execs). */
  private val strategies: Seq[SparkStrategy] =
    Seq(AsOfJoinStrategy, RangeJoinStrategy)

  /** Optimizer rules: hmac_detokenize(hmac_tokenize(x, k), k) → x, and
    * aggregate-over-base → re-aggregate over a registered materialized
    * view (a no-op while no MV is registered). */
  private val rules: Seq[Rule[LogicalPlan]] =
    Seq(EliminateHmacRoundTrip, MvRewrite)

  /** Install the extension set into a live session: register the
    * functions it lacks, append the strategies and rules it lacks.
    * Idempotent — a session that has everything is left untouched — and
    * `synchronized`, so concurrent callers never lose each other's
    * `spark.experimental` update. Library verbs call it before they use a
    * piece, so a session built without `spark.sql.extensions` works too. */
  def setup(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
    val x = spark.experimental
    val newStrategies = strategies.filterNot(x.extraStrategies.contains)
    if (newStrategies.nonEmpty) x.extraStrategies = x.extraStrategies ++ newStrategies
    val newRules = rules.filterNot(x.extraOptimizations.contains)
    if (newRules.nonEmpty) x.extraOptimizations = x.extraOptimizations ++ newRules
  }
}
