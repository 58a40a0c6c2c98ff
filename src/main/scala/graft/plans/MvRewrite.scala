package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}

/** Materialized-view auto-rewrite: an optimizer [[Rule]] that rewrites an
  * aggregate over a registered base table into a (re-)aggregate over a much
  * smaller materialized partial-aggregate table.
  *
  * Reference behavior being reproduced: the reference keeps mart-level
  * pre-aggregated tables next to the facts and its dashboards query the mart
  * instead of the fact (dbt marts `fact_subject_outcomes`,
  * `dim_study_overview` — reference `dbt/clinical_dbt/models/marts` SQL models,
  * `analytics/queries.py:22,44`), but the *user* must know to point the query
  * at the mart. Here the engine does it: the query is written against the
  * base fact and Catalyst swaps the scan when a registered MV can answer it.
  *
  * Rewrite algebra (classic partial-aggregate MV maintenance, e.g.
  * Gupta & Mumick, "Maintenance of Materialized Views"): the MV stores, per
  * MV group, `__cnt = COUNT(*)` and per measure `SUM/MIN/MAX/COUNT(x)`.
  * A query aggregate over any SUBSET of the MV's grouping columns (optionally
  * with a filter over grouping columns) folds per the usual semiring:
  *
  *   COUNT(*)  → SUM(__cnt)          SUM(x) → SUM(sum_x)
  *   COUNT(x)  → SUM(cnt_x)          MIN(x) → MIN(min_x),  MAX(x) → MAX(max_x)
  *
  * Exactness: SUM folding is exact for integral and DECIMAL measures
  * (associative exact addition — the repo's `Q.dsum` discipline), and
  * MIN/MAX/COUNT are exact for any type, so a rewritten query is bit-identical
  * to the base-table plan. Plain DOUBLE sums are rewritten too (Spark's own
  * partial aggregation already reorders float addition; the MV fold is no
  * weaker), but gated queries keep to the decimal discipline.
  *
  * 100 TB shape: the MV is |groups| rows instead of |fact| rows, maintained
  * once per load; every rewritten dashboard query drops from a fact scan +
  * shuffle to a scan of the tiny MV. The rule itself fires only on aggregates
  * whose scan root is a REGISTERED path, so unrelated plans never pay more
  * than one map lookup.
  *
  * Scope (kept deliberately conservative — anything outside falls through to
  * the base plan untouched, never a wrong rewrite):
  *  - grouping expressions must be bare columns ⊆ the MV's grouping columns;
  *  - filters (anywhere between the aggregate and the scan) must reference
  *    only MV grouping columns — such predicates commute with the group-by;
  *  - aggregate functions must be non-DISTINCT, FILTER-free COUNT(lit) /
  *    COUNT(col) / SUM(col or CAST(col)) / MIN / MAX with the exact child
  *    shape registered for the MV (a `CAST(x AS DECIMAL(18,2))` measure
  *    matches only that cast) — plus exact COUNT/SUM/AVG/MIN/MAX
  *    `(DISTINCT x)` when the MV was registered DISTINCT-PRESERVING
  *    over x ([[Mv.Entry.distinctCols]]: the MV grain is groupCols ++
  *    distinctCols, so any distinct aggregate over the MV's x column
  *    sees the base's exact post-dedup value set). Distinct aggregates
  *    over unregistered columns or non-column children decline.
  */
object Mv {

  /** One registered measure: `kind` ∈ sum|min|max|count over base column
    * `column`, optionally pre-cast (matching `CAST(column AS castTo)` in the
    * query). `mvCol` is the MV column holding the partial aggregate. */
  final case class Measure(kind: String, column: String,
      castTo: Option[DataType], mvCol: String)

  /** `baseVersion`: None for immutable parquet-directory bases; Some(v)
    * when the base is a VERSIONED table and the MV was built from its
    * snapshot v — the rewrite then fires ONLY on scans pinned to exactly
    * v (staleness safety: after an append the query falls through to the
    * base plan, always correct, until [[refreshVersioned]]).
    *
    * `distinctCols`: extra base columns folded into the MV GRAIN
    * (stored grouping = groupCols ++ distinctCols) so the MV is
    * DISTINCT-PRESERVING over them: `COUNT(DISTINCT x)` folds EXACTLY to
    * a distinct count of the MV's `x` column re-grouped by the query
    * keys — every surviving (groupCols, x) combination appears exactly
    * once per grain row, and re-grouping by a SUBSET of groupCols keeps
    * the distinct (classic duplicate-insensitive rollup). All other
    * folds stay exact at the finer grain (SUM/COUNT partials add across
    * grain rows, MIN/MAX nest). The MV grows from |groups| to
    * |groups × distinct x| rows — still metadata-sized next to a fact
    * whose distinct-count query would otherwise shuffle every row. */
  final case class Entry(
      basePath: String,
      mvPath: String,
      groupCols: Seq[String],
      cntCol: String,
      measures: Seq[Measure],
      baseVersion: Option[Int] = None,
      distinctCols: Seq[String] = Seq.empty) {
    /** The MV's stored grouping — what every build/refresh groups by. */
    def grainCols: Seq[String] = groupCols ++ distinctCols
  }

  /** Registry keyed by the canonical base path (URI path, trailing-slash
    * stripped) — the same form [[HadoopFsRelation]] root paths reduce to. */
  private val registry = TrieMap.empty[String, Entry]

  def canonical(p: String): String = {
    val u = new org.apache.hadoop.fs.Path(p).toUri
    val raw = if (u.getPath == null || u.getPath.isEmpty) p else u.getPath
    raw.stripSuffix("/")
  }

  def lookup(path: String): Option[Entry] = registry.get(canonical(path))

  /** Canonical root paths of every parquet scan in the optimized plan —
    * the assertion surface for "did the rewrite fire". */
  def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(p => canonical(p.toString))
        case _ => Seq.empty[String]
      }
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        graft.sources.VersionedMvBridge.scanInfo(r.scan)
          .map(i => canonical(i._1)).toSeq
    }.flatten

  def clear(): Unit = registry.clear()

  /** Idempotent per-session enablement: appends the rewrite rule to
    * `spark.experimental.extraOptimizations` (the runtime twin of the
    * `GraftExtensions` injection, for sessions built without
    * `spark.sql.extensions`). */
  def enable(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_ eq MvRewrite))
      spark.experimental.extraOptimizations = cur :+ MvRewrite
  }

  /** The MV's partial-aggregate projection of `rows` (used for the initial
    * build over the base AND for per-batch deltas in [[refresh]]). */
  private def partialsOf(rows: DataFrame, groupCols: Seq[String],
      ms: Seq[Measure]): DataFrame = {
    val aggs = ms.map { m =>
      val c0 = org.apache.spark.sql.functions.col(m.column)
      val c = m.castTo.map(t => c0.cast(t)).getOrElse(c0)
      val f = m.kind match {
        case "sum" => sum(c)
        case "min" => min(c)
        case "max" => max(c)
        case "count" => count(c)
        case other => throw new IllegalArgumentException(
          s"unsupported MV measure kind: $other")
      }
      f.as(m.mvCol)
    }
    val cnt = count(lit(1)).as("__cnt")
    rows.groupBy(groupCols.map(org.apache.spark.sql.functions.col): _*)
      .agg(cnt, aggs: _*)
  }

  /** Build the MV parquet at `mvPath` from the parquet base table at
    * `basePath` and register it for rewrite. `measures` are
    * (kind, baseColumn, optional cast target). Returns the entry.
    *
    * The MV write runs once; re-`create` over an existing MV directory just
    * re-registers (the s17/s18 cached-immutable-artifact discipline — MV
    * content is a pure function of the immutable base). */
  def create(spark: SparkSession, basePath: String, mvPath: String,
      groupCols: Seq[String],
      measures: Seq[(String, String, Option[DataType])],
      distinctCols: Seq[String] = Seq.empty): Entry = {
    val ms = measures.zipWithIndex.map { case ((kind, c, cast), i) =>
      Measure(kind, c, cast, s"__m$i")
    }
    val done = new java.io.File(mvPath, "_SUCCESS")
    if (!done.isFile) {
      // |grain| rows — tiny next to the fact; one shuffle, once per load.
      partialsOf(spark.read.parquet(basePath), groupCols ++ distinctCols, ms)
        .write.mode("overwrite").parquet(mvPath)
    }
    val e = Entry(canonical(basePath), mvPath, groupCols.map(_.toLowerCase),
      "__cnt", ms, distinctCols = distinctCols.map(_.toLowerCase))
    registry.put(e.basePath, e)
    e
  }

  /** MV over a VERSIONED (lakehouse) table — the composition of the two
    * flagship features: dashboards written against the CATALOG table are
    * auto-redirected to the |groups|-row MV, with VERSION-PINNED
    * staleness safety. The MV is built from `Versioned.read` at the head
    * snapshot and registered with that version; [[MvRewrite]] then
    * rewrites only scans PINNED to exactly that version (connector scans
    * pin at builder construction, so the match is race-free). After any
    * commit the table's scans pin a newer version and every query falls
    * through to the base plan — correct, just unaccelerated — until
    * [[refreshVersioned]] folds the appended rows. The built version
    * rides a `_mv_base_version` sidecar so re-registration over an
    * existing MV artifact stays pinned to what the parquet actually
    * holds. */
  def createVersioned(spark: SparkSession, tableDir: String, mvPath: String,
      groupCols: Seq[String],
      measures: Seq[(String, String, Option[DataType])],
      distinctCols: Seq[String] = Seq.empty): Entry = {
    val ms = measures.zipWithIndex.map { case ((kind, c, cast), i) =>
      Measure(kind, c, cast, s"__m$i")
    }
    val sidecar = java.nio.file.Paths.get(mvPath, "_mv_base_version")
    val done = new java.io.File(mvPath, "_SUCCESS")
    val v: Int =
      if (done.isFile && java.nio.file.Files.exists(sidecar))
        new String(java.nio.file.Files.readAllBytes(sidecar), "UTF-8").trim.toInt
      else {
        val head = graft.ops.Versioned.latestVersion(tableDir)
        require(head > 0, s"nothing to materialize at $tableDir")
        partialsOf(graft.ops.Versioned.read(spark, tableDir, head),
          groupCols ++ distinctCols, ms).write.mode("overwrite").parquet(mvPath)
        java.nio.file.Files.write(sidecar, head.toString.getBytes("UTF-8"))
        head
      }
    val e = Entry(canonical(tableDir), mvPath, groupCols.map(_.toLowerCase),
      "__cnt", ms, baseVersion = Some(v),
      distinctCols = distinctCols.map(_.toLowerCase))
    registry.put(e.basePath, e)
    e
  }

  /** Incremental refresh of a versioned-base MV from the VERSION LOG: the
    * delta is exactly the file groups the append steps
    * (entry.baseVersion, head] added — `Versioned.connectorStreamStep`
    * refuses overwrite steps and pending evolution/MOR states, so a
    * history the fold cannot replay exactly fails LOUDLY instead of
    * refreshing wrong. Cost O(|delta| + |groups|), the base is never
    * rescanned; the new MV publishes to a NEW immutable dir and the
    * registration advances to the head version (queries pin it and the
    * rewrite fires again). A no-op when already at head. */
  def refreshVersioned(spark: SparkSession, entry: Entry,
      newMvPath: String): Entry = {
    val dir = entry.basePath
    val from = entry.baseVersion.getOrElse(throw new IllegalArgumentException(
      s"MV at ${entry.mvPath} has no base version — parquet-path MVs " +
        "refresh via refresh(delta)"))
    val head = graft.ops.Versioned.latestVersion(dir)
    if (head == from) return entry
    require(head > from, s"table at $dir went backwards ($from → $head)")
    val groupDirs = ((from + 1) to head)
      .flatMap(v => graft.ops.Versioned.connectorStreamStep(dir, v))
    val delta = groupDirs.map(g => spark.read.parquet(g))
      .reduceOption(_ unionByName _)
    val refreshed = delta match {
      case None => entry // metadata-only steps: content unchanged
      case Some(d) =>
        refresh(spark, entry, d, newMvPath)
    }
    val e = refreshed.copy(baseVersion = Some(head))
    if (delta.nonEmpty) {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(newMvPath, "_mv_base_version"),
        head.toString.getBytes("UTF-8"))
    }
    registry.put(e.basePath, e)
    e
  }

  /** Incremental MV maintenance for an APPEND-ONLY base table: fold the
    * appended rows' partial aggregates into the existing MV and publish the
    * result as a NEW immutable MV directory (`newMvPath`), re-registering the
    * base to point at it. Never rescans the base: cost is
    * O(|delta| + |groups|) — the same self-maintainable-view fold the
    * streaming IVM query (st10) applies per micro-batch, here as the
    * batch-side verb. SUM/COUNT partials fold by addition, MIN/MAX by
    * MIN/MAX — all exact, so a query rewritten onto the refreshed MV stays
    * bit-identical to a full base rescan (gated by mv3's oracle). Updates
    * and deletes are NOT foldable here (MIN/MAX are not subtractable);
    * those require a rebuild. */
  def refresh(spark: SparkSession, entry: Entry, delta: DataFrame,
      newMvPath: String): Entry = {
    val old = spark.read.parquet(entry.mvPath)
    val oldTypes = old.schema.fields.map(f => f.name -> f.dataType).toMap
    val deltaPart = partialsOf(delta, entry.grainCols, entry.measures)
    val folds = (Seq((entry.cntCol, "sum")) ++
        entry.measures.map(m => (m.mvCol, m.kind match {
          case "count" => "sum"
          case k => k
        }))).map { case (c, fold) =>
      val f = fold match {
        case "sum" => sum(org.apache.spark.sql.functions.col(c))
        case "min" => min(org.apache.spark.sql.functions.col(c))
        case "max" => max(org.apache.spark.sql.functions.col(c))
      }
      // cast folded sums back to the stored partial type (decimal widening
      // would otherwise drift the MV schema one precision step per refresh)
      f.cast(oldTypes(c)).as(c)
    }
    old.unionByName(deltaPart)
      .groupBy(entry.grainCols.map(org.apache.spark.sql.functions.col): _*)
      .agg(folds.head, folds.tail: _*)
      .write.mode("overwrite").parquet(newMvPath)
    val e = entry.copy(mvPath = newMvPath)
    registry.put(e.basePath, e)
    e
  }
}

/** The optimizer rule. Runs late (extraOptimizations / injected rule batch),
  * i.e. after predicate pushdown and column pruning, so the matched shape is
  * `Aggregate [Project] [Filter] LogicalRelation(parquet)` in any
  * Project/Filter order. Idempotent: the rewritten plan scans the MV path,
  * which is never a registered base, so the fixed-point batch converges in
  * one application. */
object MvRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case agg: Aggregate =>
        tryRewrite(agg).getOrElse(agg)
    }

  /** Walk from the aggregate child down to a scan, collecting filter
    * conditions and tolerating attribute-only Projects (column pruning).
    * Two scan shapes match: a parquet [[LogicalRelation]] (immutable-dir
    * base, version None) and a connector
    * [[org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation]]
    * over a versioned table (version = the scan's PINNED snapshot — the
    * connector keeps every pushed filter as a Spark residual, so the
    * Filter node is still in-plan here). Returns (canonical base path,
    * pinned version, conditions). */
  private def scanOf(p: LogicalPlan, conds: Seq[Expression])
      : Option[(String, Option[Int], Seq[Expression])] =
    p match {
      case Project(projList, child)
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        scanOf(child, conds)
      case Filter(cond, child) =>
        scanOf(child, conds ++ splitConjuncts(cond))
      case lr: LogicalRelation =>
        rootPath(lr).map(path => (path, None, conds))
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        graft.sources.VersionedMvBridge.scanInfo(r.scan)
          .map { case (dir, v) => (Mv.canonical(dir), Some(v), conds) }
      case _ => None
    }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** TRUE when `e` is a bare reference to one of the MV's
    * distinct-grain columns — the shape-only half of [[rewriteWith]]'s
    * `grainAttr` (no MV relation needed, used by the cheap pre-check). */
  private def isDistinctGrainCol(e: Expression, entry: Mv.Entry): Boolean =
    e match {
      case a: AttributeReference =>
        entry.distinctCols.contains(a.name.toLowerCase)
      case _ => false
    }

  private def rootPath(lr: LogicalRelation): Option[String] =
    lr.relation match {
      case fs: HadoopFsRelation if fs.location.rootPaths.length == 1 =>
        Some(Mv.canonical(fs.location.rootPaths.head.toString))
      case _ => None
    }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    for {
      (path, version, conds) <- scanOf(agg.child, Nil)
      entry <- Mv.lookup(path)
      // version-pinned staleness safety: a versioned-base MV answers
      // ONLY the exact snapshot it was built from — any other pinned
      // version (newer commit, time travel elsewhere) falls through to
      // the base plan, which is always correct
      if entry.baseVersion == version
      rewritten <- rewriteWith(agg, conds, entry)
    } yield rewritten
  }

  private def rewriteWith(agg: Aggregate, conds: Seq[Expression],
      entry: Mv.Entry): Option[LogicalPlan] = {
    // 1. Grouping must be bare columns ⊆ MV grouping columns.
    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference if entry.groupCols.contains(a.name.toLowerCase) => a
      case _ => return None
    }
    val groupNames = groupAttrs.map(_.name.toLowerCase).toSet

    // 2. Filters must be DETERMINISTIC and reference only MV grouping
    //    columns (then they commute with the MV's finer grouping and can
    //    run over the MV directly). Non-deterministic predicates (rand())
    //    would otherwise pass the reference check vacuously and get
    //    re-evaluated per GROUP instead of per base row — silently wrong.
    //    NOTE: filter columns need not be in the QUERY's group-by, only in
    //    the MV's.
    if (!conds.forall(c => c.deterministic && c.references.forall(a =>
        entry.groupCols.contains(a.name.toLowerCase)))) return None

    // 2b. CHEAP shape pre-check (no I/O): every aggregate function and every
    //    attribute must be rewritable, decided from the Entry alone. Only a
    //    plan that passes pays the MV relation analysis below — an AVG or
    //    DISTINCT over a registered base falls through without touching the
    //    filesystem.
    def aggFnOk(ae: AggregateExpression): Boolean =
      if (ae.filter.isDefined || ae.mode != Complete) false
      else if (ae.isDistinct) ae.aggregateFunction match {
        // distinct aggregates rewrite ONLY against a distinct-preserving
        // MV whose grain carries the bare column; anything else (or an
        // unregistered column) falls through to the base plan
        case f @ (_: Count | _: Sum | _: Min | _: Max | _: Average)
            if f.children.length == 1 =>
          f.children.head match {
            case a: AttributeReference =>
              entry.distinctCols.contains(a.name.toLowerCase)
            case _ => false
          }
        case _ => false
      }
      else
        (ae.aggregateFunction match {
          case Count(Seq(l: Literal)) => l.value != null
          case Count(Seq(child)) => matchMeasure("count", child, entry).isDefined
          case Sum(child, _) => matchMeasure("sum", child, entry).isDefined
          case Min(child) => matchMeasure("min", child, entry).isDefined ||
            isDistinctGrainCol(child, entry)
          case Max(child) => matchMeasure("max", child, entry).isDefined ||
            isDistinctGrainCol(child, entry)
          case Average(child, _) =>
            matchMeasure("sum", child, entry).isDefined &&
              matchMeasure("count", child, entry).isDefined
          case _ => false
        })
    def exprOk(e: Expression): Boolean = e match {
      case ae: AggregateExpression => aggFnOk(ae)
      case a: AttributeReference => groupNames.contains(a.name.toLowerCase)
      case other => other.children.forall(exprOk)
    }
    val shapesOk = agg.aggregateExpressions.forall {
      case a: AttributeReference => groupNames.contains(a.name.toLowerCase)
      case Alias(child, _) => exprOk(child)
      case _ => false
    }
    if (!shapesOk) return None

    // Fresh MV scan (fresh exprIds per rewrite — no cross-plan sharing).
    val spark = SparkSession.active
    // schema from the MV's parquet footer: inference would launch a
    // Spark job inside query optimization
    val mvRel = graft.ops.ParquetFooters.read(spark, Seq(entry.mvPath))
      .queryExecution.analyzed
    val mvOut: Map[String, AttributeReference] =
      mvRel.output.map(a => a.name.toLowerCase -> a.asInstanceOf[AttributeReference]).toMap

    // the registry's claim must match the ARTIFACT: create() skips the
    // rebuild over an existing _SUCCESS, so a re-registration with new
    // grain/measure columns can describe an MV that lacks them — DECLINE
    // (the fall-through-to-base contract), never crash in the optimizer
    // or silently fold a coarser-grain column (review r15)
    val expectedCols = (entry.grainCols :+ entry.cntCol) ++
      entry.measures.map(_.mvCol)
    if (!expectedCols.forall(c => mvOut.contains(c.toLowerCase))) return None

    def mvAttr(name: String): AttributeReference = mvOut(name.toLowerCase)

    /** The MV attribute serving `e` when it is a bare reference to a
      * distinct-grain column (stored verbatim in the MV). */
    def grainAttr(e: Expression, entry: Mv.Entry)
        : Option[AttributeReference] = e match {
      case a: AttributeReference
          if entry.distinctCols.contains(a.name.toLowerCase) =>
        Some(mvAttr(a.name))
      case _ => None
    }

    // 3. Rewrite every aggregate function; bail on anything unsupported.
    def rewriteAggFn(ae: AggregateExpression): Option[Expression] = {
      if (ae.filter.isDefined || ae.mode != Complete) return None
      if (ae.isDistinct) return {
        // DISTINCT aggregates over a distinct-preserving MV: the grain
        // keeps every surviving (groupCols, x) combination exactly
        // once, so ANY distinct aggregate of x re-grouped by the query
        // keys sees the SAME value multiset-after-dedup as the base
        // plan — COUNT/SUM/AVG/MIN/MAX(DISTINCT x) all fold by
        // replaying the same function (distinct flag kept) over the
        // MV's x column. Null handling matches (a NULL grain row exists
        // iff the base had NULL x in that group; aggregates skip it
        // both places). Still O(|MV|), not O(|fact|); the result
        // dataType is identical because the grain column is stored
        // verbatim. withNewChildren preserves Sum/Average's EvalMode.
        ae.aggregateFunction match {
          case f @ (_: Count | _: Sum | _: Min | _: Max | _: Average)
              if f.children.length == 1 =>
            grainAttr(f.children.head, entry).map(a =>
              f.withNewChildren(Seq(a)).asInstanceOf[AggregateFunction]
                .toAggregateExpression(isDistinct = true))
          case _ => None
        }
      }
      ae.aggregateFunction match {
        case Count(Seq(l: Literal)) if l.value != null =>
          // COUNT(*) → SUM(__cnt); coalesce pins nullable=false like Count.
          Some(Coalesce(Seq(
            Sum(mvAttr(entry.cntCol)).toAggregateExpression(),
            Literal(0L, LongType))))
        case Count(Seq(child)) =>
          matchMeasure("count", child, entry).map { m =>
            Coalesce(Seq(
              Sum(mvAttr(m.mvCol)).toAggregateExpression(),
              Literal(0L, LongType)))
          }
        case s @ Sum(child, _) =>
          matchMeasure("sum", child, entry).map { m =>
            val folded = Sum(mvAttr(m.mvCol)).toAggregateExpression()
            // sum-of-partial-sums may widen (decimal p+10); cast back — exact,
            // the fold holds the same value the single-level sum would.
            if (folded.dataType == s.dataType) folded
            else Cast(folded, s.dataType)
          }
        // MIN/MAX also fold over a DISTINCT-GRAIN column with no
        // registered measure: dedup never changes an extremum, so the
        // grain column (stored verbatim) serves it exactly. This is
        // also where MIN/MAX(DISTINCT x) land — the analyzer strips the
        // no-op distinct flag before the rewrite sees it.
        case Min(child) =>
          matchMeasure("min", child, entry)
            .map(m => Min(mvAttr(m.mvCol)).toAggregateExpression())
            .orElse(grainAttr(child, entry).map(a =>
              Min(a).toAggregateExpression()))
        case Max(child) =>
          matchMeasure("max", child, entry)
            .map(m => Max(mvAttr(m.mvCol)).toAggregateExpression())
            .orElse(grainAttr(child, entry).map(a =>
              Max(a).toAggregateExpression()))
        case a @ Average(child, _) =>
          // AVG folds as SUM-partial / COUNT-partial. The division tree
          // REPLICATES Average.evaluateExpression exactly so the fold is
          // bit-identical to the base plan: for a DECIMAL child the sum
          // is re-cast to Average's internal sum type Decimal(p+10, s)
          // and divided by the count as Decimal(20,0) — the operator
          // computes the adjusted division precision/scale itself
          // (Spark ≥3.4 moved DecimalPrecision into the arithmetic
          // operators), and the final Cast to Average's resultType
          // reproduces its rounding, including the double-round
          // through the division scale (MvRewriteSpec pins equality on
          // rounding-boundary fixtures). The COUNT partial must be over
          // the SAME (column, cast) as the SUM partial: a cast can null
          // (overflow), so COUNT(x) and COUNT(CAST(x)) differ. For a
          // DOUBLE/integral child the fold is Divide(sum, count) in
          // doubles — Average's own evaluate shape; Spark's partial
          // aggregation already reorders float addition, so the fold is
          // no weaker (gated queries keep to exactly-representable or
          // decimal measures).
          for {
            ms <- matchMeasure("sum", child, entry)
            mc <- matchMeasure("count", child, entry)
          } yield {
            val sumFold = Sum(mvAttr(ms.mvCol)).toAggregateExpression()
            val cntFold = Coalesce(Seq(
              Sum(mvAttr(mc.mvCol)).toAggregateExpression(),
              Literal(0L, LongType)))
            child.dataType match {
              case dt: org.apache.spark.sql.types.DecimalType =>
                val sumT = org.apache.spark.sql.types.DecimalType(
                  math.min(dt.precision + 10, 38), dt.scale)
                Cast(Divide(Cast(sumFold, sumT),
                  Cast(cntFold,
                    org.apache.spark.sql.types.DecimalType(20, 0)),
                  EvalMode.LEGACY), a.dataType)
              case _ =>
                // Average's buffer sums in DOUBLE for every non-decimal
                // child — fold in the SAME domain: an integral MV
                // partial is cast to double BEFORE the summation
                // (advice r14: summing LONG partials exactly and
                // casting once diverges bitwise beyond 2^53 total and
                // wraps silently on LONG overflow under LEGACY mode —
                // and the rewrite fires on any user query over a
                // registered MV, not just the gated suite). A DOUBLE
                // partial's cast is a no-op, so one shape serves both.
                Divide(Sum(Cast(mvAttr(ms.mvCol), a.dataType))
                    .toAggregateExpression(),
                  Cast(cntFold, a.dataType), EvalMode.LEGACY)
            }
          }
        case _ => None
      }
    }

    // 4. Rebuild the aggregate list, preserving every output name, exprId
    //    and dataType (parent operators keep resolving). Manual top-down
    //    recursion that treats AggregateExpression as an opaque leaf — its
    //    internals are the MEASURE side (rewritten wholesale by
    //    rewriteAggFn), while attributes outside aggregate functions are the
    //    GROUPING side (must map to MV grouping columns).
    def rewriteExpr(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => rewriteAggFn(ae)
      case a: AttributeReference if groupNames.contains(a.name.toLowerCase) =>
        Some(mvAttr(a.name))
      case _: AttributeReference => None
      case other =>
        val kids = other.children.map(rewriteExpr)
        if (kids.exists(_.isEmpty)) None
        else Some(other.withNewChildren(kids.map(_.get)))
    }

    val newAggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference if groupNames.contains(a.name.toLowerCase) =>
        Alias(mvAttr(a.name), a.name)(exprId = a.exprId)
      case al @ Alias(child, name) =>
        rewriteExpr(child) match {
          case Some(newChild) if newChild.dataType == child.dataType =>
            Alias(newChild, name)(exprId = al.exprId)
          case _ => return None
        }
      case _ => return None
    }

    val newGrouping: Seq[Expression] = groupAttrs.map(a => mvAttr(a.name))
    val newConds = conds.map(_.transformUp {
      case a: AttributeReference => mvAttr(a.name)
    })
    val newChild =
      if (newConds.isEmpty) mvRel
      else Filter(newConds.reduce(And), mvRel)
    Some(Aggregate(newGrouping, newAggExprs, newChild))
  }

  /** A query-side agg child matches a registered measure iff it is the bare
    * base column (no cast registered) or exactly the registered cast of it. */
  private def matchMeasure(kind: String, child: Expression,
      entry: Mv.Entry): Option[Mv.Measure] = {
    val (colName, castTo) = child match {
      case a: AttributeReference => (a.name.toLowerCase, None)
      case Cast(a: AttributeReference, dt, _, _) => (a.name.toLowerCase, Some(dt))
      case _ => return None
    }
    entry.measures.find(m =>
      m.kind == kind && m.column.toLowerCase == colName && m.castTo == castTo)
  }
}
