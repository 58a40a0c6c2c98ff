package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Methodology: one unmeasured warmup execution per query (JIT + codegen +
  * file-footer caches — the things a long-lived cluster amortizes away),
  * immediately followed by that query's k MEASURED executions (adjacent,
  * not sweep-then-sweep, so warm state cannot decay across the suite).
  * The reported per-query number is the BEST of k (default k = 3,
  * SPARK_GRAFT_BENCH_REPS to override) and each query also carries its
  * observed spread (max−min)/min — the round-5 driver run recorded a
  * concentrated 2–3× regression cluster on untouched code that the same
  * code did not reproduce locally; with a single measured rep one
  * transiently contended run IS the number. Best-of-k makes a contended
  * rep visible (large spread) instead of indistinguishable from a real
  * regression, while the spread column preserves the evidence. The
  * "value" metric is the sum of best-of-k seconds over ALL queries.
  *
  * The printed JSON line is kept SHORT (headline per-query + spread maps
  * only) so it survives the driver's bounded tail buffer — round 1's full
  * 94-query map made the line ~4 KB and the driver recorded
  * `parsed: null`. The complete per-query map (all reps) is written to
  * bench_full.json in the working directory, with each query's settle
  * indicator (`settle_slope_pct`, see [[settlePct]]) next to its median.
  *
  * A query that throws during any measured run is recorded as -1 seconds
  * and listed in "errors" — a fast failure must not read as a fast success.
  */
object Bench {

  /** Tiny representative set for the PRINTED line only (one per major
    * family). The driver captures a bounded tail of stdout: round 6's
    * 41-query headline + spread maps made the line ~4 KB, the front
    * (with "metric"/"value") fell off the buffer, and the driver recorded
    * `parsed: null`. Everything (all queries, all reps, spreads) still
    * goes to bench_full.json. */
  private val Headline = Seq(
    "a1_group_count", "j1_star_join_broadcast", "w1_running_count",
    "w6_rolling_30d_spend", "t6_ngram_jaccard_pairs", "t28_sequence_packing",
    "emb6_knn_ivf", "emb12_semantic_dedup", "e1_hourly_rollup",
    "st1_stream_hourly_rollup", "t33_curation_pipeline",
    "emb15_ivf_adc_knn", "t35_curated_shard_sink",
    // r12: the two new most-expensive rows — deep PageRank (10 exact
    // rounds) and the stored near-dup index protocol (build + 2 ingests)
    "g5_pagerank_deep", "t45_incremental_neardup_index")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // r10 VERDICT item 6 (t38/t13 spread): pipeline queries materialize
      // localCheckpoint/persist blocks that become UNREACHABLE after each
      // rep but sit in the block manager until a driver GC lets the
      // ContextCleaner reclaim them — with the default 30min periodic GC,
      // three adjacent reps accumulate 3-4x the block footprint and the
      // middle reps absorb the reclamation stalls (r10 reps: t38
      // [1.6, 9.5, 5.7]). A 1-minute cleaner GC bounds the buildup...
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Bench-artifact-scoped silence for the `WindowExec: No Partition
    // Defined` warning (r9 VERDICT cosmetic item 3): the three global
    // windows that trigger it are DOCUMENTED dimension-scale choices
    // (w3 surrogate mint — reference semantics; t11 NTILE — has the
    // t11b no-window scale path; w7/w8 post-collapse distinct-day
    // windows), and ~30 repeats buried the artifact tail. Scoped to THIS
    // runner only — Verify and sbt test keep the warning, so a genuinely
    // new unpartitioned window still stands out where correctness runs.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

    // optional comma-separated subset (builder-side perf attribution;
    // the driver's env has no SPARK_GRAFT_BENCH_ONLY so it times all)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // FULL evaluation of every output column via the noop sink — a bare
    // count() would let Catalyst prune projections/windows/sorts, so
    // regex- and window-family queries would time only a row-count scan
    // and a 10x operator regression would never move the numbers
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    // ---- contention canary (r9 VERDICT item 2). Three rounds (r6 w1,
    // r8, r9 t6) were spent re-litigating "regression or contended box?"
    // because uniform contention defeats adjacent best-of-k: every rep is
    // slow, spread stays small, and the number reads as a real
    // regression. The canary is a FIXED micro-query (sfDir-independent,
    // exercises the scheduler + one tiny shuffle-free aggregation) run
    // once before each query's rep block; its drift vs the session-best
    // canary time measures how contended that query's NEIGHBORHOOD was,
    // in the artifact itself. A query rep set bracketed by >2x-drifted
    // canaries is a contended measurement, not a regression.
    def canaryOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 1L << 20, 1L, 8)
        .selectExpr("sum(id * 3 + 1) as s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    (1 to 3).foreach(_ => canaryOnce()) // canary warmup (JIT + codegen)
    // warmup is INTERLEAVED: each query's unmeasured warmup runs
    // immediately before its measured run, not as a separate full sweep.
    // With sweep-then-sweep, ~148 queries (hundreds of generated classes)
    // separate a query's warmup from its measurement, so JIT/codegen-cache
    // state from the warmup can be gone by measure time — measured as the
    // round-4 j1 anomaly: cold j1 costs ~6 s (Janino + JIT of the 4-way
    // broadcast star) vs ~1.0 s steady-state, and the driver box recorded
    // 5.08 s for a measured run that should have been warm. Adjacent
    // warmup makes the measured number steady-state by construction.
    // Warmup failures are still REPORTED (a query that only breaks during
    // warmup must not hide until the measured run happens to differ).
    var warmupFailures = 0
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // canary sample before each query's rep block + one after the last
    // block; query i's neighborhood = (canary_i, canary_{i+1})
    val canaries = new Array[Double](names.size + 1)
    // (name, repSeconds, ok, perRepBracketCanaries)
    val results = names.zipWithIndex.map { case (name, qi) =>
      // ...and an explicit UNTIMED gc before each query's block drains
      // the previous block's orphans eagerly, so no query starts its
      // reps under another query's reclamation debt (one gc per block:
      // ~0.1s each on this heap, bounded, outside every timed region)
      System.gc()
      try run(name)
      catch { case e: Throwable =>
        warmupFailures += 1
        System.err.println(s"[bench] warmup failure: $name: ${e.getMessage}")
      }
      canaries(qi) = canaryOnce()
      // PER-REP canary gating (r12 VERDICT item 5): one canary sample
      // after EVERY measured rep, so each rep is bracketed by two
      // samples. A rep whose BOTH brackets drifted past the drop
      // threshold ran on a contended box — it is DROPPED from best/
      // median (and counted in n_reps_dropped) instead of poisoning the
      // cross-round comparison. min-of-brackets, same rationale as the
      // per-query drift: sustained external contention inflates both
      // brackets; a heavy rep's self-induced tail usually hits one.
      val timed = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { run(name); true }
          catch { case _: Throwable => false }
        ((System.nanoTime() - t0) / 1e9, ok, canaryOnce())
      }
      val ok = timed.forall(_._2)
      val secs = timed.map(_._1)
      val repBrackets = timed.indices.map { r =>
        val before = if (r == 0) canaries(qi) else timed(r - 1)._3
        math.min(before, timed(r)._3)
      }
      (name, secs, ok, repBrackets)
    }
    canaries(names.size) = canaryOnce()
    // the drop threshold is evaluated against the SESSION-best canary,
    // known only after the sweep — gate now, per rep
    val dropPct = sys.env.getOrElse("SPARK_GRAFT_CANARY_DROP_PCT", "150")
      .toDouble
    val allSamples = canaries ++ results.flatMap(_._4)
    val cBaseAll = allSamples.min
    // (name, best, spreadPct, allReps, ok, median, nDropped, settlePct)
    val gated = results.map { case (name, secs, ok, brackets) =>
      val drifts = brackets.map(b => (b - cBaseAll) / cBaseAll * 100.0)
      val keptIdx = secs.indices.filter(i => drifts(i) <= dropPct)
      // if EVERY rep was contended there is nothing trustworthy to trim
      // to — keep them all (n_dropped 0) and let the drift columns tell
      val kept = if (keptIdx.nonEmpty) keptIdx.map(secs) else secs
      val nDropped = if (keptIdx.nonEmpty) secs.size - keptIdx.size else 0
      val best = if (ok) kept.min else -1.0
      val spreadPct =
        if (ok && kept.min > 0) (kept.max - kept.min) / kept.min * 100.0
        else -1.0
      // median-of-k (r11 VERDICT item 3): best-of-k hides sustained
      // contention, mean lets ONE contended rep dominate; the median is
      // robust to a single poisoned rep while still moving when the box
      // is genuinely slower. LOWER median for even k: the upper middle
      // of [fast, poisoned] IS the poisoned rep. Computed over the
      // KEPT reps — the canary gate already removed provably-contended
      // ones.
      val med = if (ok) kept.sorted.apply((kept.size - 1) / 2) else -1.0
      val keptAt = if (keptIdx.nonEmpty) keptIdx else secs.indices
      val settle = settlePct(keptAt.map(i => (i.toDouble, secs(i))), med)
      (name, best, spreadPct, secs, ok, med, nDropped, settle)
    }
    // drift vs the session-best canary (the steady cost this box is
    // capable of). Per-query drift = the BETTER of its two bracketing
    // samples: external contention (the r6/r8/r9 class this exists for)
    // is sustained, so it inflates both brackets and survives the min,
    // while a heavy query's SELF-induced inflation (JIT/GC pressure from
    // its own warmup or reps — measured 4x on t33's neighborhood on a
    // quiet box) usually hits one bracket and is correctly discounted.
    val cBase = if (canaries.nonEmpty) canaries.min else 1.0
    def driftPct(qi: Int): Double =
      (math.min(canaries(qi), canaries(qi + 1)) - cBase) / cBase * 100.0
    val canaryMaxDrift =
      if (names.nonEmpty) names.indices.map(driftPct).max else 0.0
    // Locale.ROOT: a comma-decimal default locale would print 38,588 and
    // break the driver's json.load
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jmap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val errors = gated.collect { case (k, _, _, _, false, _, _, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = gated.collect { case (_, v, _, _, true, _, _, _) => v }.sum
    val medianTotal = gated.collect { case (_, _, _, _, true, m, _, _) => m }.sum
    val nRepsDropped = gated.map(_._7).sum
    // split the board by execution model so the streaming family's fixed
    // per-run cost reads separately from the batch engine number
    // (r9 VERDICT item 6): st* queries run real StreamingQuery executions
    val streamTotal =
      gated.collect { case (k, v, _, _, true, _, _, _) if k.startsWith("st") => v }.sum
    val batchTotal = total - streamTotal
    val headline = gated.filter(r => Headline.contains(r._1))
    val drifts = names.indices.map(qi => (names(qi), driftPct(qi)))

    val full = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${names.size},""" +
      s""""rep_k":$reps,"errors":$errors,""" +
      s""""median_total_s":${fmt(medianTotal)},""" +
      s""""queries":${jmap(gated.map(r => (r._1, r._2)))},""" +
      s""""queries_median":${jmap(gated.map(r => (r._1, r._6)))},""" +
      s""""settle_slope_pct":${jmap(gated.filter(_._5).map(r => (r._1, r._8)))},""" +
      s""""spread_pct":${jmap(gated.map(r => (r._1, r._3)))},""" +
      s""""n_reps_dropped":$nRepsDropped,""" +
      s""""reps_dropped":${gated.filter(_._7 > 0).map(r =>
        "\"" + r._1 + "\":" + r._7).mkString("{", ",", "}")},""" +
      s""""canary_base_s":${fmt(cBase)},""" +
      s""""canary_drift_pct":${jmap(drifts)},""" +
      s""""canary_samples":[${canaries.map(fmt).mkString(",")}],""" +
      s""""reps":${gated.map(r => "\"" + r._1 + "\":[" +
        r._4.map(fmt).mkString(",") + "]").mkString("{", ",", "}")},""" +
      s""""sf":"$sfDir"}"""
    // subset runs (perf attribution) must not clobber the full-board
    // artifact. bench_full.json itself is UNTRACKED (.gitignore): the
    // driver re-runs Bench in contended windows and was overwriting the
    // committed quiet number of record — the quiet artifact is committed
    // separately as bench_full.quiet.json (r14 verdict item 5), so the
    // two windows stop fighting over one path.
    val fullPath = if (only.isEmpty) "bench_full.json" else "bench_subset.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      full.getBytes("UTF-8"))

    // printed line stays SHORT (r15 VERDICT item 6 tightened it further:
    // the r14 line's five per-query maps made it driver-unparseable and
    // cost a round of PERF comparisons): totals + error COUNT + ONE
    // headline per-query map + the scalar canary summary. queries_median
    // / spread_pct / canary_drift_pct maps now live ONLY in
    // bench_full.json — ~600 bytes printed, far inside the tail buffer.
    val errNames = gated.collect { case (k, _, _, _, false, _, _, _) => k }
    val errPreview = errNames.take(5).map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${names.size},""" +
      s""""batch_s":${fmt(batchTotal)},"stream_s":${fmt(streamTotal)},""" +
      // median next to best (r11 VERDICT item 3): best-of-k is the
      // steady-state claim, median_total_s is the contention-robust
      // cross-round comparator — one poisoned rep moves neither
      s""""median_total_s":${fmt(medianTotal)},""" +
      s""""n_errors":${errNames.size},"errors":$errPreview,""" +
      s""""n_warmup_failures":$warmupFailures,"rep_k":$reps,""" +
      s""""n_reps_dropped":$nRepsDropped,""" +
      s""""queries":${jmap(headline.map(r => (r._1, r._2)))},""" +
      // canary summary (r9 VERDICT item 2) stays as two SCALARS: a
      // regressed-looking number whose canary drift is also large is a
      // contended box, not a code change. Per-query drift/spread/median
      // evidence: bench_full.json.
      s""""canary_base_s":${fmt(cBase)},""" +
      s""""canary_max_drift_pct":${fmt(canaryMaxDrift)},""" +
      s""""sf":"$sfDir"}""")
    spark.stop()
  }

  /** Settle indicator of one query's kept reps, given as (rep index,
    * seconds): the least-squares slope of the LAST HALF of them, in
    * percent of the median per rep. Near 0 the reps had settled; clearly
    * negative means they were still getting faster, so the median is one
    * point on a warm-up curve rather than a steady-state number. No rep
    * is dropped for it; fewer than two reps in the half read 0. */
  private[graft] def settlePct(reps: Seq[(Double, Double)], median: Double): Double = {
    val tail = reps.drop(reps.size / 2)
    val mx = tail.map(_._1).sum / tail.size
    val sxx = tail.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (tail.size < 2 || sxx == 0.0 || median <= 0.0) 0.0
    else {
      val my = tail.map(_._2).sum / tail.size
      val sxy = tail.map { case (x, y) => (x - mx) * (y - my) }.sum
      sxy / sxx / median * 100.0
    }
  }
}
