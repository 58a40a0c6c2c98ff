package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Plan-regression tests locking in the physical-plan properties PERF.md
  * documents (SURVEY §4): pushdown, pruning, broadcast star joins,
  * map-side partial aggregation, top-k without global sort. These catch
  * silent plan regressions (a lost broadcast hint, a filter that stopped
  * pushing) that row-level correctness tests cannot see.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planString(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
    df.queryExecution.toString
  }

  test("p4: equality filters are pushed to the parquet scan") {
    val plan = planString("p4_filter_eq")
    assert(plan.contains("PushedFilters: [IsNotNull(l_returnflag), IsNotNull(l_linestatus), " +
      "EqualTo(l_returnflag,R), EqualTo(l_linestatus,F)]"),
      s"filters not pushed:\n$plan")
  }

  test("p4: scan schema is pruned to referenced columns") {
    val plan = planString("p4_filter_eq")
    assert(!plan.contains("l_extendedprice"), "unreferenced column read")
    assert(plan.contains("TakeOrderedAndProject"), "sort+limit not fused to top-k")
  }

  test("j1: all four dimension joins broadcast; fact side never shuffles pre-agg") {
    val plan = planString("j1_star_join_broadcast")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts == 4, s"expected 4 broadcast joins, got $broadcasts:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "dim join fell back to SMJ")
  }

  test("a1: aggregation is two-phase with map-side partial") {
    val plan = planString("a1_group_count")
    assert(plan.contains("partial_count"), s"no partial aggregation:\n$plan")
  }

  test("o2: top-k by aggregate uses TakeOrderedAndProject, not global sort") {
    val plan = planString("o2_sort_by_aggregate")
    assert(plan.contains("TakeOrderedAndProject"), s"global sort for top-k:\n$plan")
  }

  test("emb4: dot product runs as the codegen'd graft_dot, not a lambda fold") {
    val plan = planString("emb4_cosine_neardup_pairs")
    assert(plan.contains("graft_dot"), s"graft_dot missing from plan:\n$plan")
    assert(!plan.contains("aggregate(zip_with"), "interpreted fold in hot path")
  }

  test("emb4 scale path: banded candidates plan equi-joins, never a cartesian") {
    // above maxExactDocs the candidate stage must be the (band, bucket)
    // shuffle join — a CartesianProduct or BroadcastNestedLoopJoin in the
    // plan means the n² space materializes and the 100x story is dead
    val df = graft.similarity.Ann.cosineNearDupPairs(
      graft.io.Tables.embeddings(spark, sf), "vec_id", "embedding",
      minCosine = 0.4, maxExactDocs = 0L)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"cartesian stage in the banded path:\n$plan")
    // both sides of the candidate join read the one materialized
    // (id, band, bucket) table that graft_bands filled
    assert("Scan ExistingRDD\\[__id".r.findAllIn(plan).size == 2,
      s"band table not shared by both join sides:\n$plan")
  }

  test("t31: model joins broadcast off a local table; weight agg has map-side partial") {
    val plan = planString("t31_dsir_importance")
    assert(plan.contains("BroadcastHashJoin"),
      s"lr model not broadcast-joined:\n$plan")
    assert(plan.contains("LocalTableScan"),
      s"lr model should be a driver-built local table, not a recomputed subtree:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "model join fell back to SMJ")
    assert(plan.contains("partial_count"), s"no map-side partial counts:\n$plan")
    // the corpus subtree must appear exactly once in the weight job (the
    // naive dependent-subtree formulation re-expanded it under every
    // consumer — three scans)
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 parquet scan in the weight job, got $scans:\n$plan")
  }

  test("t32: LM model is persisted (training scanned once) with broadcast context fallback") {
    val plan = planString("t32_lm_perplexity")
    assert(plan.contains("Scan ExistingRDD[b1"),
      s"fitted model not materialized — training subtree would re-expand per consumer:\n$plan")
    assert(plan.contains("LocalTableScan"),
      s"context-fallback table should be a driver-built local table:\n$plan")
    assert(plan.contains("partial_count"), s"no map-side partial counts:\n$plan")
  }

  test("p7: filtered pagination plans as TakeOrderedAndProject with offset, " +
      "filters pushed into the cached mart scan") {
    val plan = planString("p7_subject_page")
    // top-(offset+limit) heap per partition + single merge — the API
    // pagination shape; a global Sort here would materialize the whole
    // filtered mart to serve one page
    assert(plan.contains("TakeOrderedAndProject(limit=35, offset=10"),
      s"expected offset-carrying TakeOrderedAndProject:\n$plan")
    // scope to the page-serving prefix: the one-time mart BUILD below
    // InMemoryRelation may legitimately sort-merge; the per-page path
    // above it must not
    val imrAt = plan.indexOf("InMemoryRelation")
    assert(imrAt >= 0, s"expected a cached mart under the page path:\n$plan")
    val pagePath = plan.substring(0, imrAt)
    assert(!pagePath.contains("Sort "),
      s"no global sort on the page-serving path:\n$pagePath")
    // the optional-filter fold must land IN the InMemoryTableScan
    // predicate list, not as a post-scan residual only
    assert(plan.contains("InMemoryTableScan") &&
      plan.contains("(treatment_arm"),
      s"arm/age filters should reach the cached scan:\n$plan")
  }

  test("checks suite evaluates as a single aggregation (no joins, one scan)") {
    val df = SparkEntry.queries("v1_check_suite_events")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"check suite should be join-free:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"check suite should scan once, got $scans")
  }

  test("s18: dim-side filter drives runtime partition pruning of the fact scan") {
    val df = SparkEntry.queries("s18_dynamic_partition_pruning")(spark, sf)
    // plan-level: the fact scan carries a dynamicpruning partition filter
    // (the dim join's subquery duplicated/reused as a runtime predicate)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n$plan")
    // runtime-level: after execution, the fact scan's partition metric
    // shows a strict subset of the 25 nation partitions was read
    df.collect() // execute THIS queryExecution so its scan metrics populate
    // AQE wraps materialized stages in QueryStageExec whose subtree hangs
    // off .plan, not .children — recurse through both to reach the scans
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect { case n => n }.flatMap {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          q +: allNodes(q.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a +: allNodes(a.executedPlan)
        case n => Seq(n)
      }
    val scans = allNodes(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("s18_dpp")) => f
    }
    assert(scans.nonEmpty, "fact scan not found in executed plan")
    val read = scans.head.metrics("numPartitions").value
    assert(read > 0 && read < 25,
      s"expected a pruned fact read (0 < partitions < 25), got $read")
  }

  test("s38: the MOR mask rides the connector scan — no join, no " +
      "table-side exchange") {
    val plan = planString("s38_mor_delete")
    assert(plan.contains("morMaskOn=o_orderkey"),
      s"the masked read is not the connector scan:\n$plan")
    // the only exchanges left gather the aggregates' partial results
    assert(!plan.contains("LeftAnti") &&
      !plan.contains("Exchange hashpartitioning"),
      s"the MOR mask planned a join or a shuffle over the table:\n$plan")
  }

  test("t42: the postings probe scans ONLY the query terms' first-letter " +
      "partitions and keeps top-k as TakeOrderedAndProject") {
    val plan = planString("t42_bm25_index_serving")
    // terms are spark/stream/window -> exactly the s and w partitions
    // (the location list renders truncated, so pin the path COUNT plus
    // one visible member and the absence of any non-query letter)
    assert(plan.contains("InMemoryFileIndex(2 paths)") && plan.contains("tb=w"),
      s"expected exactly the 2 s/w postings partitions in the scan:\n$plan")
    assert(!plan.contains("tb=a") && !plan.contains("tb=t"),
      s"probe planned partitions outside the query letters:\n$plan")
    assert(plan.contains("PushedFilters: [In(term, [spark,stream,window])"),
      s"term filter not pushed to the postings scan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k not fused (global sort instead of per-partition heaps)")
  }

  test("emb20: the IVF-PQ probe keeps both rank stages as " +
      "TakeOrderedAndProject and broadcasts the rerank id set") {
    val plan = planString("emb20_ivfpq_knn")
    assert(plan.contains("TakeOrderedAndProject"),
      "ADC/refine top-k not fused to per-partition heaps")
    assert(plan.contains("BroadcastHashJoin"),
      "rerank candidate join did not broadcast")
  }

  test("g3: both triangle joins are equi-joins — no cartesian/nested-loop " +
      "anywhere, and the top-k fuses") {
    val plan = planString("g3_triangle_count")
    assert(!plan.contains("CartesianProduct"), "triangle join went cartesian")
    // BroadcastNestedLoopJoin appears only for the single-row total column
    assert(!plan.contains("NestedLoopJoin")
      || plan.contains("BroadcastNestedLoop"),
      "non-broadcast nested loop in the triangle path")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-20 busiest nodes not fused to per-partition heaps")
  }

  test("a19: the sketch build is one partial-aggregated group-by with the " +
      "hash params broadcast") {
    val plan = planString("a19_countmin_point_query")
    assert(plan.contains("BroadcastExchange"), "params/cells not broadcast")
    assert(plan.contains("partial_count") || plan.contains("partial_min")
      || plan.contains("Partial"),
      s"cell counts lack map-side partial aggregation:\n$plan")
  }

  test("q3: date predicates push to BOTH fact scans (Catalyst rewrites " +
      "the ts-to-date cast into a timestamp bound) and dims broadcast") {
    val plan = planString("q3_shipping_priority")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "GreaterThanOrEqual(l_shipdate,"),
      s"lineitem ship-date bound not pushed:\n$plan")
    assert(plan.contains("LessThan(o_orderdate,"),
      "orders order-date bound not pushed")
    assert(plan.contains("BroadcastHashJoin"), "dim join did not broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("t44: first-occurrence shuffles the chunk DIGEST with a map-side " +
      "partial struct-min, never a window sort") {
    val plan = planString("t44_chunk_dedup")
    assert(plan.contains("partial_min") || plan.contains("Partial"),
      "digest group-by lost its partial aggregation")
    assert(!plan.contains("Window"), "first-occurrence regressed to a window")
  }

  test("q4: the lateness EXISTS stays a LEFT SEMI join (each order counts " +
      "once) with the order-date window pushed to the orders scan") {
    val plan = planString("q4_order_priority")
    assert(plan.contains("LeftSemi"), s"EXISTS lost its semi join:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(o_orderdate,"),
      "orders date window not pushed to the scan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q18: the HAVING cut rides the partial-aggregated quantity sum and " +
      "the top-100 stays a fused TakeOrderedAndProject") {
    val plan = planString("q18_large_volume_orders")
    assert(plan.contains("partial_sum"),
      s"quantity sum lost map-side partial aggregation:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-100 regressed to a global sort")
  }

  test("w10: all three ranking functions share ONE Window operator and " +
      "one sort (no per-function re-shuffle); no WindowGroupLimit is " +
      "possible because percent_rank/cume_dist need the full partition") {
    val plan = planString("w10_percent_rank")
    // "Window" would also match "WindowGroupLimit" — which must NOT
    // appear here: limiting to 5 rows pre-window would corrupt the
    // percent_rank/cume_dist denominators (partition size). Spark's
    // InferWindowGroupLimit correctly refuses; pin that refusal AND
    // that the three functions fused into a single Window node.
    assert(!plan.contains("WindowGroupLimit"),
      "group-limit pushdown under percent_rank would be a wrong plan")
    val windows = "Window \\[".r.findAllIn(plan).size
    assert(windows == 1, s"expected one fused Window operator, got $windows:\n$plan")
  }

  test("q6: all three predicates (date window, discount band, quantity " +
      "cap) push to the parquet scan; the plan has no join and no " +
      "wide shuffle") {
    // the one-line plan truncates PushedFilters at ~100 chars — read
    // the formatted explain, which prints the full list
    val df = SparkEntry.queries("q6_forecast_revenue")(spark, sf)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate,"),
      s"ship-date lower bound not pushed:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(l_discount,0.05)"),
      "discount band not pushed")
    assert(plan.contains("LessThan(l_quantity,24"),
      "quantity cap not pushed")
    assert(!plan.contains("Join"), "q6 must be join-free")
  }

  test("a20: the 16 sign-sums aggregate map-side in one pass (no row " +
      "multiplication before the partial agg, no cartesian)") {
    val plan = planString("a20_ams_f2_sketch")
    assert(plan.contains("partial_sum"),
      s"sign sums lost map-side partial aggregation:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      "scalar combine regressed to a cartesian product")
  }

  test("q21: EXISTS plans as LEFT SEMI and NOT EXISTS as LEFT ANTI — " +
      "never a count-based or cartesian rewrite") {
    val plan = planString("q21_waiting_suppliers")
    assert(plan.contains("LeftSemi"), s"EXISTS lost the semi join:\n$plan")
    assert(plan.contains("LeftAnti"), s"NOT EXISTS lost the anti join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      "non-equi residual regressed to a cartesian")
  }

  test("q13: the order predicate lives in the LEFT JOIN condition (a " +
      "WHERE would drop order-less customers) and the histogram " +
      "aggregates two-phase") {
    val plan = planString("q13_order_count_distribution")
    assert(plan.contains("LeftOuter"), s"left join lost:\n$plan")
    // the o_orderpriority filter must sit on the orders SIDE (pushed to
    // its scan), never above the join
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderpriority), " +
        "Not(EqualTo(o_orderpriority,5-LOW))]")
      || plan.contains("Not(EqualTo(o_orderpriority,5-LOW))"),
      s"priority predicate did not push to the orders scan:\n$plan")
    assert(plan.contains("partial_count"),
      s"count lost map-side partial aggregation:\n$plan")
  }

  test("q16: the complaints exclusion is a BROADCAST anti-join and the " +
      "part dims broadcast — the fact-derived pair relation never " +
      "joins by shuffle against a 100-row dim") {
    val plan = planString("q16_supplier_census")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"NOT IN lost the broadcast anti-join:\n$plan")
  }

  test("q2: the correlated-min equality joins back as a BROADCAST (the " +
      "per-part min table is dim-sized) and the part filters push to " +
      "the part scan") {
    val plan = planString("q2_min_cost_supplier")
    assert(plan.contains("BroadcastHashJoin"),
      s"min-bal join lost the broadcast:\n$plan")
    assert(plan.contains("EqualTo(p_size,15)")
      && plan.contains("EqualTo(p_type,SMALL)"),
      s"part filters did not push to the scan:\n$plan")
  }

  test("q2: both consumers of the candidate set share the lineitem " +
      "distinct's exchange") {
    val df = SparkEntry.queries("q2_min_cost_supplier")(spark, sf)
    df.collect() // the adaptive plan reuses exchanges once its stages ran
    val plan = df.queryExecution.executedPlan.toString
    assert("""ReusedExchange \[l_partkey""".r.findFirstIn(plan).nonEmpty,
      s"the lineitem distinct runs once per consumer:\n$plan")
  }

  test("mv1: the physical plan scans the MV parquet, never the base — and " +
      "the MV2 filter lands as a pushed filter on the MV scan") {
    val p1 = planString("mv1_rewrite_agg")
    assert(p1.contains("mv_agg_") && !p1.contains("mv_base_"),
      s"mv1 did not serve from the MV:\n$p1")
    val p2 = planString("mv2_rewrite_rollup_filter")
    assert(p2.contains("mv_agg_") && !p2.contains("mv_base_"),
      s"mv2 did not serve from the MV:\n$p2")
    assert(p2.contains("EqualTo(l_linestatus,F)"),
      s"mv2's group-column filter did not push to the MV scan:\n$p2")
  }

  test("t46: chunking is narrow scan-side work — the only exchange is the " +
      "gate's final ORDER BY") {
    val plan = planString("t46_chunk_overlap")
    val exchanges = "Exchange rangepartitioning|Exchange hashpartitioning".r
      .findAllIn(plan).toSeq
    assert(exchanges.size == 1 && exchanges.head.contains("rangepartitioning"),
      s"chunking grew a non-sort shuffle:\n$plan")
    assert(plan.contains("Generate posexplode"),
      s"chunk starts lost the codegen explode:\n$plan")
  }

  test("emb22: quantized kNN is one corpus scan into a top-k — no shuffle, " +
      "no cartesian, query row broadcast") {
    val plan = planString("emb22_int8_quantized_knn")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k lost the TakeOrdered fusion:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"query-row broadcast lost:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"quantized scan grew a shuffle:\n$plan")
  }

  test("t47: hybrid RRF's corpus work is the two retrievers' own top-k " +
      "scans; the fusion aggregate runs on ≤100 fused rows") {
    val plan = planString("t47_hybrid_retrieval_rrf")
    assert(plan.contains("TakeOrderedAndProject"),
      s"retriever top-k lost TakeOrdered fusion:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"fusion grew a cartesian:\n$plan")
  }

  // One board query per family whose body or verb used to leave a cached
  // frame behind; each must now leave the session's cache as it found it.
  Seq(
    "graph" -> "g1_pagerank", "graph" -> "g2_label_propagation",
    "graph" -> "g3_triangle_count", "graph" -> "g4_shortest_paths",
    "text dedup" -> "t7_minhash_lsh_pairs",
    "text curation" -> "t13_curation_funnel",
    "text curation" -> "t38_incremental_curation",
    "embedding" -> "emb12_semantic_dedup",
    "tpch" -> "q15_top_supplier", "tpch" -> "q2_min_cost_supplier",
    "tpch" -> "q11_important_parts", "tpch" -> "q21_waiting_suppliers",
    "corpus" -> "t43_kmv_overlap",
    "lakehouse" -> "s30_versioned_cdc_apply",
    "lakehouse" -> "s43_csv_quarantine",
    "privacy-misc" -> "mm5_media_mix_curation"
  ).foreach { case (family, name) =>
    test(s"$family: $name leaves nothing in the session's cache") {
      spark.catalog.clearCache() // start from an empty cache
      SparkEntry.queries(name)(spark, sf).collect()
      assert(spark.sharedState.cacheManager.isEmpty)
    }
  }
}
