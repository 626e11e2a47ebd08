package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectSet, Min}
import org.apache.spark.sql.execution.LogicalRDD

/** Physical-plan shape assertions for representative queries.
  *
  * The scale story in SparkEntry's scaladoc makes concrete claims — dims
  * broadcast, top-k compiles to TakeOrderedAndProject, filters reach the
  * parquet scan, projections prune the read schema, the hot path stays
  * inside whole-stage codegen. LayoutSpec already proves the layout tier
  * (bucketed no-exchange joins, partition pruning); this spec pins the
  * query tier, so a regression that silently degrades a plan (a lost
  * broadcast hint, a global Sort replacing top-k, a `select(*)` defeating
  * pruning) fails the build instead of only showing up as a slow bench row.
  *
  * Plans are inspected AFTER execution so AQE's final plan (not the
  * initial placeholder) is what's asserted.
  */
class PlanSpec extends SparkSpec {

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q02: explicit dim broadcasts plan as BroadcastHashJoin, never SortMergeJoin") {
    val plan = executedPlan("q02_fk_dim_join")
    // The AQE plan string prints Final and Initial sections, so each
    // physical join appears twice — assert on at-least (2 joins × ≥1).
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"expected both dim joins (nation, region) to broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a dim join fell back to sort-merge (shuffles the fact side):\n$plan")
  }

  test("q23: orderBy+limit compiles to TakeOrderedAndProject, not a global sort") {
    val plan = executedPlan("q23_topk")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be per-partition heap + driver merge:\n$plan")
  }

  test("q38: brute-force cosine top-k is TakeOrderedAndProject over one scan") {
    val plan = executedPlan("q38_embed_topk")
    assert(plan.contains("TakeOrderedAndProject"),
      s"embedding top-k must never globally sort the corpus:\n$plan")
  }

  test("q119: vocab rank is TakeOrderedAndProject (the r4 global-window lesson)") {
    val plan = executedPlan("q119_vocab_encode")
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocab truncation must be orderBy+limit, not a single-partition window:\n$plan")
  }

  test("q175: weighted-sample clock top-k is TakeOrderedAndProject over one scan") {
    val plan = executedPlan("q175_weighted_sample")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the exponential-clock sample must never globally sort the corpus:\n$plan")
    assert(!plan.contains("Window"),
      s"no window may touch the corpus projection:\n$plan")
  }

  test("q187: path-trigram top-20 is TakeOrderedAndProject after the path count") {
    val plan = executedPlan("q187_path_trigrams")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top paths must be per-partition heap + driver merge:\n$plan")
  }

  test("q182: the inverse-CDF grid joins back as a broadcast (banded join, grid-sized)") {
    val plan = executedPlan("q182_quantile_normalize")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the value-grid band join must broadcast the grid, not shuffle the corpus:\n$plan")
  }

  test("q01: the shipdate filter is pushed to the parquet scan") {
    val plan = executedPlan("q01_pricing_summary")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*l_shipdate[^\\]]*\\].*"),
      s"l_shipdate <= … must reach the scan as a pushed filter:\n$plan")
  }

  test("q01: aggregation is partial+final (map-side combine before the shuffle)") {
    val plan = executedPlan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial and final HashAggregate nodes:\n$plan")
    assert(plan.contains("*("),
      s"expected whole-stage codegen stages in the agg pipeline:\n$plan")
  }

  test("q37: projection prunes the documents scan to doc_id+text") {
    val plan = executedPlan("q37_token_count")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"token counting must not read lang/source/n_chars:\n$plan")
  }

  test("q142: the per-source threshold joins back as a broadcast") {
    val plan = executedPlan("q142_quality_quantile")
    assert(plan.contains("BroadcastHashJoin"),
      s"the source-count-sized P75 table must broadcast, not shuffle the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"threshold join-back fell back to sort-merge:\n$plan")
  }

  test("q03: the order-date filter is pushed down and dims broadcast") {
    val plan = executedPlan("q03_revenue_by_nation")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*o_orderdate[^\\]]*\\].*"),
      s"o_orderdate range must reach the orders scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the nation dim must broadcast:\n$plan")
  }

  test("q148: hard-negative top-k runs through the native TopKPerKey operator") {
    val plan = executedPlan("q148_hard_negatives")
    assert(plan.contains("TopKPerKey"),
      s"per-vector top-k must be the k-bounded physical operator, not a window:\n$plan")
    assert(!plan.contains("Window"),
      s"the pair stream must never be windowed:\n$plan")
  }

  /** Count logical Window nodes with an EMPTY partition spec — the
    * single-task global window the scale story forbids. Logical, not
    * physical: AQE wraps the physical tree in query stages, while the
    * optimized logical plan is stable and the partition spec is decided
    * there.
    */
  private def globalWindows(name: String): Int = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }.size
  }

  test("q203/q204: the banded rewrites plan ZERO unpartitioned windows (and the detector itself works: q200's exact face has one)") {
    // Detector self-test first — if the collect pattern rotted, the
    // known-global q200 window would read as 0 and the gate would be
    // vacuously green (the r5 dark-green lesson).
    assert(globalWindows("q200_pareto_revenue") >= 1,
      "detector failure: q200's global cumulative window was not seen")
    assert(globalWindows("q203_pareto_scaled") == 0,
      "q203 must not plan any unpartitioned Window")
    assert(globalWindows("q204_quantile_scaled") == 0,
      "q204 must not plan any unpartitioned Window")
  }

  test("q203/q204: banded rewrites hash-match their exact faces row-for-row") {
    def canon(name: String) = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.select(df.columns.sorted.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toString).sorted.toSeq
    }
    assert(canon("q203_pareto_scaled") == canon("q200_pareto_revenue"))
    assert(canon("q204_quantile_scaled") == canon("q182_quantile_normalize"))
  }

  test("q180: the Apriori pair prune sits BELOW the final candidate semi-join") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = SparkEntry.queries("q180_frequent_triples")(spark, sfDir)
    val plan = df.queryExecution.optimizedPlan
    // Three semi-joins total: L2⋈L2 candidate prune, the pair-stream
    // prune, and the final triple-vs-candidate prune.
    val semis = plan.collect { case j: Join if j.joinType == LeftSemi => j }
    assert(semis.size >= 3, s"expected ≥3 LeftSemi joins, got ${semis.size}:\n$plan")
    // The topmost (pre-order head) semi-join's input subtree must itself
    // contain a semi-join — the pair stream is pruned BEFORE the third
    // self-join, bounding a hot basket to frequent-pair rows.
    val top = semis.head
    assert(top.left.collect { case j: Join if j.joinType == LeftSemi => j }.nonEmpty,
      s"pair-stream Apriori prune must sit below the final semi-join:\n$plan")
  }

  test("q146: both robust-stat join-backs broadcast (the corpus is never shuffled)") {
    val plan = executedPlan("q146_mad_outliers")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"median and MAD tables must broadcast back onto the quality frame:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a source-sized stats join fell back to sort-merge:\n$plan")
  }

  test("q210: TF-IDF top-k runs through the native TopKPerKey operator, never a window") {
    val plan = executedPlan("q210_tfidf_topk")
    assert(plan.contains("TopKPerKey"),
      s"per-doc top-3 must be the k-bounded physical operator:\n$plan")
    assert(!plan.contains("Window"),
      s"the (doc,term) stream must never be windowed:\n$plan")
  }

  test("q207: blocking-key linkage plans as an equi-join, never a cartesian product") {
    val plan = executedPlan("q207_fuzzy_join")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"the candidate pairs must come from the blk equi-join, not all-pairs:\n$plan")
  }

  test("q205/q206/q209: the r7 time-series/attribution tier plans zero unpartitioned windows") {
    assert(globalWindows("q205_gap_fill") == 0,
      "gap-fill must stay date-domain joins, no global window")
    assert(globalWindows("q206_attribution") == 0,
      "attribution windows must all be user-partitioned")
    assert(globalWindows("q209_weighted_median") == 0,
      "weighted-median windows must all be customer-partitioned")
  }

  test("q218/q220/q222: the r7 analytics batch plans zero unpartitioned windows") {
    assert(globalWindows("q218_retention_cohorts") == 0,
      "retention must be pure groupBy/join — no window at all")
    assert(globalWindows("q220_streak_islands") == 0,
      "the islands window must be user-partitioned, never global")
    assert(globalWindows("q222_ab_value_ztest") == 0,
      "the Welch rollup is two aggregates — no window")
  }

  test("q226-q231: the statistics tier plans zero unpartitioned windows (folds are domain-bounded, stats map-combinable)") {
    for (q <- Seq("q226_holt_forecast", "q227_mann_whitney_u",
        "q228_chi2_independence", "q229_hill_tail_index",
        "q230_bootstrap_ci", "q231_ordered_funnel"))
      assert(globalWindows(q) == 0, s"$q must not plan a global window")
  }

  test("q233: truncated mean joins percentile bounds back via broadcast and keeps the sum map-combinable") {
    val plan = executedPlan("q233_truncated_mean")
    assert(plan.contains("BroadcastHashJoin"),
      s"the flag-sized bounds table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      s"no shuffle join or window in the two-pass shape:\n$plan")
    assert(globalWindows("q234_jl_projection") == 0,
      "the JL projection must stay a per-row fold + bounded pair sample")
  }

  test("q235-q237: Spearman rides the banded cumsum and the survival tier plans zero unpartitioned windows") {
    // q235 ranks a near-unique customer aggregate — exactly the shape
    // that would tempt a global row_number window; bandedCumSum's
    // band-partitioned window must be the only Window in the plan.
    for (q <- Seq("q235_spearman_rho", "q236_kaplan_meier",
        "q237_logrank_test"))
      assert(globalWindows(q) == 0, s"$q must not plan a global window")
  }

  test("q238-q240: attribution/path/LTV tier plans zero unpartitioned windows and a top-k tail for paths") {
    for (q <- Seq("q238_time_decay_attribution", "q239_conversion_paths",
        "q240_cohort_ltv"))
      assert(globalWindows(q) == 0, s"$q must not plan a global window")
    val plan = executedPlan("q239_conversion_paths")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-10 path tail must be top-k, not a global sort:\n$plan")
  }

  test("q242: FIFO allocation is user-partitioned windows + a user-keyed range join, never a cartesian or global window") {
    assert(globalWindows("q242_fifo_allocation") == 0,
      "cumulative intervals must be user-partitioned")
    val plan = executedPlan("q242_fifo_allocation")
    assert(!plan.contains("CartesianProduct"),
      s"lot×purchase matching must ride the user equi-join:\n$plan")
  }

  test("q230: the bootstrap replicate stream is a generator expansion, never a shuffle of corpus data per replicate") {
    val plan = executedPlan("q230_bootstrap_ci")
    assert(plan.contains("Generate"),
      s"the 32 replicates must come from explode(sequence(...)):\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"no corpus-keyed join anywhere in the resample path:\n$plan")
  }

  test("q225: item-item CF top-3 runs through the native TopKPerKey operator with broadcast count joins") {
    val plan = executedPlan("q225_item_cf_topk")
    assert(plan.contains("TopKPerKey"),
      s"expected the native per-key top-k operator:\n$plan")
    assert(!plan.contains("Window"),
      s"neighbor selection must never fall back to a row_number window:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"co-occurrence must come from the basket equi-join, not all-pairs:\n$plan")
  }

  test("q219: association rules join pairs to per-item counts via broadcast, and the pair stream is an equi-join") {
    val plan = executedPlan("q219_association_rules")
    assert(!plan.contains("CartesianProduct"),
      s"the pair stream must be the ok-keyed equi-join, not all-pairs:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"ante/cons count joins must both broadcast (item-sized dims):\n$plan")
  }

  test("q221: OLS sufficient statistics fold in ONE map-combinable aggregate over broadcast-dim joins") {
    val plan = executedPlan("q221_ols_price_qty")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"supplier and nation dims must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no shuffle join anywhere in the stats fold:\n$plan")
    assert(plan.contains("*("),
      s"the stats fold must stay inside whole-stage codegen:\n$plan")
  }

  test("q259: AUC rank rides the banded cumsum — zero unpartitioned windows over the corpus") {
    assert(globalWindows("q259_auc_brier") == 0,
      "the rank-sum must come from bandedCumSum (band-partitioned window " +
        "+ broadcast offsets), never a global ORDER BY window")
  }

  test("q255/q261: capped kNN and CR4 run through the native TopKPerKey, never a window or cartesian") {
    for (name <- Seq("q255_geo_knn", "q261_market_concentration")) {
      val plan = executedPlan(name)
      assert(plan.contains("TopKPerKey"),
        s"$name must plan the native two-phase top-k operator:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$name must stay an equi-join (grid cells / nation keys):\n$plan")
      assert(globalWindows(name) == 0, s"$name must not plan a global window")
    }
  }

  test("q254/q256: the spatial grid joins are equi-joins on cells, never cartesian") {
    for (name <- Seq("q254_geo_neighbors", "q256_geo_dbscan")) {
      val plan = executedPlan(name)
      assert(!plan.contains("CartesianProduct"),
        s"$name candidate pairs must come from the cell equi-join:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name candidate pairs must come from the cell equi-join:\n$plan")
    }
  }

  test("q277: the Heaps cumulative pass rides the banded cumsum — zero unpartitioned windows") {
    assert(globalWindows("q277_heaps_law") == 0,
      "cumtok/cumvoc/rn must come from bandedCumSum, never a global ORDER BY window")
  }

  test("q257: ACF sums are map-combinable partial aggregates over the day grid") {
    val plan = executedPlan("q257_acf")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"the daily rollup must combine map-side before the shuffle:\n$plan")
    assert(globalWindows("q257_acf") == 0,
      "the day-grid index must come from boundedRankCum, not a global window")
  }

  test("q496: per-gram state is map-combinable — no collect_set, and no cut hides part of the plan") {
    // A per-gram collect_set of blocks grows with the corpus; a min per
    // gram and a distinct (gram, block) pair are bounded by their key.
    // The whole plan must be visible here: a cut would hide whatever
    // aggregates run before it.
    val plan = SparkEntry.queries("q496_novelty_rate")(spark, sfDir)
      .queryExecution.optimizedPlan
    assert(plan.collectFirst { case l: LogicalRDD => l }.isEmpty,
      s"a cut hides part of q496's plan:\n$plan")
    val aggs = plan.flatMap(_.expressions.flatMap(_.collect {
      case a: AggregateExpression => a.aggregateFunction }))
    assert(aggs.exists(_.isInstanceOf[Min]), s"no per-gram min in:\n$plan")
    assert(!aggs.exists(_.isInstanceOf[CollectSet]),
      s"q496 collects a per-gram set:\n$plan")
  }

  test("SUITE-WIDE: no query plans an unpartitioned window, allowlist = the two declared exact faces") {
    // The per-tier gates above cover the batches that historically
    // carried the risk; this one closes the seam a FUTURE query could
    // slip through ungated. Allowlist is exactly the two deliberately
    // unscalable contrast faces (kept oracle-checked, excluded from the
    // headline bench) — anything else planning a global window fails.
    // The detector self-test in the q203/q204 case above proves the
    // collect pattern still sees q200's window, so an all-zero sweep
    // here cannot be a rotted detector.
    val allow = Set("q200_pareto_revenue", "q182_quantile_normalize")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(allow)
      .flatMap { name =>
        val n = globalWindows(name)
        if (n > 0) Some(s"$name ($n)") else None
      }
    assert(offenders.isEmpty,
      s"unpartitioned Window outside the allowlist: ${offenders.mkString(", ")}")
  }
}
