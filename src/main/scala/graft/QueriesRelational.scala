package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin.CutOps
import graft.functions.{Ids, Redaction, Text, Vectors}
import graft.operators.{Dedup, Relational, Sampling, Similarity}
import QueryDsl._

/** Query registry, core relational operators — aggregations, joins, set ops,
  * windows, scalar functions (SURVEY §2.2-§2.8) on the TPC-H tables.
  *
  * Entries moved verbatim from SparkEntry (r7 registry split); the
  * contract — name -> (session, sfDir) -> DataFrame, every entry
  * oracle-checked — is unchanged and pinned by RegistrySpec.
  */
private[graft] object QueriesRelational {
  def map: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── Aggregations (SURVEY §2.4) ──────────────────────────────────────
    "q01_pricing_summary" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_base_price"),
          sum(discPrice).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order")
        )
    }),
    "q02_fk_dim_join" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
      val n = tbl(s, dir, "nation")
      val r = tbl(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
        .agg(
          count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast(dec)).cast("double").as("total_acctbal")
        )
    }),
    "q03_revenue_by_nation" -> ((s, dir) => SparkEntry.revenueByNation(s, dir)),
    "q10_collect_set" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          array_join(sort_array(collect_set(col("o_orderstatus"))), ",").as("statuses"),
          count(lit(1)).as("n_orders")
        )
    }),
    "q11_conditional_agg" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("l_discount") > 0, 1).otherwise(0)).as("n_discounted"),
          sum(when(col("l_tax") === 0, 1).otherwise(0)).as("n_taxfree"),
          count(lit(1)).as("n_total")
        )
    }),
    "q44_pivot" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .na.fill(0, Seq("O", "F", "P"))
        .withColumnRenamed("O", "n_open")
        .withColumnRenamed("F", "n_finished")
        .withColumnRenamed("P", "n_pending")
    }),

    // ── Joins (SURVEY §2.3) ─────────────────────────────────────────────
    "q04_anti_join" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
      val o = tbl(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),
    "q05_semi_join" -> ((s, dir) => {
      val p = tbl(s, dir, "part")
      val li = tbl(s, dir, "lineitem").filter(col("l_discount") > 0.07)
      p.join(li, p("p_partkey") === li("l_partkey"), "left_semi")
        .select(col("p_partkey"), col("p_name"))
    }),
    "q06_full_outer" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_orders"))
      val l = tbl(s, dir, "lineitem")
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_ships"))
      o.join(l, o("day") === l("day"), "full_outer")
        .select(
          coalesce(o("day"), l("day")).as("day"),
          coalesce(col("n_orders"), lit(0)).as("n_orders"),
          coalesce(col("n_ships"), lit(0)).as("n_ships")
        )
    }),
    "q07_self_join" -> ((s, dir) => {
      val a = tbl(s, dir, "nation").select(
        col("n_regionkey").as("rk"), col("n_name").as("nation_a"))
      val b = tbl(s, dir, "nation").select(
        col("n_regionkey").as("rk"), col("n_name").as("nation_b"))
      a.join(b, Seq("rk"))
        .filter(col("nation_a") < col("nation_b"))
        .select(col("rk").as("region_key"), col("nation_a"), col("nation_b"))
    }),
    "q08_expr_join" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val dim = Ids.denseId(
        o.select(concat(col("o_orderstatus"), lit("|"), col("o_orderpriority")).as("class_key"))
          .distinct(),
        "class_key", "class_id")
      o.join(
          broadcast(dim),
          concat(col("o_orderstatus"), lit("|"), col("o_orderpriority")) === dim("class_key")
        )
        .groupBy(col("class_id"), col("class_key"))
        .agg(count(lit(1)).as("n_orders"))
    }),
    "q09_exactly_one" -> ((s, dir) => {
      val p = tbl(s, dir, "part")
      val ps = tbl(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey")).distinct()
      Relational.exactlyOneJoin(p, ps, "p_partkey", "l_partkey")
        .select(col("p_partkey"), col("p_name"), col("l_suppkey").as("sole_suppkey"))
    }),
    "q29_nullsafe_join" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
        .withColumn("pk", when(col("o_orderstatus") === "O", lit(null).cast("string"))
          .otherwise(col("o_orderstatus")))
      val a = o.groupBy(col("pk")).agg(count(lit(1)).as("n_a"))
      val b = o.groupBy(col("pk"))
        .agg(sum(col("o_totalprice").cast(dec)).cast("double").as("total_b"))
      Relational.nullSafeJoin(a, b, Seq("pk"), "inner")
        .select(a("pk").as("status_key"), col("n_a"), col("total_b"))
    }),
    "q28_sorted_array_join" -> ((s, dir) => {
      val p = tbl(s, dir, "part")
        .select(col("p_partkey"), split(col("p_name"), " ").as("words"))
      val grouped = p
        .groupBy(sort_array(col("words")).as("word_bag"))
        .agg(count(lit(1)).as("n_parts"), min(col("p_partkey")).as("min_partkey"))
        .filter(col("n_parts") > 1)
        .select(concat_ws(" ", col("word_bag")).as("word_bag"), col("n_parts"), col("min_partkey"))
      grouped
    }),

    // ── Windows (SURVEY §2.5) ───────────────────────────────────────────
    "q12_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      tbl(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
    }),
    "q13_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(s, dir, "lineitem")
        .filter(col("l_suppkey") <= 5)
        .select(
          col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity").cast(dec)).over(w).cast("double").as("running_qty")
        )
    }),

    // ── Projections / filters / recodes (SURVEY §2.2) ───────────────────
    "q14_recode" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .withColumn("size_class",
          when(col("o_totalprice") < 1000, "small")
            .when(col("o_totalprice") < 10000, "medium")
            .when(col("o_totalprice") < 100000, "large")
            .otherwise("jumbo"))
        .groupBy(col("size_class"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
    }),
    "q15_distinct" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .dropDuplicates()
    }),
    "q23_topk" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),
    "q25_dense_id" -> ((s, dir) => {
      Ids.denseId(
        tbl(s, dir, "part").select(col("p_brand")).distinct(),
        "p_brand", "brand_id")
    }),
    "q26_binning" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .withColumn("bucket",
          when(col("o_totalprice") < 1000, "0-1k")
            .when(col("o_totalprice") < 10000, "1k-10k")
            .when(col("o_totalprice") < 100000, "10k-100k")
            .otherwise("100k+"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
    }),
    "q22_null_handling" -> ((s, dir) => {
      val d = when(col("l_discount") === 0, lit(null).cast("double"))
        .otherwise(col("l_discount"))
      tbl(s, dir, "lineitem")
        .withColumn("d", d)
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("d").isNull.cast("long")).as("n_null"),
          count(col("d")).as("n_nonnull"),
          sum(col("d").cast(dec)).cast("double").as("sum_disc")
        )
    }),

    // ── Set operations & arrays (SURVEY §2.7) ───────────────────────────
    "q16_union" -> ((s, dir) => {
      val c = tbl(s, dir, "customer").select(
        col("c_name").as("entity_name"), lit("customer").as("kind"),
        col("c_acctbal").as("acctbal"))
      val sp = tbl(s, dir, "supplier").select(
        lit("supplier").as("kind"), col("s_name").as("entity_name"),
        col("s_acctbal").as("acctbal"))
      c.unionByName(sp)
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"),
          sum(col("acctbal").cast(dec)).cast("double").as("total_acctbal"))
    }),
    "q17_array_ops" -> ((s, dir) => {
      val words = split(col("p_name"), " ")
      tbl(s, dir, "part").select(
        col("p_partkey"),
        concat_ws(" ", sort_array(array_except(words, array(lit("small"), lit("red")))))
          .as("kept_words"),
        size(array_intersect(words, array(lit("small"), lit("red"), lit("blue"))))
          .as("n_marked")
      )
    }),

    // ── Scalar functions (SURVEY §2.8) ──────────────────────────────────
    "q18_string_funcs" -> ((s, dir) => {
      tbl(s, dir, "customer").select(
        col("c_custkey"),
        upper(trim(col("c_name"))).as("name_upper"),
        replace(lower(col("c_mktsegment")), lit("a"), lit("@")).as("seg_coded"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        length(col("c_name")).as("name_len")
      )
    }),
    "q19_regexp" -> ((s, dir) => {
      tbl(s, dir, "customer").select(
        col("c_custkey"),
        regexp_extract(col("c_name"), "([0-9]+)$", 1).as("cust_num"),
        regexp_replace(col("c_mktsegment"), "[AEIOU]", "_").as("seg_novowel")
      )
    }),
    "q20_explode_wordcount" -> ((s, dir) => {
      tbl(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20)
    }),
    "q21_json" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("k_val", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k_val")).as("sum_k"), max(col("k_val")).as("max_k"),
          count(lit(1)).as("n"))
    }),
    "q24_hourly_events" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec)).cast("double").as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    "q42_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("is_new",
          when(col("prev").isNull ||
            (unix_micros(col("ts")) - unix_micros(col("prev"))) > 1800L * 1000000L, 1)
            .otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("is_new")).as("n_sessions"), count(lit(1)).as("n_events"))
    }),

    // ── Composite-key join + join-back agg (SURVEY J3/J10) ──────────────
    "q27_composite_join" -> ((s, dir) => {
      // Row-preserving aggregate-join-back done as a WINDOW (SURVEY J10
      // note): one shuffle by the composite key instead of groupBy +
      // join-back (two). Same result, verified against the join-form
      // oracle.
      val w = Window.partitionBy(col("l_partkey"), col("l_suppkey"))
      tbl(s, dir, "lineitem")
        .withColumn("avg_qty",
          sum(col("l_quantity").cast(dec)).over(w).cast("double") / count(lit(1)).over(w))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(
          sum(when(col("l_quantity") > col("avg_qty"), 1).otherwise(0)).as("n_above"),
          count(lit(1)).as("n_total"))
    }),

    // ── JSON-array-string aggregation (SURVEY A2 concat-built JSON) ─────
    "q43_json_build" -> ((s, dir) => {
      val perStatus = tbl(s, dir, "orders")
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .withColumn("obj",
          concat(lit("{\"status\":\""), col("o_orderstatus"), lit("\",\"n\":"),
            col("n").cast("string"), lit("}")))
      perStatus
        .groupBy(col("o_orderpriority"))
        .agg(concat(lit("["),
          concat_ws(",", sort_array(collect_list(col("obj")))), lit("]"))
          .as("status_json"))
    }),

    // ── max(when(contains)) existence flag per group (SURVEY A5) ────────
    "q45_any_flag" -> ((s, dir) => {
      val flags = tbl(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("has_r"))
      val p = tbl(s, dir, "part")
      p.join(flags, p("p_partkey") === flags("l_partkey"), "left")
        .groupBy(col("p_brand"))
        .agg(sum(coalesce(col("has_r"), lit(0))).as("n_parts_with_returns"),
          count(lit(1)).as("n_parts"))
    }),

    // ── array_distinct(flatten(collect_list)) (SURVEY A3) ───────────────
    "q46_flatten_distinct" -> ((s, dir) => {
      // Single shuffle by design: partial collect_set dedups map-side, so
      // the exchange already carries per-partition-distinct flags. A
      // pre-`distinct()` on (orderkey, flag) was A/B-measured at sf0.1 and
      // LOST (~1.1s vs ~1.0s): it shuffles the same deduped bytes but adds
      // a second exchange ((okey,flag)-hash → okey-hash).
      val perOrder = tbl(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(collect_set(col("l_returnflag")).as("flags"))
      val o = tbl(s, dir, "orders")
      o.join(perOrder, o("o_orderkey") === perOrder("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(array_join(
          sort_array(array_distinct(flatten(collect_list(col("flags"))))), ",")
          .as("all_flags"))
    }),

    // ── collect_list over ordered window, then max per group (W1/A8) ────
    "q47_window_list" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(s, dir, "lineitem")
        .filter(col("l_suppkey") <= 3)
        .withColumn("ship_seq",
          concat_ws(",",
            collect_list(date_format(col("l_shipdate"), "yyyy-MM-dd")).over(w)))
        .groupBy(col("l_suppkey"))
        .agg(max(col("ship_seq")).as("ship_dates"))
    }),

    // ── Beyond parity: rollup / intersect / except / date parts ─────────
    "q65_median" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(percentile(col("l_quantity"), lit(0.5)).as("median_qty"),
          count(lit(1)).as("n"))
    }),
    "q63_cube" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"))
    }),
    "q64_analytics" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      tbl(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        first(col("o_totalprice")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("first_price"))
    }),
    "q48_rollup" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"))
    }),
    "q49_intersect" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey")).distinct()
        .intersect(
          o.filter(year(col("o_orderdate")) === 1997).select(col("o_custkey")).distinct())
    }),
    "q50_except" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey")).distinct()
        .except(
          o.filter(year(col("o_orderdate")) === 1997).select(col("o_custkey")).distinct())
    }),
    "q51_date_parts" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"))
    }),

    // ── Column-expression scoring (SURVEY A6/A7, no UDF/RDD) ────────────
    "q52_score" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
      val o = tbl(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
        .select(
          col("c_custkey"),
          (when(col("c_acctbal") > 5000, 40).when(col("c_acctbal") > 1000, 20).otherwise(0)
            + when(col("c_mktsegment") === "BUILDING", 10).otherwise(0)
            + floor(least(col("n_orders"), lit(7L)) * 100 / 7.0).cast("int"))
            .as("metadata_score"))
    }),
    // ── As-of join (time-series operator composed Spark-first) ──────────
    "q57_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      Relational.asofJoin(purchases, views, "user_id", "ts", "view_id", "last_view_id")
        .select(col("purchase_id"), col("user_id"), col("last_view_id"))
    }),

    // ── Banded range join (inequality join without the cross product) ───
    "q58_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      Relational.bandedRangeJoin(errors, purchases, "user_id", "ts", 300)
        .select(col("l_event_id").as("error_id"), col("r_event_id").as("purchase_id"))
    }),

    // ── r7 additions: record linkage / SQL-surface parity ───────────────
    "q207_fuzzy_join" -> ((s, dir) => {
      // Record linkage by blocking + edit distance, on NAME EQUIVALENCE
      // CLASSES: rows are first collapsed to distinct names (one
      // corpus-sized groupBy; representative = min key, multiplicity
      // carried), then candidate pairs come only from a shared
      // first-token BLOCK (an equi-join, never all-pairs) and the
      // quadratic levenshtein verify runs over distinct-name classes —
      // VOCABULARY²-bounded, not corpus²-bounded. The first cut verified
      // raw rows and went 830× superlinear sf0.01→sf1 (416 s) because
      // repeated names made both the per-block pair stream and the
      // output itself quadratic in the corpus — the q173/q196 collapse
      // lesson re-learned on the linkage surface. Distinct names make
      // dist ≥ 1 by construction; multiplicities (n_a, n_b) let a
      // consumer expand class pairs to row pairs without the engine ever
      // materializing them.
      val classes = tbl(s, dir, "part")
        .groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("k"), count(lit(1)).as("n"))
        .withColumn("blk", split(col("p_name"), " ").getItem(0))
      val a = classes.select(col("blk"), col("p_name").as("name_a"),
        col("k").as("key_a"), col("n").as("n_a"))
      val b = classes.select(col("blk"), col("p_name").as("name_b"),
        col("k").as("key_b"), col("n").as("n_b"))
      a.join(b, Seq("blk")).filter(col("key_a") < col("key_b"))
        .filter(levenshtein(col("name_a"), col("name_b")) <= 3)
        .select(col("key_a"), col("key_b"),
          levenshtein(col("name_a"), col("name_b")).as("dist"),
          col("n_a"), col("n_b"))
    }),

    "q208_grouping_sets" -> ((s, dir) => {
      // Explicit GROUPING SETS ((status), (priority), ()) with
      // grouping_id — the multi-grain report shape rollup/cube (q48/q63)
      // can't express (disjoint single-dimension grains + grand total in
      // one pass). One shuffle; each grain is a partial-agg expansion.
      tbl(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("bigint").as("gid"),
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec)).cast("double").as("revenue"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("gid"), col("n_orders"), col("revenue"))
    }),

    "q217_jaro_winkler_join" -> ((s, dir) => {
      // q207's linkage shape with a NATIVE similarity kernel: the
      // Jaro–Winkler scorer is a custom codegen'd Catalyst Expression
      // (plans.JaroWinkler, also SQL-registered as graft_jaro_winkler) —
      // extension-ladder tier (b), no UDF boxing in the verify loop.
      // Same scale contract as q207: name-class collapse first
      // (vocabulary²-bounded verify), first-token block equi-join,
      // similarity gate ≥ 0.85. Oracle = DuckDB's built-in
      // jaro_winkler_similarity (same Winkler 1990 definition, 0.7
      // gate, 0.1 prefix scale), both sides rounded to 6 dp.
      val classes = tbl(s, dir, "part")
        .groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("k"), count(lit(1)).as("n"))
        .withColumn("blk", split(col("p_name"), " ").getItem(0))
      val a = classes.select(col("blk"), col("p_name").as("name_a"),
        col("k").as("key_a"), col("n").as("n_a"))
      val b = classes.select(col("blk"), col("p_name").as("name_b"),
        col("k").as("key_b"), col("n").as("n_b"))
      val jw = round(graft.plans.TextKernels.jaroWinklerNative(
        col("name_a"), col("name_b")), 6)
      a.join(b, Seq("blk")).filter(col("key_a") < col("key_b"))
        .filter(jw >= 0.85)
        .select(col("key_a"), col("key_b"), jw.as("jw"), col("n_a"), col("n_b"))
    }),

    "q214_table_diff" -> ((s, dir) => {
      // Reconciliation diff — the anti-entropy check a migration or CDC
      // pipeline runs before cutover: full outer join on the key, rows
      // classified only_a / only_b / changed / same, one count per
      // status. The "restated" side is derived deterministically from
      // orders (drop %101 keys, bump price on %97 keys, add %103 keys
      // negated) so the oracle replays it exactly. Values compare as
      // EXACT CENTS (BIGINT) — no float equality anywhere. Scale shape:
      // one key-keyed outer join + a 4-row rollup; both sides shuffle
      // once on the key.
      val a = tbl(s, dir, "orders").select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast(dec) * 100).cast("long").as("cents_a"),
        col("o_orderstatus").as("st_a"))
      val base = tbl(s, dir, "orders").select(col("o_orderkey"),
        (col("o_totalprice").cast(dec) * 100).cast("long").as("cents"),
        col("o_orderstatus"))
      val b = base.filter(col("o_orderkey") % 101 =!= 0)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 97 === 0, col("cents") + 100)
            .otherwise(col("cents")).as("cents_b"),
          col("o_orderstatus").as("st_b"))
        .unionByName(base.filter(col("o_orderkey") % 103 === 0)
          .select((-col("o_orderkey")).as("k"), col("cents").as("cents_b"),
            col("o_orderstatus").as("st_b")))
      a.join(b, Seq("k"), "full")
        .select(when(col("cents_b").isNull, "only_a")
          .when(col("cents_a").isNull, "only_b")
          .when(col("cents_a") =!= col("cents_b") || col("st_a") =!= col("st_b"),
            "changed")
          .otherwise("same").as("status"))
        .groupBy(col("status")).agg(count(lit(1)).as("n_rows"))
    }),

    "q216_rank_family" -> ((s, dir) => {
      // The analytic-rank function family in one partitioned window —
      // ntile quartiles, percent_rank, cume_dist over a TOTAL order
      // (acctbal desc, custkey tiebreak → no peer-group ambiguity), and
      // dense_rank over the genuinely-tied segment column (ties share a
      // rank, so no tiebreak is needed for determinism). All windows
      // are nation-partitioned — keys grow with the data, never global.
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      val ws = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_mktsegment"))
      // pct_rank/cum_dist are emitted UNROUNDED: each is ONE division of
      // exact integers, so the doubles are bit-identical across engines
      // — while round(x, 6) is NOT when x lands exactly on a .5 tie at
      // the 7th decimal (Spark HALF_UP vs DuckDB half-even; at sf0.1
      // nation groups hit n = 640 and k/640 = 0.5203125 EXACTLY — the
      // divergence the one-off sf0.1 oracle sweep flushed in round 9).
      tbl(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cum_dist"),
          dense_rank().over(ws).as("seg_rank"))
    }),

    "q212_pivot_multi" -> ((s, dir) => {
      // Multi-measure pivot: one pass producing BOTH a count and a
      // revenue column per pivoted status — the spread-sheet crosstab
      // with several aggregates that single-measure q44 doesn't cover.
      // Pivot values are declared literals, so no pre-pass to discover
      // them and the schema is static for downstream plans.
      tbl(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(dec)).cast("double").as("rev"))
        .na.fill(0L, Seq("O_n", "F_n", "P_n"))
        .na.fill(0.0, Seq("O_rev", "F_rev", "P_rev"))
    }),

    "q265_table_checksum" -> ((s, dir) => {
      // Order-free table content digest — the reconciliation primitive
      // for replica comparison at 100 TB: the per-row hash sum COMMUTES,
      // so the digest needs no sort and no single reducer (one partial
      // aggregate per partition, one 2-row final), and a streaming
      // arrival maintains it incrementally (StreamingChecksum pins
      // stream == this batch face). Canonical row text pins the
      // cross-engine formatting: money through DECIMAL(18,2)→string,
      // dates through explicit yyyy-MM-dd; the row hash is the first 15
      // md5 hex digits (60 bits — overflow-free in BIGINT), summed in
      // DECIMAL(38,0) and reduced mod 2^62.
      // Canonical text + row hash live in StreamingChecksum (ONE source
      // for the batch face, the streaming face, and the spec that pins
      // them equal).
      import graft.streaming.StreamingChecksum.{rowHash, ordersCanon, customerCanon, Mod}
      def digest(df: DataFrame, name: String, canon: Column): DataFrame =
        df.select(rowHash(canon).as("h"))
          .agg(count(lit(1)).as("n_rows"),
            (sum(col("h").cast("decimal(38,0)")) % lit(Mod))
              .cast("long").as("checksum"))
          .select(lit(name).as("table_name"), col("n_rows"), col("checksum"))
      digest(tbl(s, dir, "orders"), "orders", ordersCanon)
        .union(digest(tbl(s, dir, "customer"), "customer", customerCanon))
    }),

    "q270_zorder_layout" -> ((s, dir) => {
      // Z-order (Morton) layout audit — the space-filling-curve file
      // layout a lakehouse uses so MULTI-dimension min/max pruning
      // works: map (custkey, order day) onto 12-bit grids, interleave to
      // a 24-bit z-value, bucket by the top 4 z bits (16 "files"), and
      // report each bucket's per-dimension id span next to the same
      // stats for a naive custkey-sorted layout. Z-order bounds BOTH
      // spans (~2^8 of 4096 ids); the 1-D sort bounds only its own key
      // (day span ≈ the full grid), which is the pruning argument in
      // numbers. Pure integer math (division grid + bit interleave) —
      // the oracle replays it exactly; one bounded max() rides broadcast.
      val o = tbl(s, dir, "orders").select(col("o_custkey").as("x"),
        datediff(col("o_orderdate").cast("date"),
          lit("1992-01-01").cast("date")).cast("long").as("y"))
      val mx = o.agg(max(col("x")).as("mx"), max(col("y")).as("my"))
      val pts = o.crossJoin(broadcast(mx))
        .select(expr("x div (mx div 4096 + 1)").as("xi"),
          expr("y div (my div 4096 + 1)").as("yi"))
      val zx = (0 until 12).map(i =>
        shiftleft(shiftright(col("xi"), 11 - i).bitwiseAND(lit(1L)), 23 - 2 * i))
        .reduce(_ + _)
      val zy = (0 until 12).map(i =>
        shiftleft(shiftright(col("yi"), 11 - i).bitwiseAND(lit(1L)), 22 - 2 * i))
        .reduce(_ + _)
      val withB = pts.select(col("xi"), col("yi"),
        shiftright(zx + zy, 20).as("zb"), shiftright(col("xi"), 8).as("xb"))
        .cut()
      def stats(layout: String, bucket: Column): DataFrame =
        withB.groupBy(bucket.as("bucket")).agg(count(lit(1)).as("n"),
          (max(col("xi")) - min(col("xi"))).as("x_span"),
          (max(col("yi")) - min(col("yi"))).as("y_span"))
          .select(lit(layout).as("layout"), col("bucket"), col("n"),
            col("x_span"), col("y_span"))
      stats("zorder", col("zb")).union(stats("xsort", col("xb")))
    }),

    "q353_damerau_join" -> ((s, dir) => {
      // q327's fuzzy vocabulary join under TRUE Damerau–Levenshtein
      // (the codegen'd native kernel — transpositions cost 1, so
      // 'blot'/'bolt' matches at 1 where plain Levenshtein says 2).
      // Emitting BOTH distances makes the variant difference visible
      // row-by-row under the hash; DL ≤ 2 implies |len diff| ≤ 2, the
      // band prefilter.
      val vocab = tbl(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("w"))
        .filter(length(col("w")) > 0).distinct()
        .cut()
      val a = vocab.select(col("w").as("w1"), length(col("w")).as("l1"))
      val b = vocab.select(col("w").as("w2"), length(col("w")).as("l2"))
      a.join(b, col("w1") < col("w2")
          && abs(col("l1") - col("l2")) <= 2)
        .withColumn("dl",
          graft.plans.TextKernels.damerauNative(col("w1"), col("w2")))
        .filter(col("dl") <= 2)
        .select(col("w1"), col("w2"), col("dl").cast("long").as("dl"),
          levenshtein(col("w1"), col("w2")).cast("long").as("lev"))
    }),

    "q354_char_jaccard_join" -> ((s, dir) => {
      // Character-set Jaccard fuzzy join over the same vocabulary
      // (DuckDB's `jaccard` builtin is the oracle): |chars(a) ∩
      // chars(b)| / |chars(a) ∪ chars(b)| ≥ 0.75 — the cheap
      // set-similarity screen before an edit-distance verify, all
      // codegen'd array HOFs, exact small-integer ratio.
      val vocab = tbl(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("w"))
        .filter(length(col("w")) > 0).distinct()
        .select(col("w"), array_distinct(split(col("w"), "")).as("cs"))
        .cut()
      val a = vocab.select(col("w").as("w1"), col("cs").as("ca"))
      val b = vocab.select(col("w").as("w2"), col("cs").as("cb"))
      a.join(b, col("w1") < col("w2"))
        .withColumn("j",
          size(array_intersect(col("ca"), col("cb"))).cast("double")
            / size(array_union(col("ca"), col("cb"))).cast("double"))
        .filter(col("j") >= 0.75)
        .select(col("w1"), col("w2"), round(col("j"), 6).as("char_jaccard"))
    }),

    "q355_hamming_blocked" -> ((s, dir) => {
      // Hamming-distance histogram over fixed-width (8 hex chars)
      // customer codes — the md5 idiom both engines share, standing in
      // for any fixed-width identifier column — paired WITHIN
      // deterministic blocks (nation × first hex char) through the
      // capped wedge-join operator (X139's keyedPairs, maxWidth = 2000
      // — the declared guard that keeps the per-block pair stream
      // bounded when a block runs hot; the cap is part of the
      // semantics and the oracle mirrors it). The distance itself is a
      // dimension-ordered HOF fold over the 8 aligned chars —
      // codegen'd, no UDF.
      val items = tbl(s, dir, "customer")
        .select(col("c_nationkey"),
          substring(md5(concat(lit("ph_"), col("c_custkey").cast("string"))),
            1, 8).as("code"))
        .select(concat(col("c_nationkey").cast("string"), lit("_"),
          substring(col("code"), 1, 1)).as("blk"), col("code"))
      val pairs = operators.Relational.keyedPairs(items, "blk", "code",
        maxWidth = Some(2000))
      pairs
        .withColumn("dist", aggregate(zip_with(
          split(col("code_a"), ""), split(col("code_b"), ""),
          (x, y) => when(x === y, 0).otherwise(1)), lit(0), (acc, v) => acc + v))
        .groupBy(col("dist").cast("long").as("hamming"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    "q385_lcp_join" -> ((s, dir) => {
      // Prefix-blocked identifier-affinity join through the NATIVE
      // CommonPrefixLen kernel: zero-padded supplier names meet on
      // their 17-char prefix (the blocking equi-key — a pair with
      // lcp ≥ 17 shares it by construction, so the block is EXHAUSTIVE
      // for the output contract and holds ≤ 10 ids at ANY corpus size:
      // zero-padded decimal ids differing past position 17 are the
      // same ten-bucket), then one codegen'd static call per candidate
      // scores the exact shared-prefix length — the screen a record-
      // linkage pass runs on structured identifiers before any
      // edit-distance verify.
      val ids = tbl(s, dir, "supplier")
        .select(col("s_name").as("w"),
          substring(col("s_name"), 1, 17).as("blk"))
      val a = ids.select(col("blk"), col("w").as("w1"))
      val b = ids.select(col("blk"), col("w").as("w2"))
      a.join(b, Seq("blk"))
        .filter(col("w1") < col("w2"))
        .withColumn("lcp",
          graft.plans.TextKernels.lcpNative(col("w1"), col("w2")).cast("long"))
        .filter(col("lcp") >= 17)
        .select(col("w1"), col("w2"), col("lcp"))
    }),

    "q370_qgram_profile_join" -> ((s, dir) => {
      // Bigram-profile L1 distance join over the part-name vocabulary —
      // the q-gram screen that UPPER-BOUNDS edit operations (each edit
      // touches ≤ 2 bigrams, so L1 ≤ 4 admits every DL ≤ 2 pair)
      // without any per-pair DP: candidate pairs meet through SHARED
      // bigrams (inverted-index join, vocab-bounded like q353), and
      // L1 = |A| + |B| − 2·Σ_g min(cA(g), cB(g)) needs only the shared
      // grams — pure integer arithmetic end to end.
      val vocab = tbl(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("w"))
        .filter(length(col("w")) > 1).distinct()
        .cut()
      val grams = vocab
        .select(col("w"), explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
        .select(col("w"), expr("substring(w, i, 2)").as("g"))
        .groupBy(col("w"), col("g")).agg(count(lit(1)).as("c"))
      val a = grams.select(col("g"), col("w").as("w1"), col("c").as("ca"))
      val b = grams.select(col("g"), col("w").as("w2"), col("c").as("cb"))
      val shared = a.join(b, Seq("g"))
        .filter(col("w1") < col("w2"))
        .groupBy(col("w1"), col("w2"))
        .agg(sum(least(col("ca"), col("cb"))).as("shared"))
      shared
        .select(col("w1"), col("w2"),
          (length(col("w1")) - 1 + length(col("w2")) - 1 -
            lit(2) * col("shared")).cast("long").as("l1_dist"))
        .filter(col("l1_dist") <= 4)
    }),

    "q327_lev_join" -> ((s, dir) => {
      // Levenshtein fuzzy self-join over the part-name color vocabulary:
      // exact-dup collapse to the VOCABULARY first (the q207 discipline),
      // then a length-banded candidate join (|len diff| ≤ 1 prunes the
      // vocab² pairs before the DP kernel) verified with the built-in
      // codegen'd levenshtein ≤ 2. Both engines share the classic
      // unit-cost edit-distance semantics.
      val vocab = tbl(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("w"))
        .filter(length(col("w")) > 0).distinct()
        .cut()
      val a = vocab.select(col("w").as("w1"), length(col("w")).as("l1"))
      val b = vocab.select(col("w").as("w2"), length(col("w")).as("l2"))
      a.join(b, col("w1") < col("w2")
          && abs(col("l1") - col("l2")) <= 1)
        .withColumn("dist", levenshtein(col("w1"), col("w2")))
        .filter(col("dist") <= 2)
        .select(col("w1"), col("w2"), col("dist").cast("long").as("dist"))
    }),
  )
}
