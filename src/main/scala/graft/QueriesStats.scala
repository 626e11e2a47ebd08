package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin.CutOps
import QueryDsl._

/** Query registry, statistics/evaluation tier II (q275+): forecast
  * backtesting, robust trend estimation, corpus-growth laws, model
  * calibration. Same contract as every other Queries* file — each entry
  * oracle-checked, counts pinned by RegistrySpec.
  */
private[graft] object QueriesStats {

  /** Daily revenue in exact cents on the day grid, indexed by the
    * triangular-join rank (calendar-bounded).
    */
  private def dailyIdx(s: SparkSession, dir: String): DataFrame =
    operators.ScalableWindow.boundedRankCum(
      tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"))
          .as("x")),
      Seq(("day", true)), "t")
      .select(col("t"), col("x"))

  val map: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q275_forecast_backtest" -> ((s, dir) => {
      // Seasonal-naive (lag-7) forecast backtest on the last 28 grid
      // days. |errors| sum as EXACT integer cents (MASE is a ratio of
      // two exact sums); the per-day ratio statistics (MAPE, sMAPE)
      // fold ordered by day with a 12-dp fixed point.
      val idx = dailyIdx(s, dir).cut()
      val n = idx.agg(max(col("t")).as("n"))
      val lagged = idx.as("a")
        .join(idx.as("b"), col("a.t") === col("b.t") + 7)
        .select(col("a.t").as("t"), col("a.x").as("actual"),
          col("b.x").as("pred"))
        .crossJoin(broadcast(n))
        .cut()
      val hold = lagged.filter(col("t") > col("n") - 28)
      val insample = lagged.filter(col("t") <= col("n") - 28)
      def d(c: Column): Column = c.cast("double")
      val h = hold.agg(count(lit(1)).as("h"),
        sum(abs(col("actual") - col("pred"))).as("sae"),
        aggregate(array_sort(collect_list(struct(col("t"),
            (abs(d(col("actual")) - d(col("pred")))
              / ((d(col("actual")) + d(col("pred"))) / lit(2.0))).as("r")))),
          lit(0.0), (acc, e) => round(acc + e.getField("r"), 12)).as("smsum"),
        aggregate(array_sort(collect_list(struct(col("t"),
            (abs(d(col("actual")) - d(col("pred"))) / d(col("actual")))
              .as("r")))),
          lit(0.0), (acc, e) => round(acc + e.getField("r"), 12)).as("mapesum"))
      val ins = insample.agg(count(lit(1)).as("m"),
        sum(abs(col("actual") - col("pred"))).as("inae"))
      // Unrounded outputs (roundlint r11): the folds are bit-identical
      // ordered op sequences on both engines and /count is exact IEEE,
      // so the final round was the ONLY cross-engine divergence surface
      // (a 12-dp grid sum can land exactly on a 6-dp half boundary).
      h.crossJoin(broadcast(ins))
        .select(col("h").as("n_holdout"),
          (col("mapesum") / d(col("h"))).as("mape"),
          (col("smsum") / d(col("h"))).as("smape"),
          ((d(col("sae")) / d(col("h")))
            / (d(col("inae")) / d(col("m")))).as("mase"))
    }),

    "q276_theil_sen" -> ((s, dir) => {
      // Theil–Sen robust trend of MONTHLY revenue: the median of all
      // pairwise slopes (month-grid² pairs — calendar-bounded, ~3.5k at
      // 7 years). Exact-cents differences over integer month gaps make
      // every slope a single exact division; the median is the max of
      // the k smallest slopes (TakeOrderedAndProject — no global
      // window), averaged over k1/k2 for even counts.
      val m = operators.ScalableWindow.boundedRankCum(
        tbl(s, dir, "orders")
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"))
            .as("x")),
        Seq(("month", true)), "t")
        .select(col("t"), col("x"))
        .cut()
      val slopes = m.as("a").join(m.as("b"), col("b.t") > col("a.t"))
        .select(((col("b.x") - col("a.x")).cast("double")
          / (col("b.t") - col("a.t")).cast("double")).as("slope"))
        .cut()
      val cnt = slopes.count() // bounded: month-grid² pairs
      val k1 = ((cnt + 1) / 2).toInt
      val k2 = (cnt / 2 + 1).toInt
      // Distinct output names: k1 == k2 on odd counts (the q290 lesson —
      // same-named aggregates make the crossJoin ambiguous).
      def kth(k: Int, as: String): DataFrame =
        slopes.orderBy(col("slope")).limit(k).agg(max(col("slope")).as(as))
      kth(k1, "sa").crossJoin(kth(k2, "sb"))
        .select(lit(cnt).as("n_slopes"),
          round((col("sa") + col("sb")) / lit(2.0), 6)
            .as("slope_cents_per_month"))
    }),

    "q277_heaps_law" -> ((s, dir) => {
      // Heaps' law fit V = K·N^β: cumulative vocabulary vs cumulative
      // tokens sampled at ~20 doc checkpoints, β and K from a log-log
      // least-squares fit. New-word counts come from first-occurrence
      // docs (min doc_id per word — corpus-sized but map-combinable);
      // the cumulative pass is the BANDED cumsum over doc_id (scale-safe
      // — no global window, PlanSpec-gated); the ≤21-point fit folds
      // ordered with a 12-dp fixed point. (The synthetic corpus's
      // ~31-word vocabulary saturates in the first checkpoints, so β
      // fits ≈ 0 — the CORRECT answer for this data; the operator's
      // value is the machinery, verified end-to-end by the oracle.)
      val toks = tbl(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
      val perDoc = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("ntok"))
      val news = toks.groupBy(col("w")).agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("nnew"))
      val grid = perDoc.join(news, Seq("doc_id"), "left")
        .select(col("doc_id"), col("ntok"),
          coalesce(col("nnew"), lit(0L)).as("nnew"))
        .withColumn("one", lit(1L))
      // One banded pass for all three prefix sums (r13): the chained
      // single-column calls re-evaluated the token-explode grid up to
      // 3^3 times (each call references its input three times and wraps
      // the previous call's plan); the multi-column form shares one
      // percentile collect, one partitioned window, one offset join.
      // Identical output per column (q347 precedent).
      val cum = operators.ScalableWindow.bandedCumSums(grid, "doc_id",
          descending = false, Nil,
          Seq("ntok" -> "cumtok", "nnew" -> "cumvoc", "one" -> "rn"))
        .cut()
      val nd = cum.agg(max(col("rn")).as("nd"))
      // Checkpoint rule shared with the oracle: rn divisible by
      // ceil(nd/20), plus the final point.
      val step = floor((col("nd") + lit(19)) / lit(20))
      val sel = cum.crossJoin(broadcast(nd))
        .filter(col("rn") % step === 0 || col("rn") === col("nd"))
        .select(col("rn"), log(col("cumtok").cast("double")).as("lx"),
          log(col("cumvoc").cast("double")).as("ly"))
        .dropDuplicates("rn")
      def fold(v: Column): Column =
        aggregate(array_sort(collect_list(struct(col("rn"), v.as("v")))),
          lit(0.0), (acc, e) => round(acc + e.getField("v"), 12))
      val f = sel.agg(count(lit(1)).as("np"), fold(col("lx")).as("sx"),
        fold(col("ly")).as("sy"), fold(col("lx") * col("ly")).as("sxy"),
        fold(col("lx") * col("lx")).as("sx2"))
      def d(c: String): Column = col(c).cast("double")
      f.select(col("np").as("n_points"),
        round((d("np") * col("sxy") - col("sx") * col("sy"))
          / (d("np") * col("sx2") - col("sx") * col("sx")), 6).as("beta"),
        round(exp((col("sy") - ((d("np") * col("sxy") - col("sx") * col("sy"))
            / (d("np") * col("sx2") - col("sx") * col("sx"))) * col("sx"))
          / d("np")), 4).as("k"))
    }),

    "q280_kendall_tau" -> ((s, dir) => {
      // Kendall's τ-b between quantity (1..50) and a fixed price band —
      // rank correlation with tie correction, computed ENTIRELY on the
      // bounded contingency grid (≤ 50×26 cells): concordant/discordant
      // pair counts are grid² joins over exact integer cell counts,
      // never corpus² pairs. τ-b = (C−D)/√((n₀−n₁)(n₀−n₂)).
      val li = tbl(s, dir, "lineitem").select(
        col("l_quantity").cast("long").as("q"),
        least(floor(col("l_extendedprice") / 4000.0).cast("long"), lit(25L))
          .as("pb"))
      val cells = li.groupBy(col("q"), col("pb")).agg(count(lit(1)).as("c"))
        .cut()
      def d(c: Column): Column = c.cast("double")
      val conc = cells.as("a").join(cells.as("b"),
          col("b.q") > col("a.q") && col("b.pb") > col("a.pb"))
        .agg(sum(col("a.c").cast("decimal(38,0)") * col("b.c").cast("decimal(38,0)"))
          .as("cc"))
      val disc = cells.as("a").join(cells.as("b"),
          col("b.q") > col("a.q") && col("b.pb") < col("a.pb"))
        .agg(sum(col("a.c").cast("decimal(38,0)") * col("b.c").cast("decimal(38,0)"))
          .as("dd"))
      val n = cells.agg(sum(col("c")).as("n"))
      val tq = cells.groupBy(col("q")).agg(sum(col("c")).as("tc"))
        .agg(sum(col("tc").cast("decimal(38,0)") * (col("tc") - 1).cast("decimal(38,0)"))
          .as("t1"))
      val tp = cells.groupBy(col("pb")).agg(sum(col("c")).as("tc"))
        .agg(sum(col("tc").cast("decimal(38,0)") * (col("tc") - 1).cast("decimal(38,0)"))
          .as("t2"))
      conc.crossJoin(disc).crossJoin(broadcast(n))
        .crossJoin(broadcast(tq)).crossJoin(broadcast(tp))
        .withColumn("n0",
          col("n").cast("decimal(38,0)") * (col("n") - 1).cast("decimal(38,0)"))
        .select(col("n"),
          round((d(col("cc")) - d(col("dd")))
            / sqrt((d(col("n0")) / lit(2.0) - d(col("t1")) / lit(2.0))
              * (d(col("n0")) / lit(2.0) - d(col("t2")) / lit(2.0))), 6)
            .as("tau_b"))
    }),

    "q281_cohens_kappa" -> ((s, dir) => {
      // Cohen's κ agreement between the engine's TWO language-ID
      // predictors (q35 stopword markers vs q60 char-n-gram profiles) —
      // the inter-rater face composed from existing operators. The
      // confusion grid is language² (≤ 25 cells); κ = (pₒ − pₑ)/(1 − pₑ)
      // from exact integer counts.
      val docs = tbl(s, dir, "documents")
      val both = docs.select(col("doc_id"),
        graft.functions.Text.langIdByStopwords(
          graft.functions.Text.tokens(col("text")), langMarkers).as("r1"),
        graft.plans.TextKernels.langIdNative(col("text"), ngramProfiles).as("r2"))
      val cm = both.groupBy(col("r1"), col("r2")).agg(count(lit(1)).as("c"))
        .cut()
      def d(c: Column): Column = c.cast("double")
      val n = cm.agg(sum(col("c")).as("n"))
      val po = cm.filter(col("r1") === col("r2")).agg(sum(col("c")).as("agree"))
      val m1 = cm.groupBy(col("r1")).agg(sum(col("c")).as("c1"))
      val m2 = cm.groupBy(col("r2")).agg(sum(col("c")).as("c2"))
      // pₑ = Σ_k (row_k/n)·(col_k/n): a language-grid join, folded
      // ordered by label with a 12-dp fixed point.
      val pe = m1.join(m2, col("r1") === col("r2"))
        .crossJoin(broadcast(n))
        .select(col("r1"),
          ((d(col("c1")) / d(col("n"))) * (d(col("c2")) / d(col("n")))).as("p"))
        .agg(aggregate(array_sort(collect_list(struct(col("r1"), col("p").as("p")))),
          lit(0.0), (acc, e) => round(acc + e.getField("p"), 12)).as("pe"))
      po.crossJoin(broadcast(n)).crossJoin(broadcast(pe))
        .withColumn("po", d(col("agree")) / d(col("n")))
        .select(col("n"), round(col("po"), 6).as("p_observed"),
          round(col("pe"), 6).as("p_expected"),
          round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6).as("kappa"))
    }),

    "q282_anova_f" -> ((s, dir) => {
      // One-way ANOVA F across nations on customer account balance:
      // between/within sums of squares from EXACT integer-cents moments
      // (group sums and squared sums in DECIMAL(38,0)), so the only
      // float ops are the final closed-form divisions. Outputs F and
      // both degrees of freedom.
      val c = tbl(s, dir, "customer").select(col("c_nationkey"),
        expr("cast(cast(c_acctbal as decimal(18,2)) * 100 as bigint)").as("v"))
      val vd = col("v").cast("decimal(38,0)")
      val g = c.groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("ng"), sum(col("v")).as("sg"), sum(vd * vd).as("qg"))
        .cut()
      def d(c: Column): Column = c.cast("double")
      val tot = g.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
        sum(col("sg")).as("s"), sum(col("qg")).as("q"))
      // SSB = Σ sg²/ng − s²/n (per-group terms fold ordered by nation);
      // SSW = q − Σ sg²/ng.
      val terms = g.select(col("c_nationkey"),
        (d(col("sg")) * d(col("sg")) / d(col("ng"))).as("t"))
        .agg(aggregate(array_sort(collect_list(struct(col("c_nationkey"),
            col("t").as("t")))), lit(0.0),
          (acc, e) => round(acc + e.getField("t"), 6)).as("sgg"))
      tot.crossJoin(broadcast(terms))
        .withColumn("ssb", col("sgg") - d(col("s")) * d(col("s")) / d(col("n")))
        .withColumn("ssw", d(col("q")) - col("sgg"))
        .select(col("k"), col("n"),
          round((col("ssb") / (d(col("k")) - lit(1.0)))
            / (col("ssw") / (d(col("n")) - d(col("k")))), 6).as("f_stat"))
    }),

    "q283_multiclass_f1" -> ((s, dir) => {
      // Per-language precision/recall/F1 for the n-gram language
      // identifier, plus the macro row — the multiclass-evaluation face
      // next to q281's agreement κ. Confusion counts live on the
      // language² grid; zero-denominator classes define P/R/F1 = 0 in
      // both engines; macro-F1 folds ordered by language.
      val both = tbl(s, dir, "documents").select(col("lang").as("actual"),
        graft.plans.TextKernels.langIdNative(col("text"), ngramProfiles)
          .as("pred"))
      val labels = both.select(col("actual").as("lang"))
        .union(both.select(col("pred"))).distinct()
      val tp = both.filter(col("actual") === col("pred"))
        .groupBy(col("actual").as("lang")).agg(count(lit(1)).as("tp"))
      val ap = both.groupBy(col("actual").as("lang")).agg(count(lit(1)).as("na"))
      val pp = both.groupBy(col("pred").as("lang")).agg(count(lit(1)).as("np"))
      def d(c: Column): Column = c.cast("double")
      def safe(num: Column, den: Column): Column =
        when(den > 0, num / den).otherwise(lit(0.0))
      val per = labels.join(tp, Seq("lang"), "left")
        .join(ap, Seq("lang"), "left").join(pp, Seq("lang"), "left")
        .select(col("lang"), coalesce(col("tp"), lit(0L)).as("tp"),
          coalesce(col("na"), lit(0L)).as("na"),
          coalesce(col("np"), lit(0L)).as("np"))
        .withColumn("precision", safe(d(col("tp")), d(col("np"))))
        .withColumn("recall", safe(d(col("tp")), d(col("na"))))
        .withColumn("f1", when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall")
            / (col("precision") + col("recall"))).otherwise(lit(0.0)))
        .cut()
      val macroRow = per.agg(
        aggregate(array_sort(collect_list(struct(col("lang"), col("f1").as("v")))),
          lit(0.0), (acc, e) => round(acc + e.getField("v"), 12)).as("sf1"),
        count(lit(1)).as("k"), sum(col("tp")).as("tp"), sum(col("na")).as("na"),
        sum(col("np")).as("np"))
        .select(lit("__macro__").as("lang"), col("tp"), col("na"), col("np"),
          lit(0.0).as("precision"), lit(0.0).as("recall"),
          (col("sf1") / col("k").cast("double")).as("f1"))
      per.select(col("lang"), col("tp"), col("na"), col("np"),
          col("precision"), col("recall"), col("f1"))
        .union(macroRow)
        .select(col("lang"), col("tp"), col("na"), col("np"),
          round(col("precision"), 6).as("precision"),
          round(col("recall"), 6).as("recall"), round(col("f1"), 6).as("f1"))
    }),

    "q284_clustering_eval" -> ((s, dir) => {
      // External clustering evaluation of the q72 LSH near-dup
      // components against the embedding LABEL ground truth: purity and
      // NMI. (First cut evaluated the q169 label-propagation
      // communities — the co-purchase graph is so dense that LP
      // collapses to ONE community at every threshold, H(C) = 0 and NMI
      // is undefined; the near-dup components have real cluster
      // structure.) Vectors in no pair are their own singleton cluster;
      // the (cluster × label) grid is bounded; entropies and mutual
      // information fold ordered over it with a 12-dp fixed point.
      val e = tbl(s, dir, "embeddings")
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      val pairs = graft.operators.Similarity.nearDuplicatePairs(e, "vec_id",
        "embedding", nPlanes = 4, dim = dim, threshold = 0.3)
        .select(col("id_a"), col("id_b"))
      val comp = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("vertex", "vec_id")
      val grid = e.select(col("vec_id"), col("label"))
        .join(comp, Seq("vec_id"), "left")
        .select(coalesce(col("component"), col("vec_id")).as("community"),
          col("label"))
        .groupBy(col("community"), col("label")).agg(count(lit(1)).as("c"))
        .cut()
      def d(c: Column): Column = c.cast("double")
      val n = grid.agg(sum(col("c")).as("n"))
      val byC = grid.groupBy(col("community")).agg(sum(col("c")).as("nc"),
        max(col("c")).as("mx")).cut()
      val byN = grid.groupBy(col("label")).agg(sum(col("c")).as("nn"))
      def entFold(df: DataFrame, key: Column, cnt: Column, out: String) =
        df.crossJoin(broadcast(n))
          .select(key.as("k"),
            (-(d(cnt) / d(col("n"))) * log(d(cnt) / d(col("n")))).as("e"))
          .agg(aggregate(array_sort(collect_list(struct(col("k"),
              col("e").as("e")))), lit(0.0),
            (acc, e) => round(acc + e.getField("e"), 12)).as(out))
      val hc = entFold(byC, col("community"), col("nc"), "hc")
      val hn = entFold(byN, col("label"), col("nn"), "hn")
      val mi = grid
        .join(broadcast(byC.select(col("community"), col("nc"))), Seq("community"))
        .join(broadcast(byN), Seq("label"))
        .crossJoin(broadcast(n))
        .select(col("community"), col("label"),
          ((d(col("c")) / d(col("n"))) *
            log(d(col("n")) * d(col("c")) / (d(col("nc")) * d(col("nn")))))
            .as("i"))
        .agg(aggregate(array_sort(collect_list(struct(col("community"),
            col("label"), col("i").as("i")))), lit(0.0),
          (acc, e) => round(acc + e.getField("i"), 12)).as("mi"))
      val purity = byC.crossJoin(broadcast(n))
        .agg((sum(col("mx")).cast("double")
          / max(col("n")).cast("double")).as("purity"),
          count(lit(1)).as("n_communities"), max(col("n")).as("n"))
      purity.crossJoin(broadcast(hc)).crossJoin(broadcast(hn))
        .crossJoin(broadcast(mi))
        .select(col("n"), col("n_communities"), round(col("purity"), 6).as("purity"),
          round(when(col("hc") > 0 && col("hn") > 0,
            col("mi") / sqrt(col("hc") * col("hn"))).otherwise(lit(0.0)), 6)
            .as("nmi"))
    }),

    "q285_mcc" -> ((s, dir) => {
      // Matthews correlation for the binary "is English" task (truth =
      // document lang, prediction = the n-gram identifier): the
      // balanced-binary-classifier metric from four exact integer
      // counts; products ride DECIMAL(38,0), the denominator is the
      // product of four square roots (textually mirrored).
      val both = tbl(s, dir, "documents").select(
        (col("lang") === "en").as("t"),
        (graft.plans.TextKernels.langIdNative(col("text"), ngramProfiles)
          === "en").as("p"))
      val cm = both.agg(
        sum(when(col("t") && col("p"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("t") && !col("p"), 1L).otherwise(0L)).as("tn"),
        sum(when(!col("t") && col("p"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("t") && !col("p"), 1L).otherwise(0L)).as("fn"))
      def dd(c: Column): Column = c.cast("decimal(38,0)")
      def d(c: Column): Column = c.cast("double")
      cm.select(col("tp"), col("tn"), col("fp"), col("fn"),
        round((d(dd(col("tp")) * dd(col("tn")) - dd(col("fp")) * dd(col("fn"))))
          / (sqrt(d(col("tp") + col("fp"))) * sqrt(d(col("tp") + col("fn")))
            * sqrt(d(col("tn") + col("fp"))) * sqrt(d(col("tn") + col("fn")))), 6)
          .as("mcc"))
    }),

    "q286_psi" -> ((s, dir) => {
      // Population Stability Index between two deterministic halves of
      // the event stream (event_id parity) over fixed value bands — the
      // industry drift gate next to q127's KL. Band counts are exact
      // integers; the ≤10-term Σ(p−q)·ln(p/q) folds ordered by band,
      // empty-on-either-side bands contribute 0 in both engines.
      val e = Tables.events(s, dir).select(
        (col("event_id") % 2 === 0).as("h"),
        least(floor(col("value") / 100.0).cast("long"), lit(9L)).as("band"))
      val g = e.groupBy(col("band")).agg(
        sum(when(col("h"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("h"), 0L).otherwise(1L)).as("c2"))
        .cut()
      val tot = g.agg(sum(col("c1")).as("t1"), sum(col("c2")).as("t2"))
      def d(c: Column): Column = c.cast("double")
      val terms = g.crossJoin(broadcast(tot))
        .select(col("band"), col("c1"), col("c2"),
          when(col("c1") > 0 && col("c2") > 0,
            (d(col("c1")) / d(col("t1")) - d(col("c2")) / d(col("t2")))
              * log((d(col("c1")) / d(col("t1")))
                / (d(col("c2")) / d(col("t2")))))
            .otherwise(lit(0.0)).as("term"))
        .cut()
      val psi = terms.agg(
        aggregate(array_sort(collect_list(struct(col("band"),
            col("term").as("t")))), lit(0.0),
          (acc, e) => round(acc + e.getField("t"), 12)).as("psi"))
      terms.crossJoin(broadcast(psi))
        .select(col("band"), col("c1"), col("c2"),
          round(col("term"), 6).as("term"), round(col("psi"), 6).as("psi"))
    }),

    "q292_mcnemar" -> ((s, dir) => {
      // McNemar's paired test between the two language identifiers
      // (stopword vs n-gram) on per-document CORRECTNESS — the paired
      // significance view next to q281's agreement κ. Only the
      // discordant cells matter: χ² = (b−c)²/(b+c), with the
      // continuity-corrected variant alongside; exact integers until
      // the final division.
      val both = tbl(s, dir, "documents").select(
        (graft.functions.Text.langIdByStopwords(
          graft.functions.Text.tokens(col("text")), langMarkers)
          === col("lang")).as("c1"),
        (graft.plans.TextKernels.langIdNative(col("text"), ngramProfiles)
          === col("lang")).as("c2"))
      val cm = both.agg(
        sum(when(col("c1") && !col("c2"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("c1") && col("c2"), 1L).otherwise(0L)).as("c"))
      def d(c: Column): Column = c.cast("double")
      cm.select(col("b"), col("c"),
        round((d(col("b")) - d(col("c"))) * (d(col("b")) - d(col("c")))
          / (d(col("b")) + d(col("c"))), 6).as("chi2"),
        round((abs(d(col("b")) - d(col("c"))) - lit(1.0))
          * (abs(d(col("b")) - d(col("c"))) - lit(1.0))
          / (d(col("b")) + d(col("c"))), 6).as("chi2_cc"))
    }),

    "q293_power_analysis" -> ((s, dir) => {
      // Two-proportion sample-size planning per brand: n per arm to
      // detect a +10% relative lift in the return rate at α = 0.05
      // (two-sided) and power 0.80 — n = (z_α·√(2p̄q̄) +
      // z_β·√(p₁q₁+p₂q₂))² / (p₂−p₁)². Brand-grid closed forms over
      // exact integer counts; z constants are literals in both engines.
      val b = tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part").select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("pos"))
      def d(c: Column): Column = c.cast("double")
      val p1 = d(col("pos")) / d(col("n"))
      val p2 = p1 * lit(1.1)
      val pbar = (p1 + p2) / lit(2.0)
      val num = lit(1.96) * sqrt(lit(2.0) * pbar * (lit(1.0) - pbar)) +
        lit(0.8416) * sqrt(p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2))
      // Degenerate brands (pos = 0 → zero effect size, or p2 ≥ 1 →
      // √negative) get NULL rather than ceil(NaN/Inf): ANSI Spark would
      // THROW on the cast where DuckDB yields NaN — the same divergence
      // q263's side() guards. Same CASE in the oracle.
      b.select(col("brand"), col("n"),
        round(p1, 6).as("base_rate"),
        when(col("pos") === 0 || p2 >= 1.0, lit(null).cast("long"))
          .otherwise(ceil((num * num) / ((p2 - p1) * (p2 - p1))).cast("long"))
          .as("n_per_arm"))
    }),

    "q294_xbar_control_chart" -> ((s, dir) => {
      // Shewhart X̄-R control chart over weekly subgroups of the daily
      // revenue series (subgroup = 7 consecutive grid days): centerline
      // and A2·R̄ limits (A2 = 0.419 for n = 7), each week flagged
      // out-of-control. Subgroup stats are exact-cents aggregates on
      // the calendar-bounded week grid; the chart constants are shared
      // literals.
      val idx = dailyIdx(s, dir)
        .withColumn("wk", expr("div(t - 1, 7)"))
      val weeks = idx.groupBy(col("wk"))
        .agg(count(lit(1)).as("nd"), sum(col("x")).as("sx"),
          max(col("x")).as("mx"), min(col("x")).as("mn"))
        .filter(col("nd") === 7) // only full subgroups
        .cut()
      def d(c: Column): Column = c.cast("double")
      val xbar = d(col("sx")) / lit(7.0)
      val weekStats = weeks.select(col("wk"), xbar.as("xbar"),
        (d(col("mx")) - d(col("mn"))).as("r"))
        .cut()
      // Centers from EXACT integer sums, one double division each
      // (roundlint r11): the first cut folded the per-week DOUBLES with
      // 6-dp step rounds, but at cents magnitude ~1e8 the step round is
      // itself boundary-fragile (ulp ≈ 3e-8 within 5e-7 of the grid) —
      // the sf0.01 gate caught the two engines' folds apart in the last
      // ulp. Σsx and Σ(mx−mn) are exact BIGINTs; cl = Σsx/7/k and
      // rbar = Σr/k are then single deterministic IEEE ops, so every
      // output is bit-identical UNROUNDED at any corpus magnitude.
      val centers = weeks.agg(count(lit(1)).as("k"),
        sum(col("sx")).as("ssx"),
        sum(col("mx") - col("mn")).as("srx"))
        .select((d(col("ssx")) / lit(7.0) / d(col("k"))).as("cl"),
          (d(col("srx")) / d(col("k"))).as("rbar"))
      weekStats.crossJoin(broadcast(centers))
        .select(col("wk"), col("xbar"),
          col("cl").as("center"),
          (col("cl") + lit(0.419) * col("rbar")).as("ucl"),
          (col("cl") - lit(0.419) * col("rbar")).as("lcl"),
          (col("xbar") > col("cl") + lit(0.419) * col("rbar") ||
            col("xbar") < col("cl") - lit(0.419) * col("rbar"))
            .as("out_of_control"))
    }),

    "q289_grubbs_test" -> ((s, dir) => {
      // Grubbs' max-studentized-deviation outlier test on the monthly
      // revenue grid: G = max|x−μ|/s over the calendar-bounded months,
      // moments from EXACT cents (Σx, Σx² in DECIMAL(38,0)), the argmax
      // a TakeOrdered head on the grid with month tie-break.
      val m = tbl(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"))
          .as("x"))
        .cut()
      val xd = col("x").cast("decimal(38,0)")
      val g = m.agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
        sum(xd * xd).as("s2"))
      def d(c: Column): Column = c.cast("double")
      val withStats = m.crossJoin(broadcast(g))
        .withColumn("mu", d(col("s1")) / d(col("n")))
        .withColumn("sd", sqrt((d(col("s2")) - d(col("n")) * (col("mu") * col("mu")))
          / (d(col("n")) - lit(1.0))))
        .withColumn("dev", abs(d(col("x")) - col("mu")) / col("sd"))
      withStats.orderBy(col("dev").desc, col("month")).limit(1)
        .select(col("n"), col("month").as("outlier_month"),
          round(col("dev"), 6).as("g_stat"))
    }),

    "q290_runs_test" -> ((s, dir) => {
      // Wald–Wolfowitz runs test for randomness of the daily revenue
      // series around its median: exact median by max-of-top-k on the
      // day grid, runs counted from consecutive sign flips (grid
      // re-ranked after dropping median-equal days), z from the
      // closed-form run moments — integers everywhere until the final
      // division.
      val idx = dailyIdx(s, dir).cut()
      val cnt = idx.count() // bounded: day-grid size
      val k1 = ((cnt + 1) / 2).toInt
      val k2 = (cnt / 2 + 1).toInt
      def kth(k: Int, as: String): DataFrame =
        idx.orderBy(col("x")).limit(k).agg(max(col("x")).as(as))
      val med = kth(k1, "ma").crossJoin(kth(k2, "mb"))
        .select(((col("ma") + col("mb")).cast("double") / lit(2.0))
          .as("med"))
      val signs = idx.crossJoin(broadcast(med))
        .filter(col("x").cast("double") =!= col("med"))
        .select(col("t"), (col("x").cast("double") > col("med")).as("up"))
      val ranked = operators.ScalableWindow
        .boundedRankCum(signs, Seq(("t", true)), "r")
        .cut()
      val flips = ranked.as("a")
        .join(ranked.as("b"), col("b.r") === col("a.r") + 1)
        .agg(sum(when(col("a.up") =!= col("b.up"), 1L).otherwise(0L)).as("fl"))
      val nn = ranked.agg(
        sum(when(col("up"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("up"), 0L).otherwise(1L)).as("n2"))
      def d(c: Column): Column = c.cast("double")
      flips.crossJoin(broadcast(nn))
        .withColumn("runs", col("fl") + 1L)
        .withColumn("mu", lit(2.0) * d(col("n1")) * d(col("n2"))
          / (d(col("n1")) + d(col("n2"))) + lit(1.0))
        .withColumn("s2",
          (lit(2.0) * d(col("n1")) * d(col("n2"))
            * (lit(2.0) * d(col("n1")) * d(col("n2"))
              - d(col("n1")) - d(col("n2"))))
          / ((d(col("n1")) + d(col("n2"))) * (d(col("n1")) + d(col("n2")))
            * (d(col("n1")) + d(col("n2")) - lit(1.0))))
        .select(col("n1"), col("n2"), col("runs"),
          round((d(col("runs")) - col("mu")) / sqrt(col("s2")), 6).as("z"))
    }),

    "q291_gains_table" -> ((s, dir) => {
      // Cumulative-gains / lift table for the q259 scorer: capture rate
      // and lift per score decile, cumulated best-score-first. Decile
      // counts are exact integers from one corpus pass; the 10-row
      // cumulative pass is the grid triangular join.
      val li = tbl(s, dir, "lineitem").select(
        (col("l_returnflag") === "R").as("y"),
        graft.plans.TextKernels.unitHashNative(concat(lit("auc_"),
          col("l_orderkey").cast("string"), lit("_"),
          col("l_linenumber").cast("string"))).as("score"))
      val bins = li
        .withColumn("decile", least(floor(col("score") * 10).cast("long"), lit(9L)))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"), sum(when(col("y"), 1L).otherwise(0L)).as("pos"))
      val cum = operators.ScalableWindow.boundedRankCum(bins,
        Seq(("decile", false)), "r", Seq(("n", "cn"), ("pos", "cpos")))
      val tot = bins.agg(sum(col("n")).as("tn"), sum(col("pos")).as("tp"))
      def d(c: Column): Column = c.cast("double")
      cum.crossJoin(broadcast(tot))
        .select(col("decile"), col("n"), col("pos"),
          round(d(col("cpos")) / d(col("tp")), 6).as("cum_capture"),
          round((d(col("cpos")) / d(col("cn")))
            / (d(col("tp")) / d(col("tn"))), 6).as("lift"))
    }),

    "q287_apportionment" -> ((s, dir) => {
      // Largest-remainder (Hamilton) apportionment of a 1000-sample
      // budget across sources by exact token share — the EXACT-quota
      // allocator next to q139's water-filling (quotas sum to the budget
      // by construction, no iterative rebalancing). Corpus work is one
      // (source, token-count) aggregate; floors, remainders and the
      // remainder rank all live on the source grid (triangular-join
      // rank — bounded).
      val counts = tbl(s, dir, "documents")
        .select(col("source"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("ntok"))
        .groupBy(col("source")).agg(sum(col("ntok")).as("tok"))
        .cut()
      val tot = counts.agg(sum(col("tok")).as("tt"))
      // Exact integer floor quota: (tok * 1000) div tt; remainder
      // compared as the exact integer tok*1000 − floor*tt (no floats).
      val q = counts.crossJoin(broadcast(tot))
        .withColumn("fl", expr("div(tok * 1000, tt)"))
        .withColumn("rem", col("tok") * 1000 - col("fl") * col("tt"))
        .cut()
      val ranked = operators.ScalableWindow.boundedRankCum(
        q.select(col("source"), col("tok"), col("fl"), col("rem")),
        Seq(("rem", false), ("source", true)), "rk")
      val leftover = q.agg((lit(1000L) - sum(col("fl"))).as("extra"))
      ranked.crossJoin(broadcast(leftover))
        .select(col("source"), col("tok"), col("fl").as("floor_quota"),
          (col("fl") + when(col("rk") <= col("extra"), 1L).otherwise(0L))
            .as("allocated"))
    }),

    "q288_er_survivorship" -> ((s, dir) => {
      // Entity-resolution survivorship — the missing last stage of the
      // q207 linkage pipeline: fuzzy class pairs → connected components
      // → ONE golden record per merged cluster (canonical name = lexical
      // min, members/rows counted, max list price), emitted only for
      // clusters that actually merged ≥ 2 name classes. Everything
      // after the q207 block join is vocabulary-bounded.
      val part = tbl(s, dir, "part")
      val classes = part.groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("k"), count(lit(1)).as("n"),
          max(col("p_retailprice").cast(dec)).as("mx"))
        .withColumn("blk", split(col("p_name"), " ").getItem(0))
        .cut()
      val a = classes.select(col("blk"), col("p_name").as("name_a"),
        col("k").as("key_a"))
      val b = classes.select(col("blk"), col("p_name").as("name_b"),
        col("k").as("key_b"))
      val pairs = a.join(b, Seq("blk")).filter(col("key_a") < col("key_b"))
        .filter(levenshtein(col("name_a"), col("name_b")) <= 3)
        .select(col("key_a"), col("key_b"))
      val comp = graft.operators.Dedup.connectedComponents(pairs, "key_a", "key_b")
      val labeled = classes
        .join(comp.select(col("vertex").as("k"), col("component")), Seq("k"), "left")
        .select(coalesce(col("component"), col("k")).as("cluster"),
          col("p_name"), col("n"), col("mx"))
      labeled.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_names"), sum(col("n")).as("n_rows"),
          min(col("p_name")).as("canonical_name"),
          max(col("mx")).cast("double").as("max_retail"))
        .filter(col("n_names") >= 2)
    }),

    "q278_calibration_ece" -> ((s, dir) => {
      // Reliability table + expected calibration error for the q259
      // synthetic scorer: 10 equal-width confidence bins, per-bin mean
      // score vs empirical positive rate, ECE = Σ (n_b/n)·|acc − conf|.
      // Bin stats are exact integers plus the lossless v=score·2³² sum;
      // the 10-term ECE folds ordered by bin.
      val li = tbl(s, dir, "lineitem").select(
        (col("l_returnflag") === "R").as("y"),
        graft.plans.TextKernels.unitHashNative(concat(lit("auc_"),
          col("l_orderkey").cast("string"), lit("_"),
          col("l_linenumber").cast("string"))).as("score"))
      val binned = li
        .withColumn("bin", least(floor(col("score") * 10).cast("long"), lit(9L)))
        .withColumn("v", (col("score") * lit(4294967296.0)).cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("y"), 1L).otherwise(0L)).as("pos"),
          sum(col("v").cast("decimal(38,0)")).as("sv"))
        .cut()
      val tot = binned.agg(sum(col("n")).as("tn"))
      def d(c: String): Column = col(c).cast("double")
      val withConf = binned.crossJoin(broadcast(tot))
        .withColumn("conf",
          d("sv") / lit(4294967296.0) / d("n"))
        .withColumn("acc", d("pos") / d("n"))
        .cut()
      val ece = withConf.agg(
        aggregate(array_sort(collect_list(struct(col("bin"),
            ((d("n") / d("tn")) * abs(col("acc") - col("conf"))).as("e")))),
          lit(0.0), (acc, e) => round(acc + e.getField("e"), 12)).as("ece"))
      withConf.crossJoin(broadcast(ece))
        .select(col("bin"), col("n"), round(col("conf"), 6).as("mean_score"),
          round(col("acc"), 6).as("frac_pos"), round(col("ece"), 6).as("ece"))
    }),

    // ── r8 economics / industrial-statistics tier ──────────────────────

    "q296_herfindahl" -> ((s, dir) => {
      // Supplier-revenue concentration (Herfindahl–Hirschman index) per
      // nation: HHI = Σ share², share = supplier revenue / nation
      // revenue. Two map-combinable aggregations — (nation, supplier)
      // partials then the nation rollup — output is nation-grid-sized.
      // Squares ride DECIMAL(38,0) so Σr² is EXACT at any SF (a bigint
      // square overflows past ~3 G cents); the only double op is the
      // final one-division share-of-squares.
      val li = tbl(s, dir, "lineitem").select(col("l_suppkey"),
        expr(s"cast(cast(l_extendedprice as $dec) * 100 as bigint)").as("c"))
      val sup = tbl(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val nat = tbl(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val rev = li
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), col("s_suppkey"))
        .agg(sum(col("c")).as("r"))
      rev.groupBy(col("nation"))
        .agg(count(lit(1)).as("n_suppliers"), sum(col("r")).as("tot"),
          sum(col("r").cast("decimal(19,0)") * col("r").cast("decimal(19,0)"))
            .as("sq"))
        .select(col("nation"), col("n_suppliers"),
          round(col("sq").cast("double")
            / (col("tot").cast("double") * col("tot").cast("double")), 6)
            .as("hhi"))
    }),

    "q297_price_elasticity" -> ((s, dir) => {
      // Log-log demand elasticity per brand: OLS slope of ln(monthly
      // quantity) on ln(monthly mean unit price) over the brand×month
      // grid. Corpus pass = one map-combinable (brand, month) aggregate
      // of exact cents; the per-brand regression folds the BOUNDED month
      // list position-ordered (the q275 convention) so float summation
      // order is pinned; ln inputs are exact-integer ratios rounded to
      // 9 dp before the transcendental.
      val li = tbl(s, dir, "lineitem")
      val p = tbl(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      val cells = li
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"),
          date_format(col("l_shipdate"), "yyyy-MM").as("month"))
        .agg(expr(s"sum(cast(cast(l_extendedprice as $dec) * 100 as bigint))")
            .as("sp"),
          expr(s"sum(cast(cast(l_quantity as $dec) * 100 as bigint))").as("sq"))
        .select(col("brand"), col("month"),
          round(log(col("sp").cast("double") / col("sq").cast("double")), 9)
            .as("x"),
          round(log(col("sq").cast("double") / lit(100.0)), 9).as("y"))
      // r12 magnitude lint: the per-step 12-dp fixed-point rounds are
      // gone — sxx can reach ~1e5, where a 1e-12 step falls inside the
      // 2^53 double-mantissa budget's margin (x·1e12 ≳ 9e15 is the
      // q294 fragility bound at ~4.5e3). The ordered folds of the SAME
      // 9-dp terms are identical IEEE chains in both engines as-is.
      val folded = cells.groupBy(col("brand"))
        .agg(count(lit(1)).as("n"),
          aggregate(array_sort(collect_list(struct(col("month"), col("x")))),
            lit(0.0), (a, e) => a + e.getField("x")).as("sx"),
          aggregate(array_sort(collect_list(struct(col("month"), col("y")))),
            lit(0.0), (a, e) => a + e.getField("y")).as("sy"),
          aggregate(array_sort(collect_list(struct(col("month"),
              (col("x") * col("y")).as("xy")))),
            lit(0.0), (a, e) => a + e.getField("xy")).as("sxy"),
          aggregate(array_sort(collect_list(struct(col("month"),
              (col("x") * col("x")).as("xx")))),
            lit(0.0), (a, e) => a + e.getField("xx")).as("sxx"))
      def d(c: String): Column = col(c).cast("double")
      folded.select(col("brand"), col("n").as("n_months"),
        round((d("n") * col("sxy") - col("sx") * col("sy"))
          / (d("n") * col("sxx") - col("sx") * col("sx")), 6).as("elasticity"))
    }),

    "q298_gini_by_nation" -> ((s, dir) => {
      // Exact Gini coefficient of customer spend per nation:
      // G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) over the within-nation
      // spend order. The rank window is NATION-partitioned (key-parallel
      // — the allowed window class); Σ i·x rides DECIMAL(38,0) (rank ×
      // cents exceeds bigint range at warehouse SF). One corpus pass,
      // nation-grid output, one final double division.
      val spend = tbl(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(expr(s"sum(cast(cast(o_totalprice as $dec) * 100 as bigint))")
          .as("x"))
      val c = tbl(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val nat = tbl(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val w = Window.partitionBy(col("nation"))
        .orderBy(col("x").asc, col("o_custkey").asc)
      spend
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("o_custkey"), col("x"))
        .withColumn("i", row_number().over(w).cast("long"))
        .groupBy(col("nation"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("i").cast("decimal(19,0)") * col("x").cast("decimal(19,0)"))
            .as("six"))
        .select(col("nation"), col("n").as("n_customers"),
          round((lit(2.0) * col("six").cast("double")
            - (col("n") + 1).cast("double") * col("sx").cast("double"))
            / (col("n").cast("double") * col("sx").cast("double")), 6)
            .as("gini"))
    }),

    "q299_newsvendor" -> ((s, dir) => {
      // Newsvendor stocking quantile per brand: critical fractile
      // cf = 1 − return_rate (quantity-weighted), optimal stock = the
      // cf-quantile (lower percentile_disc) of DAILY brand demand. The
      // quantile threshold is the EXACT integer inequality
      // rank·tot ≥ (tot − ret)·n_days — no double ever decides a row, so
      // both engines pick the identical day. Demand ranks are
      // brand-partitioned (key-parallel); output is brand-grid-sized.
      val li = tbl(s, dir, "lineitem")
      val p = tbl(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      val rows = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          col("l_shipdate").cast("date").as("day"),
          expr(s"cast(cast(l_quantity as $dec) * 100 as bigint)").as("q"),
          when(col("l_returnflag") === "R",
            expr(s"cast(cast(l_quantity as $dec) * 100 as bigint)"))
            .otherwise(0L).as("rq"))
      val daily = rows.groupBy(col("brand"), col("day"))
        .agg(sum(col("q")).as("x"))
      val rates = rows.groupBy(col("brand"))
        .agg(sum(col("q")).as("tot"), sum(col("rq")).as("ret"))
      val nDays = daily.groupBy(col("brand")).agg(count(lit(1)).as("nd"))
      val w = Window.partitionBy(col("brand"))
        .orderBy(col("x").asc, col("day").asc)
      daily.withColumn("rn", row_number().over(w).cast("long"))
        .join(broadcast(rates), Seq("brand"))
        .join(broadcast(nDays), Seq("brand"))
        .filter(col("rn") * col("tot") >= (col("tot") - col("ret")) * col("nd"))
        .groupBy(col("brand"))
        .agg(min(col("x")).as("stock_qty_cents"),
          max(col("nd")).as("n_days"),
          round(lit(1.0)
            - max(col("ret")).cast("double") / max(col("tot")).cast("double"), 6)
            .as("critical_fractile"))
    }),

    "q300_ks_two_sample" -> ((s, dir) => {
      // Two-sample Kolmogorov–Smirnov: BUILDING vs MACHINERY customer
      // segments over order totals. ECDFs ride bandedCumSum (zero
      // unpartitioned windows — the q203 machinery) on the distinct-value
      // grid; the supremum picks max|cum1·n2 − cum2·n1| as an EXACT
      // bigint before the single normalizing division, so the argmax is
      // engine-independent. One corpus pass + value-grid work.
      val seg = tbl(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      val v = tbl(s, dir, "orders")
        .join(seg, col("o_custkey") === col("c_custkey"))
        .select(expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)").as("v"),
          (col("c_mktsegment") === "BUILDING").as("g1"))
      // Checkpointed: consumed by BOTH the banded pass (which then skips
      // its own internal pin) and the n1/n2 totals — one grid build.
      val grid = v.groupBy(col("v"))
        .agg(sum(when(col("g1"), 1L).otherwise(0L)).as("c1"),
          sum(when(col("g1"), 0L).otherwise(1L)).as("c2"))
        .cut()
      // Both ECDFs share one banded pass (r13): the chained form
      // re-evaluated the order⋈segment grid per call (3 references
      // each); the multi-column form cuts/windows/offsets once.
      val cum2 = operators.ScalableWindow.bandedCumSums(grid, "v",
        descending = false, Seq.empty,
        Seq("c1" -> "cum1", "c2" -> "cum2"))
      val tot = grid.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      def d(c: String): Column = col(c).cast("double")
      cum2.crossJoin(broadcast(tot))
        .select(col("n1"), col("n2"),
          abs(col("cum1") * col("n2") - col("cum2") * col("n1")).as("dn"))
        .groupBy(col("n1"), col("n2"))
        .agg(max(col("dn")).as("dmax"))
        .select(col("n1"), col("n2"),
          round(d("dmax") / (d("n1") * d("n2")), 6).as("ks_d"),
          round(d("dmax") / (d("n1") * d("n2"))
            * sqrt(d("n1") * d("n2") / (d("n1") + d("n2"))), 6).as("ks_scaled"))
    }),

    "q301_kendall_grid" -> ((s, dir) => {
      // Kendall τ-b between brand mean price and brand return rate over
      // the 25-brand grid: concordance counted on grid² (≤625 pairs —
      // grid-bounded, never corpus²). Orderings compare EXACT integer
      // cross-products (spA·cntB vs spB·cntA in DECIMAL(38,0)), so rank
      // comparisons never touch a double; τ-b's tie-corrected
      // denominator is the only floating step.
      val li = tbl(s, dir, "lineitem")
      val p = tbl(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      val g = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(expr(s"sum(cast(cast(l_extendedprice as $dec) * 100 as bigint))")
            .as("sp"),
          count(lit(1)).as("cnt"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("ret"))
        .cut()
      def dd(c: Column): Column = c.cast("decimal(19,0)")
      val pr = g.as("a").join(g.as("b"),
          col("a.brand") < col("b.brand"))
        .select(
          signum((dd(col("a.sp")) * dd(col("b.cnt"))
            - dd(col("b.sp")) * dd(col("a.cnt"))).cast("double")).as("sx"),
          signum((dd(col("a.ret")) * dd(col("b.cnt"))
            - dd(col("b.ret")) * dd(col("a.cnt"))).cast("double")).as("sy"))
      pr.agg(count(lit(1)).as("n0"),
          sum(when(col("sx") * col("sy") > 0, 1L).otherwise(0L)).as("nc"),
          sum(when(col("sx") * col("sy") < 0, 1L).otherwise(0L)).as("nd"),
          sum(when(col("sx") === 0, 1L).otherwise(0L)).as("tx"),
          sum(when(col("sy") === 0, 1L).otherwise(0L)).as("ty"))
        .select(col("n0"), col("nc"), col("nd"),
          round((col("nc") - col("nd")).cast("double")
            / sqrt((col("n0") - col("tx")).cast("double")
              * (col("n0") - col("ty")).cast("double")), 6).as("tau_b"))
    }),

    "q302_levene_bf" -> ((s, dir) => {
      // Brown–Forsythe (median-based Levene) homogeneity-of-variance
      // test across the five market segments over order totals. Exact
      // group medians come from segment-partitioned ranks (key-parallel)
      // as 2·median in cents (integer even for even n); |deviations| and
      // their squares stay exact (DECIMAL(38,0) for the squares); W's
      // numerator/denominator are assembled from those exact sums with
      // one final division.
      val seg = tbl(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val x = tbl(s, dir, "orders")
        .join(seg, col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("g"), col("o_orderkey"),
          expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)").as("x"))
      val w = Window.partitionBy(col("g")).orderBy(col("x").asc, col("o_orderkey").asc)
      val ranked = x.withColumn("rn", row_number().over(w).cast("long"))
      val meds = ranked.groupBy(col("g")).agg(count(lit(1)).as("n"))
        .join(ranked.select(col("g"), col("rn"), col("x")), Seq("g"))
        .filter(expr("rn = div(n + 1, 2) OR rn = div(n, 2) + 1"))
        .groupBy(col("g"))
        .agg(sum(col("x")).as("med2x"), count(lit(1)).as("nm"))
        // odd n hits the same row twice (rn formulas coincide) -> double it.
        .select(col("g"),
          when(col("nm") === 1, col("med2x") * 2).otherwise(col("med2x"))
            .as("med2"))
      val z = x.join(broadcast(meds), Seq("g"))
        .select(col("g"), abs(col("x") * 2 - col("med2")).as("z"))
      val grp = z.groupBy(col("g"))
        .agg(count(lit(1)).as("ni"), sum(col("z")).as("sz"),
          sum(col("z").cast("decimal(19,0)") * col("z").cast("decimal(19,0)"))
            .as("szz"))
        .cut()
      val k = grp.agg(count(lit(1)).as("k"), sum(col("ni")).as("nn"),
        sum(col("sz").cast("decimal(19,0)")).as("gz"))
      def d(c: Column): Column = c.cast("double")
      // Within-group SS = Σ(z²) − (Σz)²/nᵢ; between SS from group means
      // vs the grand mean — all from the same exact sums.
      grp.crossJoin(broadcast(k))
        .select(col("g"), col("ni"), col("k"), col("nn"),
          (d(col("sz")) / d(col("ni"))
            - d(col("gz")) / d(col("nn"))).as("dm"),
          (d(col("szz")) - d(col("sz")) * d(col("sz")) / d(col("ni"))).as("wss"))
        .groupBy(col("k"), col("nn"))
        // k-group double sums fold ORDERED BY segment name (k = 5 rows,
        // but the convention is no order-free float summation anywhere).
        // r12 magnitude lint: no per-term/per-step rounds — ni·dm² and
        // wss reach ~1e19 at sf10, where a 9-dp step sits far BELOW the
        // double ulp (the q294 fragility class); the unrounded ordered
        // fold is the identical IEEE chain in both engines.
        .agg(aggregate(array_sort(collect_list(struct(col("g"),
              (col("ni").cast("double") * col("dm") * col("dm")).as("b")))),
            lit(0.0), (a, e) => a + e.getField("b")).as("bss"),
          aggregate(array_sort(collect_list(struct(col("g"),
              col("wss").as("w")))),
            lit(0.0), (a, e) => a + e.getField("w")).as("wss"))
        .select(col("k").as("n_groups"), col("nn").as("n_obs"),
          round((col("bss") / (col("k") - 1).cast("double"))
            / (col("wss") / (col("nn") - col("k")).cast("double")), 6)
            .as("levene_w"))
    }),

    "q303_jarque_bera" -> ((s, dir) => {
      // Jarque–Bera normality test on the daily revenue series, binned
      // to $1000 units so ALL four power sums stay exact integers
      // (4th powers of raw cents overflow even DECIMAL(38,0) at
      // warehouse SF; the binned statistic is the declared contract and
      // is identical in both engines). One day-grid aggregate; skewness/
      // kurtosis/JB assembled from the exact sums in doubles.
      val daily = tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(expr(s"sum(cast(cast(o_totalprice as $dec) * 100 as bigint))")
          .as("c"))
        .select(expr("div(c + 50000, 100000)").as("x"))
      val m = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"),
        sum(col("x").cast("decimal(19,0)") * col("x").cast("decimal(19,0)")
          * col("x").cast("decimal(19,0)")).as("s3"),
        sum((col("x").cast("decimal(19,0)") * col("x").cast("decimal(19,0)"))
          * (col("x").cast("decimal(19,0)") * col("x").cast("decimal(19,0)")))
          .as("s4"))
      def d(c: String): Column = col(c).cast("double")
      m.select(col("n").as("n_days"),
          (d("s1") / d("n")).as("mu"),
          d("n").as("nd"), d("s2").as("d2"), d("s3").as("d3"), d("s4").as("d4"))
        .select(col("n_days"),
          col("mu"),
          ((col("d2") / col("nd")) - col("mu") * col("mu")).as("m2"),
          (col("d3") / col("nd") - lit(3.0) * col("mu") * (col("d2") / col("nd"))
            + lit(2.0) * col("mu") * col("mu") * col("mu")).as("m3"),
          (col("d4") / col("nd")
            - lit(4.0) * col("mu") * (col("d3") / col("nd"))
            + lit(6.0) * col("mu") * col("mu") * (col("d2") / col("nd"))
            - lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu")).as("m4"),
          col("nd"))
        .select(col("n_days"),
          round(col("m3") / sqrt(col("m2") * col("m2") * col("m2")), 6)
            .as("skewness"),
          round(col("m4") / (col("m2") * col("m2")), 6).as("kurtosis"),
          round(col("nd") / lit(6.0)
            * (pow(col("m3") / sqrt(col("m2") * col("m2") * col("m2")), 2)
              + pow(col("m4") / (col("m2") * col("m2")) - lit(3.0), 2)
                / lit(4.0)), 6).as("jarque_bera"))
    }),

    "q304_poisson_dispersion" -> ((s, dir) => {
      // Overdispersion diagnostic per brand: variance-to-mean ratio of
      // DAILY order-line counts (a Poisson process would sit at 1).
      // Counts are integers, so n, Σc, Σc² are exact and the dispersion
      // is one double division of exact bigints; brand-grid output.
      val li = tbl(s, dir, "lineitem")
      val p = tbl(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      val daily = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"),
          col("l_shipdate").cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
      def d(c: String): Column = col(c).cast("double")
      daily.groupBy(col("brand"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
          sum(col("c") * col("c")).as("scc"))
        .select(col("brand"), col("n").as("n_days"),
          round(d("sc") / d("n"), 6).as("mean_count"),
          round((d("n") * d("scc") - d("sc") * d("sc"))
            / ((d("n") - lit(1.0)) * d("sc")), 6).as("dispersion"))
    }),

    "q305_cohens_kappa" -> ((s, dir) => {
      // Cohen's κ between two binary "raters" over lineitems — returned
      // (l_returnflag = R) vs finalized (l_linestatus = F): the
      // inter-rater agreement estimator on the 2×2 contingency of exact
      // counts. One map-combinable pass; κ is assembled from the four
      // cells with doubles only at the end.
      val li = tbl(s, dir, "lineitem").select(
        (col("l_returnflag") === "R").as("a"),
        (col("l_linestatus") === "F").as("b"))
      val m = li.agg(count(lit(1)).as("n"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
      def d(c: String): Column = col(c).cast("double")
      m.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
          ((d("n11") + d("n00")) / d("n")).as("po"),
          (((d("n11") + d("n10")) * (d("n11") + d("n01"))
            + (d("n01") + d("n00")) * (d("n10") + d("n00")))
            / (d("n") * d("n"))).as("pe"))
        .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
          round(col("po"), 6).as("observed_agreement"),
          round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6).as("kappa"))
    }),

    "q306_partial_corr" -> ((s, dir) => {
      // Partial correlation of order value and line count, controlling
      // for total discount: one map-combinable moment aggregate over the
      // per-order rollup (second-order sums in DECIMAL(38,0) — Σx²
      // exceeds bigint range past ~15 k orders), then the three pairwise
      // r's and the partial r assembled in closed form. One-row output.
      val per = tbl(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(expr(s"sum(cast(cast(l_extendedprice as $dec) * 100 as bigint))")
            .as("x"),
          count(lit(1)).as("y"),
          expr(s"sum(cast(cast(l_discount as decimal(18,4)) * 10000 as bigint))")
            .as("z"))
      def d19(c: String): Column = col(c).cast("decimal(19,0)")
      val m = per.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"), sum(col("z")).as("sz"),
        sum(d19("x") * d19("y")).as("sxy"),
        sum(d19("x") * d19("z")).as("sxz"),
        sum(d19("y") * d19("z")).as("syz"),
        sum(d19("x") * d19("x")).as("sxx"),
        sum(d19("y") * d19("y")).as("syy"),
        sum(d19("z") * d19("z")).as("szz"))
      def d(c: String): Column = col(c).cast("double")
      def r(ab: String, a: String, b: String, aa: String, bb: String): Column =
        (d("n") * d(ab) - d(a) * d(b)) /
          sqrt((d("n") * d(aa) - d(a) * d(a)) * (d("n") * d(bb) - d(b) * d(b)))
      m.select(col("n").as("n_orders"),
          r("sxy", "sx", "sy", "sxx", "syy").as("rxy"),
          r("sxz", "sx", "sz", "sxx", "szz").as("rxz"),
          r("syz", "sy", "sz", "syy", "szz").as("ryz"))
        .select(col("n_orders"),
          round(col("rxy"), 6).as("r_value_lines"),
          round(col("rxz"), 6).as("r_value_discount"),
          round(col("ryz"), 6).as("r_lines_discount"),
          round((col("rxy") - col("rxz") * col("ryz"))
            / sqrt((lit(1.0) - col("rxz") * col("rxz"))
              * (lit(1.0) - col("ryz") * col("ryz"))), 6)
            .as("partial_r"))
    }),

    "q307_cooks_distance" -> ((s, dir) => {
      // Top-10 most influential days of the daily-revenue-on-time OLS by
      // Cook's distance — the regression-diagnostics pass that flags the
      // days dragging the trend line. Slope/intercept/SSE come from ONE
      // exact moment aggregate (closed forms — no per-row residual sum,
      // so no float-order hazard); each day's leverage and D are then
      // pure per-row expressions and the head is TakeOrderedAndProject.
      val idx = dailyIdx(s, dir).cut()
      def d19(c: String): Column = col(c).cast("decimal(19,0)")
      val m = idx.agg(count(lit(1)).as("n"),
        sum(col("t")).as("st"), sum(col("x")).as("sx"),
        sum(d19("t") * d19("x")).as("stx"),
        sum(col("t") * col("t")).as("stt"),
        sum(d19("x") * d19("x")).as("sxx"))
      def d(c: String): Column = col(c).cast("double")
      val fit = m.select(col("n"), d("n").as("nd"),
          d("st").as("std"), d("sx").as("sxd"), d("stx").as("stxd"),
          d("stt").as("sttd"), d("sxx").as("sxxd"))
        .select(col("n"), col("nd"), col("std"), col("sxd"),
          (col("sttd") - col("std") * col("std") / col("nd")).as("Stt"),
          (col("stxd") - col("std") * col("sxd") / col("nd")).as("Stx"),
          (col("sxxd") - col("sxd") * col("sxd") / col("nd")).as("Sxx2"))
        .select(col("n"), col("nd"), col("std"), col("sxd"),
          col("Stt"), (col("Stx") / col("Stt")).as("b1"),
          ((col("Sxx2") - col("Stx") * col("Stx") / col("Stt"))
            / (col("nd") - lit(2.0))).as("s2"))
      idx.crossJoin(broadcast(fit))
        .select(col("t"), col("x"),
          (lit(1.0) / col("nd")
            + (d("t") - col("std") / col("nd")) * (d("t") - col("std") / col("nd"))
              / col("Stt")).as("h"),
          (d("x") - (col("sxd") / col("nd")
            + col("b1") * (d("t") - col("std") / col("nd")))).as("e"),
          col("s2"))
        .select(col("t"), col("x"), round(col("h"), 6).as("leverage"),
          round(col("e") * col("e") * col("h")
            / (lit(2.0) * col("s2") * (lit(1.0) - col("h")) * (lit(1.0) - col("h"))),
            6).as("cooks_d"))
        .orderBy(col("cooks_d").desc, col("t").asc)
        .limit(10)
    }),

    "q308_zipf_slope" -> ((s, dir) => {
      // Zipf exponent fit: OLS slope of ln(freq) on ln(rank) over the
      // top-500 vocabulary head (q153 reports the head; this fits the
      // law). Head extraction is TakeOrderedAndProject; ranks come from
      // ONE bounded sorted array (500 structs) via posexplode — no
      // window anywhere; the regression folds position-ordered. Equal
      // counts make the fit invariant to tie permutation (a tie block
      // occupies a contiguous rank range and y is constant on it).
      val tc = tbl(s, dir, "documents")
        .select(explode(functions.Text.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val top = tc.orderBy(col("cnt").desc, col("term").asc).limit(500)
      val ranked = top
        .agg(array_sort(collect_list(struct((-col("cnt")).as("negc"),
          col("term")))).as("a"))
        .select(posexplode(col("a")).as(Seq("pos", "e")))
        .select((col("pos") + 1).cast("long").as("rank"),
          (-col("e.negc")).as("cnt"))
        .select(col("rank"), col("cnt"),
          round(log(col("rank").cast("double")), 9).as("lx"),
          round(log(col("cnt").cast("double")), 9).as("ly"))
      val f = ranked.agg(count(lit(1)).as("n"),
        aggregate(array_sort(collect_list(struct(col("rank"), col("lx")))),
          lit(0.0), (a, e) => round(a + e.getField("lx"), 12)).as("sx"),
        aggregate(array_sort(collect_list(struct(col("rank"), col("ly")))),
          lit(0.0), (a, e) => round(a + e.getField("ly"), 12)).as("sy"),
        aggregate(array_sort(collect_list(struct(col("rank"),
            round(col("lx") * col("ly"), 12).as("v")))),
          lit(0.0), (a, e) => round(a + e.getField("v"), 12)).as("sxy"),
        aggregate(array_sort(collect_list(struct(col("rank"),
            round(col("lx") * col("lx"), 12).as("v")))),
          lit(0.0), (a, e) => round(a + e.getField("v"), 12)).as("sxx"))
      def d(c: String): Column = col(c).cast("double")
      f.select(col("n").as("n_terms"),
        round((d("n") * col("sxy") - col("sx") * col("sy"))
          / (d("n") * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"))
    }),

    "q309_burstiness" -> ((s, dir) => {
      // Term burstiness (Fano factor of per-document counts, zeros
      // included) for the 20 highest-df terms: var/mean = 1 for a
      // Poisson-scattered term, ≫1 for topical/bursty ones — the
      // feature that separates content words from function words.
      // Per-(term, doc) counts are corpus partials; the head is
      // TakeOrdered; zeros enter through N (total docs) in the closed
      // form, never as materialized rows.
      val td = tbl(s, dir, "documents")
        .select(col("doc_id"), explode(functions.Text.tokens(col("text"))).as("term"))
        .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("c"))
        .cut()
      val top = td.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term").asc).limit(20)
      val nDocs = tbl(s, dir, "documents").agg(count(lit(1)).as("nd"))
      def d(c: String): Column = col(c).cast("double")
      td.join(broadcast(top), Seq("term"))
        .groupBy(col("term"), col("df"))
        .agg(sum(col("c")).as("sc"), sum(col("c") * col("c")).as("scc"))
        .crossJoin(broadcast(nDocs))
        .select(col("term"), col("df"),
          round(d("sc") / d("nd"), 6).as("mean_count"),
          round((d("scc") / d("nd") - (d("sc") / d("nd")) * (d("sc") / d("nd")))
            / (d("sc") / d("nd")), 6).as("fano"))
    }),

    "q310_source_pair_kl" -> ((s, dir) => {
      // Pairwise corpus-mix divergence: KL(a ‖ b) for every ordered
      // source pair over the SHARED top-200 vocabulary with add-1
      // smoothing (q127 monitors each source against the blend; this is
      // the source×source matrix a mixing planner reads). The grid is
      // (sources × 200) — zeros materialize on the bounded grid via a
      // broadcast vocab cross join, per-pair sums fold term-ordered.
      val st = tbl(s, dir, "documents")
        .select(col("source"), explode(functions.Text.tokens(col("text"))).as("term"))
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
        .cut()
      val vocab = st.groupBy(col("term")).agg(sum(col("cnt")).as("tc"))
        .orderBy(col("tc").desc, col("term").asc).limit(200)
        .select(col("term"))
      val sources = st.select(col("source")).distinct()
      val grid = sources.crossJoin(broadcast(vocab))
        .join(st, Seq("source", "term"), "left")
        .select(col("source"), col("term"),
          coalesce(col("cnt"), lit(0L)).as("c"))
      val totals = grid.groupBy(col("source"))
        .agg(sum(col("c")).as("tot"), count(lit(1)).as("v"))
      val g = grid.join(broadcast(totals), Seq("source"))
      def d(c: Column): Column = c.cast("double")
      val pair = g.as("a").join(g.as("b"),
          col("a.term") === col("b.term") && col("a.source") =!= col("b.source"))
        .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
          col("a.term").as("term"),
          round(((d(col("a.c")) + lit(1.0)) / (d(col("a.tot")) + d(col("a.v"))))
            * log(((d(col("a.c")) + lit(1.0)) / (d(col("a.tot")) + d(col("a.v"))))
              / ((d(col("b.c")) + lit(1.0)) / (d(col("b.tot")) + d(col("b.v"))))),
            12).as("kterm"))
      pair.groupBy(col("source_a"), col("source_b"))
        .agg(aggregate(array_sort(collect_list(struct(col("term"), col("kterm")))),
          lit(0.0), (a, e) => round(a + e.getField("kterm"), 12)).as("kl"))
        // unrounded (roundlint r11): a 12-dp fold sum rounded to 6 dp is
        // the boundary-landing anti-pattern; the fold is bit-identical
        // both engines, so the exact double needs no guard
        .select(col("source_a"), col("source_b"), col("kl"))
    }),

    "q311_mann_kendall" -> ((s, dir) => {
      // Mann–Kendall trend test on monthly revenue: S = Σ sign(xⱼ−xᵢ)
      // over the month-grid pairs (calendar-bounded — never corpus
      // pairs), tie-corrected variance, continuity-corrected z. Exact
      // integers decide every comparison; doubles appear only in z.
      val monthly = tbl(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("m"))
        .agg(expr(s"sum(cast(cast(o_totalprice as $dec) * 100 as bigint))")
          .as("x"))
        .cut()
      val pr = monthly.as("a").join(monthly.as("b"), col("a.m") < col("b.m"))
        .agg(sum(signum((col("b.x") - col("a.x")).cast("double")).cast("long"))
          .as("s_stat"))
      val n = monthly.agg(count(lit(1)).as("n"))
      val ties = monthly.groupBy(col("x")).agg(count(lit(1)).as("t"))
        .filter(col("t") > 1)
        .agg(coalesce(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)), lit(0L))
          .as("tie_corr"))
      def d(c: String): Column = col(c).cast("double")
      pr.crossJoin(broadcast(n)).crossJoin(broadcast(ties))
        .select(col("n").as("n_months"), col("s_stat"),
          ((d("n") * (d("n") - lit(1.0)) * (lit(2.0) * d("n") + lit(5.0))
            - d("tie_corr")) / lit(18.0)).as("v"),
          col("s_stat").as("s"))
        .select(col("n_months"), col("s_stat"),
          // v = 0 (every month tied) would divide by zero under ANSI
          // where DuckDB yields NULL — same guard class as q293.
          round(when(col("v") <= 0, lit(null).cast("double"))
            .when(col("s") > 0, (d("s") - lit(1.0)) / sqrt(col("v")))
            .when(col("s") < 0, (d("s") + lit(1.0)) / sqrt(col("v")))
            .otherwise(lit(0.0)), 6).as("z"),
          when(col("s") > 0, "increasing").when(col("s") < 0, "decreasing")
            .otherwise("no trend").as("trend"))
    }),

    "q312_wilcoxon_brand" -> ((s, dir) => {
      // Wilcoxon signed-rank per brand: 1996 vs 1995 monthly revenue,
      // paired on month-of-year (12 bounded pairs per brand). Ranks of
      // |d| are brand-partitioned (key-parallel) with EXACT average-rank
      // tie handling in doubled units (avg2 = 2·minrank + ties − 1), so
      // W⁺ stays an integer; the normal approximation with tie-corrected
      // variance is the only floating step.
      val li = tbl(s, dir, "lineitem")
      val p = tbl(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      val cells = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(year(col("l_shipdate")).isin(1995, 1996))
        .groupBy(col("p_brand").as("brand"), month(col("l_shipdate")).as("moy"),
          year(col("l_shipdate")).as("yr"))
        .agg(expr(s"sum(cast(cast(l_extendedprice as $dec) * 100 as bigint))")
          .as("c"))
      val paired = cells.groupBy(col("brand"), col("moy"))
        .agg(sum(when(col("yr") === 1996, col("c")).otherwise(0L)).as("c96"),
          sum(when(col("yr") === 1995, col("c")).otherwise(0L)).as("c95"),
          count(lit(1)).as("nyr"))
        .filter(col("nyr") === 2) // both years present
        .select(col("brand"), col("moy"), (col("c96") - col("c95")).as("dd"))
        .filter(col("dd") =!= 0)
        .withColumn("absd", abs(col("dd")))
      val w = Window.partitionBy(col("brand")).orderBy(col("absd").asc)
      val ranked = paired
        .withColumn("minrank", rank().over(w).cast("long"))
      val tieSizes = ranked.groupBy(col("brand"), col("absd"))
        .agg(count(lit(1)).as("tsz"), max(col("minrank")).as("mr"))
      val withAvg = ranked.join(tieSizes, Seq("brand", "absd"))
        .select(col("brand"), col("dd"),
          (col("mr") * 2 + col("tsz") - 1).as("avg2"), col("tsz"))
      def d(c: String): Column = col(c).cast("double")
      val stats = withAvg.groupBy(col("brand"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("dd") > 0, col("avg2")).otherwise(0L)).as("w2p"))
      val tiecor = tieSizes.groupBy(col("brand"))
        .agg(sum(col("tsz") * col("tsz") * col("tsz") - col("tsz")).as("t3"))
      stats.join(tiecor, Seq("brand"))
        .select(col("brand"), col("n").as("n_pairs"), col("w2p"),
          round((d("w2p") / lit(2.0) - d("n") * (d("n") + lit(1.0)) / lit(4.0))
            / sqrt(d("n") * (d("n") + lit(1.0)) * (lit(2.0) * d("n") + lit(1.0))
              / lit(24.0) - d("t3") / lit(48.0)), 6).as("z"))
    }),

    "q313_seasonality_strength" -> ((s, dir) => {
      // Weekday-seasonality strength of daily revenue: 1 − SS_resid/SS_tot
      // where the seasonal component is the weekday mean — the variance-
      // decomposition number behind "is this series worth deseasonalizing".
      // Weekday = (epoch_days % 7) in BOTH engines (no locale-dependent
      // dayofweek); SS terms assemble from exact per-weekday sums with a
      // 7-row ordered fold.
      val daily = tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(expr(s"sum(cast(cast(o_totalprice as $dec) * 100 as bigint))")
          .as("x"))
        .select(pmod(datediff(col("day"), lit("1970-01-01")), lit(7)).as("w"),
          col("x"))
      def d19(c: String): Column = col(c).cast("decimal(19,0)")
      val byW = daily.groupBy(col("w"))
        .agg(count(lit(1)).as("nw"), sum(col("x")).as("sw"),
          sum(d19("x") * d19("x")).as("sww"))
      def d(c: String): Column = col(c).cast("double")
      val tot = byW.agg(sum(col("nw")).as("n"),
        sum(col("sw").cast("decimal(19,0)")).as("sx"),
        sum(col("sww")).as("sxx"),
        aggregate(array_sort(collect_list(struct(col("w"),
            round(col("sw").cast("double") * col("sw").cast("double")
              / col("nw").cast("double"), 6).as("v")))),
          lit(0.0), (a, e) => round(a + e.getField("v"), 6)).as("fitss"))
      tot.select(col("n").as("n_days"),
        round(greatest(lit(0.0),
          lit(1.0) - (d("sxx") - col("fitss"))
            / (d("sxx") - d("sx") * d("sx") / d("n"))), 6)
          .as("seasonal_strength"))
    }),

    "q314_kruskal_wallis" -> ((s, dir) => {
      // Kruskal–Wallis H across market segments on order value. The
      // corpus collapses to the VALUE GRID (distinct cents → per-group
      // counts) before any ranking; global average ranks come from the
      // banded cumulative count (no unpartitioned window) in DOUBLED
      // units (avg2 = 2·cum − cnt + 1), so every rank sum is an exact
      // integer. Tie correction from Σ(t³−t) on the same grid.
      val v = tbl(s, dir, "orders")
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("g"),
          expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)").as("v"))
      val cells = v.groupBy(col("v"), col("g")).agg(count(lit(1)).as("cgv"))
        .cut()
      val grid = cells.groupBy(col("v")).agg(sum(col("cgv")).as("cnt"))
      val cum = operators.ScalableWindow
        .bandedCumSum(grid, "v", descending = false, Nil, "cnt", "cum")
      val a2 = cum.select(col("v"),
        (lit(2L) * col("cum") - col("cnt") + 1).as("avg2"))
      def d19(c: Column): Column = c.cast("decimal(19,0)")
      val gr = cells.join(a2, Seq("v"))
        .groupBy(col("g"))
        .agg(sum(col("cgv")).as("ng"),
          sum(d19(col("cgv")) * d19(col("avg2"))).as("r2"))
      val ties = grid.agg(
        sum(d19(col("cnt")) * d19(col("cnt")) * col("cnt").cast("decimal(38,0)")
          - col("cnt").cast("decimal(38,0)")).as("t3"))
      def d(c: String): Column = col(c).cast("double")
      val tot = gr.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"))
      val terms = gr.agg(
        aggregate(array_sort(collect_list(struct(col("g"),
            round(d("r2") * d("r2") / (lit(4.0) * d("ng")), 6).as("t")))),
          lit(0.0), (a, e) => round(a + e.getField("t"), 6)).as("sr"))
      val nd = d("n")
      val h = lit(12.0) / (nd * (nd + lit(1.0))) * col("sr") -
        lit(3.0) * (nd + lit(1.0))
      tot.crossJoin(broadcast(terms)).crossJoin(broadcast(ties))
        .select(col("k").as("n_groups"), col("n").as("n_obs"),
          round(h, 6).as("h_stat"),
          round(h / (lit(1.0) - d("t3") / (nd * nd * nd - nd)), 6)
            .as("h_tie_corrected"))
    }),

    "q315_friedman" -> ((s, dir) => {
      // Friedman rank test: blocks = months of 1995, treatments =
      // nations, response = monthly revenue cents (absent cells filled
      // with literal 0 on the nation×month grid, so blocks are complete
      // by construction). Ranks are BLOCK-partitioned (never global)
      // with exact average-rank ties in doubled units; the tie-general
      // statistic Q = (k−1)·Σ(R2_j − n(k+1))² / (A2 − n·k·(k+1)²) is an
      // exact integer ratio — one double division at the end.
      val rev = tbl(s, dir, "orders")
        .filter(year(col("o_orderdate")) === 1995)
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(tbl(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nat"), month(col("o_orderdate")).as("m"))
        .agg(expr(s"sum(cast(cast(o_totalprice as $dec) * 100 as bigint))")
          .as("x"))
      val nations = tbl(s, dir, "nation").select(col("n_name").as("nat"))
      val months = s.range(1, 13).select(col("id").cast("int").as("m"))
      val full = nations.crossJoin(broadcast(months))
        .join(rev, Seq("nat", "m"), "left")
        .select(col("nat"), col("m"), coalesce(col("x"), lit(0L)).as("x"))
      val w = Window.partitionBy(col("m")).orderBy(col("x").asc)
      val ranked = full.withColumn("minrank", rank().over(w).cast("long"))
      val tieSizes = ranked.groupBy(col("m"), col("x"))
        .agg(count(lit(1)).as("tsz"), max(col("minrank")).as("mr"))
      val withAvg = ranked.join(tieSizes, Seq("m", "x"))
        .select(col("nat"), col("m"),
          (col("mr") * 2 + col("tsz") - 1).as("avg2"))
        .cut()
      val perNat = withAvg.groupBy(col("nat"))
        .agg(sum(col("avg2")).as("r2j"), count(lit(1)).as("nb"))
      def d(c: Column): Column = c.cast("double")
      val a2 = withAvg.agg(sum(col("avg2") * col("avg2")).as("a2"))
      val k = perNat.agg(count(lit(1)).as("k"), max(col("nb")).as("n"))
      val num = perNat.crossJoin(broadcast(k))
        .select(((col("r2j") - col("n") * (col("k") + 1))
          * (col("r2j") - col("n") * (col("k") + 1))).as("sq"))
        .agg(sum(col("sq")).as("snum"))
      k.crossJoin(broadcast(num)).crossJoin(broadcast(a2))
        .select(col("k").as("k_treatments"), col("n").as("n_blocks"),
          round((d(col("k")) - lit(1.0)) * d(col("snum"))
            / (d(col("a2")) - d(col("n")) * d(col("k"))
              * (d(col("k")) + lit(1.0)) * (d(col("k")) + lit(1.0))), 6)
            .as("q_stat"))
    }),

    "q316_durbin_watson" -> ((s, dir) => {
      // Durbin–Watson first-order autocorrelation diagnostic on the OLS
      // detrended daily-revenue series. Every sum is an EXACT moment of
      // the day grid (t from the triangular rank, Δx from the lag-1
      // grid join); Σe² and Σ(Δe)² expand in closed form over those
      // moments, so the whole statistic is one double expression —
      // order-free, no residual materialization, no global window.
      val daily = tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)"))
          .cast("decimal(38,0)").as("x"))
      val idx = operators.ScalableWindow
        .boundedRankCum(daily, Seq(("day", true)), "t")
        .select(col("t"), col("x")).cut()
      def d19(c: Column): Column = c.cast("decimal(19,0)")
      val m = idx.agg(count(lit(1)).as("n"),
        sum(col("t")).as("st"), sum(d19(col("t")) * d19(col("t"))).as("stt"),
        sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
        sum(col("t").cast("decimal(38,0)") * col("x")).as("stx"))
      val dd = idx.as("a").join(idx.as("b"), col("a.t") === col("b.t") + 1)
        .select((col("a.x") - col("b.x")).as("dx"))
        .agg(sum(col("dx")).as("sd"), sum(col("dx") * col("dx")).as("sdd"))
      def d(c: String): Column = col(c).cast("double")
      m.crossJoin(broadcast(dd))
        .withColumn("b", (d("n") * d("stx") - d("st") * d("sx"))
          / (d("n") * d("stt") - d("st") * d("st")))
        .withColumn("a", (d("sx") - col("b") * d("st")) / d("n"))
        .withColumn("se2", d("sxx") - lit(2.0) * col("a") * d("sx")
          - lit(2.0) * col("b") * d("stx") + d("n") * col("a") * col("a")
          + lit(2.0) * col("a") * col("b") * d("st")
          + col("b") * col("b") * d("stt"))
        .withColumn("sde", d("sdd") - lit(2.0) * col("b") * d("sd")
          + (d("n") - lit(1.0)) * col("b") * col("b"))
        .select(col("n").as("n_days"), round(col("b"), 6).as("slope_cents"),
          round(col("sde") / col("se2"), 6).as("dw"))
    }),

    "q317_ljung_box" -> ((s, dir) => {
      // Ljung–Box portmanteau Q over lags 1..7 of the daily revenue
      // series: the q257 exact-moment autocorrelations (day-grid lag
      // joins, DECIMAL(38,0) cross-products) composed into
      // Q = n(n+2)·Σ ρ²/(n−l) with a 7-term ordered fold.
      val daily = tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)"))
          .cast("decimal(38,0)").as("x"))
      val idx = operators.ScalableWindow
        .boundedRankCum(daily, Seq(("day", true)), "t")
        .select(col("t"), col("x")).cut()
      val glob = idx.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      val lags = s.range(1, 8).select(col("id").as("lag"))
      val pairs = idx.as("a").crossJoin(broadcast(lags))
        .join(idx.as("b"), col("a.t") + col("lag") === col("b.t"))
        .groupBy(col("lag"))
        .agg(sum(col("a.x")).as("s1"), sum(col("b.x")).as("s2"),
          sum(col("a.x") * col("b.x")).as("s12"), count(lit(1)).as("nl"))
      def d(c: String): Column = col(c).cast("double")
      val rho = pairs.crossJoin(broadcast(glob))
        .withColumn("xb", d("sx") / d("n"))
        .select(col("lag"), col("n"),
          ((d("s12") - col("xb") * (d("s1") + d("s2"))
            + d("nl") * (col("xb") * col("xb")))
            / (d("sxx") - d("n") * (col("xb") * col("xb")))).as("rho"))
      rho.groupBy(col("n"))
        .agg(aggregate(array_sort(collect_list(struct(col("lag"),
            round(col("rho") * col("rho")
              / (d("n") - col("lag").cast("double")), 12).as("t")))),
          lit(0.0), (a, e) => round(a + e.getField("t"), 12)).as("srho"))
        .select(col("n").as("n_days"), lit(7L).as("n_lags"),
          round(d("n") * (d("n") + lit(2.0)) * col("srho"), 6).as("q_lb"))
    }),

    "q318_page_hinkley" -> ((s, dir) => {
      // Page–Hinkley upward-drift detector on daily revenue: the
      // sequential recurrence m_t = m_{t−1} + (x_t − x̄_t) with running
      // mean x̄ and PH_t = m_t − min m — inherently ordered, so it folds
      // over the CALENDAR-BOUNDED day grid (the only corpus-shaped step
      // is the map-combinable daily sum). The deviation is scaled from
      // cents to $M (×1e-8, an exact power-of-ten double op) BEFORE the
      // 6-dp fixed point: at 1e9-cent magnitudes the 6th decimal sits
      // below the double ulp, so rounding there cannot snap both
      // engines to the same value (measured: diverged in the 12th sig
      // digit); at ~1e3 $M it is bit-exact. The running mean divides
      // exact integers, never accumulated floats.
      val daily = tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(expr(s"sum(cast(cast(o_totalprice as $dec) * 100 as bigint))")
          .as("x"))
        .select(datediff(col("day"), lit("1970-01-01")).cast("long").as("day"),
          col("x"))
      val ser = daily
        .agg(array_sort(collect_list(struct(col("day"), col("x")))).as("ser"))
      val zero = struct(lit(0L).as("i"), lit(0L).as("sx"), lit(0.0).as("m"),
        lit(0.0).as("mn"), lit(-1.0).as("ph"), lit(0L).as("argd"))
      ser.select(aggregate(col("ser"), zero,
        (acc, e) => {
          val i1 = acc.getField("i") + lit(1L)
          val sx1 = acc.getField("sx") + e.getField("x")
          val mean = sx1.cast("double") / i1.cast("double")
          val m1 = round(acc.getField("m")
            + (e.getField("x").cast("double") - mean) / lit(1.0e8), 6)
          val mn1 = least(acc.getField("mn"), m1)
          val phc = round(m1 - mn1, 6)
          val better = phc > acc.getField("ph")
          struct(i1.as("i"), sx1.as("sx"), m1.as("m"), mn1.as("mn"),
            when(better, phc).otherwise(acc.getField("ph")).as("ph"),
            when(better, e.getField("day")).otherwise(acc.getField("argd"))
              .as("argd"))
        },
        acc => struct(acc.getField("i").as("n_days"),
          acc.getField("ph").as("max_ph"),
          acc.getField("argd").as("day_at_max"))).as("r"))
        .select(col("r.n_days"), col("r.max_ph"), col("r.day_at_max"))
    }),

    "q319_odds_ratio" -> ((s, dir) => {
      // Per-brand odds ratio of line-item returns vs the rest of the
      // catalog, with the 95% log-normal CI — the case/control 2×2 next
      // to q258's Wilson bound. Cells are exact integers off ONE
      // brand-bounded aggregate (margins re-aggregated from the cells,
      // never a second scan); brands with any empty cell are excluded —
      // the CI is undefined there (same WHERE in the oracle).
      val cells = tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("a"),
          sum(when(col("l_returnflag") === "R", 0L).otherwise(1L)).as("b"))
        .cut()
      val tot = cells.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
      def d(c: Column): Column = c.cast("double")
      def d19(c: Column): Column = c.cast("decimal(19,0)")
      cells.crossJoin(broadcast(tot))
        .withColumn("c", col("ta") - col("a"))
        .withColumn("d", col("tb") - col("b"))
        .filter(col("a") > 0 && col("b") > 0 && col("c") > 0 && col("d") > 0)
        .withColumn("or", d(d19(col("a")) * d19(col("d")))
          / d(d19(col("b")) * d19(col("c"))))
        .withColumn("se", sqrt(lit(1.0) / d(col("a")) + lit(1.0) / d(col("b"))
          + lit(1.0) / d(col("c")) + lit(1.0) / d(col("d"))))
        .select(col("brand"), col("a").as("n_ret"), col("b").as("n_kept"),
          round(col("or"), 6).as("odds_ratio"),
          round(exp(log(col("or")) - lit(1.96) * col("se")), 6).as("ci_lo"),
          round(exp(log(col("or")) + lit(1.96) * col("se")), 6).as("ci_hi"))
    }),

    "q320_price_index" -> ((s, dir) => {
      // Laspeyres / Paasche / Fisher price indices 1995→1996 over BRAND
      // unit values (the trade-statistics formulation: brand-level
      // revenue / quantity is the unit price, so both index denominators
      // with own-period weights are EXACT revenue sums and only the
      // cross-period Σ uv·qty terms need a brand-ordered fold —
      // brand-bounded at any corpus size).
      val li = tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .filter(year(col("l_shipdate")).isin(1995, 1996))
        .groupBy(col("p_brand").as("brand"), year(col("l_shipdate")).as("yr"))
        .agg(sum(expr(s"cast(cast(l_extendedprice as $dec) * 100 as bigint)"))
          .as("rev"),
          sum(expr(s"cast(cast(l_quantity as $dec) * 100 as bigint)")).as("qty"))
      val wide = li.groupBy(col("brand"))
        .agg(sum(when(col("yr") === 1995, col("rev")).otherwise(0L)).as("r0"),
          sum(when(col("yr") === 1995, col("qty")).otherwise(0L)).as("q0"),
          sum(when(col("yr") === 1996, col("rev")).otherwise(0L)).as("r1"),
          sum(when(col("yr") === 1996, col("qty")).otherwise(0L)).as("q1"))
        .filter(col("q0") > 0 && col("q1") > 0)
        .cut()
      def d(c: String): Column = col(c).cast("double")
      val tot = wide.agg(count(lit(1)).as("n_brands"),
        sum(col("r0")).as("sr0"), sum(col("r1")).as("sr1"))
      // r12 magnitude lint: the cross terms (unit value × the other
      // period's quantity) reach ~1e14+ cents² at sf10, where a 6-dp
      // step is deep sub-ulp (q294 class) — no per-term/per-step
      // rounds; the brand-ordered fold is the identical IEEE chain.
      val folds = wide.agg(
        aggregate(array_sort(collect_list(struct(col("brand"),
            (d("r1") / d("q1") * d("q0")).as("t")))),
          lit(0.0), (a, e) => a + e.getField("t")).as("lnum"),
        aggregate(array_sort(collect_list(struct(col("brand"),
            (d("r0") / d("q0") * d("q1")).as("t")))),
          lit(0.0), (a, e) => a + e.getField("t")).as("pden"))
      tot.crossJoin(broadcast(folds))
        .withColumn("laspeyres", col("lnum") / d("sr0"))
        .withColumn("paasche", d("sr1") / col("pden"))
        .select(col("n_brands"),
          round(col("laspeyres"), 6).as("laspeyres"),
          round(col("paasche"), 6).as("paasche"),
          round(sqrt(col("laspeyres") * col("paasche")), 6).as("fisher"))
    }),

    "q321_eoq" -> ((s, dir) => {
      // Economic order quantity per brand: EOQ = √(2DK/h) with annual
      // 1995 demand D (exact summed quantity), fixed ordering cost
      // K = $100, and holding cost h = 20% of the brand's average
      // retail price — every input an exact brand-bounded aggregate,
      // the closed form the only float step.
      val demand = tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .filter(year(col("l_shipdate")) === 1995)
        .groupBy(col("p_brand").as("brand"))
        .agg(sum(expr(s"cast(cast(l_quantity as $dec) * 100 as bigint)"))
          .as("d100"))
      val price = tbl(s, dir, "part")
        .groupBy(col("p_brand").as("brand"))
        .agg(sum(expr(s"cast(cast(p_retailprice as $dec) * 100 as bigint)"))
          .as("pc"), count(lit(1)).as("np"))
      def d(c: String): Column = col(c).cast("double")
      demand.join(price, Seq("brand"))
        .withColumn("dd", d("d100") / lit(100.0))
        .withColumn("h", lit(0.2) * (d("pc") / lit(100.0) / d("np")))
        .select(col("brand"), round(col("dd"), 2).as("annual_demand"),
          round(col("h"), 6).as("holding_cost"),
          round(sqrt(lit(2.0) * col("dd") * lit(100.0) / col("h")), 4)
            .as("eoq"))
    }),

    "q322_lorenz_curve" -> ((s, dir) => {
      // Lorenz curve of customer spend at the population deciles,
      // EXACTLY: the corpus collapses to the distinct-spend grid, the
      // banded cumulative count/spend locates the decile boundary row
      // (cum−cnt < n_k ≤ cum), and the within-value correction
      // (cum−n_k)·v makes the poorest-n_k spend an exact integer — no
      // global sort, no interpolation error.
      val spend = tbl(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)"))
          .as("v"))
      // Checkpointed: feeds both the banded pass and the n/stot totals.
      val grid = spend.groupBy(col("v"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("v"), col("cnt"),
          (col("v").cast("decimal(38,0)") * col("cnt")).as("sv"))
        .cut()
      val cum = operators.ScalableWindow.bandedCumSums(grid, "v",
        descending = false, Nil, Seq("cnt" -> "cumn", "sv" -> "cums"))
      val tot = grid.agg(sum(col("cnt")).as("n"), sum(col("sv")).as("stot"))
      val deciles = s.range(1, 11).select(col("id").as("k"))
      def d(c: String): Column = col(c).cast("double")
      cum.crossJoin(broadcast(tot)).crossJoin(broadcast(deciles))
        .withColumn("nk", expr("(k * n) div 10"))
        .filter(col("cumn") - col("cnt") < col("nk") && col("nk") <= col("cumn"))
        .select(col("k").as("decile"), col("nk").as("n_cust"),
          round((col("cums") - (col("cumn") - col("nk"))
            * col("v").cast("decimal(38,0)")).cast("double") / d("stot"), 6)
            .as("cum_spend_share"))
    }),

    "q323_kde_grid" -> ((s, dir) => {
      // Epanechnikov kernel density of order value on a 41-point grid.
      // The corpus collapses to 401 EXACT integer fine-bins first
      // (floor((x−min)·400/range) is pure integer arithmetic), so the
      // kernel sum per grid point is a bounded 41×401 join folded in
      // bin order — corpus-size-independent past the one binning scan.
      val x = tbl(s, dir, "orders")
        .select(expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)")
          .as("x"))
      val mm = x.agg(min(col("x")).as("lo"), max(col("x")).as("hi"),
        count(lit(1)).as("n"))
      val bins = x.crossJoin(broadcast(mm))
        .select(expr("(x - lo) * 400 div (hi - lo)").as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("cnt"))
      val gridPts = s.range(0, 41).select(col("id").as("i"))
      def d(c: String): Column = col(c).cast("double")
      val params = mm
        .withColumn("h", (d("hi") - d("lo")) / lit(20.0))
        .withColumn("w", (d("hi") - d("lo")) / lit(400.0))
      val terms = gridPts.crossJoin(broadcast(params))
        .withColumn("g", d("lo") + col("i").cast("double")
          * (d("hi") - d("lo")) / lit(40.0))
        .join(bins,
          abs(col("g") - (col("lo").cast("double")
            + (col("b").cast("double") + lit(0.5)) * col("w")))
            < col("h"))
        .withColumn("u", (col("g") - (col("lo").cast("double")
          + (col("b").cast("double") + lit(0.5)) * col("w"))) / col("h"))
        // r12 magnitude lint: kv ∝ fine-bin count ∝ N/401, so the 9-dp
        // step would fall sub-ulp around sf100 (q294 class) — no
        // per-term/per-step rounds; the bin-ordered fold is the
        // identical IEEE chain at any corpus size.
        .withColumn("kv", col("cnt").cast("double") * lit(0.75)
          * (lit(1.0) - col("u") * col("u")))
      terms.groupBy(col("i"), col("g"), col("h"), col("n"))
        .agg(aggregate(array_sort(collect_list(struct(col("b"), col("kv")))),
          lit(0.0), (a, e) => a + e.getField("kv")).as("ks"))
        .select(col("i").as("grid_i"), round(col("g"), 4).as("g_cents"),
          round(col("ks") / (d("n") * col("h")), 12).as("density"))
    }),

    "q324_gof_weekday" -> ((s, dir) => {
      // χ² goodness-of-fit of order arrivals to the uniform weekday
      // law — the calendar-seasonality screen next to q313's strength
      // number. Weekday = epoch-days mod 7 (locale-free, both engines);
      // 7 exact cells against e = n/7, folded in weekday order.
      val cells = tbl(s, dir, "orders")
        .select(pmod(datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01")), lit(7)).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("o"))
      def d(c: String): Column = col(c).cast("double")
      val tot = cells.agg(sum(col("o")).as("n"))
      cells.crossJoin(broadcast(tot))
        .withColumn("e", d("n") / lit(7.0))
        .withColumn("t", round((d("o") - col("e")) * (d("o") - col("e"))
          / col("e"), 9))
        .groupBy(col("n"))
        .agg(aggregate(array_sort(collect_list(struct(col("w"), col("t")))),
          lit(0.0), (a, e) => round(a + e.getField("t"), 9)).as("chi2"))
        // unrounded chi2 (roundlint r11): 9-dp fold sum on a 6-dp output
        // grid is the boundary class; the fold is bit-identical
        .select(col("n").as("n_obs"), lit(6L).as("df"), col("chi2"))
    }),

    "q325_effect_size" -> ((s, dir) => {
      // Cohen's d and Hedges' g between the BUILDING and MACHINERY
      // segments on order value — the magnitude companion to q222's
      // z-test. Group moments are exact integer cents (sums and
      // DECIMAL(38,0) squares); pooled SD and both effect sizes are
      // closed-form doubles.
      val v = tbl(s, dir, "orders")
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select((col("c_mktsegment") === "BUILDING").as("g1"),
          expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)").as("x"))
      val vd = col("x").cast("decimal(38,0)")
      val m = v.groupBy(col("g1"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"), sum(vd * vd).as("q"))
      def d(c: String): Column = col(c).cast("double")
      val wide = m.agg(
        sum(when(col("g1"), col("n")).otherwise(0L)).as("n1"),
        sum(when(col("g1"), col("s")).otherwise(0L)).as("s1"),
        sum(when(col("g1"), col("q")).otherwise(lit(0).cast("decimal(38,0)")))
          .as("q1"),
        sum(when(!col("g1"), col("n")).otherwise(0L)).as("n2"),
        sum(when(!col("g1"), col("s")).otherwise(0L)).as("s2"),
        sum(when(!col("g1"), col("q")).otherwise(lit(0).cast("decimal(38,0)")))
          .as("q2"))
      wide
        .withColumn("m1", d("s1") / d("n1"))
        .withColumn("m2", d("s2") / d("n2"))
        .withColumn("ss1", d("q1") - d("s1") * d("s1") / d("n1"))
        .withColumn("ss2", d("q2") - d("s2") * d("s2") / d("n2"))
        .withColumn("sp", sqrt((col("ss1") + col("ss2"))
          / (d("n1") + d("n2") - lit(2.0))))
        .withColumn("cd", (col("m1") - col("m2")) / col("sp"))
        .select(col("n1"), col("n2"), round(col("cd"), 6).as("cohens_d"),
          round(col("cd") * (lit(1.0) - lit(3.0)
            / (lit(4.0) * (d("n1") + d("n2")) - lit(9.0))), 6).as("hedges_g"))
    }),

    "q332_hurst_rs" -> ((s, dir) => {
      // Hurst exponent of daily revenue by rescaled-range analysis over
      // dyadic block sizes 16..128. Within-block cumulative deviations
      // stay EXACT integers (dev_k = n·cum_k − k·sum, so the block mean
      // never becomes a float), cumulated under a block-PARTITIONED
      // window (parallel, never global); R/S per block and the 4-point
      // log-log regression are the only float steps, folded in block /
      // size order.
      val daily = tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)"))
          .as("x"))
      val idx = operators.ScalableWindow
        .boundedRankCum(daily, Seq(("day", true)), "t")
        .select(col("t"), col("x")).cut()
      val nTot = idx.agg(max(col("t")).as("nn"))
      val sizes = s.createDataFrame(Seq(16, 32, 64, 128).map(Tuple1(_)))
        .toDF("bs")
      val blocks = idx.crossJoin(broadcast(sizes))
        .crossJoin(broadcast(nTot))
        .withColumn("blk", expr("(t - 1) div bs"))
        .filter((col("blk") + 1) * col("bs") <= col("nn"))
        .cut()
      val w = Window.partitionBy(col("bs"), col("blk")).orderBy(col("t").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val q19 = (c: Column) => c.cast("decimal(19,0)")
      val btot = blocks.groupBy(col("bs"), col("blk"))
        .agg(sum(col("x")).as("sx"),
          sum(q19(col("x")) * q19(col("x"))).as("sxx"))
      val withCum = blocks
        .withColumn("cum", sum(col("x")).over(w))
        .withColumn("k", col("t") - col("blk") * col("bs"))
        .join(btot, Seq("bs", "blk"))
      val bstats = withCum.groupBy(col("bs"), col("blk"))
        .agg(max(col("sx")).as("sx"), max(col("sxx")).as("sxx"),
          max(q19(col("bs")) * q19(col("cum")) - q19(col("k")) * q19(col("sx")))
            .as("devmax"),
          min(q19(col("bs")) * q19(col("cum")) - q19(col("k")) * q19(col("sx")))
            .as("devmin"))
      def d(c: String): Column = col(c).cast("double")
      val rs = bstats
        .withColumn("r", (d("devmax") - d("devmin")) / d("bs"))
        .withColumn("sd", sqrt((d("sxx") - d("sx") * d("sx") / d("bs"))
          / d("bs")))
        .select(col("bs"), col("blk"), round(col("r") / col("sd"), 9).as("rs"))
      val perSize = rs.groupBy(col("bs"))
        .agg(count(lit(1)).as("nb"),
          aggregate(array_sort(collect_list(struct(col("blk"), col("rs")))),
            lit(0.0), (a, e) => round(a + e.getField("rs"), 9)).as("srs"))
        .select(col("bs"), round(log(col("bs").cast("double")), 9).as("lx"),
          round(log(col("srs") / col("nb").cast("double")), 9).as("ly"))
      def fold(t: Column): Column =
        aggregate(array_sort(collect_list(struct(col("bs"), t.as("v")))),
          lit(0.0), (a, e) => round(a + e.getField("v"), 12))
      perSize.agg(count(lit(1)).as("n_sizes"), fold(col("lx")).as("slx"),
          fold(col("ly")).as("sly"), fold(col("lx") * col("ly")).as("sxy"),
          fold(col("lx") * col("lx")).as("sxx"))
        .select(col("n_sizes"),
          round((d("n_sizes") * col("sxy") - col("slx") * col("sly"))
            / (d("n_sizes") * col("sxx") - col("slx") * col("slx")), 6)
            .as("hurst"))
    }),

    "q333_binseg_split" -> ((s, dir) => {
      // Best single changepoint of daily revenue (binary segmentation,
      // first split): argmax over the day grid of the two-segment SSE
      // reduction gain(t) = cum_t²/t + (S−cum_t)²/(N−t) − S²/N. The
      // prefix sums ride the triangular rank (day-grid-bounded, no
      // window); gain is a pure double function of exact integers, so
      // the argmax (ties → earliest day, via max(struct(gain, −t)))
      // is bit-agreed across engines.
      val daily = tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)"))
          .as("x"))
      val idx = operators.ScalableWindow
        .boundedRankCum(daily, Seq(("day", true)), "t", Seq(("x", "cum")))
        .cut()
      val tot = idx.agg(max(col("t")).as("nn"), sum(col("x")).as("ss"))
      def d(c: String): Column = col(c).cast("double")
      val gains = idx.crossJoin(broadcast(tot))
        .filter(col("t") < col("nn"))
        .withColumn("gain", d("cum") * d("cum") / d("t")
          + (d("ss") - d("cum")) * (d("ss") - d("cum")) / (d("nn") - d("t"))
          - d("ss") * d("ss") / d("nn"))
      val best = gains
        .agg(max(struct(col("gain"), (-col("t")).as("negt"))).as("b"))
        .select((-col("b.negt")).as("t"))
      // No rounding on the outputs: gain/means are pure IEEE op chains
      // over exact integers (identical both engines), but their
      // magnitudes (~1.5e10) put the double ULP (~4e-6) ON the 4-dp
      // grid — the sf1 sweep caught mean_after landing one half-step
      // apart across engines. Emit the exact doubles (q201 recipe).
      gains.join(broadcast(best), Seq("t"))
        .select(col("nn").as("n_days"), col("t").as("split_t"),
          date_format(col("day"), "yyyy-MM-dd").as("split_day"),
          col("gain"),
          (d("cum") / d("t")).as("mean_before"),
          ((d("ss") - d("cum")) / (d("nn") - d("t"))).as("mean_after"))
    }),

    "q334_weibull_fit" -> ((s, dir) => {
      // Weibull (shape, scale) of order→ship lead time by mean-rank
      // regression: the corpus collapses to the DURATION GRID (bounded
      // distinct day counts), cumulative counts ride the triangular
      // rank, F_d = cum/(N+1), and ln(−ln(1−F)) vs ln(d) is a
      // grid-ordered OLS fold — the reliability-engineering face next
      // to q236's Kaplan–Meier.
      val grid = tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")).as("dur"))
        .filter(col("dur") > 0)
        .groupBy(col("dur")).agg(count(lit(1)).as("cnt"))
      val cum = operators.ScalableWindow
        .boundedRankCum(grid, Seq(("dur", true)), "r", Seq(("cnt", "cum")))
      val tot = grid.agg(sum(col("cnt")).as("nn"))
      def d(c: String): Column = col(c).cast("double")
      val pts = cum.crossJoin(broadcast(tot))
        .withColumn("f", d("cum") / (d("nn") + lit(1.0)))
        .select(col("dur"),
          round(log(d("dur")), 9).as("lx"),
          round(log(-log(lit(1.0) - col("f"))), 9).as("ly"))
      def fold(t: Column): Column =
        aggregate(array_sort(collect_list(struct(col("dur"), t.as("v")))),
          lit(0.0), (a, e) => round(a + e.getField("v"), 12))
      pts.agg(count(lit(1)).as("n_grid"), fold(col("lx")).as("slx"),
          fold(col("ly")).as("sly"), fold(col("lx") * col("ly")).as("sxy"),
          fold(col("lx") * col("lx")).as("sxx"))
        .withColumn("shape", (d("n_grid") * col("sxy")
          - col("slx") * col("sly"))
          / (d("n_grid") * col("sxx") - col("slx") * col("slx")))
        .select(col("n_grid"), round(col("shape"), 6).as("shape"),
          round(exp(-((col("sly") - col("shape") * col("slx"))
            / d("n_grid")) / col("shape")), 6).as("scale_days"))
    }),

    "q335_gumbel_maxima" -> ((s, dir) => {
      // Gumbel fit of MONTHLY block maxima of daily revenue (method of
      // moments: β = s·√6/π, μ = x̄ − γβ) plus the 12-month return
      // level — the extreme-value face of the series toolkit. Block
      // maxima are exact integers off the day grid; moments are exact;
      // the fit and return level are closed-form doubles.
      val daily = tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)"))
          .as("x"))
      val maxima = daily
        .groupBy(date_format(col("day"), "yyyy-MM").as("month"))
        .agg(max(col("x")).as("mx"))
      val q19 = (c: Column) => c.cast("decimal(19,0)")
      val m = maxima.agg(count(lit(1)).as("n"), sum(col("mx")).as("sx"),
        sum(q19(col("mx")) * q19(col("mx"))).as("sxx"))
      def d(c: String): Column = col(c).cast("double")
      m.withColumn("mean", d("sx") / d("n"))
        .withColumn("sd", sqrt((d("sxx") - d("sx") * d("sx") / d("n"))
          / (d("n") - lit(1.0))))
        .withColumn("beta", col("sd") * sqrt(lit(6.0))
          / lit(3.141592653589793))
        .withColumn("mu", col("mean") - lit(0.5772156649015329) * col("beta"))
        .select(col("n").as("n_months"), round(col("mu"), 4).as("mu_cents"),
          round(col("beta"), 4).as("beta_cents"),
          round(col("mu") - col("beta")
            * log(-log(lit(1.0) - lit(1.0) / lit(12.0))), 4)
            .as("return_level_12m"))
    }),

    "q336_bass_diffusion" -> ((s, dir) => {
      // Bass diffusion (p, q, m) fit of customer adoption: new adopters
      // per month n_t regressed on cumulative adopters n_t = a + b·C +
      // c·C² (the discrete Bass form), solved by Cramer's rule over
      // EXACT integer moments (C⁴ stays inside DECIMAL(38,0) even at
      // 10⁹ customers); p, q, m come from the closed-form root. A
      // negative discriminant yields NULLs (same CASE in the oracle).
      val firsts = tbl(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(min(date_format(col("o_orderdate"), "yyyy-MM")).as("month"))
        .groupBy(col("month")).agg(count(lit(1)).as("nt"))
      val idx = operators.ScalableWindow
        .boundedRankCum(firsts, Seq(("month", true)), "t", Seq(("nt", "cumn")))
        .select(col("t"), col("nt"), (col("cumn") - col("nt")).as("cprev"))
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val q19 = (c: Column) => c.cast("decimal(19,0)")
      val mom = idx.agg(count(lit(1)).as("s0"), sum(col("cprev")).as("s1"),
        sum(q19(col("cprev")) * q19(col("cprev"))).as("s2"),
        sum(q19(col("cprev")) * q19(col("cprev")) * d38(col("cprev")))
          .as("s3"),
        sum(q19(col("cprev")) * q19(col("cprev")) * d38(col("cprev"))
          * d38(col("cprev"))).as("s4"),
        sum(col("nt")).as("sy"),
        sum(q19(col("cprev")) * q19(col("nt"))).as("sxy"),
        sum(q19(col("cprev")) * q19(col("cprev")) * d38(col("nt")))
          .as("sx2y"))
      def d(c: String): Column = col(c).cast("double")
      val f = mom
        .withColumn("det", d("s0") * (d("s2") * d("s4") - d("s3") * d("s3"))
          - d("s1") * (d("s1") * d("s4") - d("s3") * d("s2"))
          + d("s2") * (d("s1") * d("s3") - d("s2") * d("s2")))
        .withColumn("a", (d("sy") * (d("s2") * d("s4") - d("s3") * d("s3"))
          - d("s1") * (d("sxy") * d("s4") - d("sx2y") * d("s3"))
          + d("s2") * (d("sxy") * d("s3") - d("sx2y") * d("s2")))
          / col("det"))
        .withColumn("b", (d("s0") * (d("sxy") * d("s4") - d("s3") * d("sx2y"))
          - d("sy") * (d("s1") * d("s4") - d("s3") * d("s2"))
          + d("s2") * (d("s1") * d("sx2y") - d("sxy") * d("s2")))
          / col("det"))
        .withColumn("c", (d("s0") * (d("s2") * d("sx2y") - d("sxy") * d("s3"))
          - d("s1") * (d("s1") * d("sx2y") - d("sxy") * d("s2"))
          + d("sy") * (d("s1") * d("s3") - d("s2") * d("s2")))
          / col("det"))
        .withColumn("disc", col("b") * col("b")
          - lit(4.0) * col("a") * col("c"))
        .withColumn("m", when(col("disc") >= 0 && col("c") =!= 0.0,
          (-col("b") - sqrt(col("disc"))) / (lit(2.0) * col("c")))
          .otherwise(lit(null).cast("double")))
        .withColumn("p", col("a") / col("m"))
      f.select(col("s0").as("n_months"), round(col("a"), 6).as("a"),
        round(col("b"), 6).as("b"), round(col("c"), 9).as("c"),
        round(col("m"), 2).as("m_total"), round(col("p"), 6).as("p_innov"),
        round(col("b") + col("p"), 6).as("q_imit"))
    }),

    "q337_geofence" -> ((s, dir) => {
      // Point-in-polygon geofence over the deterministic customer
      // coordinates: ray-cast parity against a FIXED 6-edge polygon,
      // unrolled as one codegen'd scalar expression chain (no join, no
      // shuffle — the fence test is free at any corpus size); the
      // per-nation occupancy is one aggregate. Coordinates are
      // bit-identical across engines by the unit-hash parity spec, so
      // the crossing booleans agree exactly.
      val pts = tbl(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          spatial.Geo.latOf(col("c_custkey")).as("lat"),
          spatial.Geo.lonOf(col("c_custkey")).as("lon"))
      pts.withColumn("inside",
          spatial.Geo.insideFence(col("lat"), col("lon")))
        .join(broadcast(tbl(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("inside"), 1L).otherwise(0L)).as("n_inside"))
        .select(col("nation"), col("n_total"), col("n_inside"),
          round(col("n_inside").cast("double")
            / col("n_total").cast("double"), 6).as("share"))
    }),

    "q338_sprt" -> ((s, dir) => {
      // Wald sequential probability ratio test on the daily return
      // rate: H₀ p=0.20 vs H₁ p=0.26 at α=β=0.05 (barriers ±ln 19).
      // Per-day (k, n) are exact integers off one scan; the LLR walk
      // folds over the CALENDAR-BOUNDED day grid with pinned double
      // literals for ln(p₁/p₀) and ln((1−p₁)/(1−p₀)) — no runtime ln,
      // no cross-libm drift — and records the FIRST barrier crossing.
      val lnA = 0.26236426446749106 // ln(0.26/0.20)
      val lnB = -0.07796154146971193 // ln(0.74/0.80)
      val bar = 2.9444389791664403 // ln(19)
      val daily = tbl(s, dir, "lineitem")
        .groupBy(col("l_shipdate").cast("date").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("k"))
        .select(datediff(col("day"), lit("1970-01-01")).cast("long").as("day"),
          col("n"), col("k"))
      val ser = daily
        .agg(array_sort(collect_list(struct(col("day"), col("n"), col("k"))))
          .as("ser"))
      val zero = struct(lit(0L).as("t"), lit(0.0).as("llr"),
        lit(0).as("dec"), lit(0L).as("decday"))
      ser.select(aggregate(col("ser"), zero,
        (acc, e) => {
          val llr1 = round(acc.getField("llr")
            + (e.getField("k").cast("double") * lit(lnA)
              + (e.getField("n") - e.getField("k")).cast("double")
                * lit(lnB)), 6)
          val newDec = when(acc.getField("dec") =!= 0, acc.getField("dec"))
            .when(llr1 >= bar, lit(1))
            .when(llr1 <= -bar, lit(-1))
            .otherwise(lit(0))
          val newDay = when(acc.getField("dec") =!= 0, acc.getField("decday"))
            .when(newDec =!= 0, e.getField("day"))
            .otherwise(lit(0L))
          struct((acc.getField("t") + 1).as("t"), llr1.as("llr"),
            newDec.as("dec"), newDay.as("decday"))
        },
        acc => struct(acc.getField("t").as("n_days"),
          acc.getField("dec").as("decision"),
          acc.getField("decday").as("day_at_decision"),
          acc.getField("llr").as("final_llr"))).as("r"))
        .select(col("r.n_days"), col("r.decision"), col("r.day_at_decision"),
          col("r.final_llr"))
    }),

    "q339_markov_entropy" -> ((s, dir) => {
      // Entropy rate of the q172 event-type Markov chain:
      // H = −Σᵢ πᵢ Σⱼ pᵢⱼ ln pᵢⱼ with the empirical row-mass πᵢ. The
      // corpus collapses to the event-type² transition grid (q172's
      // user-partitioned lead), then every term folds in (i, j) order
      // — the information-theoretic summary next to the raw matrix.
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val pairs = ev.withColumn("nxt", lead(col("event_type"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("event_type").as("cur"), col("nxt"))
        .agg(count(lit(1)).as("cnt"))
        .cut()
      val marg = pairs.groupBy(col("cur")).agg(sum(col("cnt")).as("rt"))
      val tot = pairs.agg(sum(col("cnt")).as("gt"))
      def d(c: String): Column = col(c).cast("double")
      val terms = pairs.join(broadcast(marg), Seq("cur"))
        .crossJoin(broadcast(tot))
        .select(col("cur"), col("nxt"),
          round((d("rt") / d("gt")) * (d("cnt") / d("rt"))
            * log(d("cnt") / d("rt")), 12).as("term"))
      terms
        .agg(countDistinct(col("cur")).as("n_states"),
          aggregate(array_sort(collect_list(struct(col("cur"), col("nxt"),
            col("term")))), lit(0.0),
            (a, e) => round(a + e.getField("term"), 12)).as("hsum"))
        // unrounded (roundlint r11): 12-dp fold sum, boundary class
        .select(col("n_states"), (-col("hsum")).as("entropy_rate_nats"))
    }),

    "q341_cochran_armitage" -> ((s, dir) => {
      // Cochran–Armitage trend test: does the fulfilled-rate move
      // monotonically with order priority? Integer level scores make
      // EVERY sum exact (Σwr, Σwn, Σw²n are plain integer aggregates —
      // no ordered folds at all); the z statistic is one closed-form
      // double. Grid is the 5-level priority table.
      val lv = tbl(s, dir, "orders")
        .select(substring(col("o_orderpriority"), 1, 1).cast("long").as("w"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
      val g = lv.groupBy(col("w"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("r"))
      def d(c: String): Column = col(c).cast("double")
      g.agg(count(lit(1)).as("n_levels"), sum(col("n")).as("nn"),
          sum(col("r")).as("rr"), sum(col("w") * col("r")).as("swr"),
          sum(col("w") * col("n")).as("swn"),
          sum(col("w") * col("w") * col("n")).as("sw2n"))
        .withColumn("pbar", d("rr") / d("nn"))
        .select(col("n_levels"), col("nn").as("n_obs"),
          round((d("swr") - d("swn") * col("pbar"))
            / sqrt(col("pbar") * (lit(1.0) - col("pbar"))
              * (d("sw2n") - d("swn") * d("swn") / d("nn"))), 6).as("z_trend"))
    }),

    "q342_capture_recapture" -> ((s, dir) => {
      // Chapman capture–recapture estimate of the active customer
      // population from two yearly "survey" samples (1994 / 1995
      // orderers): N̂ = (nA+1)(nB+1)/(m+1) − 1. Three exact integer
      // counts off one scan; the estimate is one double expression.
      val byc = tbl(s, dir, "orders")
        .filter(year(col("o_orderdate")).isin(1994, 1995))
        .groupBy(col("o_custkey"))
        .agg(max(when(year(col("o_orderdate")) === 1994, 1L).otherwise(0L))
          .as("a"),
          max(when(year(col("o_orderdate")) === 1995, 1L).otherwise(0L))
          .as("b"))
      def d(c: String): Column = col(c).cast("double")
      byc.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"),
          sum(col("a") * col("b")).as("m"))
        .select(col("na"), col("nb"), col("m"),
          round((d("na") + lit(1.0)) * (d("nb") + lit(1.0))
            / (d("m") + lit(1.0)) - lit(1.0), 2).as("chapman_n"))
    }),

    "q345_series_outliers" -> ((s, dir) => {
      // Rolling-median anomaly flags on daily revenue: for each full
      // 7-day window, median and MAD are the 4th-smallest of SEVEN
      // exact integers (array_sort picks, zero float ops anywhere), and
      // a day is an outlier iff |x − med| > 5·mad — an integer
      // comparison, bit-agreed by construction. The ±3 band join is
      // grid-sized; output is the flagged days only.
      val daily = tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)"))
          .as("x"))
      val idx = operators.ScalableWindow
        .boundedRankCum(daily, Seq(("day", true)), "t")
        .cut()
      val nTot = idx.agg(max(col("t")).as("nn"))
      val ctr = idx.crossJoin(broadcast(nTot))
        .filter(col("t") >= 4 && col("t") <= col("nn") - 3)
        .select(col("t").as("tc"), col("day"), col("x").as("x0"))
      val win = ctr.join(idx.select(col("t"), col("x")),
          col("t") >= col("tc") - 3 && col("t") <= col("tc") + 3)
        .groupBy(col("tc"), col("day"), col("x0"))
        .agg(element_at(array_sort(collect_list(col("x"))), 4).as("med"))
      val mad = ctr.join(idx.select(col("t"), col("x")),
          col("t") >= col("tc") - 3 && col("t") <= col("tc") + 3)
        .join(win.select(col("tc"), col("med")), Seq("tc"))
        .groupBy(col("tc"))
        .agg(element_at(array_sort(collect_list(abs(col("x") - col("med")))),
          4).as("mad"))
      win.join(mad, Seq("tc"))
        .filter(abs(col("x0") - col("med")) > lit(5L) * col("mad"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("x0").as("x_cents"), col("med").as("med_cents"),
          col("mad").as("mad_cents"))
    }),

    "q347_energy_distance" -> ((s, dir) => {
      // Energy distance between the BUILDING and MACHINERY order-value
      // distributions, EXACTLY and in O(grid): the all-pairs sum
      // Σ|x−y| collapses to prefix counts/sums over the sorted value
      // grid (contribution per value v: c(v)·[v·C_below − S_below +
      // S_above − v·C_above]) — every term an exact integer, so the
      // n²-looking statistic needs no pair join and no float folds.
      // D² = 2T_AB/(nm) − T_AA/n² − T_BB/m² is the only float step.
      val v = tbl(s, dir, "orders")
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select((col("c_mktsegment") === "BUILDING").as("g1"),
          expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)").as("v"))
      // Checkpointed: feeds both the banded pass and the n/m/sat/sbt totals.
      val grid0 = v.groupBy(col("v"))
        .agg(sum(when(col("g1"), 1L).otherwise(0L)).as("ca"),
          sum(when(col("g1"), 0L).otherwise(1L)).as("cb"))
        .withColumn("sa", col("v").cast("decimal(38,0)") * col("ca"))
        .withColumn("sb", col("v").cast("decimal(38,0)") * col("cb"))
        .cut()
      val grid = operators.ScalableWindow.bandedCumSums(grid0, "v",
        descending = false, Nil,
        Seq("ca" -> "cca", "cb" -> "ccb", "sa" -> "csa", "sb" -> "csb"))
        .cut()
      val tot = grid0.agg(sum(col("ca")).as("n"), sum(col("cb")).as("m"),
        sum(col("sa")).as("sat"), sum(col("sb")).as("sbt"))
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      // below-EXCLUSIVE prefixes; above excludes the value itself.
      def pairSum(c: Column, cntBelow: Column, sumBelow: Column,
          cntTot: Column, sumTot: Column, cSame: Column,
          sSame: Column): Column =
        sum(d38(c) * (d38(col("v")) * d38(cntBelow) - sumBelow
          + (sumTot - sumBelow - sSame)
          - d38(col("v")) * (cntTot - cntBelow - cSame)))
      val t = grid.crossJoin(broadcast(tot))
        .agg(
          pairSum(col("ca"), col("ccb") - col("cb"), col("csb") - col("sb"),
            col("m"), col("sbt"), col("cb"), col("sb")).as("tab"),
          pairSum(col("ca"), col("cca") - col("ca"), col("csa") - col("sa"),
            col("n"), col("sat"), col("ca"), col("sa")).as("taa"),
          pairSum(col("cb"), col("ccb") - col("cb"), col("csb") - col("sb"),
            col("m"), col("sbt"), col("cb"), col("sb")).as("tbb"),
          max(col("n")).as("n"), max(col("m")).as("m"))
      def d(c: String): Column = col(c).cast("double")
      t.select(col("n"), col("m"),
        round(lit(2.0) * d("tab") / (d("n") * d("m"))
          - d("taa") / (d("n") * d("n"))
          - d("tbb") / (d("m") * d("m")), 4).as("energy_d2_cents"))
    }),

    "q350_crps" -> ((s, dir) => {
      // Mean CRPS of the climatological forecast: the 1995 daily-revenue
      // distribution as the ensemble F, scored on every 1996 day y —
      // CRPS(F,y) = E|X−y| − ½E|X−X′|, so mean CRPS = T_AB/(n·m) −
      // T_AA/(2n²) with the SAME exact O(grid) prefix-sum pair sums as
      // q347 (A = ensemble, B = outcomes): no pair join, every term an
      // exact integer, one double at the end.
      val daily = tbl(s, dir, "orders")
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)"))
          .as("x"))
        .select((year(col("day")) === 1995).as("g1"), col("x").as("v"))
      // Checkpointed: feeds both the banded pass and the totals (r13).
      val grid0 = daily.groupBy(col("v"))
        .agg(sum(when(col("g1"), 1L).otherwise(0L)).as("ca"),
          sum(when(col("g1"), 0L).otherwise(1L)).as("cb"))
        .withColumn("sa", col("v").cast("decimal(38,0)") * col("ca"))
        .withColumn("sb", col("v").cast("decimal(38,0)") * col("cb"))
        .cut()
      val grid = operators.ScalableWindow.bandedCumSums(grid0, "v",
        descending = false, Nil,
        Seq("ca" -> "cca", "cb" -> "ccb", "sa" -> "csa", "sb" -> "csb"))
        .cut()
      val tot = grid0.agg(sum(col("ca")).as("n"), sum(col("cb")).as("m"),
        sum(col("sa")).as("sat"), sum(col("sb")).as("sbt"))
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      def pairSum(c: Column, cntBelow: Column, sumBelow: Column,
          cntTot: Column, sumTot: Column, cSame: Column,
          sSame: Column): Column =
        sum(d38(c) * (d38(col("v")) * d38(cntBelow) - sumBelow
          + (sumTot - sumBelow - sSame)
          - d38(col("v")) * (cntTot - cntBelow - cSame)))
      val t = grid.crossJoin(broadcast(tot))
        .agg(
          pairSum(col("ca"), col("ccb") - col("cb"), col("csb") - col("sb"),
            col("m"), col("sbt"), col("cb"), col("sb")).as("tab"),
          pairSum(col("ca"), col("cca") - col("ca"), col("csa") - col("sa"),
            col("n"), col("sat"), col("ca"), col("sa")).as("taa"),
          max(col("n")).as("n"), max(col("m")).as("m"))
      def d(c: String): Column = col(c).cast("double")
      t.select(col("n").as("n_ensemble"), col("m").as("n_outcomes"),
        round(d("tab") / (d("n") * d("m"))
          - d("taa") / (lit(2.0) * d("n") * d("n")), 4)
          .as("mean_crps_cents"))
    }),

    "q351_cond_entropy" -> ((s, dir) => {
      // Joint/conditional entropy and mutual information of order
      // priority × status: H(X,Y), H(Y), H(X|Y) = H(X,Y) − H(Y), and
      // I(X;Y) = H(X) + H(Y) − H(X,Y) — the information-theoretic
      // companion to q228's χ². One cell aggregate; every entropy folds
      // in key order at 12 dp.
      val cells = tbl(s, dir, "orders")
        .select(col("o_orderpriority").as("x"), col("o_orderstatus").as("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n"))
        .cut()
      val tot = cells.agg(sum(col("n")).as("nn"))
      def d(c: String): Column = col(c).cast("double")
      def hFold(df: DataFrame, keys: Seq[Column], out: String): DataFrame =
        df.crossJoin(broadcast(tot))
          .select(struct(keys: _*).as("k"),
            round(-(d("n") / d("nn")) * log(d("n") / d("nn")), 12).as("t"))
          .agg(aggregate(array_sort(collect_list(struct(col("k"), col("t")))),
            lit(0.0), (a, e) => round(a + e.getField("t"), 12)).as(out))
      val hxy = hFold(cells, Seq(col("x"), col("y")), "hxy")
      val hx = hFold(cells.groupBy(col("x")).agg(sum(col("n")).as("n")),
        Seq(col("x")), "hx")
      val hy = hFold(cells.groupBy(col("y")).agg(sum(col("n")).as("n")),
        Seq(col("y")), "hy")
      // unrounded (roundlint r11): 12-dp fold sums (and their exact
      // IEEE differences) on a 6-dp output grid — boundary class
      hxy.crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
        .select(col("hxy").as("h_joint"),
          (col("hxy") - col("hy")).as("h_x_given_y"),
          (col("hx") + col("hy") - col("hxy")).as("mutual_info"))
    }),

    "q352_turning_points" -> ((s, dir) => {
      // Turning-point test for series randomness: count local extrema
      // of daily revenue (x_{t−1} < x_t > x_{t+1} or the reverse —
      // exact integer comparisons off two lag joins), against
      // E[T] = 2(n−2)/3, Var[T] = (16n−29)/90. The i.i.d. screen next
      // to q290's runs test.
      val daily = tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)"))
          .as("x"))
      val idx = operators.ScalableWindow
        .boundedRankCum(daily, Seq(("day", true)), "t")
        .select(col("t"), col("x")).cut()
      val trip = idx.as("c")
        .join(idx.as("l"), col("c.t") === col("l.t") + 1)
        .join(idx.as("r"), col("c.t") === col("r.t") - 1)
        .select(((col("l.x") < col("c.x") && col("c.x") > col("r.x"))
          || (col("l.x") > col("c.x") && col("c.x") < col("r.x")))
          .as("turn"))
      def d(c: String): Column = col(c).cast("double")
      val n = idx.agg(max(col("t")).as("n"))
      trip.agg(sum(when(col("turn"), 1L).otherwise(0L)).as("turns"))
        .crossJoin(broadcast(n))
        .withColumn("et", lit(2.0) * (d("n") - lit(2.0)) / lit(3.0))
        .withColumn("vt", (lit(16.0) * d("n") - lit(29.0)) / lit(90.0))
        .select(col("n").as("n_days"), col("turns"),
          round(col("et"), 4).as("expected_turns"),
          round((d("turns") - col("et")) / sqrt(col("vt")), 6).as("z"))
    }),

    "q348_business_days" -> ((s, dir) => {
      // Order→ship lead time in BUSINESS days per priority, via the
      // closed-form weekday count W(x) = 5·(u div 7) + least(u mod 7
      // + 1, 5) with u = epochday − 4 (1970-01-05 is a Monday);
      // busdays(a,b] = W(b) − W(a). Pure integer arithmetic mirrored
      // textually — no calendar UDF, no locale, no float anywhere
      // until the final average.
      val li = tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          datediff(col("o_orderdate").cast("date"), lit("1970-01-01"))
            .cast("long").as("a"),
          datediff(col("l_shipdate").cast("date"), lit("1970-01-01"))
            .cast("long").as("b"))
        .withColumn("ua", col("a") - 4L)
        .withColumn("ub", col("b") - 4L)
        .withColumn("wa", lit(5L) * expr("ua div 7")
          + least(pmod(col("ua"), lit(7L)) + 1L, lit(5L)))
        .withColumn("wb", lit(5L) * expr("ub div 7")
          + least(pmod(col("ub"), lit(7L)) + 1L, lit(5L)))
        .withColumn("bd", col("wb") - col("wa"))
      def d(c: String): Column = col(c).cast("double")
      li.groupBy(col("priority"))
        .agg(count(lit(1)).as("n"), sum(col("bd")).as("total_busdays"))
        .select(col("priority"), col("n"), col("total_busdays"),
          round(d("total_busdays") / d("n"), 6).as("avg_busdays"))
    }),

    "q346_theil_u" -> ((s, dir) => {
      // Theil's U1 forecast-inequality coefficient of the lag-7
      // seasonal-naive forecast on daily revenue: every Σ is an exact
      // integer cross-moment off the day-grid lag join; U1 is one
      // closed-form double.
      val daily = tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)"))
          .cast("decimal(38,0)").as("x"))
      val idx = operators.ScalableWindow
        .boundedRankCum(daily, Seq(("day", true)), "t")
        .select(col("t"), col("x")).cut()
      val pairs = idx.as("a").join(idx.as("b"), col("a.t") === col("b.t") + 7)
        .select(col("a.x").as("act"), col("b.x").as("pred"))
      def d(c: String): Column = col(c).cast("double")
      pairs.agg(count(lit(1)).as("n"),
          sum((col("act") - col("pred")) * (col("act") - col("pred")))
            .as("se"),
          sum(col("act") * col("act")).as("sa"),
          sum(col("pred") * col("pred")).as("sp"))
        .select(col("n").as("n_days"),
          round(sqrt(d("se") / d("n"))
            / (sqrt(d("sa") / d("n")) + sqrt(d("sp") / d("n"))), 6)
            .as("theil_u1"))
    }),

    "q340_kmv_set_ops" -> ((s, dir) => {
      // KMV (k-minimum-values) sketch algebra over per-source token
      // sets: k=64 smallest md5 unit hashes per source — pruned by the
      // native TopKPerKey BEFORE any collect, so per-source state is 64
      // doubles at any corpus size — then pairwise union/Jaccard
      // estimates from merged sketches, next to the EXACT Jaccard for
      // calibration. Sketch hashes are md5-deterministic, so the oracle
      // replays the identical sketches.
      val toks = tbl(s, dir, "documents")
        .select(col("source"),
          explode(graft.functions.Text.tokens(lower(col("text")))).as("tok"))
        .filter(length(col("tok")) > 0)
        .select(col("source"), col("tok")).distinct()
        .cut()
      val hashed = toks.select(col("source"), col("tok"),
        graft.plans.TextKernels.unitHashNative(concat(lit("kmv_"),
          col("tok"))).as("h"))
      val topk = org.apache.spark.sql.graft.TopKPerKey(hashed,
        Seq("source"), Seq(("h", true), ("tok", true)), k = 64)
      val sk = topk.groupBy(col("source"))
        .agg(array_sort(collect_list(col("h"))).as("kmv"),
          count(lit(1)).as("kk"))
      val a = sk.select(col("source").as("sa"), col("kmv").as("va"))
      val b = sk.select(col("source").as("sb"), col("kmv").as("vb"))
      val pairsEst = a.crossJoin(b).filter(col("sa") < col("sb"))
        .withColumn("merged",
          slice(array_sort(array_union(col("va"), col("vb"))), 1, 64))
        // out-of-bounds element_at throws under ANSI; a short merged
        // sketch (tiny sf) yields NULL estimates in BOTH engines.
        .withColumn("hk", when(size(col("merged")) >= 64,
          element_at(col("merged"), 64)).otherwise(lit(null).cast("double")))
        .withColumn("common", array_intersect(col("va"), col("vb")))
        .withColumn("nmatch",
          size(array_intersect(col("merged"), col("common"))))
        .select(col("sa"), col("sb"),
          round(lit(63.0) / col("hk"), 2).as("est_union"),
          round(col("nmatch").cast("double") / lit(64.0), 6)
            .as("est_jaccard"))
      val exact = toks.groupBy(col("tok"))
        .agg(collect_set(col("source")).as("srcs"))
        .select(explode(col("srcs")).as("sa"), col("srcs"))
        .select(col("sa"), explode(col("srcs")).as("sb"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("n_both"))
      val sizes = toks.groupBy(col("source")).agg(count(lit(1)).as("nt"))
      pairsEst
        .join(exact, Seq("sa", "sb"))
        .join(sizes.withColumnRenamed("source", "sa")
          .withColumnRenamed("nt", "na"), Seq("sa"))
        .join(sizes.withColumnRenamed("source", "sb")
          .withColumnRenamed("nt", "nb"), Seq("sb"))
        .select(col("sa"), col("sb"), col("est_union"), col("est_jaccard"),
          round(col("n_both").cast("double")
            / (col("na") + col("nb") - col("n_both")).cast("double"), 6)
            .as("exact_jaccard"))
    }),

    // ── Homogeneity / association tier (q359–q364, round 9) ────────────

    "q359_bartlett" -> ((s, dir) => {
      // Bartlett's test of variance homogeneity of order value across
      // the five order priorities. The corpus collapses to k=5 group
      // triples (n, Σx, Σx²) in ONE map-combinable pass — x in exact
      // cents, the squares summed as DECIMAL(38,0) (a per-element c² of
      // ~2.5e15 fits BIGINT; the SUM does not) — so every variance is a
      // double derived from exact integers and the ln terms (rounded to
      // 6 dp, folded in group order — the q194/q229 float contract)
      // agree across engines bit-for-bit.
      val cents = (col("o_totalprice").cast(dec) * 100).cast("long")
      val g = tbl(s, dir, "orders")
        .select(col("o_orderpriority").as("grp"), cents.as("c"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("c").cast("decimal(38,0)")).as("s"),
          sum((col("c") * col("c")).cast("decimal(38,0)")).as("m2"))
      val v = ((col("m2").cast("double")
        - col("s").cast("double") * col("s").cast("double")
          / col("n").cast("double"))
        / (col("n") - 1).cast("double"))
      val per = g.select(col("grp"), col("n"), v.as("v"))
      def fold(w: Column) =
        aggregate(array_sort(collect_list(struct(col("grp"), w.as("w")))),
          lit(0.0), (acc, e) => acc + e.getField("w"))
      per.agg(count(lit(1)).as("k"), sum(col("n")).as("n_total"),
          fold((col("n") - 1).cast("double") * col("v")).as("sw"),
          fold(round((col("n") - 1).cast("double") * log(col("v")), 6)).as("st"),
          fold(lit(1.0) / (col("n") - 1).cast("double")).as("sr"))
        .select(col("k"), col("n_total"),
          round(lit(1.0) + (col("sr") - lit(1.0)
            / (col("n_total") - col("k")).cast("double"))
            / (lit(3.0) * (col("k") - 1).cast("double")), 6).as("c_factor"),
          round(((col("n_total") - col("k")).cast("double")
              * log(col("sw") / (col("n_total") - col("k")).cast("double"))
              - col("st"))
            / (lit(1.0) + (col("sr") - lit(1.0)
              / (col("n_total") - col("k")).cast("double"))
              / (lit(3.0) * (col("k") - 1).cast("double"))), 4).as("t_bartlett"))
    }),

    "q360_mood_median" -> ((s, dir) => {
      // Mood's median test of order value across nations: ONE exact
      // interpolated grand median (both engines share the (n−1)·p linear
      // interpolation), then per-nation above/≤ counts and the 2×k χ²
      // contributions — all integer counts, the expected counts one
      // fixed double expression over them.
      val o = tbl(s, dir, "orders")
        .select(col("o_custkey"), col("o_totalprice").cast("double").as("v"))
      val med = o.agg(expr("percentile(v, 0.5)").as("med"))
      val c = tbl(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val n = tbl(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val cells = o.crossJoin(broadcast(med))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(when(col("v") > col("med"), 1L).otherwise(0L)).as("n_above"),
          count(lit(1)).as("n_total"))
        .cut()
      val tot = cells.agg(sum(col("n_above")).as("ga"), sum(col("n_total")).as("gn"))
      val e = col("n_total").cast("double") * col("ga").cast("double") /
        col("gn").cast("double")
      cells.crossJoin(broadcast(tot))
        .select(col("n_name").as("nation"), col("n_above"), col("n_total"),
          round(e, 4).as("exp_above"),
          round((col("n_above").cast("double") - e) * (col("n_above").cast("double") - e) / e
            + ((col("n_total") - col("n_above")).cast("double")
              - (col("n_total").cast("double") - e))
              * ((col("n_total") - col("n_above")).cast("double")
                - (col("n_total").cast("double") - e))
              / (col("n_total").cast("double") - e), 4).as("chi2_part"))
    }),

    "q361_cramers_v" -> ((s, dir) => {
      // Cramér's V of the nation × order-priority contingency: the χ²
      // machinery of q228 reduced to ONE row — cell counts map-combine,
      // the 125 χ² parts fold in (nation, priority) order, and V is one
      // sqrt of exact-integer-derived doubles.
      val o = tbl(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderpriority").as("prio"))
      val c = tbl(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val cells = o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nk"), col("prio"))
        .agg(count(lit(1)).as("n_obs"))
        .cut()
      val rm = cells.groupBy(col("nk")).agg(sum(col("n_obs")).as("rt"))
      val cm = cells.groupBy(col("prio")).agg(sum(col("n_obs")).as("ct"))
      val rc = cells.agg(countDistinct(col("nk")).as("r"),
        countDistinct(col("prio")).as("cc"), sum(col("n_obs")).as("n"))
      val e = col("rt").cast("double") * col("ct").cast("double") /
        col("n").cast("double")
      val part = (col("n_obs").cast("double") - e) *
        (col("n_obs").cast("double") - e) / e
      cells.join(broadcast(rm), Seq("nk"))
        .join(broadcast(cm), Seq("prio"))
        .crossJoin(broadcast(rc))
        .select(col("nk"), col("prio"), col("r"), col("cc"), col("n"),
          round(part, 6).as("p2"))
        .groupBy(col("r"), col("cc"), col("n"))
        .agg(aggregate(array_sort(collect_list(struct(col("nk"), col("prio"),
          col("p2")))), lit(0.0), (acc, x) => acc + x.getField("p2")).as("chi2"))
        .select(col("n"), col("r").as("r_levels"), col("cc").as("c_levels"),
          // unrounded chi2 (roundlint r11): 6-dp term fold rounded to
          // 4 dp was the highest-probability boundary shape (1e-2 per
          // value); cramers_v keeps its round — sqrt of a ratio is off
          // any grid (boundary landing has measure ~0)
          col("chi2"),
          round(sqrt(col("chi2") / (col("n").cast("double")
            * least(col("r") - 1, col("cc") - 1).cast("double"))), 6)
            .as("cramers_v"))
    }),

    "q362_diversity_profile" -> ((s, dir) => {
      // Ecology diversity panel per nation over purchased part brands:
      // Shannon H (6-dp terms folded in brand order), Gini–Simpson
      // 1−Σp², Berger–Parker max p, Pielou evenness H/ln S. The corpus
      // collapses to (nation, brand) counts — ≤ 25·25 cells at any
      // scale — before any float appears.
      val li = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      val o = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val c = tbl(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val n = tbl(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val p = tbl(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      val cnt = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("n_name"), col("p_brand"))
        .agg(count(lit(1)).as("cnt"))
        .cut()
      val tot = cnt.groupBy(col("n_name")).agg(sum(col("cnt")).as("tot"))
      val pr = col("cnt").cast("double") / col("tot").cast("double")
      cnt.join(tot, Seq("n_name"))
        .select(col("n_name"), col("p_brand"), col("tot"),
          round(-(pr * log(pr)), 6).as("hterm"),
          round(pr * pr, 6).as("p2"), pr.as("p"))
        .groupBy(col("n_name"), col("tot"))
        .agg(count(lit(1)).as("s_brands"),
          aggregate(array_sort(collect_list(struct(col("p_brand"), col("hterm")))),
            lit(0.0), (a, e) => a + e.getField("hterm")).as("h"),
          aggregate(array_sort(collect_list(struct(col("p_brand"), col("p2")))),
            lit(0.0), (a, e) => a + e.getField("p2")).as("sp2"),
          max(col("p")).as("bp"))
        .select(col("n_name").as("nation"), col("tot").as("n_items"),
          // shannon_h unrounded (roundlint r11): fold of 6-dp hterm
          // values rounded to 4 dp — the q133 boundary shape exactly
          col("s_brands"), col("h").as("shannon_h"),
          round(lit(1.0) - col("sp2"), 6).as("gini_simpson"),
          round(col("bp"), 6).as("berger_parker"),
          round(col("h") / log(col("s_brands").cast("double")), 6).as("pielou_j"))
    }),

    "q363_cronbach_alpha" -> ((s, dir) => {
      // Cronbach's α of the four quarterly spend "items" per customer:
      // internal-consistency reliability as pure sums — per-customer
      // quarter cents (exact, missing quarters 0), item and total-score
      // variances from (n, Σx, Σx²) in DECIMAL(38,0), α one fixed double
      // expression. Customers-with-orders is the declared universe.
      val cents = (col("o_totalprice").cast(dec) * 100).cast("long")
      val per = tbl(s, dir, "orders")
        .select(col("o_custkey").as("ck"), quarter(col("o_orderdate")).as("q"),
          cents.as("c"))
        .groupBy(col("ck"))
        .agg(sum(when(col("q") === 1, col("c")).otherwise(0L)).as("i1"),
          (2 to 4).map(i =>
            sum(when(col("q") === i, col("c")).otherwise(0L)).as(s"i$i")): _*)
      val t = col("i1") + col("i2") + col("i3") + col("i4")
      def d38(c: Column) = c.cast("decimal(38,0)")
      val sums = per.agg(
        count(lit(1)).as("n"),
        sum(d38(col("i1"))).as("s1"), sum(d38(col("i1") * col("i1"))).as("q1"),
        sum(d38(col("i2"))).as("s2"), sum(d38(col("i2") * col("i2"))).as("q2"),
        sum(d38(col("i3"))).as("s3"), sum(d38(col("i3") * col("i3"))).as("q3"),
        sum(d38(col("i4"))).as("s4"), sum(d38(col("i4") * col("i4"))).as("q4"),
        sum(d38(t)).as("st"), sum(d38(t * t)).as("qt"))
      def v(sq: Column, sm: Column) = (sq.cast("double")
        - sm.cast("double") * sm.cast("double") / col("n").cast("double")) /
        (col("n") - 1).cast("double")
      val sumVi = v(col("q1"), col("s1")) + v(col("q2"), col("s2")) +
        v(col("q3"), col("s3")) + v(col("q4"), col("s4"))
      sums.select(col("n").as("n_customers"), lit(4L).as("k_items"),
        round((lit(4.0) / lit(3.0))
          * (lit(1.0) - sumVi / v(col("qt"), col("st"))), 6).as("alpha"))
    }),

    // ── Inequality panel (q377–q379) over per-customer spend ────────────
    // Shared base: exact per-customer total spend cents per nation.
    // Gini already ships exact (q298); Atkinson/Theil need per-element
    // √/ln so they run on the DECILE GRID (the q364 discipline — 10
    // interpolated values per nation at ANY corpus size, folds are
    // fixed-order array transforms); Hoover reduces to EXACT integers:
    // |n·x − S| sums in DECIMAL(38,0), one double division at the end.

    "q377_atkinson_grid" -> ((s, dir) => {
      val g = spendDecileGrid(s, dir)
      val sqs = aggregate(transform(col("g"), x => sqrt(x)), lit(0.0), _ + _)
      val ss = aggregate(col("g"), lit(0.0), _ + _)
      g.select(col("nation"), col("n_customers"),
        round(ss / 10.0, 4).as("grid_mean"),
        round(lit(1.0) - (sqs / lit(10.0)) * (sqs / lit(10.0)) /
          (ss / lit(10.0)), 6).as("atkinson_05"))
    }),

    "q378_theil_grid" -> ((s, dir) => {
      val g = spendDecileGrid(s, dir)
      val mu = aggregate(col("g"), lit(0.0), _ + _) / lit(10.0)
      val t = aggregate(transform(col("g"),
        x => round((x / mu) * log(x / mu), 9)), lit(0.0), _ + _) / lit(10.0)
      g.select(col("nation"), col("n_customers"),
        round(mu, 4).as("grid_mean"), round(t, 6).as("theil_t"))
    }),

    "q379_hoover_index" -> ((s, dir) => {
      // Hoover (Robin Hood) index, EXACT: |x − μ| = |n·x − S| / n, so
      // Σ|x − μ| / (2·n·μ) = Σ|n·x − S| / (2·n·S) — the numerator is an
      // exact DECIMAL(38,0) integer sum, the index one double division.
      val base = spendPerCustomer(s, dir).cut()
      val agg1 = base.groupBy(col("nation"))
        .agg(count(lit(1)).as("n"), sum(col("x").cast("decimal(38,0)")).as("st"))
      base.join(broadcast(agg1), Seq("nation"))
        .select(col("nation"), col("n"), col("st"),
          abs(col("n").cast("decimal(19,0)") * col("x").cast("decimal(19,0)") -
            col("st")).as("dev"))
        .groupBy(col("nation"), col("n"), col("st"))
        .agg(sum(col("dev")).as("sdev"))
        .select(col("nation"), col("n").as("n_customers"),
          round(col("sdev").cast("double") /
            (lit(2.0) * col("n").cast("double") * col("st").cast("double")), 6)
            .as("hoover"))
    }),

    "q386_simpson_reversal" -> ((s, dir) => {
      // Simpson's-paradox audit: the quantity→price OLS slope per brand
      // vs pooled — the aggregation-reversal check a reporting layer
      // runs before trusting a pooled trend. Slopes are pure functions
      // of exact integer sums (x ≤ 50 units, y exact cents; Σxy/Σx²
      // summed as DECIMAL(38,0) — per-element products fit BIGINT, the
      // corpus-sized sums do not), so both engines see identical
      // doubles. Output is brand-sized.
      val li = tbl(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity").cast("long").as("x"),
          (col("l_extendedprice").cast(dec) * 100).cast("long").as("y"))
      val p = tbl(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      val base = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), col("x"), col("y"))
        .cut()
      def d38(c: Column) = c.cast("decimal(38,0)")
      def sums(df: DataFrame, keys: Seq[Column]) = df
        .groupBy(keys: _*)
        .agg(count(lit(1)).as("n"), sum(d38(col("x"))).as("sx"),
          sum(d38(col("y"))).as("sy"), sum(d38(col("x") * col("y"))).as("sxy"),
          sum(d38(col("x") * col("x"))).as("sx2"))
      def slope = (col("n").cast("double") * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")) /
        (col("n").cast("double") * col("sx2").cast("double") -
          col("sx").cast("double") * col("sx").cast("double"))
      val per = sums(base, Seq(col("p_brand"))).select(col("p_brand"),
        col("n"), round(slope, 6).as("slope_brand"))
      val pooled = sums(base, Seq.empty).select(round(slope, 6).as("slope_pooled"))
      per.crossJoin(broadcast(pooled))
        .select(col("p_brand").as("brand"), col("n").as("n_items"),
          col("slope_brand"), col("slope_pooled"),
          (signum(col("slope_brand")) =!= signum(col("slope_pooled")))
            .as("reversed"))
    }),

    "q388_negbin_fit" -> ((s, dir) => {
      // Negative-binomial method-of-moments fit of orders-per-customer
      // (zeros included — the left join defines the universe): r =
      // μ²/(σ²−μ), p = μ/σ², NULL when the data is not overdispersed
      // (σ² ≤ μ ⇒ NB degenerates — the CASE is mirrored in the oracle).
      // One grid of exact integer sums, one row out.
      val c = tbl(s, dir, "customer").select(col("c_custkey"))
      val o = tbl(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("d0"))
      val d = c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("d0"), lit(0L)).as("d"))
      val sums = d.agg(count(lit(1)).as("n"), sum(col("d")).as("sd"),
        sum((col("d") * col("d")).cast("decimal(38,0)")).as("sd2"))
      val mu = col("sd").cast("double") / col("n").cast("double")
      val v = (col("sd2").cast("double") - col("sd").cast("double") *
        col("sd").cast("double") / col("n").cast("double")) /
        (col("n") - 1).cast("double")
      sums.select(col("n").as("n_customers"), round(mu, 6).as("mean_orders"),
        round(v, 6).as("var_orders"),
        when(v > mu, round(mu * mu / (v - mu), 6)).as("nb_r"),
        when(v > mu, round(mu / v, 6)).as("nb_p"))
    }),

    "q389_lorenz_dominance" -> ((s, dir) => {
      // Pairwise Lorenz-curve dominance between nations on the decile
      // grid: nation A Lorenz-dominates B when A's cumulative spend
      // share is ≥ B's at EVERY decile (less inequality in the
      // second-order-stochastic sense) — the ORDERING companion to the
      // scalar inequality indices (q298 Gini, q377–q379). The grid is
      // 10 doubles per nation computed identically in both engines
      // (prefix sums of the shared interpolated deciles), the
      // comparison a 25×25 broadcast pair join.
      val g = spendDecileGrid(s, dir)
      val lor = g.select(col("nation"),
        transform(sequence(lit(1), lit(10)), i =>
          aggregate(slice(col("g"), lit(1), i), lit(0.0), _ + _) /
            aggregate(col("g"), lit(0.0), _ + _)).as("lz"))
        .cut()
      val a = lor.select(col("nation").as("na"), col("lz").as("la"))
      val b = lor.select(col("nation").as("nb"), col("lz").as("lb"))
      a.join(broadcast(b), col("na") < col("nb"))
        .select(col("na"), col("nb"),
          (size(filter(zip_with(col("la"), col("lb"), (x, y) => x >= y),
            v => v)) === 10).as("a_dominates"),
          (size(filter(zip_with(col("la"), col("lb"), (x, y) => y >= x),
            v => v)) === 10).as("b_dominates"))
        .select(col("na"), col("nb"), col("a_dominates"), col("b_dominates"),
          (!col("a_dominates") && !col("b_dominates")).as("curves_cross"))
    }),

    "q393_theil_decomposition" -> ((s, dir) => {
      // Theil-T between/within decomposition across nations — the
      // property that makes Theil THE decomposable inequality index
      // (Gini is not): T = Σ_g w_g·(μ_g/μ)·ln(μ_g/μ)  [between]
      //                  + Σ_g w_g·(μ_g/μ)·T_g         [within].
      // Group means and weights are EXACT (integer cents / counts);
      // the within terms reuse the q378 decile-grid Theil (declared
      // grid semantics). Output is one row per nation with its two
      // contributions — they sum to the decomposed total.
      val base = spendPerCustomer(s, dir).cut()
      val g = base.groupBy(col("nation"))
        .agg(count(lit(1)).as("ng"), sum(col("x").cast("decimal(38,0)")).as("sg"))
      val tot = g.agg(sum(col("ng")).as("n"), sum(col("sg")).as("st"))
      val grid = spendDecileGrid(s, dir).select(col("nation"), col("g"))
      val muG = col("sg").cast("double") / col("ng").cast("double")
      val mu = col("st").cast("double") / col("n").cast("double")
      val wg = col("ng").cast("double") / col("n").cast("double")
      val muGrid = aggregate(col("g"), lit(0.0), _ + _) / lit(10.0)
      val tg = aggregate(transform(col("g"),
        x => round((x / muGrid) * log(x / muGrid), 9)), lit(0.0), _ + _) / lit(10.0)
      g.crossJoin(broadcast(tot)).join(grid, Seq("nation"))
        .select(col("nation"), col("ng").as("n_customers"),
          round(wg * (muG / mu) * log(muG / mu), 6).as("between_term"),
          round(wg * (muG / mu) * tg, 6).as("within_term"))
    }),

    "q394_weighted_jaccard" -> ((s, dir) => {
      // Weighted (histogram) Jaccard between nations over their brand
      // purchase-count vectors: Σ_b min(c_a, c_b) / Σ_b max(c_a, c_b),
      // with Σmax = tot_a + tot_b − Σmin so only SHARED brands join —
      // the multiset generalization of the set Jaccard the dedup tier
      // uses, all exact integers and one division. ≤ 25×25 pairs.
      val li = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      val o = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val c = tbl(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val n = tbl(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val p = tbl(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      val cnt = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("n_name"), col("p_brand"))
        .agg(count(lit(1)).as("cnt"))
        .cut()
      weightedJaccardFinish(cnt)
    }),

    "q391_tail_dependence" -> ((s, dir) => {
      // Empirical upper-tail dependence of (quantity, price):
      // λ_U = P(x > q95x ∧ y > q95y) / P(y > q95y) — the copula-class
      // diagnostic that distinguishes "correlated" from "extremes move
      // together". Two interpolated 95% quantiles broadcast back onto
      // one scan; exact tail counts; one double division.
      val li = tbl(s, dir, "lineitem")
        .select(col("l_quantity").cast("double").as("x"),
          col("l_extendedprice").cast("double").as("y"))
        .cut()
      val q = li.agg(expr("percentile(x, 0.95)").as("qx"),
        expr("percentile(y, 0.95)").as("qy"))
      li.crossJoin(broadcast(q))
        .agg(count(lit(1)).as("n"),
          sum(when(col("x") > col("qx") && col("y") > col("qy"), 1L)
            .otherwise(0L)).as("n_joint"),
          sum(when(col("y") > col("qy"), 1L).otherwise(0L)).as("n_ytail"),
          first(col("qx")).as("qx"), first(col("qy")).as("qy"))
        .select(col("n").as("n_items"), round(col("qx"), 4).as("q95_x"),
          round(col("qy"), 4).as("q95_y"), col("n_joint"), col("n_ytail"),
          round(col("n_joint").cast("double") / col("n_ytail").cast("double"), 6)
            .as("lambda_u"))
    }),

    "q364_hodges_lehmann" -> ((s, dir) => {
      // Hodges–Lehmann location estimator per brand on the DECILE GRID:
      // the exact HL (median of all Walsh averages) is quadratic in
      // group size, so the operator computes it over the ten
      // interpolated deciles — 55 Walsh averages per brand at ANY
      // corpus size, the grid discipline of q347/q350 — and both
      // engines share the interpolation, so the grid HL is exactly
      // reproducible (and a consistent estimator of the exact one).
      val qs = (0 to 9).map(i => 0.05 + 0.1 * i)
      val grid = tbl(s, dir, "part")
        .select(col("p_brand"), col("p_retailprice").cast("double").as("x"))
        .groupBy(col("p_brand"))
        .agg(expr(s"percentile(x, array(${qs.mkString(",")}))").as("g"),
          count(lit(1)).as("n"))
      val a = grid.select(col("p_brand"), col("n"),
        posexplode(col("g")).as(Seq("i", "va")))
      val b = grid.select(col("p_brand"), posexplode(col("g")).as(Seq("j", "vb")))
      a.join(b, Seq("p_brand")).filter(col("i") <= col("j"))
        .select(col("p_brand"), col("n"),
          ((col("va") + col("vb")) / 2).as("w"))
        .groupBy(col("p_brand"), col("n"))
        .agg(expr("percentile(w, 0.5)").as("hl"))
        .select(col("p_brand").as("brand"), col("n").as("n_parts"),
          round(col("hl"), 6).as("hl_estimate"))
    }),

    "q396_welch_ttest" -> ((s, dir) => {
      // Welch's unequal-variance t between returned ('R') and accepted
      // ('A') line quantities, with the Welch–Satterthwaite df — the
      // test q222's pooled z is the equal-variance special case of.
      // Per-group n, Σx, Σx² are exact BIGINTs (quantity ≤ 50); each
      // sample variance is the decimal(38,0) product form
      // n·Σx² − (Σx)² (cast BEFORE multiplying — Σx grows with the
      // corpus, the q366 overflow discipline) over n(n−1), so t and df
      // are fixed double expressions of exact integers.
      val li = tbl(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("R", "A"))
        .select(col("l_returnflag").as("g"), col("l_quantity").cast("long").as("x"))
      val gs = li.groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .cut()
      def side(f: String, sfx: String) = gs.filter(col("g") === f)
        .select(col("n").as("n" + sfx), col("sx").as("sx" + sfx),
          col("sxx").as("sxx" + sfx))
      def variance(n: Column, sx: Column, sxx: Column) =
        (n.cast("decimal(38,0)") * sxx.cast("decimal(38,0)") -
          sx.cast("decimal(38,0)") * sx.cast("decimal(38,0)")).cast("double") /
          (n.cast("double") * (n - 1).cast("double"))
      val j = side("R", "1").crossJoin(side("A", "2"))
      val v1 = variance(col("n1"), col("sx1"), col("sxx1"))
      val v2 = variance(col("n2"), col("sx2"), col("sxx2"))
      val se1 = v1 / col("n1").cast("double")
      val se2 = v2 / col("n2").cast("double")
      val md = col("sx1").cast("double") / col("n1").cast("double") -
        col("sx2").cast("double") / col("n2").cast("double")
      val df = (se1 + se2) * (se1 + se2) /
        (se1 * se1 / (col("n1") - 1).cast("double") +
          se2 * se2 / (col("n2") - 1).cast("double"))
      j.select(col("n1"), col("n2"), round(md, 6).as("mean_diff"),
        round(md / sqrt(se1 + se2), 4).as("t_stat"),
        round(df, 2).as("welch_df"))
    }),

    "q397_hotelling_t2" -> ((s, dir) => {
      // Two-sample Hotelling T² on the (quantity, discount-cents) pair
      // between returned and accepted lines — the multivariate mean
      // test whose univariate margin is q396. Pooled 2×2 covariance is
      // inverted in closed form; every moment is an exact BIGINT
      // (x ≤ 50, y ≤ 10), the per-group sum-of-squares uses the
      // decimal(38,0) product form, and T² and its F conversion
      // F = T²(n−3)/(2(n−2)) are fixed double expressions.
      val li = tbl(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("R", "A"))
        .select(col("l_returnflag").as("g"),
          col("l_quantity").cast("long").as("x"),
          (col("l_discount").cast(dec) * 100).cast("long").as("y"))
      val gs = li.groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .cut()
      def side(f: String, sfx: String) = gs.filter(col("g") === f)
        .select(Seq("n", "sx", "sy", "sxx", "syy", "sxy")
          .map(c => col(c).as(c + sfx)): _*)
      // Within-group SS in the exact product form, over n → double.
      def ss(n: Column, sa: Column, sb: Column, sab: Column) =
        (n.cast("decimal(38,0)") * sab.cast("decimal(38,0)") -
          sa.cast("decimal(38,0)") * sb.cast("decimal(38,0)")).cast("double") /
          n.cast("double")
      val j = side("R", "1").crossJoin(side("A", "2"))
      val nn = (col("n1") + col("n2")).cast("double")
      val denom = nn - lit(2.0)
      val pxx = (ss(col("n1"), col("sx1"), col("sx1"), col("sxx1")) +
        ss(col("n2"), col("sx2"), col("sx2"), col("sxx2"))) / denom
      val pyy = (ss(col("n1"), col("sy1"), col("sy1"), col("syy1")) +
        ss(col("n2"), col("sy2"), col("sy2"), col("syy2"))) / denom
      val pxy = (ss(col("n1"), col("sx1"), col("sy1"), col("sxy1")) +
        ss(col("n2"), col("sx2"), col("sy2"), col("sxy2"))) / denom
      val dx = col("sx1").cast("double") / col("n1").cast("double") -
        col("sx2").cast("double") / col("n2").cast("double")
      val dy = col("sy1").cast("double") / col("n1").cast("double") -
        col("sy2").cast("double") / col("n2").cast("double")
      val det = pxx * pyy - pxy * pxy
      val t2 = (col("n1").cast("double") * col("n2").cast("double") / nn) *
        (dx * (pyy * dx - pxy * dy) + dy * (pxx * dy - pxy * dx)) / det
      j.select(col("n1"), col("n2"), round(t2, 4).as("t2"),
        round(t2 * (nn - lit(3.0)) / (lit(2.0) * (nn - lit(2.0))), 4)
          .as("f_stat"))
    }),

    "q398_mahalanobis_outliers" -> ((s, dir) => {
      // Per-nation multivariate outlier rate: customers whose
      // (total-spend-cents, order-count) pair sits beyond the χ²₂ 99%
      // contour (Mahalanobis² > 9.21) of the GLOBAL population — the
      // 2-D generalization of the z-score screen q146 runs per column.
      // The five moments are exact decimal(38,0) sums (spend² would
      // overflow BIGINT per element at scale — q366 discipline);
      // population covariance comes out of the n·Σ−Σ·Σ product form,
      // and the per-customer quadratic form is one broadcast join plus
      // fixed double arithmetic.
      val o = tbl(s, dir, "orders").select(col("o_custkey"),
        (col("o_totalprice").cast(dec) * 100).cast("long").as("cents"))
      val per = o.groupBy(col("o_custkey"))
        .agg(sum(col("cents")).as("x"), count(lit(1)).as("y"))
      val c = tbl(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val n = tbl(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val base = per.join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("x"), col("y"))
        .cut()
      val d38 = "decimal(38,0)"
      val stats = base.agg(count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"),
        sum(col("y").cast(d38) * col("y").cast(d38)).as("syy"),
        sum(col("x").cast(d38) * col("y").cast(d38)).as("sxy"))
      val nD = col("n").cast("double")
      def cv(sab: Column, sa: Column, sb: Column) =
        (col("n").cast(d38) * sab - sa * sb).cast("double") / (nD * nD)
      val vxx = cv(col("sxx"), col("sx"), col("sx"))
      val vyy = cv(col("syy"), col("sy"), col("sy"))
      val vxy = cv(col("sxy"), col("sx"), col("sy"))
      val det = vxx * vyy - vxy * vxy
      val ddx = col("x").cast("double") - col("sx").cast("double") / nD
      val ddy = col("y").cast("double") - col("sy").cast("double") / nD
      val d2 = (ddx * ddx * vyy - lit(2.0) * ddx * ddy * vxy +
        ddy * ddy * vxx) / det
      base.crossJoin(broadcast(stats))
        .select(col("nation"), when(d2 > 9.21, 1L).otherwise(0L).as("out"))
        .groupBy(col("nation"))
        .agg(count(lit(1)).as("n_customers"), sum(col("out")).as("n_outliers"))
        .select(col("nation"), col("n_customers"), col("n_outliers"),
          round(col("n_outliers").cast("double") /
            col("n_customers").cast("double"), 6).as("outlier_rate"))
    }),

    "q399_winsorized_trimmed" -> ((s, dir) => {
      // Per-brand 5–95% winsorized and trimmed means of retail price —
      // the robust-location pair beside the median (q65) and MAD
      // (q146). No per-row float sum exists: the interior mass is an
      // exact BIGINT cents sum, the winsorized tails contribute
      // count × interpolated-bound, so each mean is a fixed double
      // expression of exact integers plus the two shared quantile
      // interpolations (broadcast back onto one scan).
      val p = tbl(s, dir, "part").select(col("p_brand"),
        (col("p_retailprice").cast(dec) * 100).cast("long").as("c"))
      val bounds = p.groupBy(col("p_brand"))
        .agg(expr("percentile(CAST(c AS DOUBLE), 0.05)").as("lo"),
          expr("percentile(CAST(c AS DOUBLE), 0.95)").as("hi"))
      val interior = col("c") >= col("lo") && col("c") <= col("hi")
      p.join(broadcast(bounds), Seq("p_brand"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          sum(when(interior, col("c")).otherwise(0L)).as("si"),
          sum(when(interior, 1L).otherwise(0L)).as("ni"),
          sum(when(col("c") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
          sum(when(col("c") > col("hi"), 1L).otherwise(0L)).as("n_hi"),
          first(col("lo")).as("lo"), first(col("hi")).as("hi"))
        .select(col("p_brand").as("brand"), col("n_parts"),
          col("n_lo"), col("n_hi"),
          round((col("si").cast("double") +
            col("n_lo").cast("double") * col("lo") +
            col("n_hi").cast("double") * col("hi")) /
            col("n_parts").cast("double") / lit(100.0), 4).as("wins_mean"),
          round(col("si").cast("double") / col("ni").cast("double") /
            lit(100.0), 4).as("trim_mean"))
    }),

    "q403_box_cox" -> ((s, dir) => {
      // Box–Cox λ selection per nation on the mean-normalized decile
      // grid of customer spend: profile log-likelihood
      // LL(λ) = −(k/2)·ln σ̂²_λ + (λ−1)·Σ ln z over the k = 10 grid
      // points z = x/μ_grid, λ ∈ {−1, −½, 0, ½, 1} — each power
      // spelled as 1/z, 1/√z, ln z, √z (sqrt and division are
      // IEEE-exact; pow never appears, the rboWeights discipline).
      // Normalizing by the grid mean keeps every transform O(1) at ANY
      // corpus scale, and the variance is the centered two-pass form,
      // so nothing cancels. Terms round on the 9-dp grid and fold in
      // grid order (the q393 discipline).
      val grid = spendDecileGrid(s, dir)
      val mu = aggregate(col("g"), lit(0.0), _ + _) / lit(10.0)
      def fold(arr: Column) = aggregate(arr, lit(0.0), _ + _)
      def y9(f: Column => Column) =
        transform(col("g"), x => round(f(x / mu), 9))
      val slnz = fold(transform(col("g"), x => round(log(x / mu), 9)))
      def ll(f: Column => Column, lam: Double) = {
        val ys = y9(f)
        val m = fold(ys) / lit(10.0)
        val s2 = fold(transform(ys, v => (v - m) * (v - m))) / lit(10.0)
        round(lit(-5.0) * log(s2) + lit(lam - 1.0) * slnz, 4)
      }
      val lls = Seq(
        ll(z => (lit(1.0) / z - lit(1.0)) / lit(-1.0), -1.0).as("ll_m10"),
        ll(z => (lit(1.0) / sqrt(z) - lit(1.0)) / lit(-0.5), -0.5).as("ll_m05"),
        ll(z => log(z), 0.0).as("ll_00"),
        ll(z => (sqrt(z) - lit(1.0)) / lit(0.5), 0.5).as("ll_05"),
        ll(z => z - lit(1.0), 1.0).as("ll_10"))
      grid.select(col("nation") +: col("n_customers") +: lls: _*)
        .withColumn("best_lambda",
          when(col("ll_m10") >= col("ll_m05") && col("ll_m10") >= col("ll_00") &&
            col("ll_m10") >= col("ll_05") && col("ll_m10") >= col("ll_10"),
            lit(-1.0))
          .when(col("ll_m05") >= col("ll_00") && col("ll_m05") >= col("ll_05") &&
            col("ll_m05") >= col("ll_10"), lit(-0.5))
          .when(col("ll_00") >= col("ll_05") && col("ll_00") >= col("ll_10"),
            lit(0.0))
          .when(col("ll_05") >= col("ll_10"), lit(0.5))
          .otherwise(lit(1.0)))
    }),

    "q413_icc" -> ((s, dir) => {
      // One-way random-effects intraclass correlation ICC(1,1) of
      // retail price within brand — "how much of the variance IS the
      // brand" — from the same exact ANOVA moments q282's F rides:
      // per-brand n_j, Σx, Σx² in decimal(38,0); SSW = Σ_j c_j/n_j and
      // the between partials (Σx_j)²/n_j fold brand-ordered (25
      // terms); the unbalanced-design k₀ = (N − Σn_j²/N)/(J−1). Every
      // division is a fixed double op on exact integers.
      val d38 = "decimal(38,0)"
      val p = tbl(s, dir, "part").select(col("p_brand"),
        (col("p_retailprice").cast(dec) * 100).cast("long").as("x"))
      val g = p.groupBy(col("p_brand"))
        .agg(count(lit(1)).as("nj"), sum(col("x").cast(d38)).as("sx"),
          sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"))
        .cut()
      val terms = g.select(col("p_brand"),
        ((col("nj").cast(d38) * col("sxx") - col("sx") * col("sx"))
          .cast("double") / col("nj").cast("double")).as("wj"),
        ((col("sx") * col("sx")).cast("double") / col("nj").cast("double"))
          .as("bj"))
      def fold(cn: String) =
        aggregate(array_sort(collect_list(struct(col("p_brand"), col(cn)))),
          lit(0.0), (a, e) => a + e.getField(cn))
      val folded = terms.agg(fold("wj").as("ssw"), fold("bj").as("sbj"))
      val tot = g.agg(sum(col("nj")).as("n"), sum(col("sx")).as("sxall"),
        sum((col("nj") * col("nj")).cast(d38)).as("sn2"),
        count(lit(1)).as("j"))
      val nD = col("n").cast("double")
      val jD = col("j").cast("double")
      val ssb = col("sbj") -
        (col("sxall") * col("sxall")).cast("double") / nD
      val msb = ssb / (jD - lit(1.0))
      val msw = col("ssw") / (nD - jD)
      val k0 = (nD - col("sn2").cast("double") / nD) / (jD - lit(1.0))
      folded.crossJoin(tot)
        .select(col("n").as("n_parts"), col("j").as("n_groups"),
          round(msb, 4).as("ms_between"), round(msw, 4).as("ms_within"),
          round((msb - msw) / (msb + (k0 - lit(1.0)) * msw), 6).as("icc1"))
    }),

    "q416_jsd_matrix" -> ((s, dir) => {
      // Pairwise Jensen–Shannon divergence between source unigram
      // mixes over the shared smoothed top-200 grid — the SYMMETRIC,
      // bounded complement of the q310 KL matrix (JSD is what a
      // mixing planner can treat as a distance; KL is not symmetric).
      // Same bounded grid, same add-1 smoothing, per-pair terms fold
      // term-ordered on the 12-dp running grid; unordered pairs only.
      val st = tbl(s, dir, "documents")
        .select(col("source"), explode(functions.Text.tokens(col("text"))).as("term"))
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
        .cut()
      val vocab = st.groupBy(col("term")).agg(sum(col("cnt")).as("tc"))
        .orderBy(col("tc").desc, col("term").asc).limit(200)
        .select(col("term"))
      val sources = st.select(col("source")).distinct()
      val grid = sources.crossJoin(broadcast(vocab))
        .join(st, Seq("source", "term"), "left")
        .select(col("source"), col("term"),
          coalesce(col("cnt"), lit(0L)).as("c"))
      val totals = grid.groupBy(col("source"))
        .agg(sum(col("c")).as("tot"), count(lit(1)).as("v"))
      val g = grid.join(broadcast(totals), Seq("source"))
      def d(c: Column): Column = c.cast("double")
      val pa = (d(col("a.c")) + lit(1.0)) / (d(col("a.tot")) + d(col("a.v")))
      val pb = (d(col("b.c")) + lit(1.0)) / (d(col("b.tot")) + d(col("b.v")))
      val m = (pa + pb) / lit(2.0)
      val pair = g.as("a").join(g.as("b"),
          col("a.term") === col("b.term") && col("a.source") < col("b.source"))
        .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
          col("a.term").as("term"),
          round(lit(0.5) * (pa * log(pa / m)) + lit(0.5) * (pb * log(pb / m)),
            12).as("jterm"))
      pair.groupBy(col("source_a"), col("source_b"))
        .agg(aggregate(array_sort(collect_list(struct(col("term"), col("jterm")))),
          lit(0.0), (a, e) => round(a + e.getField("jterm"), 12)).as("jsd"))
        // unrounded (roundlint r11): 12-dp fold sum, boundary class
        .select(col("source_a"), col("source_b"), col("jsd"))
    }),

    "q420_pacf" -> ((s, dir) => {
      // Partial autocorrelation of daily revenue at lags 1–3 per
      // nation via the Durbin–Levinson recursion on exact-moment ACF
      // estimates — the AR-order diagnostic beside the raw ACF (q257)
      // and Durbin-Watson (q316). Each r_k comes from one pass of
      // lead-window products in decimal(38,0)
      // (c_k = P_k − m·T_k − m·H_k + (n−k)·m²), and the recursion is a
      // fixed double chain both engines evaluate identically.
      val daily = graft.QueriesWarehouse.dailyRevenue(s, dir)
      val w = Window.partitionBy(col("nation")).orderBy(col("d"))
      val d38 = "decimal(38,0)"
      val led = daily
        .withColumn("y1", lead(col("c"), 1).over(w))
        .withColumn("y2", lead(col("c"), 2).over(w))
        .withColumn("y3", lead(col("c"), 3).over(w))
      def pk(yk: String) = sum(when(col(yk).isNotNull,
        col("c").cast(d38) * col(yk).cast(d38)).otherwise(lit(0).cast(d38)))
      def hk(yk: String) = sum(when(col(yk).isNotNull, col("c").cast(d38))
        .otherwise(lit(0).cast(d38)))
      def tk(yk: String) = sum(coalesce(col(yk).cast(d38), lit(0).cast(d38)))
      val m0 = led.groupBy(col("nation"))
        .agg(count(lit(1)).as("n"), sum(col("c").cast(d38)).as("sy"),
          sum(col("c").cast(d38) * col("c").cast(d38)).as("syy"),
          pk("y1").as("p1"), hk("y1").as("h1"), tk("y1").as("t1"),
          pk("y2").as("p2"), hk("y2").as("h2"), tk("y2").as("t2"),
          pk("y3").as("p3"), hk("y3").as("h3"), tk("y3").as("t3"))
      val nD = col("n").cast("double")
      val m = col("sy").cast("double") / nD
      val c0 = col("syy").cast("double") - nD * m * m
      def ck(p: String, t: String, h: String, k: Double) =
        col(p).cast("double") - m * col(t).cast("double") -
          m * col(h).cast("double") + (nD - lit(k)) * m * m
      val r1 = ck("p1", "t1", "h1", 1.0) / c0
      val r2 = ck("p2", "t2", "h2", 2.0) / c0
      val r3 = ck("p3", "t3", "h3", 3.0) / c0
      val f22 = (r2 - r1 * r1) / (lit(1.0) - r1 * r1)
      val f21 = r1 - f22 * r1
      val f33 = (r3 - f21 * r2 - f22 * r1) /
        (lit(1.0) - f21 * r1 - f22 * r2)
      m0.select(col("nation"), col("n").as("n_days"),
        round(r1, 6).as("pacf1"), round(f22, 6).as("pacf2"),
        round(f33, 6).as("pacf3"))
    }),

    "q422_cuped" -> ((s, dir) => {
      // CUPED variance-reduced A/B effect: the 1997 spend difference
      // between the even/odd customer-key arms, adjusted by the 1996
      // pre-period covariate — θ = cov(x,y)/var(x) pooled, adjusted
      // diff = raw − θ·Δx̄, and ρ² reports the variance a CUPED
      // analysis removes. Per-customer year sums are exact BIGINT
      // cents on the full customer base (absence = 0 spend via the
      // left join); every moment is decimal(38,0); all finals are
      // fixed double expressions.
      val d38 = "decimal(38,0)"
      val o = tbl(s, dir, "orders").select(col("o_custkey"),
        year(col("o_orderdate")).as("yr"),
        (col("o_totalprice").cast(dec) * 100).cast("long").as("cents"))
      val per = o.filter(col("yr").isin(1996, 1997))
        .groupBy(col("o_custkey"))
        .agg(sum(when(col("yr") === 1996, col("cents")).otherwise(0L)).as("x"),
          sum(when(col("yr") === 1997, col("cents")).otherwise(0L)).as("y"))
      val base = tbl(s, dir, "customer").select(col("c_custkey"))
        .join(per, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), coalesce(col("x"), lit(0L)).as("x"),
          coalesce(col("y"), lit(0L)).as("y"),
          pmod(col("c_custkey"), lit(2)).as("arm"))
        .cut()
      val pooled = base.agg(count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"),
        sum(col("y").cast(d38) * col("y").cast(d38)).as("syy"),
        sum(col("x").cast(d38) * col("y").cast(d38)).as("sxy"))
      val arms = base.groupBy(col("arm"))
        .agg(count(lit(1)).as("na"), sum(col("x").cast(d38)).as("ax"),
          sum(col("y").cast(d38)).as("ay"))
      val a0 = arms.filter(col("arm") === 0)
        .select(col("na").as("n_a"), col("ax").as("ax0"), col("ay").as("ay0"))
      val a1 = arms.filter(col("arm") === 1)
        .select(col("na").as("n_b"), col("ax").as("ax1"), col("ay").as("ay1"))
      val nD = col("n").cast("double")
      def cc(sab: Column, sa: Column, sb: Column) =
        (col("n").cast(d38) * sab - sa * sb).cast("double")
      val cxy = cc(col("sxy"), col("sx"), col("sy"))
      val cxx = cc(col("sxx"), col("sx"), col("sx"))
      val cyy = cc(col("syy"), col("sy"), col("sy"))
      val theta = cxy / cxx
      val rho2 = cxy * cxy / (cxx * cyy)
      val rawDiff = col("ay0").cast("double") / col("n_a").cast("double") -
        col("ay1").cast("double") / col("n_b").cast("double")
      val xDiff = col("ax0").cast("double") / col("n_a").cast("double") -
        col("ax1").cast("double") / col("n_b").cast("double")
      pooled.crossJoin(broadcast(a0)).crossJoin(broadcast(a1))
        .select(col("n_a"), col("n_b"),
          round(rawDiff / lit(100.0), 4).as("raw_diff_dollars"),
          round((rawDiff - theta * xDiff) / lit(100.0), 4)
            .as("cuped_diff_dollars"),
          round(theta, 6).as("theta"), round(rho2, 6).as("rho2"))
    }),

    "q428_stratified_ate" -> ((s, dir) => {
      // Stratified treatment-effect estimate: outcome = 1997 spend,
      // treatment = even/odd customer key, strata = quintiles of the
      // 1996 PRE-period spend (broadcast global bounds, the q381
      // discipline — no global ntile). ATE = Σ_s (n_s/N)·(ȳ₁ − ȳ₀)_s;
      // an empty arm contributes 0 by declared CASE (mirrored). All
      // sums exact cents; the 5 stratum terms fold stratum-ordered.
      val o = tbl(s, dir, "orders").select(col("o_custkey"),
        year(col("o_orderdate")).as("yr"),
        (col("o_totalprice").cast(dec) * 100).cast("long").as("cents"))
      val per = o.filter(col("yr").isin(1996, 1997))
        .groupBy(col("o_custkey"))
        .agg(sum(when(col("yr") === 1996, col("cents")).otherwise(0L)).as("x"),
          sum(when(col("yr") === 1997, col("cents")).otherwise(0L)).as("y"))
      val base = tbl(s, dir, "customer").select(col("c_custkey"))
        .join(per, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), coalesce(col("x"), lit(0L)).as("x"),
          coalesce(col("y"), lit(0L)).as("y"),
          pmod(col("c_custkey"), lit(2)).as("arm"))
        .cut()
      val bounds = base.agg(
        expr("percentile(CAST(x AS DOUBLE), 0.2)").as("b1"),
        expr("percentile(CAST(x AS DOUBLE), 0.4)").as("b2"),
        expr("percentile(CAST(x AS DOUBLE), 0.6)").as("b3"),
        expr("percentile(CAST(x AS DOUBLE), 0.8)").as("b4"))
      val strat = base.crossJoin(broadcast(bounds))
        .select(col("y"), col("arm"),
          when(col("x") <= col("b1"), 1).when(col("x") <= col("b2"), 2)
            .when(col("x") <= col("b3"), 3).when(col("x") <= col("b4"), 4)
            .otherwise(5).as("stratum"))
      val cells = strat.groupBy(col("stratum"))
        .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("sy1"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("sy0"))
      val tot = base.agg(count(lit(1)).as("n"),
        sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("ty1"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("tn1"),
        sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("ty0"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("tn0"))
      val diffS = when(col("n1") > 0 && col("n0") > 0,
        col("sy1").cast("double") / col("n1").cast("double") -
          col("sy0").cast("double") / col("n0").cast("double"))
        .otherwise(lit(0.0))
      val terms = cells.crossJoin(broadcast(tot))
        .select(col("stratum"),
          ((col("n1") + col("n0")).cast("double") / col("n").cast("double") *
            diffS).as("t"))
      val ate = terms.agg(aggregate(array_sort(collect_list(
        struct(col("stratum"), col("t")))), lit(0.0),
        (acc, e) => acc + e.getField("t")).as("ate"))
      ate.crossJoin(broadcast(tot))
        .select(col("n").as("n_customers"),
          round((col("ty1").cast("double") / col("tn1").cast("double") -
            col("ty0").cast("double") / col("tn0").cast("double")) /
            lit(100.0), 4).as("raw_diff_dollars"),
          round(col("ate") / lit(100.0), 4).as("stratified_ate_dollars"))
    }),

    "q429_meta_analysis" -> ((s, dir) => {
      // Fixed-effect meta-analysis of the per-nation R-vs-A quantity
      // effects (the q396 Welch moments per nation): inverse-variance
      // pooled effect, Cochran's Q heterogeneity, I² — the
      // combine-25-experiments layer an A/B platform reports. Every
      // per-nation effect/variance is a fixed double expression of
      // exact decimal(38,0) moments; the 25 study terms fold
      // nation-ordered, and Q reuses the pooled value via one
      // broadcast back.
      val d38 = "decimal(38,0)"
      val li = tbl(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("R", "A"))
        .select(col("l_orderkey"), col("l_returnflag").as("g"),
          col("l_quantity").cast("long").as("x"))
      val o = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val c = tbl(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val n = tbl(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val gs = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), col("g"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .cut()
      def side(f: String, sfx: String) = gs.filter(col("g") === f)
        .select(col("nation"), col("n").as("n" + sfx),
          col("sx").as("sx" + sfx), col("sxx").as("sxx" + sfx))
      def variance(nc: Column, sx: Column, sxx: Column) =
        (nc.cast(d38) * sxx.cast(d38) - sx.cast(d38) * sx.cast(d38))
          .cast("double") / (nc.cast("double") * (nc - 1).cast("double"))
      val study = side("R", "1").join(side("A", "2"), Seq("nation"))
        .filter(col("n1") > 1 && col("n2") > 1)
        .select(col("nation"),
          (col("sx1").cast("double") / col("n1").cast("double") -
            col("sx2").cast("double") / col("n2").cast("double")).as("d"),
          (variance(col("n1"), col("sx1"), col("sxx1")) /
            col("n1").cast("double") +
            variance(col("n2"), col("sx2"), col("sxx2")) /
            col("n2").cast("double")).as("v"))
        .cut()
      def fold(w: Column, nm: String) =
        aggregate(array_sort(collect_list(struct(col("nation"), w.as(nm)))),
          lit(0.0), (acc, e) => acc + e.getField(nm))
      val pooled = study.agg(count(lit(1)).as("k"),
        fold(lit(1.0) / col("v") * col("d"), "wd").as("swd"),
        fold(lit(1.0) / col("v"), "w").as("sw"))
        .select(col("k"), (col("swd") / col("sw")).as("pooled"))
      val q = study.crossJoin(broadcast(pooled))
        .agg(first(col("k")).as("k"), first(col("pooled")).as("pooled"),
          fold(lit(1.0) / col("v") * (col("d") - col("pooled")) *
            (col("d") - col("pooled")), "qt").as("q"))
      q.select(col("k").as("k_nations"), round(col("pooled"), 6).as("pooled_diff"),
        round(col("q"), 4).as("q_cochran"),
        round(greatest(lit(0.0),
          (col("q") - (col("k") - 1).cast("double")) / col("q")), 6)
          .as("i_squared"))
    }),

    "q434_cpk" -> ((s, dir) => {
      // Process-capability indices per brand against the declared
      // quantity spec [1, 50]: Cp = (USL−LSL)/6σ,
      // Cpk = min(USL−x̄, x̄−LSL)/3σ — the SPC companion of the x̄
      // control chart (q294). σ is the sample form from exact
      // decimal(38,0) moments; every final is a fixed double
      // expression.
      val d38 = "decimal(38,0)"
      // Per-row sums stay LONG (x ≤ 50 so x² ≤ 2500 — Σ fits BIGINT at
      // any scale); only the 25-row n·Σx²−(Σx)² step widens to
      // decimal(38,0). The first cut cast per row and paid 23× in the
      // second probe decade for pure decimal128 arithmetic.
      val li = tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), col("l_quantity").cast("long").as("x"))
      val g = li.groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
      val nD = col("n").cast("double")
      val m = col("sx").cast("double") / nD
      val sd = sqrt((col("n").cast(d38) * col("sxx").cast(d38) -
        col("sx").cast(d38) * col("sx").cast(d38))
        .cast("double") / (nD * (col("n") - 1).cast("double")))
      g.select(col("p_brand").as("brand"), col("n").as("n_items"),
        round(m, 4).as("mean_qty"),
        round((lit(50.0) - lit(1.0)) / (lit(6.0) * sd), 4).as("cp"),
        round(least(lit(50.0) - m, m - lit(1.0)) / (lit(3.0) * sd), 4)
          .as("cpk"))
    }),

    "q435_youden_grid" -> ((s, dir) => {
      // Youden-J threshold screen: classify "1997 spend above the
      // median" from the customer's lifetime order count, sweeping the
      // 9 interpolated deciles of the score — TPR/FPR/J per threshold,
      // the operating-point table behind the single-number AUC (q259).
      // Labels and tail counts are exact integers; thresholds are the
      // shared interpolation; each rate is one division.
      val o = tbl(s, dir, "orders").select(col("o_custkey"),
        year(col("o_orderdate")).as("yr"),
        (col("o_totalprice").cast(dec) * 100).cast("long").as("cents"))
      val per = o.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("score"),
          sum(when(col("yr") === 1997, col("cents")).otherwise(0L)).as("y97"))
        .cut()
      val med = per.agg(expr("percentile(CAST(y97 AS DOUBLE), 0.5)").as("md"))
      val lab = per.crossJoin(broadcast(med))
        .select(col("score"), (col("y97") > col("md")).as("pos"))
        .cut()
      val qs = (1 to 9).map(i => 0.1 * i)
      val grid = lab.agg(
        expr(s"percentile(CAST(score AS DOUBLE), array(${qs.mkString(",")}))")
          .as("ts"))
      val th = grid.select(posexplode(col("ts")).as(Seq("i", "t")))
        .select((col("i") + 1).cast("long").as("decile"), col("t"))
      lab.crossJoin(broadcast(th))
        .groupBy(col("decile"), col("t"))
        .agg(sum(when(col("pos") && col("score") > col("t"), 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("pos"), 1L).otherwise(0L)).as("p"),
          sum(when(!col("pos") && col("score") > col("t"), 1L)
            .otherwise(0L)).as("fp"),
          sum(when(!col("pos"), 1L).otherwise(0L)).as("neg"))
        // Degenerate-input guard (the q411 discipline): an all-above or
        // none-above median split leaves p or neg at 0 — the rate is
        // then undefined, and NULL (mirrored in the oracle) beats the
        // 0/0 NaN both engines would otherwise agree on by accident.
        .select(col("decile"), round(col("t"), 2).as("threshold"),
          round(when(col("p") > 0,
            col("tp").cast("double") / col("p").cast("double")), 6)
            .as("tpr"),
          round(when(col("neg") > 0,
            col("fp").cast("double") / col("neg").cast("double")), 6)
            .as("fpr"),
          round(when(col("p") > 0 && col("neg") > 0,
            col("tp").cast("double") / col("p").cast("double") -
            col("fp").cast("double") / col("neg").cast("double")), 6)
            .as("youden_j"))
    }),

    // ── Audit/calibration tier (q447–q449, round 10) ────────────────────

    "q447_jl_distortion" -> ((s, dir) => {
      // Johnson–Lindenstrauss distortion audit: project the 64-dim
      // embeddings to 8 dims through the deterministic LCG hyperplanes
      // (Similarity.hyperplanes — integer math, bit-identical in SQL)
      // and measure the squared-distance ratio ‖P(a−b)‖²/(m/n)·‖a−b‖²…
      // spelled as (n/m)·‖Pa−Pb‖²/‖a−b‖² on ADJACENT-ID pairs — an
      // n-linear pair stream, never all-pairs. Every distance is a
      // position-ordered fold of identical doubles; the ratio is one
      // division. Zero-distance pairs are NULL by mirrored guard.
      val planes = operators.Similarity.hyperplanes(8, 64)
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"),
          graft.functions.Vectors.toDoubleVec(col("embedding")).as("v"))
      val proj = planes.zipWithIndex.foldLeft(e) { case (acc, (pl, i)) =>
        acc.withColumn(s"p$i", graft.functions.Vectors.dot(col("v"),
          array(pl.map(lit): _*)))
      }
      val a = proj.select(Seq(col("vec_id").as("id_a"), col("v").as("va")) ++
        (0 until 8).map(i => col(s"p$i").as(s"a$i")): _*)
      val b = proj.select(Seq((col("vec_id") - 1).as("id_a"),
        col("v").as("vb")) ++
        (0 until 8).map(i => col(s"p$i").as(s"b$i")): _*)
      val dproj = (0 until 8).map(i =>
        (col(s"a$i") - col(s"b$i")) * (col(s"a$i") - col(s"b$i")))
        .reduce(_ + _)
      val dorig = aggregate(zip_with(col("va"), col("vb"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)
      a.join(b, Seq("id_a"))
        .select(col("id_a"), dproj.as("dp"), dorig.as("dn"))
        .select(col("id_a"),
          round(when(col("dn") > 0,
            lit(8.0) * col("dp") / col("dn")), 6).as("distortion"))
    }),

    "q448_ece_calibration" -> ((s, dir) => {
      // Expected-calibration-error of the naive propensity "order count
      // / max order count" against the above-median-1997-spend label
      // (q435's setting): 10 equal-width bins, bin id from EXACT integer
      // arithmetic (cnt·10 div maxcnt, clamped to 9), per-bin confidence
      // as one division of exact integer sums (never a float sum), and
      // ECE = Σ (n_b/N)·|acc_b − conf_b| folded in bin order.
      val o = tbl(s, dir, "orders").select(col("o_custkey"),
        year(col("o_orderdate")).as("yr"),
        (col("o_totalprice").cast(dec) * 100).cast("long").as("cents"))
      val per = o.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("yr") === 1997, col("cents")).otherwise(0L)).as("y97"))
        .cut()
      val mx = per.agg(max(col("cnt")).as("mc"),
        expr("percentile(CAST(y97 AS DOUBLE), 0.5)").as("md"))
      val binned = per.crossJoin(broadcast(mx))
        .select(least(lit(9L), expr("cnt * 10 div mc")).as("bin"),
          col("cnt"), (col("y97") > col("md")).cast("long").as("pos"),
          col("mc"))
      val bins = binned.groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("cnt")).as("scnt"),
          sum(col("pos")).as("npos"), max(col("mc")).as("mc"))
        .cut()
      val tot = bins.agg(sum(col("n")).as("nn"))
      val conf = col("scnt").cast("double") /
        (col("n") * col("mc")).cast("double")
      val acc_ = col("npos").cast("double") / col("n").cast("double")
      val term = col("n").cast("double") / col("nn").cast("double") *
        abs(acc_ - conf)
      val ece = bins.crossJoin(broadcast(tot))
        .agg(aggregate(array_sort(collect_list(struct(col("bin"),
          term.as("t")))), lit(0.0), (acc, e) => acc + e.getField("t"))
          .as("ece"))
      bins.crossJoin(broadcast(tot)).crossJoin(broadcast(ece))
        .select(col("bin"), col("n"),
          round(conf, 6).as("avg_conf"), round(acc_, 6).as("accuracy"),
          round(col("ece"), 6).as("ece"))
    }),

    "q449_abc_classes" -> ((s, dir) => {
      // ABC inventory classification: parts ranked by revenue, class A
      // = cumulative share ≤ 80%, B ≤ 95%, C the tail — the decision
      // rule runs on EXACT integers (cum·100 ≤ 80·total cents, no
      // float anywhere), with the cumulative riding one bandedCumSum
      // over the part-revenue table (n-scale input, no unpartitioned
      // window).
      val li = tbl(s, dir, "lineitem").select(col("l_partkey"),
        (col("l_extendedprice").cast(dec) * 100).cast("long").as("r"))
      // Checkpointed: feeds both the banded pass and the revenue total.
      val per = li.groupBy(col("l_partkey")).agg(sum(col("r")).as("rev"))
        .cut()
      val cum = operators.ScalableWindow.bandedCumSum(per, "rev",
        descending = true, Seq("l_partkey"), "rev", "cum")
      val tot = per.agg(sum(col("rev")).as("trev"))
      cum.crossJoin(broadcast(tot))
        .select(col("l_partkey"), col("rev"),
          when(col("cum") * 100 <= col("trev") * 80, "A")
            .when(col("cum") * 100 <= col("trev") * 95, "B")
            .otherwise("C").as("abc"))
        .groupBy(col("abc"))
        .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("revenue_cents"))
        .crossJoin(broadcast(tot))
        .select(col("abc"), col("n_parts"), col("revenue_cents"),
          round(col("revenue_cents").cast("double") /
            col("trev").cast("double"), 6).as("share"))
    }),

    // ── Distributional-law tier (q444–q446, round 10) ───────────────────

    "q444_zipf_fit" -> ((s, dir) => {
      // Zipf's-law fit: OLS of ln(freq) on ln(rank) over the corpus's
      // top-200 tokens — slope ≈ −1 is the law. Token counts collapse
      // in one map-combinable pass; the native TopKPerKey bounds the
      // head BEFORE any rank (one literal key: partial 200-row buffers
      // per partition); ranks come from boundedRankCum (200² join, no
      // unpartitioned window). ln() is libm, so x/y round to 6 dp
      // before any product (the q194 contract); all five OLS sums fold
      // in rank order.
      val tf = tbl(s, dir, "documents")
        .select(explode(graft.functions.Text.tokens(lower(col("text"))))
          .as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      val top = org.apache.spark.sql.graft.TopKPerKey(
        tf.withColumn("g", lit(1)), Seq("g"),
        Seq(("freq", false), ("tok", true)), k = 200).drop("g")
      val ranked = operators.ScalableWindow.boundedRankCum(
        top, Seq(("freq", false), ("tok", true)), "rank")
      val xy = ranked.select(col("rank"),
        round(log(col("rank").cast("double")), 6).as("x"),
        round(log(col("freq").cast("double")), 6).as("y"))
      def fold(w: Column, nm: String) =
        aggregate(array_sort(collect_list(struct(col("rank"), w.as(nm)))),
          lit(0.0), (acc, e) => acc + e.getField(nm))
      val sums = xy.agg(count(lit(1)).cast("double").as("n"),
        fold(col("x"), "a").as("sx"), fold(col("y"), "b").as("sy"),
        fold(col("x") * col("x"), "c").as("sxx"),
        fold(col("x") * col("y"), "d").as("sxy"),
        fold(col("y") * col("y"), "e").as("syy"))
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      val vx = col("n") * col("sxx") - col("sx") * col("sx")
      val vy = col("n") * col("syy") - col("sy") * col("sy")
      sums.select(col("n").cast("long").as("n_terms"),
        // roundZ: rounded fold-sum outputs canonicalize −0.0 (q461 class)
        roundZ(cov / vx, 6).as("zipf_slope"),
        roundZ((col("sy") - cov / vx * col("sx")) / col("n"), 6)
          .as("intercept"),
        roundZ(when(vy > 0, cov * cov / (vx * vy)), 6).as("r2"))
    }),

    "q445_benford" -> ((s, dir) => {
      // Benford's-law audit of order totals: observed first-significant-
      // digit counts (cents are positive integers, so the leading digit
      // of the cents string IS the price's leading digit) against
      // log₁₀(1+1/d) expectations — consumed as QueryDsl.benfordExpected
      // literals on BOTH sides (no libm in either engine). χ² folds in
      // digit order over the dense 1–9 grid (absent digits contribute
      // their full expectation).
      val cents = (col("o_totalprice").cast(dec) * 100).cast("long")
      val obs = tbl(s, dir, "orders")
        .select(substring(cents.cast("string"), 1, 1).cast("int")
          .as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      benfordFinish(obs)
    }),

    "q446_hhi" -> ((s, dir) => {
      // Herfindahl–Hirschman market concentration of brand revenue per
      // (nation, year): HHI = 10⁴·Σ share² over the ≤25-brand catalog —
      // exact cents sums, one division per share, squares folded in
      // brand order. The cell table is catalog×calendar-bounded.
      val li = tbl(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_partkey"), year(col("l_shipdate")).as("yr"),
        (col("l_extendedprice").cast(dec) * 100).cast("long").as("r"))
        .filter(col("yr").isin(1995, 1996, 1997))
      val o = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val c = tbl(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val n = tbl(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val p = tbl(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      val cell = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("n_name").as("nation"), col("yr"), col("p_brand"))
        .agg(sum(col("r")).as("rev"))
      hhiFinish(cell)
    }),

    "q459_isotonic_calibration" -> ((s, dir) => {
      // Isotonic (PAVA) calibration of the q448 reliability bins via the
      // MINIMAX identity ŷᵢ = max_{j≤i} min_{k≥i} (Σnpos[j..k]/Σn[j..k])
      // — the closed form of weighted isotonic regression, so the
      // iterative pooling never appears in the truth path. The bin
      // table is ≤10 rows; every interval mean is one division of exact
      // integer sums (bit-equal cross-engine, no folds needed).
      val o = tbl(s, dir, "orders").select(col("o_custkey"),
        year(col("o_orderdate")).as("yr"),
        (col("o_totalprice").cast(dec) * 100).cast("long").as("cents"))
      val per = o.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("yr") === 1997, col("cents")).otherwise(0L)).as("y97"))
      val mx = per.agg(max(col("cnt")).as("mc"),
        expr("percentile(CAST(y97 AS DOUBLE), 0.5)").as("md"))
      val bins = per.crossJoin(broadcast(mx))
        .select(least(lit(9L), expr("cnt * 10 div mc")).as("bin"),
          (col("y97") > col("md")).cast("long").as("pos"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("npos"))
        .cut()
      val j = bins.select(col("bin").as("j"))
      val k = bins.select(col("bin").as("k"))
      val ivals = j.crossJoin(k).filter(col("j") <= col("k"))
        .join(bins, col("bin").between(col("j"), col("k")))
        .groupBy(col("j"), col("k"))
        .agg((sum(col("npos")).cast("double") /
          sum(col("n")).cast("double")).as("r"))
      val iso = bins.select(col("bin"))
        .join(ivals, col("j") <= col("bin") && col("k") >= col("bin"))
        .groupBy(col("bin"), col("j")).agg(min(col("r")).as("mi"))
        .groupBy(col("bin")).agg(max(col("mi")).as("iso"))
      bins.join(iso, Seq("bin"))
        .select(col("bin"), col("n"),
          round(col("npos").cast("double") / col("n").cast("double"), 6)
            .as("accuracy"),
          round(col("iso"), 6).as("iso_accuracy"))
    }),

    "q460_conformal_naive" -> ((s, dir) => {
      // Split-conformal interval for the naive day-ahead forecast of
      // daily revenue: calibration = even day-index rows, test = odd
      // (a deterministic split), q̂ = the shared interpolated 90th
      // percentile of calibration |Δ| (exact integer cents residuals),
      // coverage = share of test days with |Δ| ≤ q̂ — an integer-vs-
      // shared-double compare, the q367 VaR discipline.
      val daily = QueriesWarehouse.dailyRevenue(s, dir)
      val w = Window.partitionBy(col("nation")).orderBy(col("d"))
      val deltas = daily
        .withColumn("prev", lag(col("c"), 1).over(w))
        .withColumn("t", row_number().over(w).cast("long"))
        .filter(col("prev").isNotNull)
        .select(col("nation"), col("t"),
          abs(col("c") - col("prev")).as("ad"))
        .cut()
      val cal = deltas.filter(col("t") % 2 === 0)
      val qhat = cal.groupBy(col("nation"))
        .agg(count(lit(1)).as("n_cal"),
          expr("percentile(CAST(ad AS DOUBLE), 0.9)").as("qh"))
      deltas.filter(col("t") % 2 === 1).join(qhat, Seq("nation"))
        .groupBy(col("nation"), col("n_cal"), col("qh"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("ad").cast("double") <= col("qh"), 1L)
            .otherwise(0L)).as("n_in"))
        .select(col("nation"), col("n_cal"), col("n_test"),
          round(col("qh"), 4).as("q_hat_cents"),
          round(col("n_in").cast("double") / col("n_test").cast("double"), 6)
            .as("coverage"))
    }),

    // ── Survival-analysis tier (q438–q440, round 10) ────────────────────

    "q438_kaplan_meier" -> ((s, dir) => {
      // Kaplan–Meier survival over customer LIFETIMES (days between
      // first and last order; right-censored when the last order falls
      // within 90 days of the corpus max date — the customer may still
      // be active). The per-customer reduction is one map-combinable
      // shuffle; the event grid is distinct-lifetime-sized (calendar-
      // bounded at ANY corpus size); at-risk counts ride ONE
      // bandedCumSum (no unpartitioned window); and the survival prefix
      // PRODUCT folds an ordered factor array — each factor 1 − d/n is
      // one exact-integer division, the identical IEEE double in both
      // engines, so the product needs no per-term rounding (the ordered-
      // fold contract extended to ×, replayed by DuckDB list_reduce).
      val grid = lifetimeGrid(lifetimes(s, dir))
      val atRisk = grid.filter(col("d") > 0).cut()
      val facts = atRisk.agg(array_sort(collect_list(struct(col("t"),
        (lit(1.0) - col("d").cast("double") / col("n_risk").cast("double"))
          .as("f")))).as("arr"))
      atRisk.crossJoin(broadcast(facts))
        .select(col("t"), col("n_risk"), col("d"),
          round(aggregate(
            filter(col("arr"), e => e.getField("t") <= col("t")),
            lit(1.0), (acc, e) => acc * e.getField("f")), 6).as("survival"))
    }),

    "q439_nelson_aalen" -> ((s, dir) => {
      // Nelson–Aalen cumulative hazard on the same lifetime grid:
      // H(t) = Σ_{tᵢ ≤ t} dᵢ/nᵢ — an ordered prefix SUM of exact-integer
      // divisions (identical doubles both engines; fold order = t asc).
      val grid = lifetimeGrid(lifetimes(s, dir))
      val atRisk = grid.filter(col("d") > 0).cut()
      val terms = atRisk.agg(array_sort(collect_list(struct(col("t"),
        (col("d").cast("double") / col("n_risk").cast("double"))
          .as("h")))).as("arr"))
      atRisk.crossJoin(broadcast(terms))
        .select(col("t"), col("n_risk"), col("d"),
          round(aggregate(
            filter(col("arr"), e => e.getField("t") <= col("t")),
            lit(0.0), (acc, e) => acc + e.getField("h")), 6).as("cum_hazard"))
    }),

    "q440_logrank" -> ((s, dir) => {
      // Two-sample log-rank test: BUILDING-segment customers vs the
      // rest, on the shared lifetime/censoring definition. Per event
      // time: observed arm-1 deaths d1, expectation d·n1/n under H₀,
      // hypergeometric variance d·(n1/n)·(1−n1/n)·(n−d)/(n−1) (0 when
      // n ≤ 1 by mirrored guard); χ² = (Σ(d1−e1))²/ΣV, NULL when the
      // variance mass is 0 (the q411 degenerate discipline). Both
      // per-arm at-risk series ride ONE bandedCumSums pass; every
      // summed term is pure arithmetic on exact integers, folded in
      // event-time order.
      val c = tbl(s, dir, "customer").select(col("c_custkey").as("ck"),
        (col("c_mktsegment") === "BUILDING").as("a1"))
      // Checkpointed: consumed by both the event grid and nTot.
      val lt = lifetimes(s, dir).join(c, Seq("ck")).cut()
      val grid = lt.groupBy(col("t"))
        .agg(sum(when(col("a1"), 1L).otherwise(0L)).as("c1"),
          sum(when(col("a1"), col("ev")).otherwise(0L)).as("d1"),
          sum(when(!col("a1"), 1L).otherwise(0L)).as("c2"),
          sum(when(!col("a1"), col("ev")).otherwise(0L)).as("d2"))
      val cum = operators.ScalableWindow.bandedCumSums(grid, "t",
        descending = false, Seq.empty, Seq("c1" -> "cum1", "c2" -> "cum2"))
      val nTot = lt.agg(sum(when(col("a1"), 1L).otherwise(0L)).as("nn1"),
        sum(when(!col("a1"), 1L).otherwise(0L)).as("nn2"))
      val ev = cum.crossJoin(broadcast(nTot))
        .select(col("t"), col("d1"), col("d2"),
          (col("nn1") - (col("cum1") - col("c1"))).as("n1"),
          (col("nn2") - (col("cum2") - col("c2"))).as("n2"))
        .withColumn("d", col("d1") + col("d2"))
        .withColumn("n", col("n1") + col("n2"))
        .filter(col("d") > 0)
      val nd = (col("n1").cast("double") / col("n").cast("double"))
      val ome = col("d1").cast("double") -
        col("d").cast("double") * col("n1").cast("double") /
          col("n").cast("double")
      val vterm = when(col("n") > 1,
        col("d").cast("double") * nd * (lit(1.0) - nd) *
          ((col("n") - col("d")).cast("double") /
            (col("n") - 1).cast("double"))).otherwise(lit(0.0))
      def fold(w: Column, nm: String) =
        aggregate(array_sort(collect_list(struct(col("t"), w.as(nm)))),
          lit(0.0), (acc, e) => acc + e.getField(nm))
      ev.agg(count(lit(1)).as("n_event_times"),
          sum(col("d1")).as("o1"), fold(ome, "e").as("oe"),
          fold(vterm, "v").as("vv"))
        .select(col("n_event_times"), col("o1"),
          round(col("o1").cast("double") - col("oe"), 6).as("e1"),
          round(col("vv"), 6).as("variance"),
          round(when(col("vv") > 0, col("oe") * col("oe") / col("vv")), 6)
            .as("chi2"))
    }),

    // ── Structural-break / robust-trend tier (q468/q472–q474, round 11) ─

    "q468_cusum_squares" -> ((s, dir) => {
      // CUSUM-of-squares variance-changepoint statistic over the daily
      // revenue grid (Brown–Durbin–Evans): D_t = S_t/S_N − t/N where
      // S_t = Σ_{i≤t} x_i², argmax |D_t| locates the variance break —
      // the second-moment sibling of q191's mean-CUSUM. x² rides
      // DECIMAL(38,0) (x ~ 3e9 cents at sf1 overflows an INT64 square,
      // the q366 lesson applied at design time); the cumulative is the
      // triangular bandedRankCum, never a global window; D_t is two
      // exact-integer divisions, so max/argmax agree bit-for-bit.
      val daily = tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)"))
          .as("x"))
        .withColumn("x2",
          col("x").cast("decimal(19,0)") * col("x").cast("decimal(19,0)"))
      val idx = operators.ScalableWindow
        .boundedRankCum(daily, Seq(("day", true)), "t", Seq(("x2", "cum2")))
        .cut()
      val tot = idx.agg(max(col("t")).as("nn"), sum(col("x2")).as("ss"))
      def d(c: String): Column = col(c).cast("double")
      val dt = idx.crossJoin(broadcast(tot))
        .withColumn("dstat", d("cum2") / d("ss") - d("t") / d("nn"))
      dt.agg(max(struct(abs(col("dstat")).as("a"), (-col("t")).as("negt")))
          .as("b"), max(col("nn")).as("n_days"))
        .select(col("n_days"), (-col("b.negt")).as("split_t"),
          col("b.a").as("max_cusum_sq"))
    }),

    "q472_breusch_pagan" -> ((s, dir) => {
      // Breusch–Pagan heteroscedasticity test on the monthly-revenue
      // trend OLS: residuals² regressed back on the month index, LM =
      // n·R². The primary OLS coefficients come from EXACT integer
      // moments (t is the dense month rank, y exact cents); residuals
      // and their squares are identical IEEE chains both engines, the
      // auxiliary sums fold in month order, and every output is a ratio
      // of fold sums — off any grid, emitted unrounded.
      val m = tbl(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(sum(expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)"))
          .as("y"))
      val idx = operators.ScalableWindow
        .boundedRankCum(m, Seq(("month", true)), "t")
        .cut()
      def d(c: String): Column = col(c).cast("double")
      val mom = idx.agg(count(lit(1)).as("n"), sum(col("t")).as("st"),
        sum(col("t") * col("t")).as("stt"), sum(col("y")).as("sy"),
        sum(col("t").cast("decimal(19,0)") * col("y").cast("decimal(19,0)"))
          .as("sty"))
      val withB = idx.crossJoin(broadcast(mom))
        .withColumn("b", (d("n") * d("sty") - d("st") * d("sy"))
          / (d("n") * d("stt") - d("st") * d("st")))
        .withColumn("a", (d("sy") - col("b") * d("st")) / d("n"))
        .withColumn("g", (d("y") - col("a") - col("b") * d("t"))
          * (d("y") - col("a") - col("b") * d("t")))
      def fold(w: Column, nm: String) =
        aggregate(array_sort(collect_list(struct(col("t"), w.as(nm)))),
          lit(0.0), (acc, e) => acc + e.getField(nm))
      withB.groupBy(col("n"), col("st"), col("stt"))
        .agg(fold(col("g"), "a").as("sg"),
          fold(col("g") * d("t"), "b").as("sgt"),
          fold(col("g") * col("g"), "c").as("sgg"))
        .select(col("n").as("n_months"),
          (col("n").cast("double") *
            (d("n") * col("sgt") - d("st") * col("sg")) *
            (d("n") * col("sgt") - d("st") * col("sg")) /
            ((d("n") * d("stt") - d("st") * d("st")) *
              (d("n") * col("sgg") - col("sg") * col("sg"))))
            .as("bp_lm"))
    }),

    "q473_cvm_weekday" -> ((s, dir) => {
      // Two-sample Cramér–von Mises on the weekday grid: per nation,
      // how far the nation's order-weekday CDF sits from the corpus's,
      // T = Σ_j w_j (F1_j − F2_j)² with w_j the pooled weekday share —
      // the cumulative-shape sibling of q324's χ² (χ² sees cell
      // mismatch, CvM sees where in the week the mass shifts). The grid
      // is 7 exact-integer cells; cumulatives and ratios are identical
      // IEEE chains, folded in weekday order, emitted unrounded.
      val o = tbl(s, dir, "orders")
        .join(tbl(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(tbl(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"),
          pmod(datediff(col("o_orderdate").cast("date"),
            to_date(lit("1970-01-01"))), lit(7)).as("w"))
      val cells = o.groupBy(col("nation"), col("w"))
        .agg(count(lit(1)).as("c1")).cut()
      val corp = cells.groupBy(col("w")).agg(sum(col("c1")).as("cc"))
      val grid = cells.select(col("nation")).distinct()
        .crossJoin(corp)
        .join(cells, Seq("nation", "w"), "left")
        .select(col("nation"), col("w"), col("cc"),
          coalesce(col("c1"), lit(0L)).as("c1"))
      val n1 = grid.groupBy(col("nation")).agg(sum(col("c1")).as("n1"))
      // nc is the pooled corpus total: sum the weekday MARGINAL (corp),
      // not the per-nation grid — the grid repeats each cc once per
      // nation, which would inflate nc by #nations and collapse F2.
      val nc = corp.agg(sum(col("cc")).as("nc")).cut()
      def d(c: Column): Column = c.cast("double")
      val withCum = grid
        .withColumn("f1", sum(col("c1")).over(
          Window.partitionBy(col("nation")).orderBy(col("w"))))
        .withColumn("fc", sum(col("cc")).over(
          Window.partitionBy(col("nation")).orderBy(col("w"))))
      val terms = withCum.join(n1, Seq("nation")).crossJoin(broadcast(nc))
        .select(col("nation"), col("n1"), col("w"),
          ((d(col("f1")) / d(col("n1")) - d(col("fc")) / d(col("nc")))
            * (d(col("f1")) / d(col("n1")) - d(col("fc")) / d(col("nc")))
            * (d(col("c1")) + d(col("cc")))
            / (d(col("n1")) + d(col("nc")))).as("tm"))
      terms.groupBy(col("nation"), col("n1"))
        .agg(aggregate(array_sort(collect_list(struct(col("w"),
          col("tm").as("tm")))), lit(0.0),
          (acc, e) => acc + e.getField("tm")).as("cvm"))
        .select(col("nation"), col("n1").as("n_orders"), col("cvm"))
    }),

    "q474_siegel_slopes" -> ((s, dir) => {
      // Siegel repeated-median trend on monthly revenue: per month the
      // MEDIAN of its pairwise slopes to every other month, then the
      // median of those medians — breakdown point 50%, the robust
      // sibling of q276's Theil–Sen (median of ALL pairs, 29%). The
      // month grid is calendar-bounded (~84 points ⇒ ~7k pairs); slopes
      // are exact-int divisions; medians are the shared interpolated
      // percentile both engines implement identically up to
      // interpolation op order, so the outputs round at 4 dp (slope
      // values are off any decimal grid — the safe-ratio class).
      val m = tbl(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(sum(expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)"))
          .as("y"))
      val idx = operators.ScalableWindow
        .boundedRankCum(m, Seq(("month", true)), "t")
        .select(col("t"), col("y")).cut()
      val slopes = idx.as("a").join(idx.as("b"), col("a.t") =!= col("b.t"))
        .select(col("a.t").as("i"),
          ((col("b.y") - col("a.y")).cast("double")
            / (col("b.t") - col("a.t")).cast("double")).as("s"))
      val med = slopes.groupBy(col("i"))
        .agg(expr("percentile(s, 0.5)").as("mi"))
      med.agg(count(lit(1)).as("n_months"),
          expr("percentile(mi, 0.5)").as("m"))
        .select(col("n_months"), round(col("m"), 4).as("siegel_slope"))
    }),

    "q477_jackknife_ratio" -> ((s, dir) => {
      // Delete-one-group jackknife variance of the corpus revenue-per-
      // order ratio, groups = the 25 nations: θ̂ = Σr/Σn, 25 leave-one-
      // nation-out replicates θ̂_(i), SE² = (g−1)/g · Σ(θ̂_(i) − θ̄)².
      // The survey-statistics variance face: per-nation sums are exact
      // integers, every replicate is one division of exact differences,
      // and the replicate folds run in nation order — the whole
      // statistic is g-bounded after one map-combinable pass.
      val g = tbl(s, dir, "orders")
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(tbl(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(sum(expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)"))
          .as("r"), count(lit(1)).as("n"))
        .cut()
      val tot = g.agg(sum(col("r")).as("tr"), sum(col("n")).as("tn"),
        count(lit(1)).as("gg"))
      def d(c: String): Column = col(c).cast("double")
      val reps = g.crossJoin(broadcast(tot))
        .select(col("nation"), col("gg"),
          ((d("tr") - d("r")) / (d("tn") - d("n"))).as("th"))
      def fold(w: Column, nm: String) =
        aggregate(array_sort(collect_list(struct(col("nation"), w.as(nm)))),
          lit(0.0), (acc, e) => acc + e.getField(nm))
      reps.groupBy(col("gg"))
        .agg(fold(col("th"), "a").as("sth"),
          fold(col("th") * col("th"), "b").as("sth2"))
        .crossJoin(broadcast(tot.select((d("tr") / d("tn")).as("theta"))))
        .select(col("gg").as("n_groups"), col("theta"),
          ((col("gg").cast("double") - lit(1.0)) / col("gg").cast("double")
            * (col("sth2") - col("sth") * col("sth")
              / col("gg").cast("double"))).as("jk_var"))
    }),

    "q481_mmd_rbf" -> ((s, dir) => {
      // Kernel maximum-mean-discrepancy between the two lexicographic-
      // first sources' document-length distributions, RBF kernel on 64
      // integer length bands: MMD² = K̄xx + K̄yy − 2K̄xy. Banding first
      // bounds the kernel grid at 64² pairs regardless of corpus size
      // (the q456 value-domain discipline); band counts are exact
      // integers; the kernel k ∈ [0,1] is the one libm (exp) step, so
      // it rounds to 6 dp BEFORE multiplying by the exact count product
      // (the q194 contract), and the three sums fold in (band, band)
      // order. h = one band width, a shared literal.
      val d0 = tbl(s, dir, "documents").select(col("source"), col("n_chars"))
      val two = d0.select(col("source")).distinct()
        .orderBy(col("source")).limit(2).cut()
      val mx = d0.agg(max(col("n_chars")).as("mx"))
      def dd(c: String): Column = col(c).cast("double")
      val banded = d0.join(broadcast(two), Seq("source"))
        .crossJoin(broadcast(mx))
        .select(col("source"),
          least(floor(col("n_chars") * lit(64) / (col("mx") + lit(1))),
            lit(63L)).cast("long").as("b"))
        .groupBy(col("source"), col("b")).agg(count(lit(1)).as("c"))
        .cut()
      val pair = banded.as("a").join(banded.as("b"), lit(true))
        .select(col("a.source").as("sa"), col("b.source").as("sb"),
          col("a.b").as("ba"), col("b.b").as("bb"),
          (col("a.c") * col("b.c")).as("cc"),
          round(exp((col("a.b") - col("b.b")).cast("double")
            * (col("a.b") - col("b.b")).cast("double") * lit(-0.5)
            / lit(16.0)), 6).as("k"))
      def fold(df: DataFrame, nm: String) =
        df.agg(aggregate(array_sort(collect_list(struct(col("ba"),
          col("bb"), (col("k") * col("cc").cast("double")).as("t")))),
          lit(0.0), (acc, e) => acc + e.getField("t")).as(nm),
          sum(col("cc")).as(nm + "_n"))
      val srcs = two.orderBy(col("source")).collect().map(_.getString(0))
      val (s1, s2) = (srcs(0), srcs(1))
      val kxx = fold(pair.filter(col("sa") === s1 && col("sb") === s1), "kxx")
      val kyy = fold(pair.filter(col("sa") === s2 && col("sb") === s2), "kyy")
      val kxy = fold(pair.filter(col("sa") === s1 && col("sb") === s2), "kxy")
      kxx.crossJoin(kyy).crossJoin(kxy)
        .select(lit(s1).as("source_a"), lit(s2).as("source_b"),
          (col("kxx") / dd("kxx_n") + col("kyy") / dd("kyy_n")
            - lit(2.0) * col("kxy") / dd("kxy_n")).as("mmd2"))
    }),

    "q483_seasonal_mk" -> ((s, dir) => {
      // Seasonal Mann–Kendall trend test on daily revenue: the MK
      // S-statistic computed WITHIN each weekday subseries (so the
      // weekly cycle can't masquerade as trend — the seasonal fix to
      // q311's plain MK), summed across the 7 seasons with the exact
      // integer variance Σ n_w(n_w−1)(2n_w+5)/18. Pairs are triangular
      // joins inside each calendar-bounded weekday subseries; z is one
      // division over an IEEE sqrt of exact integers.
      val daily = tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)"))
          .as("x"))
        .withColumn("w", pmod(datediff(col("day"),
          to_date(lit("1970-01-01"))), lit(7)))
        .cut()
      val sPer = daily.as("a").join(daily.as("b"),
          col("a.w") === col("b.w") && col("a.day") < col("b.day"))
        .groupBy(col("a.w").as("w"))
        .agg(sum(when(col("b.x") > col("a.x"), 1L)
          .when(col("b.x") < col("a.x"), -1L).otherwise(0L)).as("sw"))
      val nPer = daily.groupBy(col("w")).agg(count(lit(1)).as("nw"))
      val agg_ = sPer.join(nPer, Seq("w"))
        .agg(sum(col("sw")).as("s"),
          sum(col("nw") * (col("nw") - 1) * (col("nw") * 2 + 5)).as("v18"),
          sum(col("nw")).as("n_days"))
      def d(c: String): Column = col(c).cast("double")
      agg_.select(col("n_days"), col("s").as("s_stat"),
        (when(col("s") > 0, (d("s") - lit(1.0)))
          .when(col("s") < 0, (d("s") + lit(1.0)))
          .otherwise(lit(0.0))
          / sqrt(d("v18") / lit(18.0))).as("z"))
    }),

    // ── Round-12 tier: rank/agreement/drift/extreme-value statistics ────

    "q484_kendall_tau" -> ((s, dir) => {
      // Kendall τ-b between the 25 brands' 1995 and 1996 revenue
      // rankings — the concordance view of rank stability (q500's
      // Spearman sees squared rank gaps, τ sees pair inversions). Both
      // yearly revenues are exact cents; every pair comparison is an
      // integer compare over the catalog-bounded 25² grid; τ-b is one
      // double expression over the exact pair counts.
      val b = tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .filter(year(col("l_shipdate")).isin(1995, 1996))
        .groupBy(col("p_brand").as("brand"))
        .agg(sum(when(year(col("l_shipdate")) === 1995,
            expr(s"cast(cast(l_extendedprice as $dec) * 100 as bigint)"))
          .otherwise(0L)).as("r95"),
          sum(when(year(col("l_shipdate")) === 1996,
            expr(s"cast(cast(l_extendedprice as $dec) * 100 as bigint)"))
          .otherwise(0L)).as("r96"))
        .cut()
      val p = b.as("a").join(b.as("b"), col("a.brand") < col("b.brand"))
        .agg(count(lit(1)).as("n0"),
          sum(when((col("a.r95") < col("b.r95") && col("a.r96") < col("b.r96"))
            || (col("a.r95") > col("b.r95") && col("a.r96") > col("b.r96")),
            1L).otherwise(0L)).as("nc"),
          sum(when((col("a.r95") < col("b.r95") && col("a.r96") > col("b.r96"))
            || (col("a.r95") > col("b.r95") && col("a.r96") < col("b.r96")),
            1L).otherwise(0L)).as("nd"),
          sum(when(col("a.r95") === col("b.r95"), 1L).otherwise(0L)).as("tx"),
          sum(when(col("a.r96") === col("b.r96"), 1L).otherwise(0L)).as("ty"))
      def d(c: String): Column = col(c).cast("double")
      p.select(col("n0").as("n_pairs"), col("nc").as("concordant"),
        col("nd").as("discordant"),
        ((d("nc") - d("nd"))
          / sqrt((d("n0") - d("tx")) * (d("n0") - d("ty")))).as("tau_b"))
    }),

    "q485_page_hinkley" -> ((s, dir) => {
      // Page–Hinkley drift detector per nation (fixed-reference offline
      // form): m_t = Σ_{i≤t}(x_i − μ) with μ the nation's series mean,
      // PH_t = m_t − min_{i≤t} m_i, alarm when PH exceeds λ = 5·μ.
      // EVERYTHING is N-scaled integer arithmetic (m_t·N = N·cum_t −
      // t·S), so the day-ordered windows carry only integers — min/sum
      // are order-independent, no float recursion anywhere — and the
      // one division N·μ-descales max_ph at the end. Windows are
      // nation-partitioned (key-parallel, the allowed class).
      val daily = QueriesWarehouse.dailyRevenue(s, dir)
      val wo = Window.partitionBy(col("nation")).orderBy(col("d"))
      val wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = daily.groupBy(col("nation"))
        .agg(count(lit(1)).as("nn"), sum(col("c")).as("ss"))
      val d38 = "decimal(38,0)"
      val st = daily.join(tot, Seq("nation"))
        .withColumn("t", row_number().over(wo).cast("long"))
        .withColumn("cum", sum(col("c")).over(wc))
        .withColumn("m2", col("nn").cast(d38) * col("cum").cast(d38)
          - col("t").cast(d38) * col("ss").cast(d38))
        .withColumn("runmin", min(col("m2")).over(wc))
        .withColumn("ph", col("m2") - col("runmin"))
      def d(c: String): Column = col(c).cast("double")
      st.groupBy(col("nation"), col("nn"), col("ss"))
        .agg(sum(when(col("ph").cast(d38)
            > col("nn").cast(d38) * (col("ss") * 5).cast(d38), 1L)
          .otherwise(0L)).as("n_alarms"),
          max(col("ph")).as("maxph2"))
        .select(col("nation"), col("nn").as("n_days"), col("n_alarms"),
          (col("maxph2").cast("double") / d("nn")).as("max_ph_cents"))
    }),

    "q486_theil_index" -> ((s, dir) => {
      // Theil T inequality index of customer spend per nation:
      // T = (1/n)Σ (x_i/μ)·ln(x_i/μ). The per-customer term is snapped
      // to the 6-dp grid as an INTEGER micro-unit and summed
      // map-combinably (the q133 recipe — order-independent exact
      // integer math, no per-nation ordered fold, so the agg scales as
      // a plain shuffle at any corpus size).
      val spend = tbl(s, dir, "orders")
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(tbl(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), col("o_custkey"))
        .agg(sum(expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)"))
          .as("x"))
      val tot = spend.groupBy(col("nation"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      def d(c: Column): Column = c.cast("double")
      val ratio = d(col("x")) * d(col("n")) / d(col("sx"))
      spend.join(tot, Seq("nation"))
        .select(col("nation"), col("n"),
          round(ratio * log(ratio) * lit(1000000.0)).cast("long").as("tm"))
        .groupBy(col("nation"), col("n"))
        .agg(sum(col("tm")).as("tsum"))
        .select(col("nation"), col("n").as("n_customers"),
          (col("tsum").cast("double") / lit(1000000.0) / d(col("n")))
            .as("theil_t"))
    }),

    "q487_cochran_armitage" -> ((s, dir) => {
      // Cochran–Armitage trend test: does the share of fulfilled ('F')
      // orders TREND across the weekday grid (scores 0..6)? The
      // z-statistic is assembled from exact integer moments only —
      // per-weekday totals and successes, Σn·w, Σn·w², Σr·w — with the
      // one sqrt/division at the end.
      val cells = tbl(s, dir, "orders")
        .select(pmod(datediff(col("o_orderdate").cast("date"),
          to_date(lit("1970-01-01"))), lit(7)).as("w"),
          (col("o_orderstatus") === "F").cast("long").as("f"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("nw"), sum(col("f")).as("rw"))
      val m = cells.agg(sum(col("nw")).as("n"), sum(col("rw")).as("r"),
        sum(col("nw") * col("w")).as("snw"),
        sum(col("nw") * col("w") * col("w")).as("snww"),
        sum(col("rw") * col("w")).as("srw"))
      def d(c: String): Column = col(c).cast("double")
      m.select(col("n").as("n_obs"),
        ((d("n") * d("srw") - d("r") * d("snw"))
          / sqrt((d("r") * (d("n") - d("r")) / d("n"))
            * (d("n") * d("snww") - d("snw") * d("snw")) / d("n")))
          .as("ca_z"))
    }),

    "q488_kruskal_wallis" -> ((s, dir) => {
      // Kruskal–Wallis H across the five market segments on order
      // totals, EXACT midranks with tie correction: the corpus
      // collapses to the distinct-cents value grid, the banded
      // cumulative count places every value's midrank (2·midrank is an
      // integer), segment rank sums are exact integer dot products, and
      // H/C are assembled in doubles at the end. No unpartitioned
      // window anywhere (bandedCumSum is the q259 AUC machinery).
      // Checkpointed: the order⋈customer scan feeds both the value grid
      // and the per-segment cell counts below — one build (r13).
      val x = tbl(s, dir, "orders")
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("g"),
          expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)").as("v"))
        .cut()
      val grid = x.groupBy(col("v")).agg(count(lit(1)).as("t"))
      val cum = operators.ScalableWindow.bandedCumSum(
        grid, "v", descending = false, Seq.empty, "t", "cumt")
        .withColumn("mr2", (col("cumt") - col("t")) * 2 + col("t") + 1)
        .cut()
      val segv = x.groupBy(col("g"), col("v")).agg(count(lit(1)).as("cg"))
      val rj = segv.join(cum.select(col("v"), col("mr2")), Seq("v"))
        .groupBy(col("g"))
        .agg(sum(col("cg")).as("nj"),
          sum(col("cg").cast("decimal(38,0)") * col("mr2").cast("decimal(38,0)"))
            .as("r2j"))
      val ties = cum.agg(sum(col("t")).as("n"),
        sum((col("t").cast("decimal(38,0)") * col("t").cast("decimal(38,0)")
          * col("t").cast("decimal(38,0)")) - col("t").cast("decimal(38,0)"))
          .as("t3"))
      def d(c: Column): Column = c.cast("double")
      val hterm = rj.crossJoin(broadcast(ties))
        .select(col("g"), col("nj"), col("n"), col("t3"),
          (d(col("r2j")) / lit(2.0) * (d(col("r2j")) / lit(2.0))
            / d(col("nj"))).as("rr"))
      hterm.groupBy(col("n"), col("t3"))
        .agg(count(lit(1)).as("k"),
          aggregate(array_sort(collect_list(struct(col("g"),
            col("rr").as("rr")))), lit(0.0),
            (a, e) => a + e.getField("rr")).as("srr"))
        .select(col("n").as("n_obs"), (col("k") - 1).as("df"),
          ((lit(12.0) / (d(col("n")) * (d(col("n")) + 1.0)) * col("srr")
            - lit(3.0) * (d(col("n")) + 1.0))
            / (lit(1.0) - d(col("t3"))
              / (d(col("n")) * d(col("n")) * d(col("n")) - d(col("n")))))
            .as("h_corrected"))
    }),

    "q489_friedman" -> ((s, dir) => {
      // Friedman test: do weekdays differ in revenue once each WEEK is
      // its own block? Complete weeks only; within-week ranks are
      // integers from the 7-row block (rank by (revenue, weekday) — a
      // DEFINED total order, so cents ties break deterministically in
      // both engines); χ²_F is exact-integer rank sums in one closed
      // form. Windows are week-partitioned (key-parallel).
      val daily = tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)"))
          .as("c"))
        .withColumn("wk", floor(datediff(col("day"),
          to_date(lit("1970-01-05"))) / 7).cast("long"))
        .withColumn("w", pmod(datediff(col("day"),
          to_date(lit("1970-01-01"))), lit(7)))
      val full = daily.groupBy(col("wk")).agg(count(lit(1)).as("nd"))
        .filter(col("nd") === 7).select(col("wk"))
      val ranked = daily.join(full, Seq("wk"))
        .withColumn("rk", row_number().over(Window.partitionBy(col("wk"))
          .orderBy(col("c").asc, col("w").asc)).cast("long"))
      val rj = ranked.groupBy(col("w")).agg(sum(col("rk")).as("rj"),
        count(lit(1)).as("nb"))
      def d(c: Column): Column = c.cast("double")
      rj.agg(max(col("nb")).as("n_blocks"),
          sum(col("rj") * col("rj")).as("srj2"))
        .select(col("n_blocks"),
          (lit(12.0) / (d(col("n_blocks")) * lit(7.0) * lit(8.0))
            * d(col("srj2"))
            - lit(3.0) * d(col("n_blocks")) * lit(8.0)).as("friedman_chi2"))
    }),

    "q490_ks_two_sample" -> ((s, dir) => {
      // Two-sample Kolmogorov–Smirnov D between BUILDING-segment order
      // totals and the rest, EXACTLY: on the distinct-value grid,
      // D = max|F1−F2| = max|cum1·n2 − cum2·n1| / (n1·n2) is an integer
      // maximization (argmax reported at the smallest attaining value
      // via the max(struct) trick); both cumulatives ride ONE
      // bandedCumSums pass.
      val x = tbl(s, dir, "orders")
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select((col("c_mktsegment") === "BUILDING").as("g1"),
          expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)").as("v"))
      // Checkpointed: feeds both the banded pass and the n1/n2 totals.
      val grid = x.groupBy(col("v"))
        .agg(sum(col("g1").cast("long")).as("c1"),
          sum((!col("g1")).cast("long")).as("c2"))
        .cut()
      val cum = operators.ScalableWindow.bandedCumSums(
        grid, "v", descending = false, Seq.empty,
        Seq("c1" -> "cum1", "c2" -> "cum2"))
      val tot = grid.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      val d38 = "decimal(38,0)"
      val scored = cum.crossJoin(broadcast(tot))
        .select(col("v"), col("n1"), col("n2"),
          abs(col("cum1").cast(d38) * col("n2").cast(d38)
            - col("cum2").cast(d38) * col("n1").cast(d38)).as("dnum"))
      scored.groupBy(col("n1"), col("n2"))
        .agg(max(struct(col("dnum"), (-col("v")).as("negv"))).as("m"))
        .select(col("n1"), col("n2"),
          (col("m.dnum").cast("double")
            / (col("n1").cast("double") * col("n2").cast("double")))
            .as("ks_d"),
          (-col("m.negv")).as("at_cents"))
    }),

    "q495_sprt_daily" -> ((s, dir) => {
      // Wald SPRT per nation on the "high-revenue day" Bernoulli stream
      // (day's revenue above the nation's own median day): H0 p=0.4 vs
      // H1 p=0.6 — symmetric, so LLR_t = (2k_t − t)·ln(1.5) and the
      // ±ln(19) thresholds reduce to the INTEGER walk 2k−t crossing ±8
      // (⌈ln19/ln1.5⌉): the whole sequential test is exact integer
      // arithmetic on the day-ordered cumulative, decided at the FIRST
      // crossing. Median via the segment-partitioned rank (even counts
      // average as 2·med to stay integer).
      val daily = QueriesWarehouse.dailyRevenue(s, dir)
      val wNation = Window.partitionBy(col("nation"))
        .orderBy(col("c").asc, col("d").asc)
      val ranked = daily
        .withColumn("rn", row_number().over(wNation).cast("long"))
      val meds = ranked.groupBy(col("nation")).agg(count(lit(1)).as("n"))
        .join(ranked.select(col("nation"), col("rn"), col("c")), Seq("nation"))
        .filter(expr("rn = div(n + 1, 2) OR rn = div(n, 2) + 1"))
        .groupBy(col("nation"))
        .agg(sum(col("c")).as("med2x"), count(lit(1)).as("nm"))
        .select(col("nation"),
          when(col("nm") === 1, col("med2x") * 2).otherwise(col("med2x"))
            .as("med2"))
      val wo = Window.partitionBy(col("nation")).orderBy(col("d"))
      val walk = daily.join(broadcast(meds), Seq("nation"))
        .withColumn("hi", (col("c") * 2 > col("med2")).cast("long"))
        .withColumn("t", row_number().over(wo).cast("long"))
        .withColumn("k", sum(col("hi")).over(
          wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("s", col("k") * 2 - col("t"))
      val crossings = walk.filter(abs(col("s")) >= 8)
        .groupBy(col("nation"))
        .agg(min(struct(col("t"), col("s").as("s"))).as("f"))
        .select(col("nation"), col("f.t").as("decided_at_day"),
          when(col("f.s") >= 8, lit("accept_h1")).otherwise(lit("accept_h0"))
            .as("decision"))
      daily.groupBy(col("nation")).agg(count(lit(1)).as("n_days"))
        .join(crossings, Seq("nation"), "left")
        .select(col("nation"), col("n_days"),
          coalesce(col("decided_at_day"), lit(-1L)).as("decided_at_day"),
          coalesce(col("decision"), lit("undecided")).as("decision"))
    }),

    "q498_gumbel_maxima" -> ((s, dir) => {
      // Gumbel fit of MONTHLY block maxima of daily revenue by the
      // method of moments: β̂ = s·√6/π, μ̂ = m̄ − γ·β̂ — the extreme-value
      // sibling of q303's full-distribution moments. Block maxima and
      // both power sums are exact integers (DECIMAL(38,0) squares — the
      // q366 overflow lesson); √6/π and Euler γ come from QueryDsl ONE
      // literal pair consumed by both engines; the closed form is the
      // only float step, emitted unrounded.
      val mx = tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)"))
          .as("c"))
        .groupBy(date_format(col("day"), "yyyy-MM").as("month"))
        .agg(max(col("c")).as("m"))
      val d38 = "decimal(38,0)"
      val mom = mx.agg(count(lit(1)).as("n"), sum(col("m")).as("s1"),
        sum(col("m").cast(d38) * col("m").cast(d38)).as("s2"))
      def d(c: String): Column = col(c).cast("double")
      mom.select(col("n").as("n_months"),
          (d("s1") / d("n")).as("mean_max"),
          (sqrt((d("s2") - d("s1") * d("s1") / d("n")) / (d("n") - 1.0))
            * lit(QueryDsl.Sqrt6OverPi)).as("beta"))
        .select(col("n_months"), col("mean_max"), col("beta"),
          (col("mean_max") - lit(QueryDsl.EulerGamma) * col("beta"))
            .as("mu"))
    }),

    "q499_runs_test" -> ((s, dir) => {
      // Wald–Wolfowitz runs test on the daily-revenue sign sequence
      // (above/below the exact global day median; median days drop, the
      // standard convention): R runs over n1+n2 days, z from the exact
      // integer counts. The day grid is calendar-bounded, so the sign
      // chain rides boundedRankCum + a t→t+1 self-join — no
      // unpartitioned window.
      val daily = tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr(s"cast(cast(o_totalprice as $dec) * 100 as bigint)"))
          .as("c"))
      val idx = operators.ScalableWindow
        .boundedRankCum(daily, Seq(("day", true)), "t").cut()
      val n = idx.agg(count(lit(1)).as("nn"))
      val med = idx.crossJoin(broadcast(n))
        .filter(expr("t = div(nn + 1, 2) OR t = div(nn, 2) + 1"))
        .agg(sum(col("c")).as("med2x"), count(lit(1)).as("nm"))
        .select(when(col("nm") === 1, col("med2x") * 2)
          .otherwise(col("med2x")).as("med2"))
      val signed = idx.crossJoin(broadcast(med))
        .filter(col("c") * 2 =!= col("med2"))
        .select(col("t"), (col("c") * 2 > col("med2")).as("up"))
      val reIdx = operators.ScalableWindow
        .boundedRankCum(signed, Seq(("t", true)), "i").cut()
      val switches = reIdx.as("a").join(reIdx.as("b"),
          col("a.i") === col("b.i") - 1)
        .agg(sum((col("a.up") =!= col("b.up")).cast("long")).as("sw"))
      val counts = signed.agg(sum(col("up").cast("long")).as("n1"),
        sum((!col("up")).cast("long")).as("n2"))
      def d(c: String): Column = col(c).cast("double")
      counts.crossJoin(switches)
        .select(col("n1"), col("n2"), (col("sw") + 1).as("runs"),
          ((d("sw") + 1.0
            - (lit(2.0) * d("n1") * d("n2") / (d("n1") + d("n2")) + 1.0))
            / sqrt(lit(2.0) * d("n1") * d("n2")
              * (lit(2.0) * d("n1") * d("n2") - d("n1") - d("n2"))
              / ((d("n1") + d("n2")) * (d("n1") + d("n2"))
                * (d("n1") + d("n2") - 1.0)))).as("z"))
    }),

    "q500_spearman_brands" -> ((s, dir) => {
      // Spearman ρ between the 25 brands' total-quantity rank and
      // mean-line-price rank: ranks are exact integers over the
      // catalog-bounded grid (mean price compared EXACTLY by
      // cross-multiplied integers — sp_a·n_b vs sp_b·n_a — so the rank
      // never depends on a float), ρ = 1 − 6Σd²/(n(n²−1)) is one exact
      // rational. The rank comes from the triangular self-join (the
      // q174 rule: no window, even over 25 rows).
      val b = tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(sum(expr(s"cast(cast(l_quantity as $dec) * 100 as bigint)"))
          .as("sq"),
          sum(expr(s"cast(cast(l_extendedprice as $dec) * 100 as bigint)"))
          .as("sp"), count(lit(1)).as("n"))
        .cut()
      val d38 = "decimal(38,0)"
      val o = b.select(col("brand").as("ob"), col("sq").as("osq"),
        col("sp").as("osp"), col("n").as("on"))
      val rq = b.join(o, col("osq") > col("sq")
          || (col("osq") === col("sq") && col("ob") < col("brand")), "left")
        .groupBy(col("brand")).agg((count(col("ob")) + 1).as("rkq"))
      val rp = b.join(o,
          col("osp").cast(d38) * col("n").cast(d38)
            > col("sp").cast(d38) * col("on").cast(d38)
          || (col("osp").cast(d38) * col("n").cast(d38)
            === col("sp").cast(d38) * col("on").cast(d38)
            && col("ob") < col("brand")), "left")
        .groupBy(col("brand")).agg((count(col("ob")) + 1).as("rkp"))
      val dd = rq.join(rp, Seq("brand"))
        .select(((col("rkq") - col("rkp"))
          * (col("rkq") - col("rkp"))).as("d2"))
      dd.agg(count(lit(1)).as("n_brands"), sum(col("d2")).as("sd2"))
        .select(col("n_brands"), col("sd2").as("sum_d2"),
          (lit(1.0) - lit(6.0) * col("sd2").cast("double")
            / (col("n_brands").cast("double")
              * (col("n_brands").cast("double")
                * col("n_brands").cast("double") - 1.0))).as("rho"))
    }),
  )

  /** q446's finishing math over a (nation, yr, p_brand, rev) cell
    * table: shares, brand-ordered Σshare² fold, ×10⁴, 4-dp round.
    * Shared VERBATIM by the streaming HHI monitor
    * ([[graft.streaming.StreamingHhi]]), so converged counters
    * reproduce the batch rows bit for bit (the weightedJaccardFinish
    * discipline).
    */
  private[graft] def hhiFinish(cell: DataFrame): DataFrame = {
    val tot = cell.groupBy(col("nation"), col("yr"))
      .agg(sum(col("rev")).as("trev"))
    val sh = col("rev").cast("double") / col("trev").cast("double")
    cell.join(tot, Seq("nation", "yr"))
      .withColumn("s2", sh * sh)
      .groupBy(col("nation"), col("yr"))
      .agg(count(lit(1)).as("n_brands"),
        round(lit(10000.0) * aggregate(
          array_sort(collect_list(struct(col("p_brand"), col("s2")))),
          lit(0.0), (acc, e) => acc + e.getField("s2")), 4).as("hhi"))
  }

  /** q445's finishing math over a (digit, n_obs) table: dense 1–9 grid
    * with QueryDsl.benfordExpected literals, digit-ordered χ² fold.
    * Shared VERBATIM by [[graft.streaming.StreamingBenford]].
    */
  private[graft] def benfordFinish(obs: DataFrame): DataFrame = {
    val s = obs.sparkSession
    import s.implicits._
    val grid = (1 to 9).map(d =>
      (d, QueryDsl.benfordExpected(d - 1))).toDF("digit", "p_expected")
    val dense = grid.join(obs, Seq("digit"), "left")
      .select(col("digit"), col("p_expected"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"))
      .cut()
    val tot = dense.agg(sum(col("n_obs")).as("nn"))
    val term = {
      val e = col("nn").cast("double") * col("p_expected")
      (col("n_obs").cast("double") - e) * (col("n_obs").cast("double") - e) / e
    }
    val chi = dense.crossJoin(broadcast(tot))
      .agg(aggregate(array_sort(collect_list(struct(col("digit"),
        term.as("t")))), lit(0.0), (acc, e) => acc + e.getField("t"))
        .as("chi2"))
    dense.crossJoin(broadcast(tot)).crossJoin(broadcast(chi))
      .select(col("digit"), col("n_obs"),
        round(col("p_expected"), 6).as("p_expected"),
        round(col("n_obs").cast("double") / col("nn").cast("double"), 6)
          .as("obs_share"),
        round(col("chi2"), 6).as("chi2"))
  }

  /** Per-customer lifetime rows for the survival tier: (ck, t = days
    * first→last order, ev = 1 when churned / 0 when right-censored —
    * last order within 90 days of the corpus max date).
    */
  private def lifetimes(s: SparkSession, dir: String): DataFrame = {
    val o = tbl(s, dir, "orders").select(col("o_custkey").as("ck"),
      col("o_orderdate").cast("date").as("dd"))
    val per = o.groupBy(col("ck")).agg(min(col("dd")).as("f"),
      max(col("dd")).as("l"))
    val mx = o.agg(max(col("dd")).as("md"))
    per.crossJoin(broadcast(mx)).select(col("ck"),
      datediff(col("l"), col("f")).cast("long").as("t"),
      when(col("l") < date_sub(col("md"), 90), 1L).otherwise(0L).as("ev"))
  }

  /** Distinct-lifetime event grid with at-risk counts: (t, c, d, n_risk)
    * where n_risk = N − #(T < t), via one [[operators.ScalableWindow
    * .bandedCumSum]] — never an unpartitioned window.
    */
  private def lifetimeGrid(lt0: DataFrame): DataFrame = {
    // Two consumers (the event grid and the total count): one build.
    val lt = lt0.cut()
    val grid = lt.groupBy(col("t"))
      .agg(count(lit(1)).as("c"), sum(col("ev")).as("d"))
    val cum = operators.ScalableWindow.bandedCumSum(grid, "t",
      descending = false, Seq.empty, "c", "cumc")
    val n = lt.agg(count(lit(1)).as("nn"))
    cum.crossJoin(broadcast(n))
      .select(col("t"), col("c"), col("d"),
        (col("nn") - (col("cumc") - col("c"))).as("n_risk"))
  }

  /** q394's finishing join over the (n_name, p_brand, cnt) profile
    * table — Σmin over shared brands, Σmax = tot_a + tot_b − Σmin.
    * Shared VERBATIM by the streaming face's rollup
    * ([[graft.streaming.StreamingBrandMix]]), so stream == batch is
    * pinned on the same code path.
    */
  private[graft] def weightedJaccardFinish(cnt: DataFrame): DataFrame = {
    val tot = cnt.groupBy(col("n_name")).agg(sum(col("cnt")).as("tot"))
    val a = cnt.select(col("n_name").as("na"), col("p_brand"), col("cnt").as("ca"))
    val b = cnt.select(col("n_name").as("nb"), col("p_brand"), col("cnt").as("cb"))
    val smin = a.join(b, Seq("p_brand")).filter(col("na") < col("nb"))
      .groupBy(col("na"), col("nb"))
      .agg(sum(least(col("ca"), col("cb"))).as("smin"))
    smin
      .join(tot.select(col("n_name").as("na"), col("tot").as("ta")), Seq("na"))
      .join(tot.select(col("n_name").as("nb"), col("tot").as("tb")), Seq("nb"))
      .select(col("na"), col("nb"), col("smin"),
        (col("ta") + col("tb") - col("smin")).as("smax"),
        round(col("smin").cast("double") /
          (col("ta") + col("tb") - col("smin")).cast("double"), 6)
          .as("weighted_jaccard"))
  }

  /** Exact per-customer total spend cents per nation — the shared base
    * of the inequality panel (q377–q379).
    */
  private def spendPerCustomer(s: SparkSession, dir: String): DataFrame = {
    val o = tbl(s, dir, "orders").select(col("o_custkey"),
      (col("o_totalprice").cast(dec) * 100).cast("long").as("cents"))
    val c = tbl(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val n = tbl(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), col("o_custkey"))
      .agg(sum(col("cents")).as("x"))
  }

  /** Per-nation decile grid of customer spend (10 interpolated values,
    * both engines share the (n−1)·p interpolation) + customer count.
    */
  private def spendDecileGrid(s: SparkSession, dir: String): DataFrame = {
    val qs = (0 to 9).map(i => 0.05 + 0.1 * i)
    spendPerCustomer(s, dir)
      .groupBy(col("nation"))
      .agg(expr(s"percentile(CAST(x AS DOUBLE), array(${qs.mkString(",")}))").as("g"),
        count(lit(1)).as("n_customers"))
  }
}
