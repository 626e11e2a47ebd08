package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe replacements for global (unpartitioned) window functions.
  *
  * `Window.orderBy(x)` with no partition spec moves EVERY row through one
  * task — fine on a month table, fatal on a 10⁹-row customer aggregate
  * (the r6 verdict's q200/q182 finding). The classic fix is the
  * range-partitioned two-pass prefix sum (the same shape `sortWithinPartitions`
  * + `RangePartitioner` uses for global sorts):
  *
  *   1. cut the value domain into bands with `approx_percentile`
  *      (the cuts only place band BOUNDARIES — the result stays exact no
  *      matter how approximate the quantiles are);
  *   2. cumulative-sum WITHIN each band via a partitioned window
  *      (parallel, memory-bounded by the band);
  *   3. compute each band's total and the running offset of all bands
  *      that sort before it — a band-count-sized triangular join, never a
  *      window — and broadcast it back.
  *
  * Global cumsum = within-band cumsum + broadcast band offset, exactly,
  * with no single-partition stage anywhere in the plan (PlanSpec asserts
  * the optimized plan of the q203/q204 users has no empty
  * `Window.partitionSpec`).
  */
object ScalableWindow {

  /** Append `out` = exact running sum of `sumCol` over the global order
    * (`bandOn` asc/desc, then `tieBreakers` asc), including the current
    * row — i.e. `sum(sumCol) OVER (ORDER BY … ROWS UNBOUNDED PRECEDING)`
    * — without an unpartitioned window.
    *
    * @param bandOn numeric column that is the PRIMARY sort key; bands cut
    *   its value domain, so rows with equal `bandOn` always land in the
    *   same band and the band order composes with the in-band order into
    *   the exact global order.
    * @param nBands number of value-domain cuts. At 100 TB pick
    *   ~(corpus rows / target partition rows); the driver-side state is
    *   nBands-1 doubles (one bounded collect, documented here) and the
    *   offset join is nBands² rows at worst.
    */
  def bandedCumSum(
      df: DataFrame,
      bandOn: String,
      descending: Boolean,
      tieBreakers: Seq[String],
      sumCol: String,
      out: String,
      nBands: Int = 32): DataFrame =
    bandedCumSums(df, bandOn, descending, tieBreakers,
      Seq(sumCol -> out), nBands)

  /** Multi-column form of [[bandedCumSum]]: ALL running sums share ONE
    * band pass (one percentile collect, one partitioned window, one
    * offset join) instead of chaining a full pass per column — q347's
    * four prefix sums cost one scan, not four.
    */
  def bandedCumSums(
      df: DataFrame,
      bandOn: String,
      descending: Boolean,
      tieBreakers: Seq[String],
      sums: Seq[(String, String)],
      nBands: Int = 32): DataFrame = {
    require(nBands >= 2, "nBands must be at least 2")
    require(sums.nonEmpty, "at least one (src, out) column pair")
    // Pin the input once (r13, guide §1.2/§5): this operator references
    // `df` THREE times — the percentile collect, the banded window pass,
    // and the band-totals aggregate — and Spark shares no subtrees across
    // jobs, so an un-pinned input subtree (typically a corpus scan +
    // explode/groupBy, e.g. q259's md5-scored lineitem) was computed
    // three times per call, and 3^k times under k chained calls (q277).
    // One cut makes every pass a memory scan of the projected
    // input. Inputs that are ALREADY a pinned leaf skip the copy.
    val in = df.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => df
      case _ => org.apache.spark.sql.graft.Pin.pin(df)
    }
    // One bounded collect: nBands-1 doubles. The cuts need not be good
    // quantiles — only a deterministic function of the value — so the
    // default percentile_approx accuracy is plenty.
    val probs = (1 until nBands).map(i => i.toDouble / nBands)
    val cutsRow = in
      .agg(percentile_approx(col(bandOn).cast("double"),
        typedLit(probs), lit(10000)).as("cuts"))
      .head()
    val cuts: Seq[Double] =
      if (cutsRow.isNullAt(0)) Seq.empty
      else cutsRow.getSeq[Double](0).distinct.sorted
    // Band id = #cuts strictly below the value (codegen'd higher-order
    // function over a literal array; equal values always share a band).
    val bandExpr =
      if (cuts.isEmpty) lit(0)
      else size(filter(typedLit(cuts), c => c < col(bandOn).cast("double")))
    val band = "__swb_band"
    def within(i: Int) = s"__swb_within_$i"
    def btot(i: Int) = s"__swb_btot_$i"
    def off(i: Int) = s"__swb_off_$i"
    val banded = in.withColumn(band, bandExpr)
    val orderCols =
      (if (descending) col(bandOn).desc else col(bandOn).asc) +:
        tieBreakers.map(col(_).asc)
    val w = Window.partitionBy(col(band)).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withWithin = sums.zipWithIndex.foldLeft(banded) {
      case (acc, ((src, _), i)) =>
        acc.withColumn(within(i), sum(col(src)).over(w))
    }
    // Band totals (≤ nBands rows) → running offset via a triangular
    // self-join: offset(b) = Σ totals of bands sorting before b.
    val totals = banded.groupBy(col(band))
      .agg(sums.head._1 -> "sum",
        sums.tail.map(s => s._1 -> "sum"): _*)
      .toDF(band +: sums.indices.map(btot): _*)
    val before: Column =
      if (descending) col(s"b.$band") > col(s"a.$band")
      else col(s"b.$band") < col(s"a.$band")
    val offsets = totals.as("a")
      .join(totals.as("b"), before, "left")
      .groupBy(col(s"a.$band").as(band))
      .agg(sum(col(s"b.${btot(0)}")).as(off(0)),
        sums.indices.tail.map(i => sum(col(s"b.${btot(i)}")).as(off(i))): _*)
    val joined = withWithin.join(broadcast(offsets), Seq(band))
    val withOuts = sums.zipWithIndex.foldLeft(joined) {
      case (acc, ((_, out), i)) =>
        acc.withColumn(out, col(within(i)) + coalesce(col(off(i)), lit(0)))
    }
    withOuts.drop(band +: sums.indices.flatMap(i =>
      Seq(within(i), off(i))): _*)
  }

  /** Exact `row_number` (and optional running sums, current row
    * included) over a BOUNDED table — post-limit top-k tails, day/month
    * series, vocab heads — via a triangular self-join instead of an
    * unpartitioned window. `Window.orderBy(...)` on a 50-row tail is
    * harmless but logs the same single-partition warning as a genuine
    * scale-killer; since Spark 4's `EliminateWindowPartitions` folds a
    * constant partition key back to the warning case, the honest fix is
    * no window at all. Cost: |df|² join rows — callers must be
    * bounded-cardinality by construction (every call site documents its
    * bound).
    *
    * @param keys strict total order as (column, ascending) — rows must be
    *   UNIQUE on the key prefix (ties would collapse ranks).
    * @param rankCol output rank column (LongType, 1-based).
    * @param cumSums (source column → output column) running sums over the
    *   same order, current row included.
    */
  def boundedRankCum(
      df: DataFrame,
      keys: Seq[(String, Boolean)],
      rankCol: String,
      cumSums: Seq[(String, String)] = Nil): DataFrame = {
    // b sorts strictly before a, lexicographically over the key list.
    val strictlyBefore: Column = keys.zipWithIndex.map { case ((k, asc), i) =>
      val samePrefix = keys.take(i)
        .map { case (p, _) => col(s"b.$p") === col(s"a.$p") }
        .foldLeft(lit(true))(_ && _)
      samePrefix && (if (asc) col(s"b.$k") < col(s"a.$k")
                     else col(s"b.$k") > col(s"a.$k"))
    }.reduce(_ || _)
    val joined = df.as("a").join(df.as("b"), strictlyBefore, "left")
    val rank = (count(col(s"b.${keys.head._1}")) + lit(1L)).as(rankCol)
    val sums = cumSums.map { case (src, out) =>
      // a.src is a grouping key, so it can ride inside the aggregate.
      (coalesce(sum(col(s"b.$src")), lit(0)) + col(s"a.$src")).as(out)
    }
    joined
      .groupBy(df.columns.map(c => col(s"a.$c")): _*)
      .agg(rank, sums: _*)
  }
}
