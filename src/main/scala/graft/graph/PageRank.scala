package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank by synchronous power iteration.
  *
  * Rounds out the engine's graph tier (BFS trees in [[Trees]], log-depth
  * closure in [[Closure]], min-label connected components in
  * [[graft.operators.Dedup]]) with the canonical *weighted* importance
  * iteration — the standard tool for ranking documents inside a link or
  * similarity graph when curating web-scale training corpora (Page et
  * al. 1999; the "quality via graph centrality" signal in Common-Crawl
  * pipelines).
  *
  * Scale shape (the reason this is written the way it is):
  *  - the edge table is scanned ONCE per iteration in a single hash join
  *    keyed on `src` followed by a map-combinable `sum` keyed on `dst` —
  *    two shuffles of edge-sized data per round, nothing quadratic;
  *  - per-edge weights (1/outdegree) are folded into the edge table once
  *    up front, so the iteration body is join→multiply→sum with no
  *    degree lookup inside the loop;
  *  - rank state is node-sized and re-pinned (`Pin`) every
  *    round — iterative lineage would otherwise re-execute all prior
  *    rounds (same discipline as [[Closure]]);
  *  - only ONE scalar (the node count) ever reaches the driver.
  *
  * Semantics are the damped formulation without dangling-mass
  * redistribution — rank(v) = (1-d)/N + d·Σ_{u→v} rank(u)/outdeg(u) —
  * chosen because it is a pure per-edge computation (no global dangling
  * sum per round) and therefore replays exactly as unrolled SQL for the
  * cross-engine oracle. Fixed `iters` rounds from the uniform 1/N start
  * make the result a deterministic function of the inputs.
  */
object PageRank {

  /** Ranks for every node in `nodes` (isolated nodes converge to the
    * damped floor (1-d)/N). `edges` rows with null endpoints are
    * dropped; duplicate (src,dst) rows are NOT deduplicated — callers
    * choose multi-edge or simple-graph semantics upstream.
    *
    * @return (node, rank) with one row per input node
    */
  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      nodes: DataFrame,
      nodeCol: String,
      damping: Double = 0.85,
      iters: Int = 10): DataFrame = {
    val spark = edges.sparkSession

    val v = nodes.select(col(nodeCol).as("node")).distinct()
    val n = v.count() // the one driver-side scalar (bounded: a long)
    require(n > 0, "PageRank needs at least one node")

    val e = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    // Fold 1/outdegree into the edges once; the loop never recomputes it.
    // Pinned HASHED on src (r13, guide §2.4): the per-iteration
    // contribution join is keyed on src, so hoisting the edge frame's
    // hash partitioning once removes the edge-sized Exchange from every
    // round (stats stay neutral — no broadcast flip, see Pin scaladoc).
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val weighted = org.apache.spark.sql.graft.Pin.pinHashed(
      e.join(outDeg, Seq("src"))
        .select(col("src"), col("dst"),
          (lit(1.0) / col("deg").cast("double")).as("w")), Seq("src"),
      eager = false)

    iterate(spark, v, n, weighted, damping, iters)
  }

  /** Weighted PageRank (the TextRank formulation): caller supplies an
    * edge weight column; the operator normalizes it by the source's
    * total outgoing weight ONCE up front (exact integer sums when the
    * weights are counts), then runs the same damped iteration. Same
    * scale shape as [[run]]: two edge-sized shuffles per round,
    * node-sized pinned state, one scalar to the driver.
    */
  def runWeighted(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      wCol: String,
      nodes: DataFrame,
      nodeCol: String,
      damping: Double = 0.85,
      iters: Int = 10): DataFrame = {
    val spark = edges.sparkSession
    val v = nodes.select(col(nodeCol).as("node")).distinct()
    val n = v.count()
    require(n > 0, "PageRank needs at least one node")
    // Precondition: caller weights must be POSITIVE. Zero/negative rows
    // are dropped here rather than silently producing tw = 0 → NaN/Inf
    // ranks (run()'s 1/outdegree weight is always positive; this path
    // takes arbitrary caller input).
    val e = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"), col(wCol).as("cw"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("cw").cast("double") > 0d)
    val tot = e.groupBy(col("src")).agg(sum(col("cw")).as("tw"))
    // Hash-pinned on the per-round join key, like run() (r13).
    val weighted = org.apache.spark.sql.graft.Pin.pinHashed(
      e.join(tot, Seq("src"))
        .select(col("src"), col("dst"),
          (col("cw").cast("double") / col("tw").cast("double")).as("w")),
      Seq("src"), eager = false)
    iterate(spark, v, n, weighted, damping, iters)
  }

  /** Personalized PageRank: the teleport mass lands on the SEED set
    * instead of uniformly — rank(v) = (1-d)·s(v) + d·Σ rank(u)/outdeg(u)
    * with s(v) = 1/|S| for seeds, 0 otherwise, started from s. Same
    * scale shape as [[run]] (two edge-sized shuffles per round,
    * node-sized pinned state); the per-node restart column rides the
    * node frame, so the loop body is unchanged. Non-seed nodes
    * unreachable from the seeds converge to exactly 0.0 — a pure
    * per-edge computation like run(), so it unrolls exactly as the
    * oracle's MATERIALIZED CTE chain.
    */
  def runPersonalized(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      nodes: DataFrame,
      nodeCol: String,
      seeds: DataFrame,
      seedCol: String,
      damping: Double = 0.85,
      iters: Int = 10): DataFrame = {
    val spark = edges.sparkSession
    import org.apache.spark.sql.graft.Pin
    val sd = seeds.select(col(seedCol).as("node")).distinct()
    val nSeeds = sd.count() // bounded driver scalar, like run()'s n
    require(nSeeds > 0, "personalized PageRank needs at least one seed")
    // Same hoisted-partitioning scheme as iterate() (r13): nodes hashed
    // on the fallback-join key, edges on the contribution-join key, state
    // keeps its materialized layout — one Exchange per round.
    val v = Pin.pinHashed(nodes.select(col(nodeCol).as("node")).distinct()
      .join(sd.withColumn("s", lit(1.0 / nSeeds)), Seq("node"), "left")
      .select(col("node"), coalesce(col("s"), lit(0.0)).as("s")), Seq("node"),
      eager = false)
    val e = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val weighted = Pin.pinHashed(e.join(outDeg, Seq("src"))
      .select(col("src"), col("dst"),
        (lit(1.0) / col("deg").cast("double")).as("w")), Seq("src"),
      eager = false)
    var ranks = Pin.pinKeep(v.select(col("node"), col("s").as("rank")), eager = false)
    for (_ <- 1 to iters) {
      val contribs = weighted
        .join(ranks.select(col("node").as("src"), col("rank")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") * col("w")).as("contrib"))
      ranks = Pin.pinKeep(v
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) * col("s") +
            lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank")),
        eager = false)
    }
    ranks
  }

  private def iterate(
      spark: org.apache.spark.sql.SparkSession,
      v: DataFrame,
      n: Long,
      weighted: DataFrame,
      damping: Double,
      iters: Int): DataFrame = {
    import org.apache.spark.sql.graft.Pin
    val base = lit((1.0 - damping) / n)
    // v was re-evaluated (a distinct over the node source) inside every
    // round's fallback join; hash-pinned ONCE on the join key it is
    // consumed with (r13). The per-round state keeps the partitioning
    // its producing join materialized (pinKeep), so with the edge frame
    // hash-pinned on src the loop body's only Exchange is the
    // contribution aggregation — the one fundamentally required shuffle.
    val vp = Pin.pinHashed(v, Seq("node"), eager = false)
    var ranks = Pin.pinKeep(vp.withColumn("rank", lit(1.0 / n)), eager = false)
    for (_ <- 1 to iters) {
      val contribs = weighted
        .join(ranks.select(col("node").as("src"), col("rank")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") * col("w")).as("contrib"))
      ranks = Pin.pinKeep(vp
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (base + lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank")),
        eager = false)
    }
    ranks
  }
}
