package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation for community detection (Raghavan et
  * al. 2007), made fully deterministic: every node simultaneously adopts
  * the most frequent label among its in-neighbors, ties broken by the
  * SMALLEST label, isolated nodes keep their own label. Fixed-round
  * synchronous sweeps from the identity labeling make the result a pure
  * integer function of the graph — no randomized visit order, no float
  * math — so the cross-engine oracle replays it exactly.
  *
  * Complements [[graft.operators.Dedup.connectedComponents]] (which
  * finds *reachability* classes): label propagation splits a connected
  * graph into densely-linked communities — the signal used to group
  * near-duplicate families or topical clusters inside one giant
  * component.
  *
  * Scale shape per round: one edge-scan hash join keyed on src, one
  * map-combinable (dst, label) count, one node-sized argmax
  * (`min(struct(-cnt, label))` — no window), one node-sized fallback
  * join. Label state is node-sized and re-pinned (`Pin`)
  * every round, the [[Closure]]/[[PageRank]] lineage discipline.
  */
object LabelPropagation {

  /** (node, community) after `rounds` synchronous sweeps. `edges` are
    * directed as given — pass both directions for undirected semantics.
    */
  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      nodes: DataFrame,
      nodeCol: String,
      rounds: Int = 5): DataFrame = {
    val spark = edges.sparkSession
    import org.apache.spark.sql.graft.Pin

    // r13 iteration scheme (Pin scaladoc): lazy pins chain all rounds
    // into one job; edges hash-pinned once on the per-round join key.
    val v = nodes.select(col(nodeCol).as("node")).distinct()
    val e = Pin.pinHashed(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull),
      Seq("src"), eager = false)

    var labels = Pin.pinHashed(v.withColumn("label", col("node")),
      Seq("node"), eager = false)
    for (_ <- 1 to rounds) {
      val cnt = e
        .join(labels.select(col("node").as("src"), col("label")), Seq("src"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      // Most frequent neighbor label, smallest label on ties: lexicographic
      // min over (-cnt, label) — a partial-aggregable argmax, no window.
      val pick = cnt
        .groupBy(col("node"))
        .agg(min(struct((-col("cnt")).as("neg"), col("label")))
          .getField("label").as("nbr_label"))
      labels = Pin.pinKeep(labels
        .join(pick, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("nbr_label"), col("label")).as("label")),
        eager = false)
    }
    labels.select(col("node"), col("label").as("community"))
  }
}
