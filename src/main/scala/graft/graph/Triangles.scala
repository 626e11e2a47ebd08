package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin.CutOps

/** Distributed triangle counting + local clustering coefficient via the
  * degree-ordered edge orientation (the MapReduce-era "node iterator++"
  * scheme, Suri & Vassilvitskii 2011): every undirected edge is directed
  * from its lower-(degree, id) endpoint to the higher one, wedges are
  * enumerated only at each edge's LOW endpoint, and a wedge closes iff
  * the oriented (v1, v2) edge exists.
  *
  * Why the orientation is the whole scale story: out-degree under it is
  * bounded by O(√m) on any graph, so the wedge join produces
  * Σ outdeg(u)² = O(m^1.5) rows instead of the Σ deg(u)² = O(n·d_max²)
  * a naive neighbor self-join pays — a hub with degree 10⁶ contributes
  * ~10¹² naive wedges but only its √m-bounded oriented fan here. Every
  * triangle is produced exactly once (its rank-minimal vertex owns it).
  *
  * All counts are integers; the only float is the final coefficient
  * (one double division, rounded), so the cross-engine oracle replays
  * the computation exactly.
  */
object Triangles {

  /** Per-node triangle count and clustering coefficient
    * 2·tri(v) / (deg(v)·(deg(v)−1)) over an undirected simple graph
    * given as canonical `a < b` edges (rows must be distinct).
    * Every node in `nodes` gets a row; isolated nodes report
    * (0, 0, 0.0).
    */
  def perNode(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      nodes: DataFrame,
      nodeCol: String): DataFrame = {
    // Pinned (r13, lazy): the caller's edge subtree is often expensive
    // (q171 feeds a co-purchase wedge aggregation) and was re-evaluated
    // by every reference — `e` feeds the degree count AND the oriented
    // join, `deg` is referenced three times. One materialization each.
    val e = org.apache.spark.sql.graft.Pin.pin(
      edges.select(col(aCol).as("a"), col(bCol).as("b")), eager = false)
    val deg = org.apache.spark.sql.graft.Pin.pin(
      e.select(col("a").as("node"))
        .union(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg")), eager = false)
    val withDeg = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    val aLow = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // Oriented low→high edge, carrying the head's rank for the wedge
    // ordering; pinned because it feeds both wedge legs AND the closing
    // probe (three scans of one edge-sized frame).
    val o = withDeg.select(
      when(aLow, col("a")).otherwise(col("b")).as("u"),
      when(aLow, col("b")).otherwise(col("a")).as("v"),
      when(aLow, col("db")).otherwise(col("da")).as("dv"))
      .cut(eager = false)
    val e1 = o.select(col("u"), col("v").as("v1"), col("dv").as("d1"))
    val e2 = o.select(col("u"), col("v").as("v2"), col("dv").as("d2"))
    val wedges = e1.join(e2, Seq("u"))
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("v1") < col("v2")))
      .select(col("u"), col("v1"), col("v2"))
    // Closing edge must be oriented v1→v2 (v1 is rank-lower by the wedge
    // filter); o is a set, so the inner join is a semi-join in effect.
    val tris = wedges
      .join(o.select(col("u").as("v1"), col("v").as("v2")), Seq("v1", "v2"))
      .select(col("u"), col("v1"), col("v2"))
    val perNodeCnt = tris.select(col("u").as("node"))
      .union(tris.select(col("v1").as("node")))
      .union(tris.select(col("v2").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    nodes.select(col(nodeCol).as("node")).distinct()
      .join(deg, Seq("node"), "left")
      .join(perNodeCnt, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
          round((lit(2L) * coalesce(col("n_triangles"), lit(0L))).cast("double") /
            (col("deg") * (col("deg") - lit(1L))).cast("double"), 6))
          .otherwise(lit(0.0)).as("clustering_coef"))
  }

  /** Per-EDGE triangle support — |N(a) ∩ N(b)| for every canonical
    * `a < b` edge (edges in no triangle report 0). This is the k-truss
    * building block: a k-truss keeps edges with support ≥ k−2. Same
    * degree-ordered orientation as [[perNode]] (the wedge join is
    * O(m^1.5), never degree²·nodes), with each found triangle exploded
    * back onto its three canonical edges — triangle-count-sized, the
    * output of the wedge close.
    */
  def perEdgeSupport(
      edges: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    // Pinned (r13, lazy): the caller's edge subtree is often expensive
    // (q171 feeds a co-purchase wedge aggregation) and was re-evaluated
    // by every reference — `e` feeds the degree count AND the oriented
    // join, `deg` is referenced three times. One materialization each.
    val e = org.apache.spark.sql.graft.Pin.pin(
      edges.select(col(aCol).as("a"), col(bCol).as("b")), eager = false)
    val deg = org.apache.spark.sql.graft.Pin.pin(
      e.select(col("a").as("node"))
        .union(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg")), eager = false)
    val withDeg = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    val aLow = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = withDeg.select(
      when(aLow, col("a")).otherwise(col("b")).as("u"),
      when(aLow, col("b")).otherwise(col("a")).as("v"),
      when(aLow, col("db")).otherwise(col("da")).as("dv"))
      .cut(eager = false)
    val e1 = o.select(col("u"), col("v").as("v1"), col("dv").as("d1"))
    val e2 = o.select(col("u"), col("v").as("v2"), col("dv").as("d2"))
    val tris = e1.join(e2, Seq("u"))
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("v1") < col("v2")))
      .select(col("u"), col("v1"), col("v2"))
      .join(o.select(col("u").as("v1"), col("v").as("v2")), Seq("v1", "v2"))
      .select(col("u"), col("v1"), col("v2"))
    // Canonical (min,max) form of each triangle edge; support per edge.
    val sup = tris.select(least(col("u"), col("v1")).as("a"),
        greatest(col("u"), col("v1")).as("b"))
      .union(tris.select(least(col("u"), col("v2")).as("a"),
        greatest(col("u"), col("v2")).as("b")))
      .union(tris.select(least(col("v1"), col("v2")).as("a"),
        greatest(col("v1"), col("v2")).as("b")))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    e.join(sup, Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("support"), lit(0L)).as("support"))
  }
}
