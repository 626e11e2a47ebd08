package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin.CutOps
import graft.spatial.Geo
import QueryDsl._

/** Spatial tier (q254–q256): radius joins, kNN, and density clustering
  * over deterministic md5-derived coordinates (see [[graft.spatial.Geo]]
  * for the derivation, the grid-exhaustiveness proof, and the
  * cross-engine float contract — every distance is compared and emitted
  * 6-dp-rounded).
  *
  * Reference anchor: pdcm-etl has no geo surface; this tier is part of
  * the beyond-parity large-pipeline operators (spatial blocking is the
  * geo analog of the LSH band join the dedup tier already ships: join on
  * a coarse bucket, verify exactly inside it).
  */
private[graft] object QueriesSpatial {

  private def custPoints(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer").select(col("c_custkey").as("id"),
      Geo.latOf(col("c_custkey")).as("lat"),
      Geo.lonOf(col("c_custkey")).as("lon"))

  val map: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q254_geo_neighbors" -> ((s, dir) => {
      // Per-point neighborhood profile within 500 km: neighbor count and
      // nearest-neighbor distance. The pair stream comes from the 3×3
      // grid-cell join (shuffle 10×|points|, per-task work density²·eps²,
      // never corpus²); output is point-sized. Points with no neighbor
      // inside the radius are absent (inner semantics of the pair
      // aggregation), matching the oracle's WHERE d ≤ eps.
      val pairs = Geo.gridNeighborPairs(custPoints(s, dir), "id", 500.0)
      val sym = pairs.select(col("id_a").as("id"), col("d_km"))
        .union(pairs.select(col("id_b").as("id"), col("d_km")))
      sym.groupBy(col("id"))
        .agg(count(lit(1)).as("n_neighbors"), min(col("d_km")).as("nn_km"))
    }),

    "q255_geo_knn" -> ((s, dir) => {
      // 3 nearest suppliers per customer, radius-capped at 3000 km: the
      // cap is what makes kNN grid-prunable (the 3×3 ring at cell size
      // cap/110° × cap/55° is EXHAUSTIVE inside the cap — a supplier
      // farther than the cap is out of contract, not missed). Suppliers
      // explode to the ring (9×100 rows at sf0.01), customers stay in
      // their home cell; the native TopKPerKey keeps k rows per customer
      // with a per-partition partial pass — no global sort, no window.
      // Supplier coords are salted ("s" prefix) so a supplier never
      // coincides with the like-keyed customer.
      val c = custPoints(s, dir)
      val sup = tbl(s, dir, "supplier").select(col("s_suppkey").as("sid"),
        Geo.latOf(concat(lit("s"), col("s_suppkey").cast("string"))).as("lat"),
        Geo.lonOf(concat(lit("s"), col("s_suppkey").cast("string"))).as("lon"))
      val cand = Geo.gridJoinWithin(c, sup, "id", "sid", 3000.0)
        .select(col("id_a").as("c_id"), col("id_b").as("s_id"), col("d_km"))
      org.apache.spark.sql.graft.TopKPerKey(
        cand, Seq("c_id"), Seq(("d_km", true), ("s_id", true)), 3)
    }),

    "q256_geo_dbscan" -> ((s, dir) => {
      // Grid DBSCAN (eps 400 km, minPts 4 incl. self) on customer
      // points: cores = degree ≥ 3 from the grid pair stream; clusters =
      // connected components over core–core edges (min-id labels, the
      // dedup tier's operator); borders = non-core points adjacent to a
      // core, assigned the min cluster label among their core neighbors
      // (the deterministic resolution of DBSCAN's border ambiguity).
      // Noise points are absent from the output. Everything after the
      // grid join is degree- or core-sized.
      val pairs = Geo.gridNeighborPairs(custPoints(s, dir), "id", 400.0)
        .cut()
      val sym = pairs.select(col("id_a").as("id"), col("id_b").as("nb"))
        .union(pairs.select(col("id_b").as("id"), col("id_a").as("nb")))
      val core = sym.groupBy(col("id")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") + 1 >= 4).select(col("id"))
      val coreEdges = pairs
        .join(core.select(col("id").as("id_a")), Seq("id_a"))
        .join(core.select(col("id").as("id_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"))
      val comp = graft.operators.Dedup
        .connectedComponents(coreEdges, "id_a", "id_b")
        .select(col("vertex").as("id"), col("component").as("cluster"))
      // Cores whose neighbors are all non-core form singleton clusters.
      val singletons = core.join(comp, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("cluster"))
      val coreLabels = comp.union(singletons).cut()
      val border = sym
        .join(core.select(col("id")), Seq("id"), "left_anti")
        .join(coreLabels.select(col("id").as("nb"), col("cluster")), Seq("nb"))
        .groupBy(col("id")).agg(min(col("cluster")).as("cluster"))
      coreLabels.select(col("id"), lit("core").as("role"), col("cluster"))
        .union(border.select(col("id"), lit("border").as("role"), col("cluster")))
    }),

    // ── Density-normalized PRIMARY faces (q356–q358) ───────────────────
    // The r8 sf10 probe measured the fixed-radius faces density-QUADRATIC
    // (q254 56×/decade², q256 DBSCAN OOM at sf10): at fixed eps on a
    // fixed-area domain the true answer itself grows ∝ n². These twins
    // hold the radius ∝ 1/√density (Geo.scaledEps — expected neighbors
    // per point constant, pair stream n-LINEAR), so they are the benched
    // primary faces; the fixed-eps faces are demoted to oracle-only
    // contrast (the q40/q200/q182 precedent). At the gate sf the corpus
    // count equals nRef, so eps == eps0 exactly and each twin reproduces
    // its fixed face bit-for-bit — the oracles re-derive the same eps
    // with least(eps0*sqrt(nRef/n), 6000.0) in SQL, so they stay green
    // at EVERY sf, not just the gate. The count() is one parquet
    // metadata read (a documented bounded driver-side scalar: the grid
    // geometry needs eps as a plan-time constant).

    "q356_geo_neighbors_scaled" -> ((s, dir) => {
      val eps = Geo.scaledEps(500.0, 1500L, tbl(s, dir, "customer").count())
      val pairs = Geo.gridNeighborPairs(custPoints(s, dir), "id", eps)
      val sym = pairs.select(col("id_a").as("id"), col("d_km"))
        .union(pairs.select(col("id_b").as("id"), col("d_km")))
      sym.groupBy(col("id"))
        .agg(count(lit(1)).as("n_neighbors"), min(col("d_km")).as("nn_km"))
    }),

    "q357_geo_knn_scaled" -> ((s, dir) => {
      // kNN candidate cap ∝ 1/√(supplier density): the bipartite
      // candidate stream is |cust|·density_sup·π·cap², so cap² ∝ 1/n_sup
      // keeps it linear in |cust| at every scale. nRef = 100 suppliers
      // (the sf0.01 gate count).
      val cap = Geo.scaledEps(3000.0, 100L, tbl(s, dir, "supplier").count())
      val c = custPoints(s, dir)
      val sup = tbl(s, dir, "supplier").select(col("s_suppkey").as("sid"),
        Geo.latOf(concat(lit("s"), col("s_suppkey").cast("string"))).as("lat"),
        Geo.lonOf(concat(lit("s"), col("s_suppkey").cast("string"))).as("lon"))
      val cand = Geo.gridJoinWithin(c, sup, "id", "sid", cap)
        .select(col("id_a").as("c_id"), col("id_b").as("s_id"), col("d_km"))
      org.apache.spark.sql.graft.TopKPerKey(
        cand, Seq("c_id"), Seq(("d_km", true), ("s_id", true)), 3)
    }),

    "q358_geo_dbscan_scaled" -> ((s, dir) => {
      // Same cluster recipe as q256 with eps ∝ 1/√density: the pair
      // stream (the stage that OOM'd uncapped at sf10) stays n-linear,
      // and everything downstream was already degree-/core-sized.
      val eps = Geo.scaledEps(400.0, 1500L, tbl(s, dir, "customer").count())
      val pairs = Geo.gridNeighborPairs(custPoints(s, dir), "id", eps)
        .cut()
      val sym = pairs.select(col("id_a").as("id"), col("id_b").as("nb"))
        .union(pairs.select(col("id_b").as("id"), col("id_a").as("nb")))
      val core = sym.groupBy(col("id")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") + 1 >= 4).select(col("id"))
      val coreEdges = pairs
        .join(core.select(col("id").as("id_a")), Seq("id_a"))
        .join(core.select(col("id").as("id_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"))
      val comp = graft.operators.Dedup
        .connectedComponents(coreEdges, "id_a", "id_b")
        .select(col("vertex").as("id"), col("component").as("cluster"))
      val singletons = core.join(comp, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("cluster"))
      val coreLabels = comp.union(singletons).cut()
      val border = sym
        .join(core.select(col("id")), Seq("id"), "left_anti")
        .join(coreLabels.select(col("id").as("nb"), col("cluster")), Seq("nb"))
        .groupBy(col("id")).agg(min(col("cluster")).as("cluster"))
      coreLabels.select(col("id"), lit("core").as("role"), col("cluster"))
        .union(border.select(col("id"), lit("border").as("role"), col("cluster")))
    }),

    "q266_geohash_cells" -> ((s, dir) => {
      // Geohash bucketing via the native codegen'd interleave kernel
      // (integer bit math + two IEEE divides, no transcendentals — the
      // oracle replays the cell id bit-exactly from generated SQL). At
      // 2-char precision (10 bits) the cells are the spatial analog of
      // the LSH band key: a corpus-independent bucket grid the engine
      // can shuffle on. The base-32 string derives from the cell id with
      // the same substr arithmetic on both engines.
      import graft.spatial.Geohash
      custPoints(s, dir)
        .select(Geohash.cellNative(col("lat"), col("lon"), 2).as("cell"))
        .groupBy(col("cell")).agg(count(lit(1)).as("n_points"))
        .select(Geohash.base32Col("cell", 2).as("geohash"), col("cell"),
          col("n_points"))
    }),
  )
}
