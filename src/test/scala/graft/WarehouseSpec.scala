package graft

import org.apache.spark.sql.functions._

import graft.operators.{Pca, Scd}

/** The round-6 warehouse/linear-algebra additions: SCD Type-2 merge,
  * distributed Gram matrix, and power-iteration PCA.
  */
class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  test("scd2Merge closes, opens, carries, and inserts correctly") {
    val snap = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "bal")
    val base = Scd.asDimension(snap, "2026-01-01")
    // key 1 changes, key 2 unchanged (present in the update snapshot),
    // key 3 absent from the snapshot, key 9 is brand-new.
    val upd = Seq((1L, 11.0), (2L, 20.0), (9L, 90.0)).toDF("k", "bal")
    val out = Scd.scd2Merge(base, upd, "k", Seq("bal"), "2026-06-01")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getBoolean(3), r.getString(4), r.getString(5))).toSet
    assert(out === Set(
      (1L, 10.0, 1L, false, "2026-01-01", "2026-06-01"), // closed v1
      (1L, 11.0, 2L, true, "2026-06-01", "9999-12-31"),  // opened v2
      (2L, 20.0, 1L, true, "2026-01-01", "9999-12-31"),  // carried (no-op update)
      (3L, 30.0, 1L, true, "2026-01-01", "9999-12-31"),  // carried (absent)
      (9L, 90.0, 1L, true, "2026-06-01", "9999-12-31"))) // inserted
  }

  test("scd2Merge treats null-to-value transitions as changes (null-safe compare)") {
    val base = Scd.asDimension(
      Seq((1L, Option.empty[Double]), (2L, Some(5.0))).toDF("k", "bal"), "2026-01-01")
    val upd = Seq((1L, Some(1.0)), (2L, Option.empty[Double])).toDF("k", "bal")
    val out = Scd.scd2Merge(base, upd, "k", Seq("bal"), "2026-06-01")
    assert(out.filter(col("version") === 2).count() === 2)
    assert(out.filter(!col("is_current")).count() === 2)
  }

  test("gramUpper matches the brute-force d x d product") {
    val vecs = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f)),
      (2L, Seq(0.5f, -1.0f, 4.0f)),
      (3L, Seq(2.0f, 0.0f, -2.0f))).toDF("vec_id", "embedding")
    val got = Pca.gramUpper(vecs, "embedding", 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val raw = Seq(Seq(1.0, 2.0, 3.0), Seq(0.5, -1.0, 4.0), Seq(2.0, 0.0, -2.0))
    for (i <- 0 until 3; j <- i until 3) {
      val want = raw.map(v => v(i) * v(j)).sum
      assert(math.abs(got((i.toLong, j.toLong)) - want) < 1e-9, s"G($i,$j)")
    }
    assert(got.size === 6)
  }

  test("topComponent is an approximate eigenvector of the Gram matrix") {
    val df = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val g = Array.ofDim[Double](64, 64)
    Pca.gramUpper(df, "embedding", 64).collect().foreach { r =>
      val (i, j, v) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2))
      g(i)(j) = v; g(j)(i) = v
    }
    // Relative eigen residual ||Gx - eig*x|| / eig at a given iteration
    // count. Convergence RATE is eigengap-dependent, so the invariants
    // are: unit norm, positive Rayleigh quotient, residual shrinking as
    // iterations grow, and a loose absolute bound at 30 rounds.
    def residAt(iters: Int): Double = {
      val comp = Pca.topComponent(df, "embedding", 64, iters)
        .orderBy("component").collect()
      val x = comp.map(_.getDouble(1))
      val eig = comp.head.getDouble(2)
      assert(math.abs(x.map(v => v * v).sum - 1.0) < 1e-9, "unit norm")
      assert(eig > 0.0)
      val gx = Array.tabulate(64)(i => (0 until 64).map(j => g(i)(j) * x(j)).sum)
      math.sqrt(gx.zip(x).map { case (a, b) => (a - eig * b) * (a - eig * b) }.sum) / eig
    }
    val (r3, r30) = (residAt(3), residAt(30))
    assert(r30 < r3, s"residual should shrink: $r3 -> $r30")
    assert(r30 < 0.05, s"relative residual at 30 iters: $r30")
  }

  test("q436 KMV buyer estimate calibrates against q433's exact distinct count") {
    // The sketch-faced twin's accuracy pin (the q193 MinHash precedent):
    // at sf0.01 the per-brand buyer sets exceed k = 256, so the KMV
    // estimator (k-1)/h_k is genuinely estimating; require every brand
    // within 25% of the exact count (k = 256 gives ~6% standard error;
    // 25% is > 4 sigma) and the unsaturated case to be exact.
    val dir = Tables.sfDir("0.01")
    val est = SparkEntry.queries("q436_topsis_kmv")(spark, dir)
      .select($"brand", $"est_buyers").as[(String, Double)].collect().toMap
    val li = Tables.load(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey")
    val o = Tables.load(spark, dir, "orders").select($"o_orderkey", $"o_custkey")
    val pt = Tables.load(spark, dir, "part").select($"p_partkey", $"p_brand")
    val exact = li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(pt, $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand").agg(countDistinct($"o_custkey").as("nc"))
      .as[(String, Long)].collect().toMap
    assert(est.keySet == exact.keySet && est.nonEmpty)
    val saturated = est.count { case (b, e) =>
      val ex = exact(b).toDouble
      if (e != math.rint(e) || e >= 256.0) { // full sketch: an estimate
        assert(math.abs(e / ex - 1.0) <= 0.25,
          s"brand $b: est $e vs exact $ex")
        true
      } else { // unsaturated sketch holds every distinct hash: exact
        assert(e == ex, s"brand $b: unsaturated sketch must be exact ($e vs $ex)")
        false
      }
    }
    assert(saturated > 0, "sf0.01 should saturate at least one brand's sketch")
  }
}
