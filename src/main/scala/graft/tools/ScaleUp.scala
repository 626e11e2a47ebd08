package graft.tools

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Scale-up generator for the sf1 proof-point run: replicates an
  * existing sf directory K times with every entity key shifted by a
  * replica-sized offset, so joins stay consistent within a replica and
  * every aggregate/join/shuffle sees K× the rows. Attribute columns are
  * left untouched (cross-replica duplicate documents make the dedup
  * queries work HARDER, which is the honest direction for a scale
  * probe). nation/region are fixed dimension tables and copy through.
  *
  * Usage: `runMain graft.tools.ScaleUp <srcSfDir> <outDir> <k> [hotFrac]`.
  *
  * **Hot-key mode** (optional 4th arg, e.g. `0.01`): after the key
  * shift, collapse ~hotFrac of the skew-bearing keys onto ONE hot key
  * (`l_orderkey` in lineitem — the co-purchase basket key — and
  * `user_id` in events — the salted-join/agg key). Deterministic:
  * a shifted key collapses iff `pmod(key, round(1/hotFrac)) == 0`, so
  * reruns produce byte-identical data. The result is a SKEW-DRILL
  * dataset: it deliberately breaks FK consistency for the collapsed
  * rows (the hot orderkey has no orders row) and is NOT meant for the
  * oracle suite — it exists so the `keyedPairs` √N width cap and the
  * `Skew` salting path can be measured with a cap that actually BINDS
  * (ScaleUp's default key-shift preserves key widths by construction,
  * so no unskewed scaled dataset can ever exercise them). The default
  * (no hotFrac) path is byte-identical to before.
  */
object ScaleUp {

  /** The collapse target — negative, so it can never collide with a
    * shifted natural key (all natural keys are non-negative).
    */
  val HotKey = -42L

  /** Skew-bearing key per table for hot mode. */
  private val hotCols: Map[String, String] =
    Map("lineitem" -> "l_orderkey", "events" -> "user_id")

  /** Key columns to shift per table (everything join-relevant except
    * the fixed nation/region dims).
    */
  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val Offset = 1000000000L

  /** One table's scale-up: K key-shifted replicas, then (hot mode) the
    * deterministic hot-key collapse. Pure — main() is just IO around it.
    */
  def scaleTable(df: org.apache.spark.sql.DataFrame, name: String, k: Int,
      hotMod: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val scaled = keyCols.get(name) match {
      case None => df // nation/region: fixed dims
      case Some(keys) =>
        (0 until k).map { i =>
          keys.foldLeft(df) { (acc, c) =>
            acc.withColumn(c, col(c) + lit(i * Offset))
          }
        }.reduce(_.unionByName(_))
    }
    (hotMod, hotCols.get(name)) match {
      case (Some(m), Some(c)) =>
        scaled.withColumn(c,
          when(pmod(col(c), lit(m)) === 0, lit(HotKey)).otherwise(col(c)))
      case _ => scaled
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(src, out, kStr) = args.take(3)
    val k = kStr.toInt
    val hotMod: Option[Long] =
      args.lift(3).map(f => math.max(2L, math.round(1.0 / f.toDouble)))
    val spark = graft.Tables.localSession(graft.Tables.cores)
    for (name <- graft.Tables.names) {
      val df = graft.Tables.load(spark, src, name)
      scaleTable(df, name, k, hotMod)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name -> ${out}/$name.parquet")
    }
    spark.stop()
  }
}
