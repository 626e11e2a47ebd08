package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Relational
import QueryDsl._

/** Driver contract: `queries` is the operator inventory (SURVEY.md §2 +
  * the beyond-parity training-data operators), each with a DuckDB oracle
  * in `oracleSql` computing the same result with the same column names.
  *
  * Cross-engine determinism rules used throughout (so value hashes match):
  *  - money/quantity aggregates go through DECIMAL(18,2) casts → exact
  *    arithmetic, no float-summation-order divergence;
  *  - aggregate RESULT types are canonicalized on BOTH sides: integer sums
  *    stay BIGINT (DuckDB widens to HUGEINT, so the oracle wraps
  *    `CAST(... AS BIGINT)`); decimal sums are emitted as DOUBLE (DuckDB
  *    widens DECIMAL(18,2) to DECIMAL(38,2), Spark to DECIMAL(28,2); both
  *    convert to the same IEEE double while the exact cents fit in 2^53).
  *    Without this, readers that coerce HUGEINT/DECIMAL to float64 see
  *    57059.0 vs 57059 and the value hash diverges;
  *  - ratios are computed as ONE double division of exact integers/decimals;
  *  - hashes that must agree across engines use md5 (hex of UTF-8 bytes);
  *  - every computed column is aliased identically on both sides.
  */
object SparkEntry {

  /** Expected size of [[queries]]/[[oracleSql]] — bumped ONLY by a human
    * adding a query. RegistrySpec asserts both maps match this count and
    * each other, so a query silently vanishing between rounds (as
    * q42/q58's r5 absence did) fails the build instead of shrinking the
    * correctness gate without a red signal.
    */
  val declaredQueryCount = 500

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    revenueByNation(spark, Tables.sfDir("0.001"))

  /** TPC-H-Q5-style revenue-per-nation: fact-side multi-join with
    * broadcast dims + FK resolution via [[Relational.transformToFk]].
    */
  private[graft] def revenueByNation(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
    val o = tbl(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01") && col("o_orderdate") < lit("1996-01-01"))
    val c = tbl(s, dir, "customer")
    val n = tbl(s, dir, "nation")
    val withNation =
      Relational.transformToFk(c, n, "c_nationkey", "n_nationkey", "n_name", "nation_name")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(withNation, o("o_custkey") === withNation("c_custkey"))
      .groupBy(col("nation_name"))
      .agg(
        sum((col("l_extendedprice").cast(dec) * (lit(1) - col("l_discount")).cast(dec)))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items")
      )
  }

  /** The operator inventory, split by tier (r7): each Queries* file owns
    * one tier's entries, this concatenation IS the declared surface
    * (RegistrySpec pins the count and the 1:1 oracle pairing).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueriesRelational.map ++ QueriesWarehouse.map ++ QueriesText.map ++
      QueriesVector.map ++ QueriesPdcm.map ++ QueriesSpatial.map ++ QueriesStats.map

  // q121 is the xxhash64-gram-key variant of q118 — bit-identical by
  // contract (see Dedup.removeDuplicateSpans), so it shares the
  // exact-path oracle verbatim.
  // q203/q204 are the scale-safe (banded two-pass) rewrites of q200/q182
  // — exact by construction, so they share those oracles verbatim.
  def oracleSql: Map[String, String] =
    oracleSqlBase +
      ("q121_dedup_spans_hash" -> oracleSqlBase("q118_dedup_spans")) +
      ("q203_pareto_scaled" -> oracleSqlBase("q200_pareto_revenue")) +
      ("q204_quantile_scaled" -> oracleSqlBase("q182_quantile_normalize"))

  private lazy val oracleSqlBase: Map[String, String] =
    OracleRelational.map ++ OracleWarehouse.map ++ OracleText.map ++
      OracleVector.map ++ OraclePdcm.map ++ OracleSpatial.map ++ OracleStats.map
}
