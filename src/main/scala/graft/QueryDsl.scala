package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers of the query registry (moved verbatim from
  * SparkEntry): the parquet table reader, the exact-money cast, and the
  * language marker/profile tables both the Spark queries and the oracle
  * SQL builders consume.
  */
private[graft] object QueryDsl {
  def tbl(s: SparkSession, dir: String, name: String): DataFrame = Tables.load(s, dir, name)

  val dec = "decimal(18,2)"

  /** Signed-zero-canonicalizing round: `round(c, n) + 0.0`. A fold-sum
    * residue of ~−1e-14 rounds to IEEE −0.0, whose sign bit differs
    * across engines after their respective rounding algorithms (the r10
    * sf1 sweep hit this twice: q461 heaps_beta, q133 log_ratio); adding
    * +0.0 AFTER the round maps −0.0 → +0.0 and leaves every nonzero
    * value untouched. Use this — not bare `round` — on EVERY rounded
    * double that is (or derives from) an ordered fold sum; the DuckDB
    * oracle must mirror with `round(...) + CAST(0.0 AS DOUBLE)`.
    */
  def roundZ(c: Column, n: Int): Column = round(c, n) + lit(0.0)

  /** Gumbel method-of-moments constants (q498): √6/π and Euler–
    * Mascheroni γ, computed ONCE here (√ is IEEE-exact; γ is a literal)
    * so both engines consume the identical doubles — the fencePoly/
    // rboWeights discipline for libm-adjacent constants.
    */
  val Sqrt6OverPi: Double = math.sqrt(6.0) / math.Pi
  val EulerGamma: Double = 0.5772156649015329

  val discPrice: Column =
    col("l_extendedprice").cast(dec) * (lit(1) - col("l_discount")).cast(dec)

  val ngramProfiles: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "sch", "ein", "ich"),
    "en" -> Seq("the", " th", "he ", "ing", "and"),
    "es" -> Seq("de ", "la ", "os ", "ion"),
    "fr" -> Seq("le ", "es ", "ent", "eau"),
    "zh" -> Seq("的", "是", "了")
  )

  /** Shapley weights w(s) = s!(n−1−s)!/n! for n = 4 players, s = 0..3 —
    * the q390 closed form, computed ONCE here from exact small-integer
    * factorials so both engines consume identical doubles (the
    * rboWeights discipline).
    */
  val shapleyWeights: Seq[Double] = {
    def fact(k: Int): Long = (1 to k).foldLeft(1L)(_ * _)
    (0 to 3).map(s => fact(s).toDouble * fact(3 - s).toDouble / fact(4).toDouble)
  }

  /** Fourier weights (cos, sin) of 2π·k/p for k = 0..p−1 — the q412
    * periodogram's basis, computed ONCE here (cos/sin are libm
    * territory, so each engine calling its own trig would diverge in
    * the last ulp; instead BOTH sides consume these exact doubles as
    * CASE/when literals keyed by the day index mod p — the rboWeights
    * discipline).
    */
  def fourierWeights(p: Int): Seq[(Double, Double)] =
    (0 until p).map { k =>
      val a = 2.0 * math.Pi * k / p
      (math.cos(a), math.sin(a))
    }

  /** Benford first-digit expectations log₁₀(1 + 1/d) for d = 1..9 —
    * computed ONCE here (log10 is libm territory) and consumed by BOTH
    * engines as when-chain / CASE literals, the rboWeights discipline.
    */
  val benfordExpected: Seq[Double] =
    (1 to 9).map(d => math.log10(1.0 + 1.0 / d))

  /** RBO depth weights (1−p)/p · p^d for p = 0.9, d = 1..20 — built by
    * REPEATED MULTIPLICATION in one place (pow() is libm territory,
    * so each engine calling its own power would diverge in the last
    * ulp; instead BOTH sides consume these exact doubles — the Spark
    * query as when-chain literals, the DuckDB oracle as CASE literals,
    * the fencePoly discipline).
    */
  val rboWeights: Seq[Double] = {
    val w = (1.0 - 0.9) / 0.9
    Iterator.iterate(0.9)(_ * 0.9).take(20).map(_ * w).toSeq
  }

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix (64 source dims
    * × 8 target dims), derived from the engine's md5 unit hash — the
    * SAME values on the Spark side (literal arrays in q234) and in the
    * DuckDB oracle (inline list literals built from this object), so
    * the projection is replayable with no RNG state anywhere.
    */
  val jlSigns: Seq[Seq[Double]] = Seq.tabulate(64) { j =>
    Seq.tabulate(8) { k =>
      if (graft.plans.TextKernels.unitHash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"${j}_$k")) >= 0.5)
        1.0
      else -1.0
    }
  }

  /** q241's WITH RECURSIVE ancestor-closure SQL — ONE template executed
    * by BOTH engines (Spark 4's UnionLoop recursive CTE and DuckDB), so
    * the oracle is literally the same query text; only the integer-div
    * spelling differs (`div` vs `//`), passed in. Single-parent tree ⇒
    * every (descendant, ancestor) path is unique, so UNION ALL (the form
    * UnionLoop supports) equals UNION and the recursion terminates at
    * the tree depth (11 levels here — iterations = depth, the same
    * bound as the reference's recursive ontology closure).
    */
  def recursiveClosureSql(table: String, div: String): String =
    s"""WITH RECURSIVE e AS (
         SELECT p_partkey AS child, p_partkey $div 2 AS parent
         FROM $table WHERE p_partkey > 1),
       anc AS (
         SELECT child, parent FROM e
         UNION ALL
         SELECT a.child, e.parent FROM anc a JOIN e ON a.parent = e.child)
       SELECT child, parent FROM anc"""

  val langMarkers: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und"),
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "de", "que"),
    "fr" -> Seq("le", "la", "et", "les"),
    "zh" -> Seq("的", "是", "了", "在")
  )

}
