package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin.CutOps

/** Distributed Pareto-frontier (skyline) selection, two-phase exact:
  * every partition computes its LOCAL frontier with a bounded in-memory
  * filter (a point dominated locally is dominated globally, so pruning
  * is safe), then the surviving candidates — frontier-sized, not
  * corpus-sized — are reduced by one dominance anti-join. This is the
  * classic MapReduce skyline shape (Börzsönyi et al.'s BNL per
  * partition + a global merge); `mapPartitions` is warranted here
  * because dominance is not expressible as a key-equality join, the
  * narrow case the engine reserves the RDD tier for.
  *
  * Maximizes both objectives. Equal points are mutually non-dominating
  * (strict-in-one semantics), so exact ties all survive — deterministic
  * output with no tie-break needed.
  */
object Skyline {

  case class Pt(id: Long, x: Long, y: Double)

  /** Local Pareto filter: O(n·|frontier|), frontier stays in memory.
    * Exposed for the spec's brute-force comparison.
    */
  def localFrontier(points: Iterator[Pt]): Iterator[Pt] = {
    val frontier = scala.collection.mutable.ArrayBuffer.empty[Pt]
    points.foreach { p =>
      val dominated = frontier.exists(q =>
        q.x >= p.x && q.y >= p.y && (q.x > p.x || q.y > p.y))
      if (!dominated) {
        frontier.filterInPlace(q =>
          !(p.x >= q.x && p.y >= q.y && (p.x > q.x || p.y > q.y)))
        frontier += p
      }
    }
    frontier.iterator
  }

  /** Global skyline of (id, x, y) points, maximizing x and y. */
  def frontier(points: Dataset[Pt]): DataFrame = {
    import points.sparkSession.implicits._
    val local = points.mapPartitions(localFrontier).toDF("id", "x", "y")
      .cut() // candidate set: frontier-sized, feeds both join legs
    val p = local.select(col("id"), col("x"), col("y"))
    val q = local.select(col("id").as("qid"), col("x").as("qx"), col("y").as("qy"))
    p.join(q,
      col("qx") >= col("x") && col("qy") >= col("y") &&
        (col("qx") > col("x") || col("qy") > col("y")),
      "left_anti")
  }
}
