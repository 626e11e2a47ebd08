package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed transitive closure over a (child, parent) edge table —
  * the scale path for ancestor/descendant closures when the graph itself
  * is fact-sized (the driver-side [[OntologyGraph]] covers the ~150k-term
  * ontology case; this covers lineage graphs that grow with the data,
  * e.g. the reference's patient→sample→model `edges` table at
  * `etl/jobs/transformation/edges_transformer_job.py:57-89` applied to
  * millions of models).
  *
  * Path-doubling iteration: each round composes the closure-so-far with
  * itself (`R ∪ R∘R`), so a depth-d graph converges in ⌈log₂ d⌉ rounds
  * instead of d. On a cluster the cost per round is one hash join + one
  * distinct + one anti-join — all partition-local by key — and round
  * COUNT is what dominates iterative wall-clock (fixed scheduling
  * overhead per round), so log-depth wins over the semi-naive frontier
  * form (measured 6.6s → ~2s on the 14-deep sf0.1 tree). Lineage is
  * truncated every round with a `Pin` cut (an iterative plan
  * otherwise grows exponentially and re-executes prior rounds).
  */
object Closure {

  /** All (descendant, ancestor) pairs reachable through `edges`.
    * Cycle-safe: already-seen pairs are anti-joined out each round, so a
    * cycle converges to its finite pair set instead of looping.
    */
  def transitiveClosure(
      edges: DataFrame,
      childCol: String,
      parentCol: String,
      maxRounds: Int = 64): DataFrame = {
    // Materialize and re-wrap as a FRESH plan: truncates iterative
    // lineage AND gives every round independent attribute/dataset ids —
    // the closure self-joins the same table repeatedly, which otherwise
    // trips Spark's ambiguous-self-join analysis. Pin.pin keeps both
    // properties over the checkpointed INTERNAL rows (no Row round trip).
    def pin(df: DataFrame): DataFrame = org.apache.spark.sql.graft.Pin.pin(df)
    val e = pin(edges
      .select(col(childCol).as("child"), col(parentCol).as("parent"))
      .filter(col("child").isNotNull && col("parent").isNotNull)
      .dropDuplicates())
    // The accumulator is a UNION of the already-pinned per-round DELTAS:
    // each round's delta is checkpointed once, and the closure-so-far is
    // the free union of those materialized leaves (re-checkpointing the
    // whole accumulator per round rewrites O(closure) blocks for nothing
    // — A/B-measured against a dedup(acc ∪ acc∘acc)+count formulation,
    // which lost by ~25%: the anti-join delta keeps every per-round
    // exchange delta-sized). Pin.fresh on every use hands each branch
    // fresh attribute ids, so the acc⋈acc self-join stays unambiguous.
    var deltas = List(e)
    def acc: DataFrame =
      deltas.map(org.apache.spark.sql.graft.Pin.fresh).reduce(_.unionAll(_))
    var grew = true
    var round = 0
    while (round < maxRounds && grew) {
      // One side renamed so every column NAME in the joined scope is
      // unique; resolve by name (plain col()), not df("col") — dataset-id
      // resolution otherwise flags the acc⋈acc self-join as ambiguous.
      val l = acc.select(col("child").as("l_child"), col("parent").as("l_parent"))
      val next = pin(l
        .join(acc, col("l_parent") === col("child"))
        .select(col("l_child").as("child"), col("parent"))
        .dropDuplicates()
        .join(acc, Seq("child", "parent"), "left_anti"))
      grew = !next.isEmpty
      if (grew) deltas ::= next
      round += 1
    }
    acc
  }
}
