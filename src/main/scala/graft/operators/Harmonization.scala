package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ordered match-waterfall harmonization (reference
  * `etl/jobs/transformation/harmonisation/markers_harmonisation.py:7-141`):
  * rows try each lookup stage in priority order — approved symbol, then
  * previous symbol, then alias, then ensembl id, then ncbi id in the
  * reference — and a stage only claims a row when it has EXACTLY ONE
  * candidate (ambiguous keys fall through to later stages; rows no stage
  * claims come back unmatched).
  *
  * Implementation is the aggregate-join form of the reference's
  * correlated `count(1)` subquery (SURVEY J9): the stage lookups are
  * unioned and aggregated ONCE by match key, keeping each stage's
  * candidate count and its payload; a `CASE` picks the first stage whose
  * count is exactly 1. That one lookup (one row per claimed key) meets
  * the fact side in ONE left join — no per-stage joins, no anti-joins,
  * no correlated subqueries, no driver loops over data. Stages keyed on
  * different fact columns get one such aggregate and join per fact
  * column, and the earliest claiming stage across them wins.
  */
object Harmonization {

  /** One waterfall stage: join `factKey` against `lookupKey` in `lookup`,
    * claiming rows whose key has exactly one lookup candidate. `payload`
    * columns are carried from the lookup into the output.
    */
  final case class Stage(
      name: String,
      lookup: DataFrame,
      factKey: String,
      lookupKey: String,
      payload: Seq[String])

  /** Every fact row once, with `match_stage` and the payload columns of
    * the stage that claimed it; both are null for rows no stage claims.
    * Columns: the fact's, then the payload columns, then `match_stage`.
    *
    * `broadcastDim = true` (default) fits HGNC-sized lookups — the join
    * is then a broadcast join and the fact side never shuffles. Pass
    * `false` for a fact-sized lookup (mirrors
    * [[Relational.transformToFk]]): the join is then planned by size
    * instead of forcing the whole lookup through the driver.
    */
  def waterfall(
      fact: DataFrame,
      stages: Seq[Stage],
      broadcastDim: Boolean = true): DataFrame = {
    require(stages.nonEmpty)
    def side(df: DataFrame): DataFrame = if (broadcastDim) broadcast(df) else df
    val payloadCols = stages.flatMap(_.payload).distinct
    val payloadType = payloadCols.map(c =>
      c -> stages.find(_.payload.contains(c)).get.lookup.schema(c).dataType).toMap
    val ranked = stages.zipWithIndex
    val factKeys = stages.map(_.factKey).distinct
    val joined = factKeys.zipWithIndex.foldLeft(fact) { case (df, (fk, g)) =>
      val group = ranked.filter(_._1.factKey == fk)
      val candidates = group.map { case (st, i) =>
        st.lookup.select((col(st.lookupKey).as("__key") +: lit(i).as("__stage") +:
          payloadCols.map(c =>
            if (st.payload.contains(c)) col(c) else lit(null).cast(payloadType(c)).as(c))): _*)
      }.reduce(_ union _)
      val perStage = group.flatMap { case (_, i) =>
        val mine = col("__stage") === i
        count(when(mine, 1)).as(s"__n$i") +: payloadCols.map(c =>
          first(when(mine, col(c)), ignoreNulls = true).as(s"__p${i}_$c"))
      }
      val counted = candidates.groupBy(col("__key")).agg(perStage.head, perStage.tail: _*)
      // CASE WHEN n_a = 1 THEN a WHEN n_b = 1 THEN b ... END, per output.
      def firstUnique(pick: Int => Column): Column =
        group.foldRight(lit(null): Column) { case ((_, i), rest) =>
          when(col(s"__n$i") === 1, pick(i)).otherwise(rest)
        }
      val lookup = counted
        .select((col("__key").as(s"__key$g") +: firstUnique(i => lit(i)).as(s"__rank$g") +:
          payloadCols.map(c => firstUnique(i => col(s"__p${i}_$c")).as(s"__$c$g"))): _*)
        .filter(col(s"__rank$g").isNotNull)
      df.join(side(lookup), df(fk) === lookup(s"__key$g"), "left").drop(s"__key$g")
    }
    // Across fact keys, the earliest-ranked claim wins.
    val groups = factKeys.indices
    val rank =
      if (groups.size == 1) col("__rank0") else least(groups.map(g => col(s"__rank$g")): _*)
    def fromWinner(c: String): Column =
      if (groups.size == 1) col(s"__${c}0")
      else groups.foldRight(lit(null): Column) { (g, rest) =>
        when(col(s"__rank$g") === rank, col(s"__$c$g")).otherwise(rest)
      }
    val matchStage = ranked.foldRight(lit(null).cast("string")) { case ((st, i), rest) =>
      when(rank === i, lit(st.name)).otherwise(rest)
    }
    joined.select((fact.columns.map(col) ++
      payloadCols.map(c => fromWinner(c).as(c)) :+ matchStage.as("match_stage")): _*)
  }
}
