package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin.CutOps

import graft.operators.{Relational, Skew}

/** Binding-cap drill over a hot-key ScaleUp dataset (r11 verdict #1):
  * every 100 TB skew claim previously rested on bit-identical-when-
  * unbound unit tests, because ScaleUp's key-shift preserves key widths
  * by construction. This main runs the two skew channels against a
  * dataset where the machinery actually FIRES, and writes the record:
  *
  * 1. **`keyedPairs` √N width cap** on the (l_orderkey, l_partkey)
  *    basket item table: reports `overWidthKeys` (must be non-empty),
  *    the dropped pair/row mass (no-silent-caps), times the CAPPED
  *    wedge join to completion, and runs the UNCAPPED form under a
  *    wall-clock budget — cancelling the job group if it blows through
  *    (the analytic pair count Σ w(w−1)/2 of the dropped keys is
  *    recorded either way, so the blow-up is quantified, not vibes).
  * 2. **`Skew.saltedJoin` / `saltedCount`** on the hot `user_id`
  *    events key: plain vs salted join against the distinct-user dim,
  *    result counts asserted EQUAL (salting must not change the
  *    answer), both wall-clocks recorded.
  *
  * Usage: `runMain graft.tools.SkewDrill <skewedDir> <outJson>`
  * (budget seconds via GRAFT_SKEW_BUDGET, default 120).
  */
object SkewDrill {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `f` in a cancellable job group with a wall-clock budget:
    * Right((result, sec)) if it finishes, Left(budget) if cancelled.
    */
  private def withBudget[T](spark: SparkSession, budgetSec: Int)(
      f: => T): Either[Int, (T, Double)] = {
    @volatile var out: Option[(T, Double)] = None
    val group = s"skew-drill-uncapped"
    val th = new Thread(() => {
      spark.sparkContext.setJobGroup(group, "uncapped wedge join", true)
      try out = Some(time(f))
      catch { case _: Throwable => () } // cancellation surfaces as SparkException
    })
    th.setDaemon(true)
    th.start()
    th.join(budgetSec * 1000L)
    if (out.isEmpty) {
      spark.sparkContext.cancelJobGroup(group)
      th.join(30000L)
      Left(budgetSec)
    } else Right(out.get)
  }

  def main(args: Array[String]): Unit = {
    val Array(dir, outJson) = args.take(2)
    val budget = sys.env.getOrElse("GRAFT_SKEW_BUDGET", "120").toInt
    val spark = graft.Tables.localSession(graft.Tables.cores)

    // ── Channel 1: keyedPairs √N cap on the co-purchase basket table ──
    val items = graft.Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .cut() // both arms measure the JOIN, not the scan
    val n = items.count()
    val cap = Relational.scaledMaxWidth(n)
    val over = Relational.overWidthKeys(items, "l_orderkey", cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._2)
    val droppedRows = over.map(_._2).sum
    val droppedPairs = over.map(w => w._2 * (w._2 - 1) / 2).sum
    val (cappedPairs, cappedSec) =
      time(Relational.keyedPairs(items, "l_orderkey", "l_partkey",
        maxWidth = Some(cap)).count())
    val uncapped = withBudget(spark, budget)(
      Relational.keyedPairs(items, "l_orderkey", "l_partkey").count())

    // ── Channel 2: salted join/agg on the hot events user key ─────────
    val ev = graft.Tables.events(spark, dir)
      .select(col("user_id"), col("event_id")).cut()
    val dim = ev.select(col("user_id")).distinct()
      .withColumn("seg", pmod(col("user_id"), lit(7L))).cut()
    val (plainCnt, plainSec) =
      time(ev.join(dim, Seq("user_id")).count())
    val (saltedCnt, saltedSec) =
      time(Skew.saltedJoin(ev, dim, Seq("user_id"), salts = 32).count())
    require(plainCnt == saltedCnt,
      s"salted join changed the answer: $plainCnt vs $saltedCnt")
    val (plainAgg, plainAggSec) =
      time(ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).collect().head.getLong(0))
    val (saltedAgg, saltedAggSec) =
      time(Skew.saltedCount(ev, "user_id", salts = 32)
        .agg(max(col("n"))).collect().head.getLong(0))
    require(plainAgg == saltedAgg,
      s"salted count changed the answer: $plainAgg vs $saltedAgg")

    val overJson = over.take(5).map { case (k, w) =>
      s"""{"key":$k,"width":$w}""" }.mkString("[", ",", "]")
    val uncappedJson = uncapped match {
      case Left(b) =>
        s"""{"finished":false,"budget_sec":$b,"analytic_pairs_dropped_keys":$droppedPairs}"""
      case Right((p, s)) =>
        s"""{"finished":true,"sec":${f"$s%.2f"},"pairs":$p}"""
    }
    val json =
      s"""{"dataset":"$dir","item_rows":$n,"cap_sqrt_n":$cap,
"over_width_keys":${over.length},"top_over_width":$overJson,
"dropped_rows":$droppedRows,"dropped_pairs":$droppedPairs,
"capped":{"sec":${f"$cappedSec%.2f"},"pairs":$cappedPairs},
"uncapped":$uncappedJson,
"salted_join":{"plain_sec":${f"$plainSec%.2f"},"salted_sec":${f"$saltedSec%.2f"},"rows":$plainCnt,"equal":true},
"salted_count":{"plain_sec":${f"$plainAggSec%.2f"},"salted_sec":${f"$saltedAggSec%.2f"},"hot_key_n":$plainAgg,"equal":true}}"""
        .replace("\n", "")
    Files.write(Paths.get(outJson), json.getBytes(StandardCharsets.UTF_8))
    println(s"[skewdrill] $json")
    spark.stop()
  }
}
