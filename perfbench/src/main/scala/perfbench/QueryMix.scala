package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, monotonically_increasing_id, raise_error, when}

/** A fixed stratified draw of benched queries, one client, closed loop:
  * untimed warm-up passes during set-up, then whole timed passes that fill
  * the run's seconds.
  */
object QueryMix {
  /** Timed passes a run makes at least: with three samples per query the
    * p90 of the samples falls on the slowest query's own samples.
    */
  val MinPasses = 3
  /** Untimed passes during set-up. */
  val WarmPasses = 3

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val tr = ctx.tracer
    val queries = graft.SparkEntry.queries
    // draw entries are "<query>@<tier>"
    val draw = ctx.draw.map { d =>
      val Array(q, tier) = d.split("@", 2)
      require(queries.contains(q), s"$q is not a declared query")
      require(!graft.Bench.benchExclusions.contains(q), s"$q is excluded from the bench")
      q -> tier
    }
    require(draw.nonEmpty, "query_mix needs a --draw")
    val tierOf = draw.toMap.withDefaultValue("")

    def build(spark: SparkSession, q: String): DataFrame = {
      if (ctx.inject.contains(("build", q)))
        throw new RuntimeException(s"injected failure while building $q")
      val df = queries(q)(spark, ctx.data)
      if (ctx.inject.contains(("write", q)))
        df.withColumn("__drill", when(monotonically_increasing_id() >= 0,
          raise_error(lit(s"injected failure while writing $q"))))
      else df
    }

    def sample(spark: SparkSession, q: String): Unit = {
      val df = tr.span(s"build.$q", "queries")(build(spark, q))
      tr.span(s"exec.$q", "queries")(Main.noop(df))
    }

    // Set-up: the session start, then [[WarmPasses]] warm-up passes. The
    // first also writes each query's rows for the DuckDB oracle that run.py
    // applies to the same tables; the others run like timed passes, because
    // the JIT is still compiling Spark's planner in the first passes: with
    // one warm-up pass, queries ran up to twice as slow in the first timed
    // pass as in later ones.
    val (spark, sessionS) = Main.setup(ctx)(_ => ())
    val check = s"${ctx.work}/check"
    Files.createDirectories(Paths.get(check))
    Main.note("warm-up passes")
    val w0 = System.nanoTime()
    val oracle = draw.map(_._1).flatMap { q =>
      try {
        build(spark, q).coalesce(1).write.mode("overwrite").parquet(s"$check/$q")
        Some(q -> Json.str(graft.SparkEntry.oracleSql(q)))
      } catch { case e: Throwable => o.fail(q, e, timed = false); None }
    }
    Files.write(Paths.get(check, "oracle_sql.json"), Json.obj(oracle).getBytes("UTF-8"))
    for (_ <- 2 to WarmPasses; (q, _) <- draw)
      try sample(spark, q) catch { case e: Throwable => o.fail(q, e, timed = false) }
    val warmS = Main.seconds(w0, System.nanoTime())

    val heap0 = Layers.heapBefore(ctx)
    ctx.recorder.foreach(_ => Layers.markStorage(spark))
    Main.note("timed passes")
    // Timed: whole passes, each in a seeded order: at least [[MinPasses]],
    // then another only if, at the mean pass time so far, it ends within
    // the run's seconds.
    val m0 = Layers.jvmMark()
    val budgetNs = (ctx.seconds * 1e9).toLong
    val times = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.ArrayBuffer.empty[String]
    val rng = new scala.util.Random(ctx.seed)
    var passNs = 0L
    var pass = 0
    while (pass < MinPasses || passNs + passNs / pass <= budgetNs) {
      val p0 = System.nanoTime()
      tr.span(s"pass$pass", "sample") {
        rng.shuffle(draw).foreach { case (q, _) =>
          o.attempted += 1
          val t0 = System.nanoTime()
          val ok = try { sample(spark, q); true }
            catch { case e: Throwable => o.fail(q, e); false }
          val t1 = System.nanoTime()
          // Traced runs count the checkpoints a sample left, outside its time.
          ctx.recorder.foreach(_ => Layers.snapshotStorage(spark, o, "pin"))
          if (ok) {
            times += Main.seconds(t0, t1)
            perQuery += f"$q@$pass:${Main.seconds(t0, t1) * 1000}%.1f"
            o.sampleWindows += ((t0, t1))
          }
        }
      }
      passNs += System.nanoTime() - p0
      pass += 1
    }
    val m1 = Layers.jvmMark()
    Layers.heapAfter(heap0, o)

    o.metrics("setup_s") = (sessionS + warmS, "s")
    o.metrics("latency_p50_ms") = (Main.median(times.toSeq) * 1000, "ms")
    o.metrics("latency_p90_ms") = (Main.quantile(times.toSeq, 0.9) * 1000, "ms")
    o.metrics("throughput_per_s") = (times.size / (passNs / 1e9), "1/s")
    o.info("samples") = times.size.toString
    o.info("sample_ms") = Json.str(perQuery.mkString(" "))
    o.info("passes") = pass.toString
    o.info("sample_mean_s") = (times.sum / math.max(1, times.size)).toString
    ctx.recorder.foreach { r =>
      val dataBytes = Files.walk(Paths.get(ctx.data)).filter(Files.isRegularFile(_))
        .mapToLong(Files.size(_)).sum
      Layers.fill(ctx, r, spark, o, m0, m1, dataBytes, tierOf)
    }
    Main.stop(spark)
    o
  }
}
