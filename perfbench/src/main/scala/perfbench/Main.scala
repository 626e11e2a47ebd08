package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Settings of one benchmark run, as passed by `run.py`. */
final case class Ctx(
    workload: String,
    seed: Long,
    seconds: Double,
    work: String,
    data: String,
    draw: Seq[String],
    inject: Option[(String, String)],
    tracer: Tracer) {
  def recorder: Option[Recorder] = tracer match {
    case r: Recorder => Some(r)
    case _           => None
  }
}

/** What a workload hands back: samples, failures, mismatches and its own
  * figures. The per-layer figures are added from the trace.
  */
final class Outcome {
  var attempted = 0
  var failed = 0
  val failures = mutable.LinkedHashMap.empty[String, String]
  val mismatches = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String]
  /** (start, end) of each timed sample, in nanoTime. */
  val sampleWindows = mutable.ArrayBuffer.empty[(Long, Long)]

  /** A failed sample: named, never timed. Warm-up failures are named only. */
  def fail(name: String, e: Throwable, timed: Boolean = true): Unit = {
    if (timed) failed += 1
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = Option(root.getMessage).getOrElse(root.getClass.getName)
      .linesIterator.take(1).mkString.take(300)
    failures(name) = msg
  }
}

object Main {
  val Cores = 4

  def session(ctx: Ctx): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${ctx.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.work}/spark-warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    graft.Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"${ctx.work}/checkpoints")
    ctx.tracer.attach(spark)
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** The benchmark's one sink: every row is produced, nothing is kept. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def seconds(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  private val born = System.nanoTime()
  /** A timestamped progress line on stderr, for reading a run's log. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench ${seconds(born, System.nanoTime())}%7.2f s] $msg")

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The set-up a run pays, timed once: the JVM's first session start
    * and `setup` in that session.
    */
  def setup(ctx: Ctx)(setup: SparkSession => Unit): (SparkSession, Double) = {
    note("set-up")
    val t0 = System.nanoTime()
    val spark = session(ctx)
    setup(spark)
    (spark, seconds(t0, System.nanoTime()))
  }

  private def parse(args: Array[String]): Ctx = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val inject = kv.get("inject").filter(_.nonEmpty).map { s =>
      val Array(kind, name) = s.split(":", 2)
      kind -> name
    }
    Ctx(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("work"), kv.getOrElse("data", ""),
      kv.get("draw").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      inject, if (kv.get("trace").contains("1")) new Recorder else Tracer.Off)
  }

  def main(args: Array[String]): Unit = {
    val ctx = parse(args)
    new File(ctx.work).mkdirs()
    note(s"start ${ctx.workload}")
    val out = ctx.workload match {
      case "release"   => Release.run(ctx)
      case "query_mix" => QueryMix.run(ctx)
      case "stream"    => Stream.run(ctx)
      case w           => sys.error(s"unknown workload $w")
    }
    note("done")
    println("PERFBENCH " + Json.outcome(out))
    // Spark's non-daemon threads must not keep the JVM alive.
    sys.exit(0)
  }
}

/** Minimal JSON writer for the result line. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def outcome(o: Outcome): String = obj(Seq(
    "attempted" -> o.attempted.toString,
    "failed" -> o.failed.toString,
    "failures" -> obj(o.failures.map { case (k, v) => k -> str(v) }),
    "mismatches" -> o.mismatches.map(str).mkString("[", ",", "]"),
    "metrics" -> obj(o.metrics.map { case (k, (v, u)) =>
      k -> obj(Seq("value" -> num(v), "unit" -> str(u))) }),
    "layer" -> obj(Layers.all.filter(l => o.layer.contains(l._1)).map { case (k, u) =>
      k -> obj(Seq("value" -> num(o.layer(k)), "unit" -> str(u))) }),
    "info" -> obj(o.info.map { case (k, v) => k -> v })))
}
