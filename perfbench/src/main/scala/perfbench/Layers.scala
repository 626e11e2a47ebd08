package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Turns a [[Recorder]]'s spans and Spark events into the per-layer
  * metrics. Every figure is per timed sample, so runs of different
  * lengths compare.
  */
object Layers {
  val Tiers = Seq("relational", "warehouse", "text", "vector", "pdcm",
    "spatial", "stats")
  val Faces = Seq("agg", "dedup", "join", "state")
  val FaceMetrics = Seq("sustained_rows_per_s", "batch_ms_p50",
    "backlog_rows", "state_rows", "state_bytes")

  /** Every per-layer metric with its unit, in report order. */
  val all: Seq[(String, String)] = Seq(
    "sources.read_s" -> "s", "sources.scan_bytes" -> "B",
    "sources.read_amplification" -> "ratio", "sources.pushdown_frac" -> "ratio",
    "pipeline.run_s" -> "s", "pipeline.materialize_s" -> "s",
    "pipeline.seams" -> "count", "pipeline.seam_bytes" -> "B",
    "api.register_s" -> "s", "api.views_s" -> "s", "api.views" -> "count",
    "queries.build_s" -> "s", "queries.exec_s" -> "s") ++
    Tiers.map(t => s"tier.$t.s" -> "s") ++ Seq(
    "pin.checkpoints" -> "count", "pin.bytes" -> "B",
    "driver.analysis_ms" -> "ms", "driver.optimization_ms" -> "ms",
    "driver.planning_ms" -> "ms", "driver.codegen_ms" -> "ms",
    "driver.outside_jobs_s" -> "s",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.task_s" -> "s", "sched.slot_busy_frac" -> "ratio",
    "shuffle.write_bytes" -> "B", "shuffle.read_bytes" -> "B",
    "shuffle.spill_bytes" -> "B", "shuffle.partition_skew" -> "ratio") ++
    Faces.flatMap(f => FaceMetrics.map { m =>
      s"streaming.$f.$m" -> (m match {
        case "sustained_rows_per_s" => "rows/s"
        case "batch_ms_p50"         => "ms"
        case "state_bytes"          => "B"
        case _                      => "rows"
      })
    }) ++ Seq("jvm.gc_s" -> "s", "jvm.jit_ms" -> "ms", "jvm.heap_live_mb" -> "MB")

  final case class Mark(gcMs: Long, jitMs: Long, codegenNs: Long)
  def jvmMark(): Mark = Mark(Jvm.gcMs, Jvm.jitMs, Jvm.codegenNs)

  /** Traced runs only: the live heap (after a forced full GC) before the
    * timed window; [[heapAfter]] records the larger of it and the one after.
    */
  def heapBefore(ctx: Ctx): Option[Double] = ctx.recorder.map(_ => Jvm.liveHeapMb())
  def heapAfter(before: Option[Double], o: Outcome): Unit =
    before.foreach(h => o.layer("jvm.heap_live_mb") = math.max(h, Jvm.liveHeapMb()))

  private val seenRdds = mutable.Set.empty[Int]

  /** Take the RDDs cached so far (during set-up) as already seen. */
  def markStorage(spark: SparkSession): Unit =
    spark.sparkContext.getRDDStorageInfo.foreach(i => seenRdds += i.id)

  /** Count RDD blocks cached since the last snapshot: pipeline seams in
    * the release, `Pin` checkpoints in queries.
    */
  def snapshotStorage(spark: SparkSession, o: Outcome, layer: String): Unit = {
    val fresh = spark.sparkContext.getRDDStorageInfo
      .filter(i => i.isCached && !seenRdds(i.id))
    fresh.foreach(i => seenRdds += i.id)
    val (n, b) = if (layer == "pipeline") ("pipeline.seams", "pipeline.seam_bytes")
      else ("pin.checkpoints", "pin.bytes")
    o.layer(n) = o.layer.getOrElse(n, 0.0) + fresh.length
    o.layer(b) = o.layer.getOrElse(b, 0.0) + fresh.map(i => i.memSize + i.diskSize).sum
  }

  /** Total length of the union of `[start, end)` intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def fill(ctx: Ctx, r: Recorder, spark: SparkSession, o: Outcome, m0: Mark,
      m1: Mark, inputBytes: Long, tierOf: String => String = _ => ""): Unit = {
    r.drain(spark)
    val windows = o.sampleWindows.toSeq
    val n = math.max(windows.size, 1).toDouble
    def inWindow(t: Long) = windows.exists { case (a, b) => t >= a && t <= b }
    val spans = r.spans.synchronized(r.spans.toList)
      .filter(s => s.end > 0 && inWindow(s.start))
    val jobs = r.jobs.values.asScala.toSeq.filter(j => j.end > 0 && inWindow(j.start))
    val stages = jobs.flatMap(_.stages).distinct.flatMap(id => Option(r.stages.get(id)))
    val execs = r.execs.asScala.toSeq.filter(e => inWindow(e.start))
    def dur(s: Span) = (s.end - s.start) / 1e9
    def total(layer: String, prefix: String) =
      spans.filter(s => s.layer == layer && s.name.startsWith(prefix)).map(dur).sum
    val L = o.layer
    def put(k: String, v: Double) = L(k) = v

    put("sources.read_s", total("sources", "") / n)
    val scanBytes = execs.map(_.scanBytes).sum.toDouble
    put("sources.scan_bytes", scanBytes / n)
    put("sources.read_amplification",
      if (inputBytes > 0) scanBytes / n / inputBytes else 0.0)
    val scans = execs.map(_.scans).sum
    put("sources.pushdown_frac",
      if (scans > 0) execs.map(_.pushed).sum.toDouble / scans else 0.0)

    put("pipeline.run_s", total("pipeline", "pipeline.run") / n)
    put("pipeline.materialize_s", total("pipeline", "write.") / n)
    Seq("pipeline.seams", "pipeline.seam_bytes", "pin.checkpoints", "pin.bytes")
      .foreach(k => put(k, L.getOrElse(k, 0.0) / n))
    put("api.register_s", total("api", "api.register") / n)
    put("api.views_s", total("api", "view.") / n)
    put("api.views", spans.count(s => s.layer == "api" && s.name.startsWith("view.")) / n)

    val build = spans.filter(s => s.layer == "queries" && s.name.startsWith("build."))
    val exec = spans.filter(s => s.layer == "queries" && s.name.startsWith("exec."))
    put("queries.build_s", build.map(dur).sum / n)
    put("queries.exec_s", exec.map(dur).sum / n)
    val byTier = (build ++ exec).groupBy(s => tierOf(s.name.dropWhile(_ != '.').drop(1)))
    Tiers.foreach { t =>
      val ss = byTier.getOrElse(t, Nil)
      val samples = ss.count(_.name.startsWith("build."))
      put(s"tier.$t.s", if (samples > 0) ss.map(dur).sum / samples else 0.0)
    }

    put("driver.analysis_ms", execs.map(_.analysisMs).sum / n)
    put("driver.optimization_ms", execs.map(_.optimizationMs).sum / n)
    put("driver.planning_ms", execs.map(_.planningMs).sum / n)
    put("driver.codegen_ms", (m1.codegenNs - m0.codegenNs) / 1e6 / n)
    val jobIv = jobs.map(j => (j.start, j.end))
    val jobBusy = covered(jobIv)
    val windowNs = windows.map { case (a, b) => b - a }.sum
    put("driver.outside_jobs_s", (windowNs - jobBusy) / 1e9 / n)

    put("sched.jobs", jobs.size / n)
    put("sched.stages", stages.size / n)
    put("sched.tasks", stages.map(_.tasks).sum / n)
    val taskNs = stages.map(_.taskNs).sum.toDouble
    put("sched.task_s", taskNs / 1e9 / n)
    put("sched.slot_busy_frac",
      if (jobBusy > 0) taskNs / (Main.Cores * jobBusy.toDouble) else 0.0)

    put("shuffle.write_bytes", stages.map(_.shuffleWrite).sum / n)
    put("shuffle.read_bytes", stages.map(_.shuffleRead).sum / n)
    put("shuffle.spill_bytes", stages.map(_.spill).sum / n)
    put("shuffle.partition_skew", stages.map { s =>
      val xs = s.readPerTask.toSeq.map(_.toDouble)
      val med = Main.median(xs)
      if (xs.size >= 2 && med > 0) xs.max / med else 1.0
    }.foldLeft(0.0)(math.max))

    put("jvm.gc_s", (m1.gcMs - m0.gcMs) / 1000.0 / n)
    put("jvm.jit_ms", (m1.jitMs - m0.jitMs) / n)
    all.foreach { case (k, _) => if (!L.contains(k)) put(k, 0.0) }

    writeSpans(ctx.work, o, spans, jobs, windowNs)
  }

  /** Self time per span name (duration minus what child spans and Spark
    * jobs cover), written once to `spans.json` in the work directory.
    */
  private def writeSpans(work: String, o: Outcome, spans: Seq[Span],
      jobs: Seq[JobRec], windowNs: Long): Unit = {
    val children = spans.groupBy(_.parent)
    val jobsBySpan = jobs.groupBy(_.span)
    def self(s: Span): Long = {
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end)) ++
        jobsBySpan.getOrElse(s.id, Nil).map(j => (math.max(j.start, s.start),
          math.min(j.end, s.end)))
      (s.end - s.start) - covered(kids)
    }
    // Job time on the blocking path: the union of each span's own jobs.
    val jobSelf = spans.map { s =>
      covered(jobsBySpan.getOrElse(s.id, Nil).map(j =>
        (math.max(j.start, s.start), math.min(j.end, s.end))))
    }.sum
    def key(s: Span) = if (s.layer == "sample") "sample" else s.name
    val rows = spans.groupBy(s => (s.layer, key(s))).toSeq.sortBy(_._1).map {
      case ((layer, name), ss) => Json.obj(Seq(
        "layer" -> Json.str(layer), "name" -> Json.str(name),
        "count" -> ss.size.toString,
        "total_s" -> Json.num(ss.map(s => s.end - s.start).sum / 1e9),
        "self_s" -> Json.num(ss.map(self).sum / 1e9),
        "jobs" -> ss.map(s => jobsBySpan.getOrElse(s.id, Nil).size).sum.toString))
    }
    val selfSum = spans.map(self).sum + jobSelf
    val doc = Json.obj(Seq(
      "samples" -> o.sampleWindows.size.toString,
      "window_s" -> Json.num(windowNs / 1e9),
      "blocking_self_s" -> Json.num(selfSum / 1e9),
      "unattributed_jobs" -> jobs.count(_.span < 0).toString,
      "spans" -> rows.mkString("[", ",\n", "]")))
    Files.write(Paths.get(work, "spans.json"),
      doc.getBytes("UTF-8"))
  }
}
