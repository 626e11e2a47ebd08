package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for the traced run. Timed runs use [[Tracer.Off]], which
  * only runs the body: no listener is registered and nothing is kept.
  */
trait Tracer {
  /** Run `f` inside a span named `name` of layer `layer`. */
  def span[T](name: String, layer: String)(f: => T): T
  /** Attach the tracer's listeners to a freshly started session. */
  def attach(spark: SparkSession): Unit
}

object Tracer {
  object Off extends Tracer {
    def span[T](name: String, layer: String)(f: => T): T = f
    def attach(spark: SparkSession): Unit = ()
  }
}

/** One span: a call into a layer, with the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Long, var end: Long = -1L)

/** One Spark job, attributed to the span open on the calling thread
  * through the job's local properties.
  */
final case class JobRec(id: Int, span: Int, start: Long, var end: Long,
    stages: Seq[Int])

/** Per-stage task totals. */
final class StageRec {
  var tasks = 0
  var taskNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val readPerTask = mutable.ArrayBuffer.empty[Long]
}

/** Per-execution planning and scan figures from the QueryExecution, with
  * the execution's start (listener delivery time minus its duration).
  */
final case class ExecRec(start: Long, analysisMs: Double, optimizationMs: Double,
    planningMs: Double, scans: Int, pushed: Int, scanBytes: Long)

/** Records spans in memory and attributes Spark work to them. Written
  * out once, when the run ends.
  */
final class Recorder extends Tracer {
  private val SpanKey = "perfbench.span"
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val execs = new java.util.concurrent.ConcurrentLinkedQueue[ExecRec]()
  @volatile private var sc: SparkContext = _

  def span[T](name: String, layer: String)(f: => T): T = {
    val parent = stack.get().headOption.map(_.id).getOrElse(-1)
    val s = Span(nextId.getAndIncrement(), parent, name, layer, System.nanoTime())
    spans.synchronized(spans += s)
    stack.set(s :: stack.get())
    val ctx = sc
    if (ctx != null) ctx.setLocalProperty(SpanKey, s.id.toString)
    try f
    finally {
      s.end = System.nanoTime()
      stack.set(stack.get().tail)
      if (ctx != null)
        ctx.setLocalProperty(SpanKey,
          stack.get().headOption.map(_.id.toString).orNull)
    }
  }

  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    stack.get().headOption.foreach(s => sc.setLocalProperty(SpanKey, s.id.toString))
    sc.addSparkListener(new Listener)
    spark.listenerManager.register(new ExecListener)
  }

  /** Block until the listener bus has delivered every queued event. */
  def drain(spark: SparkSession): Unit = {
    val m = spark.sparkContext.getClass.getMethod("listenerBus")
    val bus = m.invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  private final class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobs.put(e.jobId, JobRec(e.jobId, span, System.nanoTime(), -1L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = System.nanoTime())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val s = stages.computeIfAbsent(e.stageId, _ => new StageRec)
        s.synchronized {
          s.tasks += 1
          s.taskNs += m.executorRunTime * 1000000L
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          val read = m.shuffleReadMetrics.totalBytesRead
          s.shuffleRead += read
          if (read > 0) s.readPerTask += read
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private final class ExecListener extends QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val scans = collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s
      }
      val pushed = scans.count(s =>
        s.metadata.get("PushedFilters").exists(_ != "[]"))
      val bytes = scans.map(s =>
        s.metrics.get("filesSize").map(_.value).getOrElse(0L)).sum
      execs.add(ExecRec(System.nanoTime() - durationNs, ms("analysis"),
        ms("optimization"), ms("planning"), scans.size, pushed, bytes))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
}

/** JVM-wide counters read before and after the measured window. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)
  def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Heap in use right after a full collection: the live set, in MB. */
  def liveHeapMb(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }
}
