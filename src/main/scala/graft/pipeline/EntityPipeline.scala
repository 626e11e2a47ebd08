package graft.pipeline

import java.util.concurrent.{CompletableFuture, Executor, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.collection.immutable.AbstractMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Pin

/** Entity-pipeline core: a registry of named entity transforms with
  * declared dependencies and output contracts, plus a concurrent
  * executor that builds each entity as soon as its dependencies exist,
  * as the reference runs independent Luigi tasks on several workers.
  *
  * This replaces the reference's entire orchestration layer — the Luigi
  * task DAG (`etl/workflow/transformer.py:37-581`) and entity registry
  * (`etl/entities_registry.py:96-743`) — with an IN-PROCESS lazy DAG:
  * one SparkSession, one logical plan per entity, no per-entity
  * spark-submit spawn and no mandatory parquet round-trip between stages
  * (the reference pays ~60 JVM launches + materializations per run;
  * BASELINE.md lists this as its dominant structural overhead).
  *
  * Scale design:
  *  - entities that fan out to multiple consumers, and targets, are
  *    materialized once (the reference's `molecular_characterization`
  *    feeds 5 jobs and is recomputed by each; a target is written and
  *    then read again by the API views, as the reference reads its
  *    loaded tables). The cut is eager, in the entity's own worker, so
  *    its consumers start only once its rows exist. With a lazy cut,
  *    consumers started together race for its partitions: each one is
  *    computed inside whichever consumer job reaches it first, while the
  *    other jobs' tasks wait on its block;
  *  - independent entities are built side by side on a pool sized from
  *    the session's default parallelism, so their Spark jobs share the
  *    executors instead of waiting on one another;
  *  - sources are looked up only by the entities that read them, so a
  *    lazily built source map reads only what the targets need;
  *  - optional per-entity parquet checkpointing gives Luigi-style
  *    resumability (skip-if-exists) without making it the default cost;
  *  - output contracts (`expected_database_columns` in the reference)
  *    are enforced by projection, so column pruning propagates upstream
  *    through every entity plan.
  */
case class EntityDef(
    name: String,
    deps: Seq[String],
    transform: (SparkSession, Map[String, DataFrame]) => DataFrame,
    /** Declared output columns (the DB contract). Empty = helper entity
      * (intermediate-only, never loaded — reference
      * `entities_registry.py:85-93`).
      */
    outputColumns: Seq[String] = Nil)

final class EntityRegistry {
  private val defs = mutable.LinkedHashMap.empty[String, EntityDef]

  def register(d: EntityDef): this.type = {
    require(!defs.contains(d.name), s"duplicate entity '${d.name}'")
    defs += d.name -> d
    this
  }

  def apply(name: String): EntityDef =
    defs.getOrElse(name, throw new NoSuchElementException(s"unknown entity '$name'"))

  def names: Seq[String] = defs.keys.toSeq

  /** Dependency-respecting order over `targets` and everything they need.
    * Fails fast on cycles and on unknown deps (a dep may also be an
    * external source name supplied at run time).
    */
  def topoOrder(targets: Seq[String], external: Set[String]): Seq[String] = {
    val order = mutable.ArrayBuffer.empty[String]
    val state = mutable.Map.empty[String, Int] // 0=visiting, 1=done
    def visit(n: String, path: List[String]): Unit = {
      if (external.contains(n)) return
      // A dep that is neither registered nor external may still be bound
      // at run time; the executor reports it with the entity that needs
      // it. Unknown TARGETS fail here.
      if (!defs.contains(n) && path.nonEmpty) return
      state.get(n) match {
        case Some(1) => ()
        case Some(0) =>
          throw new IllegalStateException(
            s"dependency cycle: ${(n :: path.takeWhile(_ != n) ::: List(n)).reverse.mkString(" -> ")}")
        case None =>
          state(n) = 0
          apply(n).deps.foreach(visit(_, n :: path))
          state(n) = 1
          order += n
      }
    }
    targets.foreach(visit(_, Nil))
    order.toSeq
  }
}

final class PipelineRunner(
    spark: SparkSession,
    registry: EntityRegistry,
    sources: Map[String, DataFrame],
    checkpointDir: Option[String] = None) {

  private val seams = mutable.ArrayBuffer.empty[DataFrame]

  /** Drop every seam this runner cut, targets included. Call after the
    * run's outputs have been materialized (written/collected) — seams are
    * only needed while the lazy plans that reference them still have
    * pending actions. Without this a long multi-target run accumulates
    * executor storage.
    *
    * A seam's blocks belong to its checkpointed RDD, not the CacheManager
    * (`Dataset.unpersist()` would be a silent no-op), so the leaf's RDD is
    * unpersisted directly, blocking until its blocks are gone. After this
    * call a released entity CANNOT be recomputed (its lineage was
    * truncated): an action over it fails naming the entity
    * ([[Pin.named]]).
    */
  def unpersistAll(): Unit = seams.synchronized {
    seams.foreach(_.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = true)
    })
    seams.clear()
  }

  /** Materialize `targets` (and all dependencies), returning every
    * computed entity.
    *
    * Each entity is built on a worker as soon as its dependencies exist,
    * on a pool of `defaultParallelism` threads that this call creates and
    * shuts down before it returns; a pool of one builds in topological
    * order. Entities with >1 consumer and the targets are cut eagerly in
    * their worker ([[Pin.cut]]): consumers built at the same time then
    * scan the cut's rows instead of racing to compute its lazy
    * partitions, and independent targets' final stages run side by side.
    * Entities with a checkpoint on disk are loaded instead of recomputed
    * (Luigi-style resume), and their dependencies are not built; helper
    * entities are never checkpointed. A source is looked up only by the
    * entities that read it, so a lazily built source map
    * ([[LazySources]]) reads only what the targets need.
    *
    * Workers start with the calling thread's Spark local properties (job
    * group, description, scheduler pool, tags), so every job the run
    * starts can be attributed to and cancelled with the caller's group.
    * A failed entity stops the run from starting more; `run` throws once
    * every worker has stopped, naming the entity.
    */
  def run(targets: Seq[String]): Map[String, DataFrame] = {
    val all = registry.topoOrder(targets, sources.keySet)
    val resumed = all.filter(name => checkpointDir.exists(dir =>
      registry(name).outputColumns.nonEmpty && pathExists(s"$dir/$name"))).toSet
    // What the targets need: a resumed entity needs none of its deps.
    val inputs = mutable.Map.empty[String, Seq[String]]
    def need(n: String): Unit = if (all.contains(n) && !inputs.contains(n)) {
      inputs(n) = if (resumed(n)) Nil else registry(n).deps
      inputs(n).foreach(need)
    }
    targets.foreach(need)
    val order = all.filter(inputs.contains)
    val consumers = inputs.values.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    for (name <- order; dep <- inputs(name))
      if (!sources.contains(dep) && !order.contains(dep))
        throw new NoSuchElementException(s"missing input '$dep' for '$name'")

    val cut = targets.toSet ++ consumers.collect { case (n, c) if c > 1 => n }
    val pool = new PipelineRunner.Pool(spark.sparkContext.defaultParallelism)
    val failure = new AtomicReference[Throwable]
    val built = mutable.LinkedHashMap.empty[String, CompletableFuture[DataFrame]]
    try {
      order.foreach { name =>
        val deps = inputs(name).filterNot(sources.contains).map(d => d -> built(d)).toMap
        built(name) = CompletableFuture.allOf(deps.values.toSeq: _*).thenApplyAsync[DataFrame](_ =>
          if (failure.get != null) null
          else try build(name, resumed(name), cut(name), deps(_).join())
          catch {
            case NonFatal(e) =>
              failure.compareAndSet(null, new IllegalStateException(
                s"entity '$name' failed: ${e.getMessage}", e))
              null
          }, pool)
      }
      CompletableFuture.allOf(built.values.toSeq: _*).join()
    } finally pool.stop()
    Option(failure.get).foreach(e => throw e)
    built.map { case (name, f) => name -> f.join() }.toMap
  }

  /** One entity: resumed from its checkpoint, or transformed from its
    * inputs (`entity` returns a dependency already built), contracted, and
    * checkpointed or cut.
    */
  private def build(name: String, resume: Boolean, cut: Boolean,
      entity: String => DataFrame): DataFrame = {
    val d = registry(name)
    val ckptPath = checkpointDir.filter(_ => d.outputColumns.nonEmpty).map(dir => s"$dir/$name")
    lazy val contracted = {
      val inputs = d.deps.map(dep =>
        dep -> (if (sources.contains(dep)) sources(dep) else entity(dep))).toMap
      val raw = d.transform(spark, inputs)
      if (d.outputColumns.isEmpty) raw
      else raw.select(d.outputColumns.map(col): _*)
    }
    ckptPath match {
      case Some(p) if resume => spark.read.parquet(p)
      case Some(p) =>
        contracted.write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
      case None if cut =>
        // A cut, not persist(): persist keeps the full composed lineage,
        // so every consumer would re-pay analysis of the whole upstream
        // DAG (q466); the cut truncates the seam to a leaf. Eager: its
        // consumers may start together, and would race for a lazy cut's
        // partitions.
        val p = Pin.cut(contracted, eager = true)
        seams.synchronized(seams += p)
        Pin.named(p, s"entity '$name'")
      case None => contracted
    }
  }

  private def pathExists(p: String): Boolean = {
    val hPath = new org.apache.hadoop.fs.Path(p)
    hPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hPath)
  }
}

object PipelineRunner {
  private val threadIds = new AtomicInteger

  /** The run's workers: `size` threads named `graft-pipeline-<n>`, all
    * started by the constructing thread, so each inherits its Spark local
    * properties and active session (both inheritable thread-locals).
    * [[stop]] returns once every thread has ended.
    */
  private final class Pool(size: Int) extends Executor {
    private val threads = mutable.ArrayBuffer.empty[Thread]
    private val executor = new ThreadPoolExecutor(size, size, 0L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable], (r: Runnable) => {
        val t = new Thread(r, s"graft-pipeline-${threadIds.incrementAndGet()}")
        t.setDaemon(true)
        threads.synchronized(threads += t)
        t
      })
    executor.prestartAllCoreThreads()

    def execute(r: Runnable): Unit = executor.execute(r)

    def stop(): Unit = {
      executor.shutdown()
      threads.synchronized(threads.toList).foreach(_.join())
    }
  }
}

/** Sources bound to a run, each built on its first lookup: once, under a
  * per-source lock, so concurrent workers share one frame, and only the
  * sources some built entity reads are ever read. `keySet`, `contains` and
  * `size` build nothing; iterating the map builds every source. A build
  * that fails is rethrown naming the source and `origin` (the file or
  * glob it reads), and the next lookup tries again.
  */
final class LazySources[+V] private (cells: Map[String, LazySources.Cell[V]])
    extends AbstractMap[String, V] {
  def get(key: String): Option[V] = cells.get(key).map(_.value)
  def iterator: Iterator[(String, V)] = cells.iterator.map { case (k, c) => k -> c.value }
  def removed(key: String): LazySources[V] = new LazySources(cells - key)
  def updated[V1 >: V](key: String, value: V1): LazySources[V1] =
    new LazySources(cells.updated(key, new LazySources.Cell(key, "bound value", () => value)))
  override def contains(key: String): Boolean = cells.contains(key)
  override def keySet: Set[String] = cells.keySet
  override def keysIterator: Iterator[String] = cells.keysIterator
  override def size: Int = cells.size
  override def knownSize: Int = cells.size
  override def toString: String = cells.keys.mkString("LazySources(", ", ", ")")
}

object LazySources {
  /** Sources given as (name, origin, build). */
  def apply(sources: Seq[(String, String, () => DataFrame)]): LazySources[DataFrame] =
    new LazySources(sources.map { case (n, o, b) => n -> new Cell(n, o, b) }.toMap)

  private final class Cell[+V](name: String, origin: String, build: () => V) {
    lazy val value: V =
      try build()
      catch {
        case NonFatal(e) => throw new IllegalStateException(
          s"source '$name' ($origin): ${e.getMessage}", e)
      }
  }
}
