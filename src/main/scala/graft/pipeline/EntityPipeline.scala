package graft.pipeline

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Pin

/** Entity-pipeline core: a registry of named entity transforms with
  * declared dependencies and output contracts, plus a topological
  * executor.
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
  *    loaded tables);
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
  def unpersistAll(): Unit = {
    seams.foreach(_.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = true)
    })
    seams.clear()
  }

  /** How many entities consume each entity (fan-out seams). */
  private def consumerCounts(order: Seq[String]): Map[String, Int] =
    order
      .flatMap(n => registry(n).deps)
      .groupBy(identity).map { case (k, v) => k -> v.size }

  /** Materialize `targets` (and all dependencies), returning every
    * computed entity. Entities with >1 consumer and the targets are cut
    * ([[Pin.cut]], lazy): the first action over one materializes its rows
    * and every later reader — consumers, API views, views over views —
    * scans them instead of re-running the DAG. Entities with a checkpoint
    * on disk are loaded instead of recomputed (Luigi-style resume);
    * helper entities are never checkpointed.
    */
  def run(targets: Seq[String]): Map[String, DataFrame] = {
    val order = registry.topoOrder(targets, sources.keySet)
    val fanOut = consumerCounts(order)
    val wanted = targets.toSet
    val built = mutable.LinkedHashMap.empty[String, DataFrame]
    order.foreach { name =>
      val d = registry(name)
      val ckptPath = checkpointDir.map(dir => s"$dir/$name")
      val existing = ckptPath.filter(p =>
        d.outputColumns.nonEmpty && pathExists(p))
      val df = existing match {
        case Some(p) => spark.read.parquet(p)
        case None =>
          val inputs = d.deps.map(dep =>
            dep -> built.getOrElse(dep, sources.getOrElse(dep,
              throw new NoSuchElementException(s"missing input '$dep' for '$name'")))).toMap
          val raw = d.transform(spark, inputs)
          val contracted =
            if (d.outputColumns.isEmpty) raw
            else raw.select(d.outputColumns.map(col): _*)
          ckptPath match {
            case Some(p) if d.outputColumns.nonEmpty =>
              contracted.write.mode("overwrite").parquet(p)
              spark.read.parquet(p)
            case _ =>
              if (fanOut.getOrElse(name, 0) > 1 || wanted(name)) {
                // A cut, not persist(): persist keeps the full composed
                // lineage, so every consumer would re-pay analysis of the
                // whole upstream DAG (q466); the cut truncates the seam to
                // a leaf. Lazy: the first consumer's action materializes it
                // for the rest, with no extra driver-barrier job; a
                // single-consumer caller pays only the block copy.
                val p = Pin.cut(contracted, eager = false)
                seams += p
                Pin.named(p, s"entity '$name'")
              } else contracted
          }
      }
      built += name -> df
    }
    built.toMap
  }

  private def pathExists(p: String): Boolean = {
    val hPath = new org.apache.hadoop.fs.Path(p)
    hPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hPath)
  }
}
