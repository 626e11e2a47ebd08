package org.apache.spark.sql.graft

import org.apache.spark.{Partition, SparkException, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one materialization policy: every lineage cut in graft goes
  * through this object (guide §5 "localCheckpoint is a cheaper way to cut
  * lineage", §3.3 "materialising an intermediate truncates the plan").
  *
  * A cut materializes a frame's rows and replaces its plan with a
  * `LogicalRDD` leaf over them. The forms differ only in the planner
  * metadata that leaf carries:
  *
  * | form           | attribute ids | partitioning / ordering   | stats   |
  * |----------------|---------------|---------------------------|---------|
  * | [[cut]]        | the input's   | the input's               | origin  |
  * | [[pin]]        | fresh         | unknown                   | default |
  * | [[pinHashed]]  | fresh         | hash + sort on the keys   | default |
  * | [[pinKeep]]    | fresh         | the input's               | default |
  * | [[fresh]]      | fresh         | unknown (re-keys a leaf)  | default |
  *
  * Fresh ids make a pinned frame safe to self-join every round; default
  * ("huge") stats keep a small pinned frame from turning broadcast-
  * eligible and flipping join strategy per iteration.
  *
  * Storage depends only on the master, which the code observes (no
  * option controls it). On a local master the blocks are unreplicated
  * `MEMORY_AND_DISK`: there is no executor to lose. On any other master
  * they are `MEMORY_AND_DISK_2`, so a cut survives the loss of one
  * executor; the leaf is still a `LogicalRDD`, so the plan is truncated
  * either way and losing both replicas fails the consumer (there is no
  * lineage left to recompute from).
  *
  * `eager = false` defers materialization to the first consuming action:
  * the plan is truncated exactly as in the eager form, but a fixed-round
  * iteration chains its rounds into one job instead of paying a driver
  * barrier per round. Use eager only when something must happen after
  * the rows exist (e.g. releasing caches the plan depends on), or when
  * several jobs may start over the cut at once: `PipelineRunner` cuts
  * its seams and targets eagerly because their consumers are built
  * concurrently, and consumer jobs would otherwise race for the lazy
  * cut's partitions, the tasks of all but one waiting on each block.
  */
object Pin {

  /** Cut `ds`'s lineage: the leaf `Dataset.localCheckpoint(eager)` builds,
    * keeping the input's attribute ids, partitioning and statistics.
    * This is the only place graft calls `localCheckpoint`.
    */
  def cut[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] =
    if (ds.sparkSession.sparkContext.isLocal) ds.localCheckpoint(eager)
    else ds.localCheckpoint(eager, StorageLevel.MEMORY_AND_DISK_2)

  /** `ds.cut()` for method chains; identical to [[Pin.cut]]. */
  implicit class CutOps[T](private val ds: Dataset[T]) extends AnyVal {
    def cut(eager: Boolean = true): Dataset[T] = Pin.cut(ds, eager)
  }

  /** Cut `df` and return a fresh-leaf frame over the materialized
    * internal rows: fresh ids, unknown partitioning, default stats.
    */
  def pin(df: DataFrame, eager: Boolean = true): DataFrame =
    fresh(cut(df, eager))

  /** Cut `df` hash-partitioned by `cols` and sorted within partitions on
    * them, keeping that layout on the leaf with neutral stats: every
    * downstream join/aggregate keyed on `cols` with a matching partition
    * count skips its Exchange and its Sort on this side (guide §2.4
    * "two operations keyed the same way can share one exchange"). The
    * partition count is `spark.sql.shuffle.partitions` at cut time.
    */
  def pinHashed(df: DataFrame, cols: Seq[String],
      eager: Boolean = true): DataFrame =
    pinKeep(df.repartition(cols.map(df.col): _*)
      .sortWithinPartitions(cols.map(df.col): _*), eager)

  /** As [[pin]], but the leaf keeps the partitioning/ordering the frame
    * was materialized with — for per-iteration state whose producing plan
    * already ends keyed the way the next iteration consumes it.
    */
  def pinKeep(df: DataFrame, eager: Boolean = true): DataFrame =
    cut(df, eager).queryExecution.analyzed match {
      case l: LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[ClassicSparkSession]
        // newInstance() re-keys output attrs AND rewrites the captured
        // partitioning/ordering onto them; rebuilding the leaf without
        // the origin-stats argument restores the neutral default.
        val ni = l.newInstance()
        ClassicDataset.ofRows(session,
          LogicalRDD(ni.output, ni.rdd, ni.outputPartitioning,
            ni.outputOrdering, ni.isStreaming, ni.stream)(session))
      case other =>
        throw new IllegalArgumentException(
          s"Pin: cut did not yield a LogicalRDD leaf (got ${other.nodeName})")
    }

  /** A cut frame whose rows, once gone, fail their reader naming `what`:
    * released by their owner (`PipelineRunner.unpersistAll`) or lost with
    * both replicas, a read otherwise fails with Spark's anonymous
    * missing-block error. The leaf keeps the cut's output, partitioning,
    * ordering and statistics; only its RDD gains a pass-through layer
    * over the cut's ([[NamedRows.cut]]).
    */
  def named(df: DataFrame, what: String): DataFrame = df.queryExecution.analyzed match {
    case l: LogicalRDD =>
      ClassicDataset.ofRows(df.sparkSession.asInstanceOf[ClassicSparkSession],
        l.makeCopy(Array(l.output, new NamedRows(l.rdd, what), l.outputPartitioning,
          l.outputOrdering, Boolean.box(l.isStreaming), l.stream)))
    case other =>
      throw new IllegalArgumentException(
        s"Pin.named expects a cut (LogicalRDD) frame, got ${other.nodeName}")
  }

  /** The rows of a cut, passed through unchanged; a missing cut block
    * is re-thrown naming `what`.
    */
  private[graft] final class NamedRows(rows: RDD[InternalRow], what: String)
      extends RDD[InternalRow](rows) {
    /** The cut RDD that holds the blocks. */
    def cut: RDD[InternalRow] = firstParent[InternalRow]
    override val partitioner: Option[org.apache.spark.Partitioner] = rows.partitioner
    override protected def getPartitions: Array[Partition] = cut.partitions
    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
      try cut.iterator(split, context)
      catch {
        case e: SparkException if e.getCondition == "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" =>
          throw new SparkException(s"$what: its materialized rows are gone (released " +
            "after use, or lost with their executor) and a cut cannot be recomputed", e)
      }
  }

  /** Re-key an already-cut frame's leaf with fresh attribute ids and
    * neutral planner metadata — zero data movement; safe per use site
    * when one pinned frame feeds several branches of a self-joining plan.
    */
  def fresh(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case l: LogicalRDD =>
      val session = df.sparkSession.asInstanceOf[ClassicSparkSession]
      val out = l.output.map(_.newInstance())
      ClassicDataset.ofRows(session, LogicalRDD(out, l.rdd)(session))
    case other =>
      // Every legitimate caller passes an already-cut frame; silently
      // returning `df` here would drop the fresh-attribute-id guarantee
      // the iterative self-joins depend on and surface as an
      // ambiguous-self-join failure far from the cause.
      throw new IllegalArgumentException(
        s"Pin.fresh expects a pinned (LogicalRDD) frame, got ${other.nodeName}")
  }
}
