package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Dedup, Sampling}
import graft.sources.Snapshots

/** End-to-end training-corpus pipeline — the LLM-data path every tier
  * of this library exists for, composed as ONE lazy DAG:
  *
  *   quality filter → exact dedup → near-dup cluster (LSH + connected
  *   components, keep one representative) → exact duplicated-substring
  *   removal → sliding-window chunking → snapshot-versioned commit.
  *
  * Every stage is an operator from `graft.operators`/`graft.functions`
  * with its own oracle-checked query (q36, q30, q31/q72, q118, q99,
  * q103), so this example is wiring, not new semantics. Stage counts
  * come back for observability — each is a cheap aggregate on an
  * already-needed frame, the release-report pattern ([[graft.pdcm.Report]]).
  *
  * Scale notes: the only shuffles are the dedup groupBys, the LSH
  * band join, and the component iteration — all hash-partitioned and
  * candidate-bounded; the final commit is an append-only snapshot, so
  * a nightly re-run publishes a new version and the incremental feed
  * ([[Snapshots.readIncrement]]) hands downstream trainers exactly the
  * new chunks.
  */
object CorpusPipeline {

  def run(spark: SparkSession, sfDir: String, outDir: String): Seq[(String, Long)] = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))

    // 1. Heuristic quality gate (Gopher-style points; q36's scoring).
    val quality = docs
      .withColumn("q", Text.qualityScore(col("text"), Text.tokens(col("text"))))
      .filter(col("q") >= 50.0)
      .drop("q")

    // 2. Exact dedup: one content-hash groupBy, keep min id (q30).
    val exact = Dedup.exactDedup(quality, "doc_id", "text")

    // 3. Near-dup clustering: LSH candidates verified by true Jaccard
    //    (q31), clustered by min-label components (q72); keep each
    //    cluster's representative (the component label itself).
    val pairs = Dedup.minhashDuplicatePairs(exact, "doc_id", "text", threshold = 0.8)
    val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val dropIds = comps.filter(col("vertex") =!= col("component"))
      .select(col("vertex").as("doc_id"))
    val representative = exact.join(dropIds, Seq("doc_id"), "left_anti")

    // 4. Exact duplicated-substring removal (q118): canonical spans
    //    survive, later occurrences are deleted.
    val cleaned = Dedup.removeDuplicateSpans(representative, "doc_id", "text")
      .filter(length(col("cleaned_text")) > 0)
      .select(col("doc_id"), col("cleaned_text").as("text"))

    // 5. Sliding-window chunks sized for a training context (q99).
    val chunks = Sampling.slidingChunks(cleaned, "doc_id", "text",
      size = 256, overlap = 32)

    // 6. Snapshot commit: append-only version, incremental feed for free.
    Snapshots.reset(outDir)
    Snapshots.append(chunks, outDir, "doc_id", nFiles = 4)

    Seq(
      "input_docs" -> docs.count(),
      "after_quality" -> quality.count(),
      "after_exact_dedup" -> exact.count(),
      "near_dup_pairs" -> pairs.count(),
      "after_near_dedup" -> representative.count(),
      "after_span_removal" -> cleaned.count(),
      "chunks_committed" -> Snapshots.readSnapshot(spark, outDir, 1).count())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(graft.Tables.sfDir("0.001"))
    val outDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-corpus").toString + "/corpus")
    val spark = graft.Tables.localSession(graft.Tables.cores)
    run(spark, sfDir, outDir).foreach { case (stage, n) =>
      println(f"[corpus] $stage%-20s $n")
    }
    spark.stop()
  }
}
