package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pipeline.{EntityDef, EntityRegistry, PipelineRunner}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def registry() = new EntityRegistry()
    .register(EntityDef("dim", Seq("raw"),
      (_, in) => in("raw").select($"k").distinct().withColumn("id", xxhash64($"k")),
      outputColumns = Seq("id", "k")))
    .register(EntityDef("helper", Seq("raw"),
      (_, in) => in("raw").groupBy($"k").agg(count(lit(1)).as("n"))))
    .register(EntityDef("fact", Seq("raw", "dim", "helper"),
      (_, in) => in("raw")
        .join(in("dim"), Seq("k"))
        .join(in("helper"), Seq("k")),
      outputColumns = Seq("k", "v", "id", "n")))

  private val raw = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")

  test("corpus pipeline example: stages compose, counts monotone, snapshot committed") {
    val out = java.nio.file.Files
      .createTempDirectory("graft-corpus-spec").toString + "/corpus"
    val counts = graft.examples.CorpusPipeline.run(spark, sfDir, out).toMap
    assert(counts("input_docs") > 0)
    // Each dedup stage can only shrink the corpus.
    assert(counts("after_quality") <= counts("input_docs"))
    assert(counts("after_exact_dedup") <= counts("after_quality"))
    assert(counts("after_near_dedup") <= counts("after_exact_dedup"))
    assert(counts("after_span_removal") <= counts("after_near_dedup"))
    // Near-dup clustering actually fired on this corpus and the kept
    // set excludes every non-representative.
    assert(counts("near_dup_pairs") > 0)
    assert(counts("after_near_dedup") < counts("after_exact_dedup"))
    // The committed snapshot is readable and chunk counts cover docs.
    assert(counts("chunks_committed") >= counts("after_span_removal"))
    assert(graft.sources.Snapshots.currentVersion(out) == 1)
  }

  test("topological order respects deps and detects cycles") {
    val r = registry()
    val order = r.topoOrder(Seq("fact"), Set("raw"))
    assert(order.indexOf("dim") < order.indexOf("fact"))
    assert(order.indexOf("helper") < order.indexOf("fact"))
    val cyclic = new EntityRegistry()
      .register(EntityDef("a", Seq("b"), (_, _) => raw))
      .register(EntityDef("b", Seq("a"), (_, _) => raw))
    val e = intercept[IllegalStateException](cyclic.topoOrder(Seq("a"), Set()))
    assert(e.getMessage.contains("cycle"))
  }

  test("run materializes targets with enforced contracts") {
    val out = new PipelineRunner(spark, registry(), Map("raw" -> raw)).run(Seq("fact"))
    assert(out("fact").columns.toSeq == Seq("k", "v", "id", "n"))
    assert(out("fact").count() == 3)
    assert(out("dim").count() == 2)
  }

  test("checkpointed entities are reused on re-run (Luigi-style resume)") {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val r1 = new PipelineRunner(spark, registry(), Map("raw" -> raw), Some(dir))
    assert(r1.run(Seq("fact"))("fact").count() == 3)
    // Second run with DIFFERENT source data: checkpointed entities must be
    // read back, not recomputed (fact/dim come from disk; only a cleared
    // checkpoint would pick up the new source).
    val raw2 = Seq(("z", 9)).toDF("k", "v")
    val r2 = new PipelineRunner(spark, registry(), Map("raw" -> raw2), Some(dir))
    assert(r2.run(Seq("fact"))("fact").count() == 3)
  }

  test("targets and fan-out seams are cut; a released target fails naming the entity") {
    import org.apache.spark.sql.execution.LogicalRDD
    def isCut(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.isInstanceOf[LogicalRDD]
    val runner = new PipelineRunner(spark, registry(), Map("raw" -> raw))
    val out = runner.run(Seq("fact", "helper"))
    // helper is a target; dim has one consumer and is not.
    assert(isCut(out("fact")) && isCut(out("helper")) && !isCut(out("dim")))
    assert(out("fact").collect().length == 3) // the first action materializes the cut
    runner.unpersistAll()
    val e = intercept[Exception](out("fact").collect())
    assert(e.getMessage.contains("entity 'fact'"), e.getMessage)
  }

  test("missing input fails with the entity that needs it") {
    val e = intercept[NoSuchElementException](
      new PipelineRunner(spark, registry(), Map.empty).run(Seq("dim")))
    assert(e.getMessage.contains("raw") && e.getMessage.contains("dim"))
  }
}
