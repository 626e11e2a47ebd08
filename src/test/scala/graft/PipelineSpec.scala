package graft

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  private def pipelineThreads: Set[String] =
    Thread.getAllStackTraces.keySet.asScala.filter(t =>
      t.getName.startsWith("graft-pipeline-") && t.isAlive).map(_.getName).toSet

  test("a fan-out seam is computed once while its consumers build side by side") {
    val evals = spark.sparkContext.longAccumulator("seam row evaluations")
    val counted = udf { (k: Long) => evals.add(1); k }.asNondeterministic()
    val r = new EntityRegistry()
      .register(EntityDef("seam", Seq("ids"), (_, in) =>
        in("ids").select(counted($"id").as("k"), ($"id" % 7).as("g"))))
      .register(EntityDef("sevens", Seq("seam"), (_, in) => in("seam").filter($"g" === 0)))
      .register(EntityDef("evens", Seq("seam"), (_, in) => in("seam").filter($"k" % 2 === 0)))
    assert(spark.sparkContext.defaultParallelism >= 2)
    val out = new PipelineRunner(spark, r, Map("ids" -> spark.range(0, 4000, 1, 8).toDF()))
      .run(Seq("sevens", "evens"))
    // The seam was cut in its own worker, before its consumers started.
    assert(evals.sum == 4000, s"run evaluated the seam's 4000 rows ${evals.sum} times")
    // One action on each consumer, at the same time.
    val counts = Seq("sevens", "evens").map(t => Future(out(t).count()))
    assert(counts.map(Await.result(_, 2.minutes)) == Seq(572, 2000))
    assert(out("seam").count() == 4000)
    assert(evals.sum == 4000, s"the seam's 4000 rows were evaluated ${evals.sum} times")
  }

  test("a failing entity fails the run naming it, once every worker has stopped") {
    val badRow = udf { (k: Long) =>
      if (k == 7) throw new IllegalArgumentException("bad row 7"); k
    }
    val workers = new LinkedBlockingQueue[String]()
    // The failing entity is a target, so it is cut; one entity waits on it.
    def failingAt(failing: String) = new EntityRegistry()
      .register(EntityDef("ok", Seq("ids"), (_, in) => {
        workers.put(Thread.currentThread.getName)
        in("ids").withColumn("twice", $"id" * 2)
      }))
      .register(EntityDef("throws", Seq("ids"), (_, _) =>
        throw new IllegalStateException("no plan for this entity")))
      .register(EntityDef("failsJob", Seq("ids"), (_, in) => in("ids").select(badRow($"id"))))
      .register(EntityDef("downstream", Seq(failing), (_, in) => in(failing)))
    val ids = spark.range(0, 100, 1, 4).toDF()
    for ((target, cause) <- Seq("throws" -> "no plan for this entity", "failsJob" -> "bad row 7")) {
      val run = Future(new PipelineRunner(spark, failingAt(target), Map("ids" -> ids))
        .run(Seq("ok", target, "downstream")))
      val e = intercept[Exception](Await.result(run, 2.minutes))
      assert(e.getMessage.contains(s"entity '$target'") && e.getMessage.contains(cause), e.getMessage)
      assert(pipelineThreads.isEmpty, s"workers alive after run: $pipelineThreads")
    }
    assert(workers.asScala.nonEmpty && workers.asScala.forall(_.startsWith("graft-pipeline-")))
  }

  test("jobs the runner starts carry the caller's job group and local properties") {
    val probe = "graft.pipeline-spec.probe"
    val jobs = new LinkedBlockingQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put((e.properties.getProperty("spark.jobGroup.id"), e.properties.getProperty(probe)))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft-pipeline-spec", "runner jobs")
      sc.setLocalProperty(probe, "run")
      try new PipelineRunner(spark, registry(), Map("raw" -> raw)).run(Seq("fact", "helper"))
      finally {
        sc.clearJobGroup()
        sc.setLocalProperty(probe, null)
      }
      // Events reach the listener in posting order: every job of the run
      // has been seen once the sentinel's start is.
      sc.setLocalProperty(probe, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(probe, null)
      val seen = Iterator.continually(jobs.poll(60, TimeUnit.SECONDS))
        .map(j => Option(j).getOrElse(fail("the sentinel job was not seen")))
        .takeWhile(_._2 != "sentinel").toList
      assert(seen.size >= 2, "the run's two cuts started no job") // fact and helper
      assert(seen.forall(_ == (("graft-pipeline-spec", "run"))), seen)
    } finally sc.removeSparkListener(listener)
  }
}
