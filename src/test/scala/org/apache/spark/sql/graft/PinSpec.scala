package org.apache.spark.sql.graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.launcher.JavaModuleOptions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.RDDBlockId

import graft.SparkSpec
import graft.graph.{Closure, Hits, KCore, LabelPropagation, PageRank, ShortestPaths}
import graft.pipeline.{EntityDef, EntityRegistry, PipelineRunner}

/** The materialization policy: [[Pin]] is the only lineage cut, it builds
  * the plain `localCheckpoint` leaf on a local master, and on a non-local
  * master its cuts are replicated so they survive an executor loss.
  */
class PinSpec extends SparkSpec {

  test("lint: only Pin.scala calls localCheckpoint or checkpoint under src/main") {
    // Forked tests run in the build's base directory.
    val main = Paths.get(sys.props("user.dir"), "src", "main")
    assert(Files.isDirectory(main), s"no src/main under ${main.getParent.getParent}")
    val call = """\.(localCheckpoint|checkpoint)\s*\(""".r
    val files = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.size > 100, s"scanned only ${files.size} Scala files under $main")
    val hits = for {
      f <- files if !f.endsWith(Paths.get("org", "apache", "spark", "sql", "graft", "Pin.scala"))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if call.findFirstIn(line).nonEmpty
    } yield s"${main.relativize(f)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      s"lineage cuts must go through org.apache.spark.sql.graft.Pin:\n${hits.mkString("\n")}")
  }

  test("local master: Pin.cut is the localCheckpoint leaf, unreplicated") {
    val df = spark.range(0, 40, 1, 4).repartition(col("id"))
      .groupBy(col("id") % 5).count()
    val got = Pin.cut(df).queryExecution.analyzed
    val ref = df.localCheckpoint().queryExecution.analyzed
    (got, ref) match {
      case (g: LogicalRDD, r: LogicalRDD) =>
        assert(g.output == r.output && g.output == df.queryExecution.analyzed.output)
        assert(g.outputPartitioning == r.outputPartitioning)
        assert(g.outputOrdering == r.outputOrdering)
        assert(g.computeStats() == r.computeStats())
        assert(g.rdd.getStorageLevel == r.rdd.getStorageLevel)
        assert(g.rdd.getStorageLevel.replication == 1)
      case other => fail(s"expected two LogicalRDD leaves, got $other")
    }
  }

  test("non-local master: cuts replicate and survive the loss of an executor") {
    // The drill needs its own driver JVM: this one already owns the shared
    // local SparkContext, and a JVM holds one context at a time.
    val local = PinClusterDrill.launch("local[2]")
    val cluster = PinClusterDrill.launch("local-cluster[2,1,1024]")
    def field(out: Map[String, String], k: String) =
      out.getOrElse(k, fail(s"drill printed no '$k'; got ${out.keys.toSeq.sorted}"))

    for (k <- PinClusterDrill.results) {
      assert(field(local, k).nonEmpty, s"$k: empty result")
      assert(field(cluster, k) == field(local, k), s"$k: local-cluster rows differ from local[2]")
    }
    // Every cut leaf: planned level and blocks actually held.
    for (k <- PinClusterDrill.leaves) {
      assert(field(local, s"replication.$k") == "1", s"$k on local[2]")
      assert(field(cluster, s"replication.$k") == "2", s"$k on local-cluster")
      assert(field(local, s"replicas.$k") == "1", s"$k blocks on local[2]")
      assert(field(cluster, s"replicas.$k") == "2", s"$k blocks on local-cluster")
    }
    // One executor killed after the eager cut; everything downstream of a
    // cut still answers, from the surviving replicas.
    assert(field(cluster, "executors.after_kill") == "1")
    for (k <- PinClusterDrill.results)
      assert(field(cluster, s"$k.after_kill") == field(local, k),
        s"$k changed after the executor loss")
  }
}

/** Child-JVM half of [[PinSpec]]: runs the iterative graph operators
  * (PageRank, Hits, LabelPropagation, ShortestPaths, Closure, KCore), a 5-deep
  * `EntityPipeline` chain with a fan-out seam and a self-joining consumer,
  * and an eager cut, on the master given as `args(0)`; prints one
  * `drill\tkey\tvalue` line per observation. On a non-local master it
  * then kills one executor and re-runs every consumer.
  */
object PinClusterDrill {
  private val graphOps = Seq("pagerank", "hits", "labelprop", "paths", "closure", "kcore")
  val results = graphOps ++ Seq("pipeline", "cut")
  val leaves = graphOps ++ Seq("seam", "cut")

  /** Run the drill in a fresh JVM on `master`; returns key -> value. */
  def launch(master: String): Map[String, String] = {
    // Under spark.testing, local-cluster workers take their Spark home from
    // spark.test.home, executors inherit this JVM's classpath, and the
    // launcher reads the Scala version from SPARK_SCALA_VERSION (a binary
    // distribution has no build directories to infer it from).
    // Without SPARK_HOME: the install whose jars/ the build compiles against.
    val sparkHome = sys.env.getOrElse("SPARK_HOME", Paths.get(classOf[SparkContext]
      .getProtectionDomain.getCodeSource.getLocation.toURI).getParent.getParent.toString)
    val scalaBinary = scala.util.Properties.versionNumberString.split('.').take(2).mkString(".")
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val cmd = Seq(java, "-Xmx1g", "-cp", sys.props("java.class.path")) ++
      JavaModuleOptions.defaultModuleOptionArray() ++
      Seq("-Dspark.testing=true", s"-Dspark.test.home=$sparkHome",
        "-Dspark.ui.enabled=false", getClass.getName.stripSuffix("$"), master)
    val out = new StringBuilder
    val log = ProcessLogger(l => out.synchronized { out.append(l).append('\n'); () })
    val proc = Process(cmd, None, "SPARK_SCALA_VERSION" -> scalaBinary).run(log)
    val deadline = System.nanoTime() + 300L * 1000000000L
    while (proc.isAlive() && System.nanoTime() < deadline) Thread.sleep(200)
    if (proc.isAlive()) proc.destroy()
    val rc = proc.exitValue()
    val text = out.synchronized(out.toString)
    assert(rc == 0, s"drill on $master exited $rc:\n${text.takeRight(6000)}")
    text.linesIterator.filter(_.startsWith("drill\t")).map { l =>
      val Array(_, k, v) = l.split("\t", 3); k -> v
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master(args(0)).appName("pin-drill")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    try run(spark) finally spark.stop()
  }

  private def emit(k: String, v: Any): Unit = println(s"drill\t$k\t$v")

  private def rows(df: DataFrame): String =
    df.collect().map(_.toString).sorted.mkString(";")

  /** As [[rows]], but a failed job is reported, not thrown: after the
    * executor loss the spec should name the consumer that broke. */
  private def rowsOrError(df: DataFrame): String =
    scala.util.Try(rows(df)).fold(
      e => s"FAILED: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}",
      identity)

  /** The RDD holding each cut leaf's blocks (under [[Pin.named]]'s layer). */
  private def leafRdds(df: DataFrame) =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd match {
      case n: Pin.NamedRows => n.cut
      case r => r
    } }

  /** Planned replication and blocks actually held (min over partitions). */
  private def storage(k: String, df: DataFrame): Unit = {
    val rdds = leafRdds(df)
    require(rdds.nonEmpty, s"$k: no LogicalRDD leaf")
    emit(s"replication.$k", rdds.map(_.getStorageLevel.replication).distinct.mkString(","))
    val master = SparkEnv.get.blockManager.master
    emit(s"replicas.$k", rdds.flatMap(r => r.partitions.indices.map(p =>
      master.getLocations(RDDBlockId(r.id, p)).size)).min)
  }

  private def run(spark: SparkSession): Unit = {
    import spark.implicits._
    val sc = spark.sparkContext
    val wanted = if (sc.isLocal) 0 else 2
    waitFor(s"$wanted executors")(sc.getExecutorIds().size == wanted)

    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 2L), (5L, 4L),
      (5L, 1L), (6L, 5L)).toDF("src", "dst")
    val nodes = (1L to 6L).toDF("id")
    val pagerank = PageRank.run(edges, "src", "dst", nodes, "id")
      .select(col("node"), round(col("rank"), 8).as("rank"))
    val hits = Hits.run(edges, "src", "dst", iters = 4)
    val both = edges.unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
    val labelprop = LabelPropagation.run(both, "src", "dst", nodes, "id", rounds = 3)
    val paths = ShortestPaths.boundedHops(edges.withColumn("w", col("src") % 3 + 1),
      "src", "dst", "w", nodes.filter(col("id") === 6L), "id", rounds = 4)
    val closure = Closure.transitiveClosure(edges, "src", "dst")
    val kcore = KCore.peel(edges.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct(), "a", "b", k = 2, rounds = 3)

    val raw = spark.range(0, 300, 1, 4)
      .select(col("id").as("k"), (col("id") % 11).as("g"))
    val registry = new EntityRegistry()
      .register(EntityDef("a", Seq("raw"), (_, in) => in("raw").withColumn("v", col("k") * 3)))
      .register(EntityDef("b", Seq("a"), (_, in) => in("a").filter(col("v") % 2 === 0)))
      .register(EntityDef("seam", Seq("b"), (_, in) => in("b").groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s")), Seq("g", "n", "s")))
      .register(EntityDef("pairs", Seq("seam"), (_, in) => {
        val s = in("seam")
        s.as("x").join(s.as("y"), col("x.g") < col("y.g"))
          .select(col("x.g").as("g1"), col("y.g").as("g2"), (col("x.s") + col("y.s")).as("s"))
      }))
      .register(EntityDef("sizes", Seq("seam"), (_, in) => in("seam").select(col("g"), col("n"))))
      .register(EntityDef("out", Seq("pairs", "sizes"), (_, in) =>
        in("pairs").join(in("sizes"), col("g1") === col("g"))
          .select(col("g1"), col("g2"), col("s"), col("n"))))
    val built = new PipelineRunner(spark, registry, Map("raw" -> raw)).run(Seq("out"))
    val pipeline = built("out")

    val graphs = Seq("pagerank" -> pagerank, "hits" -> hits, "labelprop" -> labelprop,
      "paths" -> paths, "closure" -> closure, "kcore" -> kcore)
    val consumers = graphs :+ ("pipeline" -> pipeline)
    consumers.foreach { case (k, df) => emit(k, rows(df)) }
    graphs.foreach { case (k, df) => storage(k, df) }
    storage("seam", built("seam"))

    // Eager cut, then (non-local) lose an executor before its consumer runs.
    val cut = Pin.cut(raw.groupBy(col("g")).agg(sum(col("k")).as("t")))
    storage("cut", cut)
    val cutConsumer = cut.as("x").join(cut.as("y"), col("x.g") === (col("y.g") + 1) % 11)
      .select(col("x.g"), col("x.t"), col("y.t").as("prev"))
    if (!sc.isLocal) {
      // An executor holding the cut's first block: without replication
      // that block is lost with it, and the consumer must fail.
      val victim = SparkEnv.get.blockManager.master
        .getLocations(RDDBlockId(leafRdds(cut).head.id, 0)).map(_.executorId).min
      require(sc.killExecutor(victim), s"kill of executor $victim was refused")
      waitFor("the executor to be gone")(
        sc.getExecutorIds().size == 1 && sc.getExecutorMemoryStatus.size == 2)
      emit("executors.after_kill", sc.getExecutorIds().size)
    }
    emit("cut", rowsOrError(cutConsumer))
    if (!sc.isLocal) {
      (consumers :+ ("cut" -> cutConsumer)).foreach { case (k, df) =>
        emit(s"$k.after_kill", rowsOrError(df))
      }
    }
  }

  private def waitFor(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!cond) {
      require(System.nanoTime() < deadline, s"timed out waiting for $what")
      Thread.sleep(100)
    }
  }
}
