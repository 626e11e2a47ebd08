package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.api.PdcmApi
import graft.pdcm.PdcmEntities
import graft.pipeline.PipelineRunner
import graft.sources.PostgresTsv

/** The paper's job: provider files in, PDCM entities written in the
  * reference's COPY format, the target's `pdcm_api` view materialized.
  */
object Release {

  /** The released entities: the molecular path (provider TSVs →
    * harmonized rows) is where the release's row volume is. The two
    * targets share `gene_marker` and `molecular_characterization`, so the
    * runner's fan-out seams run. Larger target sets do not fit a run: one
    * cold build of the 32 `PdcmVolume` targets with their views takes
    * minutes.
    */
  val Targets: Seq[String] = Seq("mutation_data", "cna_data")
  /** The API views over the targets that the release materializes. */
  val Views: Seq[String] = Seq("pdcm_api_mutation_data_table", "pdcm_api_cna_data_table")

  /** Fixture size: generated providers and rows per molecular file. */
  val Providers = 2
  val Patients = 40
  val MutRows = 5000
  val ExpRows = 2000
  val CnaRows = 2000

  private def dirBytes(p: Path): Long =
    Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  /** Rows written under a TSV output directory. */
  def lineCount(dir: String): Long =
    Files.list(Paths.get(dir)).iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(f => Files.readAllBytes(f).count(_ == '\n').toLong).sum

  /** One cold build per JVM, as production runs it: sources, the entity
    * DAG, every target written in the COPY format, the API registered and
    * its view over the target materialized, caches dropped.
    */
  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val tr = ctx.tracer
    val fixture = s"${ctx.work}/fixture"
    val out = s"${ctx.work}/tsv"
    val (spark, setupS) = Main.setup(ctx)(_ => PdcmVolume.stage(fixture))
    val fixtureBytes = dirBytes(Paths.get(fixture))

    val heap0 = Layers.heapBefore(ctx)
    val m0 = Layers.jvmMark()
    Main.note("cold build")
    o.attempted += 1
    val t0 = System.nanoTime()
    val ents = try tr.span("release", "sample") {
      val src = tr.span("sources", "sources")(PdcmEntities.sources(spark, fixture))
      val runner = new PipelineRunner(spark, PdcmEntities.registry(), src)
      val ents = tr.span("pipeline.run", "pipeline")(runner.run(Targets))
      Targets.foreach { t =>
        tr.span(s"write.$t", "pipeline")(PostgresTsv.write(ents(t), s"$out/$t"))
      }
      val views = tr.span("api.register", "api")(PdcmApi.register(spark, ents))
        .filter(Views.contains)
      views.foreach(v => tr.span(s"view.$v", "api")(Main.noop(spark.table(v))))
      ctx.recorder.foreach(_ => Layers.snapshotStorage(spark, o, "pipeline"))
      o.info("views") = views.size.toString
      Some((ents, runner))
    } catch { case e: Throwable => o.fail("release", e); None }
    val t1 = System.nanoTime()
    val m1 = Layers.jvmMark()
    Layers.heapAfter(heap0, o)

    Main.note("check")
    ents.foreach { case (e, runner) =>
      o.sampleWindows += ((t0, t1))
      // Untimed check: the TSVs hold exactly the entity's rows. run.py
      // checks them against the provider files.
      Targets.foreach { t =>
        val (tsv, rows) = (lineCount(s"$out/$t"), e(t).count())
        o.info(s"rows.$t") = tsv.toString
        if (tsv != rows) o.mismatches += s"$t: tsv $tsv rows, entity $rows"
      }
      runner.unpersistAll()
    }
    val secs = Main.seconds(t0, t1)
    o.metrics("setup_s") = (setupS, "s")
    o.metrics("latency_p50_ms") = (secs * 1000, "ms")
    o.metrics("latency_p90_ms") = (secs * 1000, "ms")
    o.metrics("throughput_per_s") = (Targets.flatMap(t => o.info.get(s"rows.$t"))
      .map(_.toDouble).sum / secs, "1/s")
    o.info("fixture_bytes") = fixtureBytes.toString
    o.info("sample_mean_s") = secs.toString
    ctx.recorder.foreach(r => Layers.fill(ctx, r, spark, o, m0, m1, fixtureBytes))
    Main.stop(spark)
    o
  }
}

/** Stages the release fixture with graft's own volume generator. */
object PdcmVolume {
  def stage(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p))
      Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.delete)
    graft.tools.PdcmVolume.stage(root, Release.Providers, Release.Patients,
      Release.MutRows, Release.ExpRows, Release.CnaRows)
  }
}
