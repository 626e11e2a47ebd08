import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.LogicalRDD
import graft.pdcm.PdcmEntities
import graft.pipeline.PipelineRunner

/** The plan-shape predicate of PdcmEntitiesSpec, printed instead of asserted. */
object JoinCount {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = graft.examples.PdcmFull.stageExampleProviders(
      java.nio.file.Files.createTempDirectory("jc").toString)
    val registry = PdcmEntities.registry()
    val src = PdcmEntities.sources(spark, root)
    val ents = new PipelineRunner(spark, registry, src).run(Seq("mutation_data", "cna_data"))
    val gm = ents("gene_marker").queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
    def readsLookup(p: LogicalPlan) =
      p.find { case l: LogicalRDD => l.rdd eq gm; case _ => false }.nonEmpty &&
        p.find(_.isInstanceOf[Join]).isEmpty
    val d = registry("mutation_data")
    val plan = d.transform(spark, d.deps.map(n => n -> ents.getOrElse(n, src(n))).toMap)
      .queryExecution.optimizedPlan
    val all = plan.collect { case j: Join => j }
    val lookupJoins = all.filter(_.children.exists(readsLookup))
    val touching = all.filter(_.children.exists(c => c.find { case l: LogicalRDD => l.rdd eq gm; case _ => false }.nonEmpty))
    println(s"joincount all=${all.size} lookup=${lookupJoins.size} touching_gm=${touching.size}")
    graft.api.PdcmApi.register(spark, ents)
    val vj = spark.table("pdcm_api_mutation_data_table").queryExecution.optimizedPlan.collect { case j: Join => j.joinType }
    println(s"joincount view=$vj")
    spark.stop()
  }
}
