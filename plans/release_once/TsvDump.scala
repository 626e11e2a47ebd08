import org.apache.spark.sql.SparkSession
import graft.pdcm.PdcmEntities
import graft.pipeline.PipelineRunner
import graft.sources.PostgresTsv

/** Writes the release workload's two targets (COPY TSV) and their two
  * pdcm_api views (tab-separated) for a sorted-line identity check. */
object TsvDump {
  def main(args: Array[String]): Unit = {
    val Array(fixture, out) = args
    graft.tools.PdcmVolume.stage(fixture, 2, 40, 5000, 2000, 2000)
    val b = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4").config("spark.ui.enabled", "false")
    graft.Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ents = new PipelineRunner(spark, PdcmEntities.registry(),
      PdcmEntities.sources(spark, fixture)).run(Seq("mutation_data", "cna_data"))
    Seq("mutation_data", "cna_data").foreach(t => PostgresTsv.write(ents(t), s"$out/$t"))
    graft.api.PdcmApi.register(spark, ents)
    Seq("pdcm_api_mutation_data_table", "pdcm_api_cna_data_table").foreach(v =>
      spark.table(v).write.option("sep", "\t").option("nullValue", "\\N")
        .option("quoteAll", "true").csv(s"$out/$v"))
    spark.stop()
  }
}
