package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.pdcm.PdcmEntities
import graft.pipeline.PipelineRunner

/** PDCM parity DAG at data volume (r11 verdict #2): q120/q466 replay
  * toy two-provider fixtures, but the reference's real workload is
  * dominated by molecular-data TSVs across ~55 providers
  * (`etl/sources.yaml:238-318`). This main stages a SCALED fixture —
  * the canonical toy providers PLUS `nProv` generated providers, each
  * with 10³–10⁴-row mutation/expression/cna files — runs the full
  * release (`PdcmEntities.releaseTargets`) through PipelineRunner, and
  * oracle-checks the q120 search_index and q295 view projections at
  * that scale by pointing the committed oracle CTE chain at the work dir.
  *
  * Deterministic: every value is index-derived (no RNG), so reruns
  * produce byte-identical fixtures and the oracle compare is a real
  * gate, not a flaky snapshot.
  *
  * Usage: `runMain graft.tools.PdcmVolume <workDir> <outDir> [nProv]`
  * then `python3 tools/check.py <anySfDir> <outDir>` for the oracle
  * rows; the timing record prints as one `[pdcm-volume]` JSON line.
  */
object PdcmVolume {

  private def w(p: String, c: String): Unit = {
    Files.createDirectories(Paths.get(p).getParent)
    Files.write(Paths.get(p), c.getBytes(StandardCharsets.UTF_8))
  }

  /** The generated gene universe: GENE0000..GENE1999 approved; the
    * first 500 also reachable through previous-symbol ALIAS%04d — so
    * harmonization exercises the direct, previous-symbol, and unknown
    * paths at volume.
    */
  private def markersTsv: String = {
    val sb = new StringBuilder("approved_symbol\tprevious_symbols\talias_symbols\n")
    for (g <- 0 until 2000) {
      val prev = if (g < 500) f"ALIAS$g%04d" else ""
      sb.append(f"GENE$g%04d\t$prev\t\n")
    }
    // the toy fixture's marker rows (provA still harmonizes identically)
    sb.append("BRCA1\tRNF53\t\nEGFR\tOLDNAME1,ERBB\t\nGENE1\tAMBIG\t\n")
      .append("GENE2\tAMBIG\tAMBIG\n")
    sb.toString
  }

  private val diagnoses = Seq(
    ("Lung Adenocarcinoma", "lung", "primary", Some("NCIT:C2926")),
    ("Breast Carcinoma", "breast", "metastatic", Some("NCIT:C9305")),
    ("Malignant Neoplasm", "colon", "primary", Some("NCIT:C9305")),
    ("Colon Cancer", "colon", "primary", None), // unmapped branch
    ("Childhood Neoplasm", "bone marrow", "primary", None)) // paediatric rename

  private val treatments =
    Seq("cisplatin", "doxorubicin", "paclitaxel", "cisplatin + paclitaxel",
      "vinblastine")

  /** One generated provider: nPat patients (1 sample + 1 model each),
    * nMut/nExp/nCna molecular rows spread across its samples.
    */
  private def stageProvider(root: String, p: Int, nPat: Int,
      nMut: Int, nExp: Int, nCna: Int): Unit = {
    val pv = f"prv$p%02d"
    def sym(k: Int): String = (k * 37 + p) % 2300 match {
      case g if g < 1800 => f"GENE$g%04d"            // approved
      case g if g < 2200 => f"ALIAS${(g - 1800)}%04d" // previous-symbol
      case g             => f"NOVEL$g%04d"            // unknown (miss path)
    }
    w(s"$root/$pv/source.yaml",
      s"provider_name: Volume Provider $p\nprovider_abbreviation: " +
        s"${pv.toUpperCase}\nprovider_type: academia\nproject: EurOPDX\n" +
        s"provider_description: generated volume provider $p\n")
    val pat = new StringBuilder(
      "patient_id\tsex\thistory\tethnicity\tethnicity_assessment_method\tage_at_initial_diagnosis\tinitial_diagnosis\n")
    val smp = new StringBuilder(
      "patient_id\tsample_id\tdiagnosis\ttumour_type\tprimary_site\tcollection_site\tage_in_years_at_collection\tcollection_date\tcollection_event\tcollection_method\tmonths_since_collection_1\tstage\tstaging_system\tgrade\tgrading_system\tvirology_status\tgene_mutation_status\tsharable\ttreatment_naive_at_collection\ttreated_at_collection\ttreated_prior_to_collection\tresponse_to_treatment\tmodel_id\n")
    val mdl = new StringBuilder(
      "model_id\thost_strain_name\thost_strain_nomenclature\tengraftment_site\tengraftment_type\tsample_type\tsample_state\tpassage_number\tpublications\texternal_ids\tparent_model_id\n")
    val shr = new StringBuilder(
      "model_id\taccessibility\teuropdx_access_modality\temail\tname\tform_url\tdatabase_url\tlicense\tdate_submitted\tmodel_availability\n")
    val mcs = new StringBuilder(
      "model_id\tsample_id\tsample_origin\tpassage\tplatform_id\n")
    val dd = new StringBuilder(
      "model_id\tpassage_range\ttreatment_name\ttreatment_dose\tadministration_route\ttreatment_schedule\ttreatment_length\ttreatment_response\tresponse_classification\n")
    val pt = new StringBuilder(
      "patient_id\ttreatment_name\ttreatment_dose\ttreatment_response\tresponse_classification\tmodel_id\n")
    val imm = new StringBuilder(
      "sample_id\tmarker_type\tmarker_name\tmarker_value\tessential_or_additional_details\tplatform_id\n")
    val bio = new StringBuilder(
      "sample_id\tsymbol\tbiomarker_status\tplatform_id\n")
    for (j <- 0 until nPat) {
      val (dx, site, tt, _) = diagnoses(j % diagnoses.length)
      val age = 20 + (j * 7 + p) % 60
      pat.append(s"P$j\t${if (j % 2 == 0) "Female" else "male"}\t\t" +
        s"${Seq("Hispanic", "Asian", "Not Provided")(j % 3)}\tself-assessed\t$age\t$dx\n")
      smp.append(s"P$j\tS$j\t$dx\t$tt\t$site\t$site\t$age\t" +
        s"2019-0${1 + j % 9}-0${1 + j % 9}\tdiagnosis\tbiopsy\t${j % 7}\t" +
        s"${Seq("II", "III", "IV")(j % 3)}\tTNM\t${1 + j % 3}\tWHO\tnegative\t" +
        s"tested\tyes\tyes\tno\tno\t${Seq("PD", "SD", "CR")(j % 3)}\tM$j\n")
      val parent = if (j % 5 == 4) s"M${j - 1}" else ""
      val pub = if (j % 4 == 0) s"PMID: ${10000000 + j}" else ""
      mdl.append(s"M$j\tNSG\tNOD.Cg-Prkdc<scid>\tflank\theterotopic\ttissue" +
        s"\tfresh\t${1 + j % 4}\t$pub\t\t$parent\n")
      shr.append(s"M$j\tacademia\ttransnational access\ta@b.c\tLab\t" +
        s"https://$pv.example/contact\t\tCC0\t2021-0${1 + j % 9}-02\tavailable\n")
      mcs.append(s"M$j\tS$j\tpatient\t0\tPL1\nM$j\tS$j\tpatient\t0\tPL2\n")
      dd.append(s"M$j\t1-2\t${treatments(j % treatments.length)}\t2mg\tiv\t" +
        s"weekly\t4 weeks\t${Seq("PD", "SD", "CR")(j % 3)}\tRECIST\n")
      pt.append(s"P$j\t${treatments((j + 1) % treatments.length)}\t1mg\t" +
        s"${Seq("CR", "SD")(j % 2)}\tRECIST\tM$j\n")
      imm.append(s"S$j\tHLA type\tHLA-A\tA*02:0${1 + j % 9}\t\tPL1\n")
      bio.append(s"S$j\t${sym(j)}\tpositive\tPL1\n")
    }
    w(s"$root/$pv/patient.tsv", pat.toString)
    w(s"$root/$pv/sample.tsv", smp.toString)
    w(s"$root/$pv/model.tsv", mdl.toString)
    w(s"$root/$pv/sharing.tsv", shr.toString)
    w(s"$root/$pv/molchar_sample.tsv", mcs.toString)
    w(s"$root/$pv/molchar_platform.tsv",
      "platform_id\tmolecular_characterisation_type\tinstrument_model\n" +
        "PL1\tmutation\tIllumina\nPL2\texpression\tIllumina\n")
    w(s"$root/$pv/drug-dosing.tsv", dd.toString)
    w(s"$root/$pv/patient-treatment.tsv", pt.toString)
    w(s"$root/$pv/immunemarker.tsv", imm.toString)
    w(s"$root/$pv/biomarker.tsv", bio.toString)
    // molecular volume: the verdict's 10^3-10^4-row files
    val mut = new StringBuilder(
      "sample_id\tsymbol\tbiotype\tamino_acid_change\tconsequence\tread_depth\tallele_frequency\tchromosome\tstrand\tseq_start_position\tref_allele\talt_allele\tensembl_gene_id\tncbi_gene_id\tplatform_id\n")
    for (k <- 0 until nMut)
      mut.append(s"S${k % nPat}\t${sym(k)}\tprotein_coding\t" +
        s"E${100 + k % 900}K\tmissense_variant\t${50 + k % 200}\t" +
        s"0.${10 + k % 80}\t${1 + k % 22}\t+\t${1000000 + k * 137}\tG\tA\t\t\tPL1\n")
    w(s"$root/$pv/mutation.tsv", mut.toString)
    val exp = new StringBuilder(
      "sample_id\tchromosome\tstrand\tseq_start_position\tseq_end_position\tsymbol\trnaseq_coverage\trnaseq_fpkm\trnaseq_tpm\trnaseq_count\tplatform_id\n")
    for (k <- 0 until nExp)
      exp.append(s"S${k % nPat}\t${1 + k % 22}\t+\t${1000000 + k * 211}\t" +
        s"${1050000 + k * 211}\t${sym(k + 7)}\t${80 + k % 20}.5\t" +
        s"${k % 40}.1\t${k % 60}.2\t${100 + k % 2000}\tPL2\n")
    w(s"$root/$pv/expression.tsv", exp.toString)
    val cna = new StringBuilder(
      "sample_id\tchromosome\tstrand\tseq_start_position\tseq_end_position\tsymbol\tlog10r_cna\tlog2r_cna\tcopy_number_status\tgistic_value\tplatform_id\n")
    for (k <- 0 until nCna)
      cna.append(s"S${k % nPat}\t${1 + k % 22}\t+\t${1000000 + k * 173}\t" +
        s"${1080000 + k * 173}\t${sym(k + 13)}\t-0.${10 + k % 40}\t" +
        s"-0.${k % 9}\t${Seq("loss", "gain", "neutral")(k % 3)}\t" +
        s"${k % 3 - 1}\tPL1\n")
    w(s"$root/$pv/cna.tsv", cna.toString)
  }

  /** Stage the full volume fixture: toy providers + shared ontology via
    * the canonical stager, then the generated providers and the
    * enlarged shared reference files.
    */
  def stage(root: String, nProv: Int, nPat: Int,
      nMut: Int, nExp: Int, nCna: Int): Unit = {
    graft.examples.PdcmFull.stageExampleProviders(root)
    for (p <- 0 until nProv) stageProvider(root, p, nPat, nMut, nExp, nCna)
    w(s"$root/markers.tsv", markersTsv)
    // mapping rules: the toy entries plus each generated provider's
    // curated diagnoses (rules are keyed by data_source)
    val gen = (0 until nProv).flatMap { p =>
      diagnoses.collect { case (dx, site, tt, Some(term)) =>
        s"""  {"data_source": "prv$p%02d", "diagnosis": "$dx",
           |   "primary_site": "$site", "tumour_type": "$tt",
           |   "mapped_term_id": "$term", "decision": "curated"}""".stripMargin
          .replace("$p%02d", f"$p%02d")
      }
    }
    val toy = Seq(
      """  {"data_source": "provA", "diagnosis": "Lung Adenocarcinoma",
        |   "primary_site": "lung", "tumour_type": "primary",
        |   "mapped_term_id": "NCIT:C2926", "decision": "curated"}""".stripMargin,
      """  {"data_source": "provA", "diagnosis": "Breast Carcinoma",
        |   "primary_site": "breast", "tumour_type": "metastatic",
        |   "mapped_term_id": "NCIT:C9305", "decision": "curated"}""".stripMargin)
    w(s"$root/diagnosis_mappings.json",
      (toy ++ gen).mkString("{\"mappings\": [\n", ",\n", "\n]}\n"))
  }

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("/tmp/pdcm_volume/fixtures")
    val outDir = args.lift(1).getOrElse("/tmp/pdcm_volume/out")
    val nProv = args.lift(2).map(_.toInt).getOrElse(12)
    val (nPat, nMut, nExp, nCna) = (40, 5000, 2000, 2000)
    stage(work, nProv, nPat, nMut, nExp, nCna)

    val spark = graft.Tables.localSession(graft.Tables.cores)
    val targets = PdcmEntities.releaseTargets
    val t0 = System.nanoTime()
    val ents = new PipelineRunner(spark, PdcmEntities.registry(),
      PdcmEntities.sources(spark, work)).run(targets)
    val counts = targets.map(t => t -> ents(t).count())
    val buildSec = (System.nanoTime() - t0) / 1e9

    // oracle rows: the committed q120/q295 contracts over this fixture
    new java.io.File(outDir).mkdirs()
    graft.QueriesPdcm.searchIndexProjection(ents("search_index"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/q120_search_index_e2e")
    graft.api.PdcmApi.register(spark, ents)
    spark.sql(
      """SELECT external_model_id, data_source,
         array_join(dataset_available, '|') AS dataset_available,
         model_dataset_type_count, paediatric, model_availability_boolean,
         array_join(model_availability_plus_commercial_availability, '|')
           AS availability_rollup,
         has_relations
         FROM pdcm_api_search_index_vw""")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/q295_search_index_flags")
    graft.Verify.writeOracleSql(outDir,
      graft.OraclePdcm.searchIndexSql(work) - "q466_registry_rebuild")

    val countJson = counts.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    println(s"""[pdcm-volume] {"providers":${nProv + 2},""" +
      s""""mut_rows_per_provider":$nMut,"exp_rows":$nExp,"cna_rows":$nCna,""" +
      s""""build_sec":${f"$buildSec%.1f"},"targets":${targets.size},""" +
      s""""counts":$countJson}""")
    spark.stop()
  }
}
