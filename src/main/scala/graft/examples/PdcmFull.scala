package graft.examples

import java.nio.file.{Files, Paths}
import graft.Tables
import graft.pdcm.PdcmEntities
import graft.pipeline.PipelineRunner
import graft.sources.PostgresTsv

/** Full PDCM entity DAG driven end-to-end: stages a two-provider fixture
  * (provB deliberately lacks every module except patients, exercising the
  * empty-input path), runs the release (`PdcmEntities.releaseTargets`)
  * through PipelineRunner, and writes COPY-ready TSV sinks.
  *
  * Run: sbt "runMain graft.examples.PdcmFull [workDir]"
  */
object PdcmFull {

  /** Two-provider example dataset matching PdcmEntities.rawSchemas. */
  def stageExampleProviders(root: String): String = {
    def w(p: String, c: String): Unit = {
      Files.createDirectories(Paths.get(p).getParent)
      Files.writeString(Paths.get(p), c)
    }
    w(s"$root/provA/source.yaml",
      "provider_name: Provider A Lab\nprovider_abbreviation: PRA\n" +
        "provider_type: academia\nproject: EurOPDX\n" +
        "provider_description: Example provider A\n")
    w(s"$root/provB/source.yaml",
      "provider_name: Provider B Bank\nprovider_abbreviation: PRB\n" +
        "provider_type: biobank\nproject: EurOPDX\n" +
        "provider_description: Example provider B\n")
    w(s"$root/provA/patient.tsv",
      "patient_id\tsex\thistory\tethnicity\tethnicity_assessment_method\tage_at_initial_diagnosis\tinitial_diagnosis\n" +
        "P1\tFemale\t\tHispanic\tself-assessed\t45\tLung Cancer\n" +
        "P2\tmale\t\tNot Provided\t\t61\tBreast Cancer\n")
    w(s"$root/provA/sample.tsv",
      "patient_id\tsample_id\tdiagnosis\ttumour_type\tprimary_site\tcollection_site\tage_in_years_at_collection\tcollection_date\tcollection_event\tcollection_method\tmonths_since_collection_1\tstage\tstaging_system\tgrade\tgrading_system\tvirology_status\tgene_mutation_status\tsharable\ttreatment_naive_at_collection\ttreated_at_collection\ttreated_prior_to_collection\tresponse_to_treatment\tmodel_id\n" +
        "P1\tS1\tLung Adenocarcinoma\tprimary\tlung\tlung\t45\t2019-05-01\tdiagnosis\tbiopsy\t0\tIII\tTNM\t2\tWHO\tnegative\ttested\tyes\tyes\tno\tno\tPD\tM1\n" +
        "P2\tS2\tBreast Carcinoma\tmetastatic\tbreast\tlymph node\t61\t2020-01-15\trelapse\tresection\t6\tIV\tTNM\t3\tWHO\tnegative\t\tno\tno\tyes\tyes\tSD\tM2\n" +
        // S3/M3: the paediatric fixture — unmapped "Childhood Neoplasm"
        // renames to histology "Childhood Cancer" and age-at-collection 8
        // bins to "2 - 9", so BOTH paediatric branches of the
        // search_index view CASE (views.sql:825-833) fire on it.
        "P2\tS3\tChildhood Neoplasm\tprimary\tbone marrow\tbone marrow\t8\t2021-06-01\tdiagnosis\tbiopsy\t1\t\t\t\t\t\t\tyes\tyes\tno\tno\t\tM3\n")
    w(s"$root/provA/model.tsv",
      "model_id\thost_strain_name\thost_strain_nomenclature\tengraftment_site\tengraftment_type\tsample_type\tsample_state\tpassage_number\tpublications\texternal_ids\tparent_model_id\n" +
        "M1\tNSG\tNOD.Cg-Prkdc<scid>\tflank\theterotopic\ttissue\tfresh\t2\t\tJAX:123\t\n" +
        "M2\tNOD\tNOD/ShiLtJ\tmammary\torthotopic\ttissue\tfrozen\t1\t\t\tM1\n" +
        // M3 (the paediatric model): carries a publication, so the
        // "publication" dataset_available append and the view's
        // model_dataset_type_count publication discount both exercise.
        "M3\tNSG\tNOD.Cg-Prkdc<scid>\tflank\theterotopic\ttissue\tfresh\t1\tPMID: 12345678\t\t\n")
    w(s"$root/provA/model_image.tsv",
      "model_id\turl\tdescription\tsample_type\tpassage\tmagnification\tstaining\n" +
        "M1\thttps://example.org/img/m1-he.png\tH&E \"section\"\ttissue\t2\t20x\tH&E\n" +
        "M1\thttps://example.org/img/m1-ihc.png\tIHC panel\ttissue\t2\t40x\tIHC\n" +
        "MX\thttps://example.org/img/orphan.png\torphan row drops\ttissue\t1\t10x\tH&E\n")
    w(s"$root/provA/image_study.tsv",
      "study_id\ttitle\tdescription\tlicence\tcontact\tsample_organism\tsample_description\timaging_instrument\timaging_method\n" +
        "ST1\tPDX histology\tHistology study\tCC0\ta@b.c\tmouse\txenograft sections\tAperio\tbrightfield\n")
    w(s"$root/provA/sharing.tsv",
      "model_id\taccessibility\teuropdx_access_modality\temail\tname\tform_url\tdatabase_url\tlicense\tdate_submitted\tmodel_availability\n" +
        "M1\tacademia\ttransnational access\ta@b.c\tLab\thttps://provider-a.example/contact\thttps://depmap.org/portal/cell_line/ACH-000123\tCC0\t2021-03-02\tavailable\n")
    w(s"$root/provA/cell_model.tsv",
      "model_id\tmodel_name\tmodel_name_aliases\ttype\tgrowth_properties\tgrowth_media\tmedia_id\tparent_id\torigin_patient_sample_id\tpublications\tplate_coating\tsupplier\tsupplier_type\tcatalog_number\tvendor_link\trrid\n" +
        "M2\tHCC-1954\tHCC1954,H-1954\tcell line\tadherent\tRPMI-1640\tMED1\t\tS2\t\tnone\tATCC\tcommercial\tCRL-2338\thttps://www.atcc.org/products/crl-2338\tCVCL_1259\n")
    w(s"$root/provA/immunemarker.tsv",
      "sample_id\tmarker_type\tmarker_name\tmarker_value\tessential_or_additional_details\tplatform_id\n" +
        "S1\tHLA type\tHLA-A\tA*02:01\t\tPL1\n" +
        "S1\tModel Genomics\tTMB\t7.2\tmutations per megabase\tPL1\n")
    w(s"$root/provA/model_validation.tsv",
      "model_id\tvalidation_technique\tdescription\tpassages_tested\n" +
        "M1\tIHC\tdesc\t1,2\nM1\tSTR\tdesc2\t3\n")
    w(s"$root/provA/drug-dosing.tsv",
      "model_id\tpassage_range\ttreatment_name\ttreatment_dose\tadministration_route\ttreatment_schedule\ttreatment_length\ttreatment_response\tresponse_classification\n" +
        "M1\t2-4\tcisplatin + paclitaxel\t2mg + 5mg\tiv\tweekly\t4 weeks\tPD\tRECIST\n" +
        "M2\t1\tbadsplit + twodrugs\tonlyonedose\tiv\tdaily\t2 weeks\tSD\tRECIST\n")
    w(s"$root/provA/patient-treatment.tsv",
      "patient_id\ttreatment_name\ttreatment_dose\ttreatment_response\tresponse_classification\tmodel_id\n" +
        "P1\tdoxorubicin\t1mg\tCR\tRECIST\tM1\n")
    w(s"$root/provA/molchar_sample.tsv",
      "model_id\tsample_id\tsample_origin\tpassage\tplatform_id\n" +
        "M1\tS1\tpatient\t0\tPL1\nM1\tS1\tpatient\t0\tPL2\n" +
        "M1\tS1X\txenograft\t2\tPL1\nM1\tS1C\tcell\t0\tPL2\n")
    w(s"$root/provA/molchar_platform.tsv",
      "platform_id\tmolecular_characterisation_type\tinstrument_model\n" +
        "PL1\tmutation\tIllumina\nPL2\texpression\tIllumina\n")
    w(s"$root/provA/mutation.tsv",
      "sample_id\tsymbol\tbiotype\tamino_acid_change\tconsequence\tread_depth\tallele_frequency\tchromosome\tstrand\tseq_start_position\tref_allele\talt_allele\tensembl_gene_id\tncbi_gene_id\tplatform_id\n" +
        "S1\tBRCA1\tprotein_coding\tE1234K\tmissense_variant\t120\t0.42\t17\t+\t43044295\tG\tA\tENSG00000012048\t672\tPL1\n" +
        "S1\tOLDNAME1\tprotein_coding\tL858R\tmissense_variant\t88\t0.31\t7\t+\t55019017\tT\tG\t\t\tPL1\n" +
        "S1\tAMBIG\t\t\t\t\t\t1\t+\t100\tA\tC\t\t\tPL1\n" +
        "S1\tTOTALLYUNKNOWN\t\t\t\t\t\t2\t-\t200\tC\tT\t\t\tPL1\n")
    w(s"$root/provA/expression.tsv",
      "sample_id\tchromosome\tstrand\tseq_start_position\tseq_end_position\tsymbol\trnaseq_coverage\trnaseq_fpkm\trnaseq_tpm\trnaseq_count\tplatform_id\n" +
        "S1\t17\t+\t43044295\t43125364\tBRCA1\t98.2\t8.1\t12.5\t1042\tPL2\n" +
        "S1\t7\t+\t55019017\t55211628\tOLDNAME1\t91.0\t2.0\t3.3\t410\tPL2\n")
    w(s"$root/provA/cna.tsv",
      "sample_id\tchromosome\tstrand\tseq_start_position\tseq_end_position\tsymbol\tlog10r_cna\tlog2r_cna\tcopy_number_status\tgistic_value\tplatform_id\n" +
        "S1\t17\t+\t43044295\t43125364\tBRCA1\t-0.21\t-0.7\tloss\t-1\tPL1\n")
    w(s"$root/provA/biomarker.tsv",
      "sample_id\tsymbol\tbiomarker_status\tplatform_id\n" +
        "S1\tBRCA1\tpositive\tPL1\n" +
        "S1\tERBB2\tPositive\tPL1\n" +
        "S1\tMSI\tUnstable\tPL1\n" +
        "S1\tHLA-A\tA*02:01\tPL1\n")
    w(s"$root/markers.tsv",
      "approved_symbol\tprevious_symbols\talias_symbols\n" +
        "BRCA1\tRNF53\t\n" +
        "EGFR\tOLDNAME1,ERBB\t\n" +
        "GENE1\tAMBIG\t\n" +
        "GENE2\tAMBIG\tAMBIG\n")
    // provB: only patients — every other module exercises the
    // empty-input fallback for this provider.
    w(s"$root/provB/patient.tsv",
      "patient_id\tsex\thistory\tethnicity\tethnicity_assessment_method\tage_at_initial_diagnosis\tinitial_diagnosis\n" +
        "P9\tfemale\t\tAsian\t\t33\tColon Cancer\n")
    // provB reuses the EXTERNAL model id "M1" (model ids are only unique
    // per provider) — guards against cross-provider treatment bleed.
    w(s"$root/provB/drug-dosing.tsv",
      "model_id\tpassage_range\ttreatment_name\ttreatment_dose\tadministration_route\ttreatment_schedule\ttreatment_length\ttreatment_response\tresponse_classification\n" +
        "M1\t1\tvinblastine\t3mg\tiv\tdaily\t1 week\tCR\tRECIST\n")
    // Shared ontology inputs: a miniature NCIt with diagnosis
    // (C3262→C9305→C4878→C2926), treatment (C1909→{C376,C1411}) and
    // regimen (C12218→C11197) branches, ontolia regimen links, and the
    // curated 4-key diagnosis mapping rules.
    w(s"$root/ncit.obo",
      """[Term]
        |id: NCIT:C3262
        |name: Neoplasm
        |
        |[Term]
        |id: NCIT:C9305
        |name: Malignant Neoplasm
        |is_a: NCIT:C3262 ! Neoplasm
        |
        |[Term]
        |id: NCIT:C3270
        |name: Malignant Respiratory Tract Neoplasm
        |is_a: NCIT:C9305 ! Malignant Neoplasm
        |
        |[Term]
        |id: NCIT:C4878
        |name: Malignant  Lung   Neoplasm
        |is_a: NCIT:C3270 ! Malignant Respiratory Tract Neoplasm
        |
        |[Term]
        |id: NCIT:C2926
        |name: Lung Adenocarcinoma
        |is_a: NCIT:C4878 ! Malignant Lung Neoplasm
        |
        |[Term]
        |id: NCIT:C1909
        |name: Pharmacologic Substance
        |
        |[Term]
        |id: NCIT:C483
        |name: Chemotherapeutic Agent
        |is_a: NCIT:C1909 ! Pharmacologic Substance
        |
        |[Term]
        |id: NCIT:C376
        |name: Cisplatin
        |is_a: NCIT:C483 ! Chemotherapeutic Agent
        |
        |[Term]
        |id: NCIT:C1411
        |name: Paclitaxel
        |is_a: NCIT:C1909 ! Pharmacologic Substance
        |
        |[Term]
        |id: NCIT:C12218
        |name: Therapeutic Procedure Root
        |
        |[Term]
        |id: NCIT:C11197
        |name: Cisplatin/Paclitaxel Regimen
        |is_a: NCIT:C12218 ! Therapeutic Procedure Root
        |""".stripMargin)
    w(s"$root/ontolia.txt",
      "NCIT:C11197=NCIT:C376, NCIT:C1411\n")
    // Offline treatment→ChEMBL lookup (global file; one mapped and one
    // unmapped treatment resolve, paclitaxel deliberately has no row).
    w(s"$root/chembl_lookup.tsv",
      "name\tchembl_id\ncisplatin\tCHEMBL11359\ndoxorubicin\tCHEMBL53463\n")
    // Downloaded external-resource CSV (S12): variant entries keyed
    // "<symbol> <position>".
    w(s"$root/externalDBs/cosmic.csv",
      "entry_id,entry\nCOSM1,BRCA1 43044295\n")
    // referenceLookup files for the per-row molecular external_db_links:
    // Gene entries keyed by harmonized symbol; Variant entries keyed
    // "<symbol> <amino_acid_change>" (EGFR L858R matches the harmonised
    // OLDNAME1 mutation row; BRCA1's E1234K deliberately has no variant
    // entry, so it gets a gene link only).
    w(s"$root/externalDBs/civic_genes.csv",
      "entry_id,entry\nBRCA1,BRCA1\nEGFR,EGFR\n")
    w(s"$root/externalDBs/civic_variants.csv",
      "entry_id,entry\n12,EGFR L858R\n")
    w(s"$root/diagnosis_mappings.json",
      """{"mappings": [
        |  {"data_source": "provA", "diagnosis": "Lung Adenocarcinoma",
        |   "primary_site": "lung", "tumour_type": "primary",
        |   "mapped_term_id": "NCIT:C2926", "decision": "curated"},
        |  {"data_source": "provA", "diagnosis": "Breast Carcinoma",
        |   "primary_site": "breast", "tumour_type": "metastatic",
        |   "mapped_term_id": "NCIT:C9305", "decision": "curated"}
        |]}
        |""".stripMargin)
    root
  }

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      Files.createTempDirectory("pdcm-full").toString)
    stageExampleProviders(work)
    val spark = Tables.localSession(Tables.cores)

    val out = new PipelineRunner(spark, PdcmEntities.registry(),
      PdcmEntities.sources(spark, work)).run(PdcmEntities.releaseTargets)
    out.foreach { case (name, df) =>
      PostgresTsv.write(df, s"$work/out/$name")
    }
    println(s"[pdcm-full] work=$work " +
      out.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${v.count()}" }.mkString(" "))
    out("search_index").show(truncate = false)
    spark.stop()
  }
}
