package graft

import java.nio.file.{Files, Paths}
import graft.pdcm.PdcmEntities
import graft.pipeline.PipelineRunner

class PdcmEntitiesSpec extends SparkSpec {
  import spark.implicits._

  private def stage(): String =
    graft.examples.PdcmFull.stageExampleProviders(
      Files.createTempDirectory("pdcm-entities").toString)

  lazy val out: Map[String, org.apache.spark.sql.DataFrame] = {
    val root = stage()
    new PipelineRunner(spark, PdcmEntities.registry(),
      PdcmEntities.sources(spark, root))
      .run(Seq("search_index", "search_facet", "treatment_protocol",
        "quality_assurance", "mutation_data", "nodes", "edges",
        "model_relationships", "knowledge_graph", "report",
        "ontology_term_diagnosis", "ontology_term_treatment",
        "ontology_term_regimen", "sample_to_ontology", "regimen_to_treatment",
        "treatment_by_model", "treatment", "treatment_component",
        "model_links", "molecular_data_links",
        "model_metadata", "available_molecular_data_columns",
        "expression_data", "cna_data", "biomarker_data", "immunemarker_data",
        "host_strain", "engraftment_site", "engraftment_type",
        "xenograft_model_specimen", "provider_group", "project_group",
        "contact_people", "publication_group", "model_image", "image_study",
        "engraftment_sample_state", "response_classification", "response",
        "contact_form", "source_database", "molecular_data_restriction"))
  }

  test("formulaic dim fan-out: model/treatment/sharing/platform/static dims") {
    val dims = new PipelineRunner(spark, PdcmEntities.registry(),
      PdcmEntities.sources(spark, stage()))
      .run(Seq("host_strain", "engraftment_site", "engraftment_type",
        "engraftment_sample_type", "response", "accessibility_group",
        "platform", "license", "molecular_characterization_type",
        "xenograft_model_specimen", "provider_group", "contact_people",
        "publication_group"))
    assert(dims("host_strain").select("name").as[String].collect().sorted.toSeq ==
      Seq("NOD", "NSG"))
    assert(dims("engraftment_site").count() == 2) // flank, mammary
    assert(dims("response").select("name").as[String].collect().sorted.toSeq ==
      Seq("CR", "PD", "SD"))
    assert(dims("accessibility_group").count() == 1)
    assert(dims("platform").count() == 2)
    assert(dims("license").count() == 2)
    assert(dims("molecular_characterization_type").count() == 5)
    val spec = dims("xenograft_model_specimen")
    assert(spec.count() == 3) // M1, M2, M3 (the paediatric fixture model)
    assert(spec.filter($"model_fk".isNull || $"host_strain_id".isNull ||
      $"engraftment_site_id".isNull || $"engraftment_type_id".isNull)
      .count() == 0)
    // provider_group from the S6 YAML module with dim FKs.
    val pg = dims("provider_group").orderBy("provider_abbreviation")
    assert(pg.select("name").as[String].collect().toSeq ==
      Seq("Provider A Lab", "Provider B Bank"))
    assert(pg.filter($"provider_type_id".isNull ||
      $"project_group_id".isNull).count() == 0)
    assert(dims("contact_people").count() == 1) // only provA sharing has contact
    assert(dims("publication_group").count() == 1) // M3 carries the one pub
  }

  test("dims and patient entity: clean, dedup, FK-resolved") {
    assert(out("ethnicity").select("name").as[String].collect().sorted.toSeq ==
      Seq("Asian", "Hispanic"))
    val patients = out("patient")
    assert(patients.count() == 3)
    val p2 = patients.filter($"patient_id" === "P2").head()
    assert(p2.getAs[String]("sex") == "male")
    assert(p2.isNullAt(p2.fieldIndex("ethnicity_id"))) // Not Provided -> null FK
  }

  test("patient_sample links patient and dims across providers") {
    val ps = out("patient_sample")
    assert(ps.count() == 3) // S1, S2, S3 (paediatric)
    assert(ps.filter($"patient_fk".isNull).count() == 0)
    assert(out("tissue").count() == 3) // lung, breast, bone marrow
  }

  test("model joins sharing; missing sharing leaves nulls") {
    val m = out("model_entity").orderBy("model_id")
    val rows = m.select("model_id", "license").as[(String, String)].collect()
    // M3 (paediatric fixture) has no sharing row -> null license.
    assert(rows.toSeq == Seq(("M1", "CC0"), ("M2", null), ("M3", null)))
  }

  test("treatment_protocol splits matched name/dose lists, drops mismatches") {
    val tp = out("treatment_protocol")
    val names = tp.select("treatment_name").as[String].collect().sorted.toSeq
    assert(names == Seq("cisplatin", "doxorubicin", "paclitaxel", "vinblastine"))
    assert(tp.filter($"treatment_name" === "badsplit").count() == 0)
  }

  test("quality_assurance builds a JSON array column") {
    val qa = out("quality_assurance").filter($"model_id" === "M1")
      .select("validation_json").as[String].head()
    assert(qa.startsWith("[{") && qa.contains("\"technique\":\"IHC\"")
      && qa.contains("\"technique\":\"STR\""))
  }

  test("search_index aggregates dataset_available with data score") {
    val si = out("search_index").filter($"patient_sample_id" === "S1").head()
    // Sorted molchar kinds, then the reference's appended flags
    // (model_metadata_transformer_job.py:237-266): M1 has harmonised
    // model treatments, its patient treatments list is EMPTY (doxorubicin
    // has no ontology match — empty ≠ absent, no flag), publications are
    // blank → only "model treatment" appends.
    assert(si.getSeq[String](si.fieldIndex("dataset_available")).toSeq ==
      Seq("expression", "mutation", "model treatment"))
    // 3 of the 7 possible dataset kinds (data_calculator.py:8-9).
    assert(si.getAs[Int]("data_score") == 42)
  }

  test("scoring and facets: weighted metadata score, sorted facet options") {
    val si = out("search_index").filter($"patient_sample_id" === "S1").head()
    // All four weighted columns populated -> 100.
    assert(si.getAs[Int]("metadata_score") == 100)
    // Full reference facet registry (facets.py): 28 definitions.
    val facets = out("search_facet")
    assert(facets.count() == 28)
    val sexOptions = facets.filter($"facet_column" === "patient_sex").head()
    assert(sexOptions.getSeq[String](sexOptions.fieldIndex("facet_options"))
      .toSeq == Seq("female", "male"))
    // Array columns explode into scalar options.
    val mut = facets.filter($"facet_column" === "markers_with_mutation_data").head()
    assert(mut.getSeq[String](mut.fieldIndex("facet_options")).toSeq ==
      Seq("BRCA1", "EGFR", "GENE2"))
    // Static boolean filters carry configured options, no data scan.
    val avail = facets.filter($"facet_column" === "model_availability_boolean").head()
    assert(avail.getBoolean(avail.fieldIndex("is_boolean")))
    assert(avail.getSeq[String](avail.fieldIndex("facet_options")).toSeq ==
      Seq("Available for distribution=true"))
  }

  test("search_index: histology rename, search_terms, cancer_system, age bin") {
    val si = out("search_index").filter($"patient_sample_id" === "S1").head()
    assert(si.getAs[String]("histology") == "Lung Adenocarcinoma")
    assert(si.getSeq[String](si.fieldIndex("search_terms")).toSeq ==
      Seq("Lung Adenocarcinoma", "Lung Cancer", "Respiratory Tract Cancer"))
    assert(si.getAs[String]("cancer_system") == "Respiratory Tract Cancer")
    assert(si.getAs[String]("patient_age_category") == "40 - 49")
    assert(si.getAs[String]("patient_ethnicity") == "Hispanic")
    assert(si.getAs[String]("model_type") == "tissue")
    // S2 maps to C9305 "Malignant Neoplasm" -> display rename "Cancer";
    // its search_terms intersect no system -> Unclassified.
    val s2 = out("search_index").filter($"patient_sample_id" === "S2").head()
    assert(s2.getAs[String]("histology") == "Cancer")
    assert(s2.getAs[String]("cancer_system") == "Unclassified")
  }

  test("search_index: molecular markers, breast/MSI/HLA biomarkers, treatments") {
    val si = out("search_index").filter($"patient_sample_id" === "S1").head()
    assert(si.getSeq[String](si.fieldIndex("markers_with_mutation_data")).toSeq ==
      Seq("BRCA1", "EGFR", "GENE2"))
    assert(si.getSeq[String](si.fieldIndex("markers_with_expression_data")).toSeq ==
      Seq("BRCA1", "EGFR"))
    assert(si.getSeq[String](si.fieldIndex("breast_cancer_biomarkers")).toSeq ==
      Seq("HER2/ERBB2 positive"))
    assert(si.getSeq[String](si.fieldIndex("msi_status")).toSeq == Seq("Unstable"))
    assert(si.getSeq[String](si.fieldIndex("hla_types")).toSeq == Seq("HLA-A"))
    assert(si.getSeq[String](si.fieldIndex("model_treatments")).toSeq ==
      Seq("cisplatin", "cisplatin/paclitaxel regimen", "paclitaxel"))
    assert(si.getAs[String]("quality_assurance").startsWith("[{"))
    assert(si.getAs[String]("external_db_links").contains("DepMap"))
  }

  test("search_index: stage/grade/collection passthrough columns") {
    val s1 = out("search_index").filter($"patient_sample_id" === "S1").head()
    assert(s1.getAs[String]("cancer_stage") == "III")
    assert(s1.getAs[String]("cancer_staging_system") == "TNM")
    assert(s1.getAs[String]("cancer_grade") == "2")
    assert(s1.getAs[String]("patient_sample_collection_method") == "biopsy")
    assert(s1.getAs[String]("patient_sample_treatment_naive_at_collection") == "yes")
  }

  test("search_index: cell-model sheet columns joined for cell-line models") {
    val s2 = out("search_index").filter($"patient_sample_id" === "S2").head()
    assert(s2.getAs[String]("model_name") == "HCC-1954")
    assert(s2.getSeq[String](s2.fieldIndex("model_name_aliases")).toSeq ==
      Seq("HCC1954", "H-1954"))
    assert(s2.getAs[String]("growth_properties") == "adherent")
    // PDX model M1 has no cell sheet -> nulls / empty aliases.
    val s1 = out("search_index").filter($"patient_sample_id" === "S1").head()
    assert(s1.isNullAt(s1.fieldIndex("model_name")))
    assert(s1.getSeq[String](s1.fieldIndex("model_name_aliases")).isEmpty)
  }

  test("model_image: FK'd to model core, orphan image rows drop") {
    val mi = out("model_image")
    assert(mi.count() == 2) // MX orphan dropped by the inner FK join
    assert(mi.filter($"model_fk".isNull).count() == 0)
    assert(mi.select("model_id").distinct().as[String].collect().toSeq ==
      Seq("M1"))
    assert(out("image_study").count() == 1)
  }

  test("search_index: 67-column reference contract closed") {
    val si = out("search_index")
    // Every column of the reference contract
    // (entities_registry.py:623-691) must be present.
    val contract = Seq("pdcm_model_id", "external_model_id", "data_source",
      "project_name", "provider_name", "model_type", "supplier",
      "supplier_type", "catalog_number", "vendor_link", "rrid",
      "external_ids", "histology", "search_terms", "cancer_system",
      "dataset_available", "license_name", "license_url", "primary_site",
      "collection_site", "tumour_type", "cancer_grade",
      "cancer_grading_system", "cancer_stage", "cancer_staging_system",
      "patient_id", "patient_age", "patient_age_category", "patient_sex",
      "patient_history", "patient_ethnicity",
      "patient_ethnicity_assessment_method", "patient_initial_diagnosis",
      "patient_age_at_initial_diagnosis", "patient_sample_id",
      "patient_sample_collection_date", "patient_sample_collection_event",
      "patient_sample_collection_method",
      "patient_sample_months_since_collection_1",
      "patient_sample_gene_mutation_status",
      "patient_sample_virology_status", "patient_sample_sharable",
      "patient_sample_treatment_naive_at_collection",
      "patient_sample_treated_at_collection",
      "patient_sample_treated_prior_to_collection",
      "patient_sample_response_to_treatment", "pdx_model_publications",
      "quality_assurance", "xenograft_model_specimens", "model_images",
      "markers_with_cna_data", "markers_with_mutation_data",
      "markers_with_expression_data", "markers_with_biomarker_data",
      "breast_cancer_biomarkers", "msi_status", "hla_types",
      "patient_treatments", "patient_treatments_responses",
      "model_treatments", "model_treatments_responses",
      "custom_treatment_type_list", "raw_data_resources",
      "cancer_annotation_resources", "model_availability",
      "date_submitted", "scores")
    val missing = contract.filterNot(si.columns.contains)
    assert(missing.isEmpty, s"missing contract columns: $missing")

    val s1 = si.filter($"patient_sample_id" === "S1").head()
    assert(s1.getAs[String]("provider_name") == "Provider A Lab")
    assert(s1.getAs[String]("project_name") == "EurOPDX")
    assert(s1.getAs[String]("external_ids") == "JAX:123")
    // license dim supplies the URL for the sharing sheet's license name.
    assert(s1.getAs[String]("license_url") ==
      "https://creativecommons.org/publicdomain/zero/1.0/")
    // patient_age is the BINNED age at collection (45 -> 40-49).
    assert(s1.getAs[String]("patient_age") == "40 - 49")
    assert(s1.getAs[String]("patient_ethnicity_assessment_method") ==
      "self-assessed")
    assert(s1.getAs[String]("patient_initial_diagnosis") == "Lung Cancer")
    assert(s1.getAs[String]("patient_sample_months_since_collection_1") == "0")
    assert(s1.getAs[String]("patient_sample_sharable") == "yes")
    assert(s1.getAs[String]("patient_sample_treated_at_collection") == "no")
    assert(s1.getAs[String]("patient_sample_treated_prior_to_collection") == "no")
    // specimens JSON from the specimen entity (to_json escaping).
    val specs = s1.getAs[String]("xenograft_model_specimens")
    assert(specs.contains("\"host_strain_name\":\"NSG\"") &&
      specs.contains("\"engraftment_sample_state\":\"fresh\""))
    // model_images JSON: the embedded double quote must be escaped.
    val imgs = s1.getAs[String]("model_images")
    assert(imgs.contains("m1-he.png") && imgs.contains("\\\"section\\\""))
    // raw-data resources from the S11 inline registry (DepMap id link).
    assert(s1.getSeq[String](s1.fieldIndex("raw_data_resources")).toSeq ==
      Seq("DepMap"))
    // annotation resources from the COSMIC variant-link join.
    assert(s1.getSeq[String](s1.fieldIndex("cancer_annotation_resources"))
      .toSeq == Seq("COSMIC"))
    // scores JSON mirrors the two score columns.
    val scores = s1.getAs[String]("scores")
    assert(scores.contains("\"pdx_metadata_score\":") &&
      scores.contains("\"data_score\":"))
  }

  test("small dims: sample state, response classification, contact/source URLs") {
    assert(out("engraftment_sample_state").select("name").as[String]
      .collect().sorted.toSeq == Seq("fresh", "frozen"))
    assert(out("response_classification").select("name").as[String]
      .collect().toSeq == Seq("RECIST"))
    assert(out("source_database").select("database_url").as[String]
      .collect().toSeq ==
      Seq("https://depmap.org/portal/cell_line/ACH-000123"))
    assert(out("contact_form").select("form_url").as[String]
      .collect().toSeq == Seq("https://provider-a.example/contact"))
    assert(out("molecular_data_restriction").count() == 0) // default config
    // The model core carries per-URL FKs into both dims (reference
    // model_transformer_job.py:112-120); models without a sharing row
    // (M2) stay null.
    val m = out("model_entity")
      .select($"model_id", $"contact_form_id", $"source_database_id")
      .collect().map(r => r.getString(0) -> (r.get(1), r.get(2))).toMap
    assert(m("M1")._1 == out("contact_form").select("id").head().get(0))
    assert(m("M1")._2 == out("source_database").select("id").head().get(0))
    assert(m("M2") == ((null, null)))
  }

  test("model_metadata: concat-built JSON object per model") {
    val mm = out("model_metadata").filter($"external_model_id" === "M1").head()
    val json = mm.getAs[String]("metadata_json")
    assert(json.startsWith("{\"external_model_id\":\"M1\""))
    assert(json.contains("\"quality_assurance\":[{"))
    assert(json.contains("\"external_db_links\":[{"))
    // model_metadata re-sorts the list, so the appended flag interleaves.
    assert(mm.getSeq[String](mm.fieldIndex("dataset_available")).toSeq ==
      Seq("expression", "model treatment", "mutation"))
  }

  test("link generation: template expansion and id-pattern resolution") {
    import graft.pdcm.Links
    val df = Seq("ACH-000123", "CVCL_1J07", "rs12345", "unknown-id").toDF("external_id")
    val resolved = Links.resolveIdLinks(df, "external_id")
      .select("external_id", "resource", "link")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(resolved == Seq(
      ("ACH-000123", "DepMap", "https://depmap.org/portal/cell_line/ACH-000123"),
      ("CVCL_1J07", "Cellosaurus", "https://www.cellosaurus.org/CVCL_1J07"),
      ("rs12345", "dbSNP", "https://www.ncbi.nlm.nih.gov/snp/rs12345"),
      ("unknown-id", null, null)))
    val ri = Links.releaseInfo(spark, "r1", Seq("provA", "provB"))
    assert(ri.count() == 1 && ri.columns.toSeq == Seq("name", "date", "providers"))
  }

  test("mutation_data: gene-symbol waterfall + molchar FK") {
    val md = out("mutation_data")
    val bySymbol = md.select("symbol", "harmonized_symbol", "match_stage")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(bySymbol("BRCA1") == (("BRCA1", "approved")))
    assert(bySymbol("OLDNAME1") == (("EGFR", "previous")))
    // AMBIG: two approved symbols claim it as previous (ambiguous), one
    // as alias -> claimed by the alias stage.
    assert(bySymbol("AMBIG") == (("GENE2", "alias")))
    assert(bySymbol("TOTALLYUNKNOWN") == ((null, null)))
    assert(md.filter($"molchar_id".isNotNull).count() == 4) // S1/PL1 exists
  }

  test("release plan shape: one harmonization join, targets cut, views scan the cut") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.LogicalRDD
    val registry = PdcmEntities.registry()
    val src = PdcmEntities.sources(spark, stage())
    val ents = new PipelineRunner(spark, registry, src).run(Seq("mutation_data", "cna_data"))
    def leaf(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l.rdd)
      case _ => None
    }
    // Both targets and the shared gene_marker are cut; a single-consumer
    // intermediate is not.
    Seq("mutation_data", "cna_data", "gene_marker").foreach(t =>
      assert(leaf(ents(t)).nonEmpty, s"$t is not a LogicalRDD leaf"))
    assert(leaf(ents("patient")).isEmpty, "patient (one consumer) was cut")
    // mutation_data's own plan over its inputs: the gene_marker lookup
    // meets the fact side in exactly one join.
    val d = registry("mutation_data")
    val gm = leaf(ents("gene_marker")).get
    def readsLookup(p: LogicalPlan) =
      p.find { case l: LogicalRDD => l.rdd eq gm; case _ => false }.nonEmpty &&
        p.find(_.isInstanceOf[Join]).isEmpty
    val plan = d.transform(spark, d.deps.map(n => n -> ents.getOrElse(n, src(n))).toMap)
      .queryExecution.optimizedPlan
    assert(plan.collect { case j: Join if j.children.exists(readsLookup) => j }.size == 1)
    // The API view scans the cut: its only join is the restriction anti-join.
    graft.api.PdcmApi.register(spark, ents)
    val joins = spark.table("pdcm_api_mutation_data_table").queryExecution.optimizedPlan
      .collect { case j: Join => j.joinType }
    assert(joins == Seq(LeftAnti), s"joins below the view: $joins")
  }

  test("ontology branches: roots excluded, ancestors within branch, names squeezed") {
    val diag = out("ontology_term_diagnosis")
    val byId = diag.select("term_id", "term_name", "ancestors")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    // Branch = descendants of the roots; C3262 itself is excluded but
    // C9305 stays (it is a descendant of C3262).
    assert(!byId.contains("NCIT:C3262"))
    assert(byId.keySet ==
      Set("NCIT:C9305", "NCIT:C3270", "NCIT:C4878", "NCIT:C2926"))
    // Whitespace squeeze on the doubled-space fixture name.
    assert(byId("NCIT:C4878")._1 == "Malignant Lung Neoplasm")
    // Ancestors restricted to the branch (C3262 not listed), pipe-joined.
    assert(byId("NCIT:C2926")._2 ==
      "Malignant Lung Neoplasm|Malignant Neoplasm|Malignant Respiratory Tract Neoplasm")
    assert(byId("NCIT:C9305")._2 == "")
    assert(out("ontology_term_treatment").count() == 3) // C483, C376, C1411
    assert(out("ontology_term_regimen").count() == 1)   // C11197
  }

  test("sample_to_ontology: 4-key mapping join resolves term FKs") {
    val so = out("sample_to_ontology").orderBy("sample_id")
    val rows = so.select("sample_id", "mapped_term_id", "term_name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(rows == Seq(
      ("S1", "NCIT:C2926", "Lung Adenocarcinoma"),
      ("S2", "NCIT:C9305", "Malignant Neoplasm"),
      ("S3", null, null))) // S3's "Childhood Neoplasm" is deliberately unmapped
    assert(so.filter($"ontology_term_id".isNull && $"sample_id" =!= "S3")
      .count() == 0)
  }

  test("regimen_to_treatment: ontolia links resolve both ontology FKs") {
    val rt = out("regimen_to_treatment")
    assert(rt.count() == 2)
    assert(rt.filter($"regimen_ontology_id".isNull ||
      $"treatment_ontology_id".isNull).count() == 0)
    assert(rt.select("treatment_term_id").as[String].collect().sorted.toSeq ==
      Seq("NCIT:C1411", "NCIT:C376"))
  }

  test("treatment_by_model: regimen discovery via sorted-array equality, outer model/patient join") {
    val tbm = out("treatment_by_model")
    // provA/M1 + provB/M1 (same EXTERNAL id, different providers);
    // M2's only protocol was a dropped mismatch.
    assert(tbm.count() == 2)
    // Providers sharing an external model id must NOT cross-contaminate:
    // provB's vinblastine protocol (no ontology match -> empty treatment
    // list, response CR survives) stays out of provA's aggregates.
    val m1b = tbm.filter($"model_id" === "M1" && $"data_source" === "provB").head()
    assert(m1b.getSeq[String](m1b.fieldIndex("model_treatments")).isEmpty)
    assert(m1b.getSeq[String](m1b.fieldIndex("model_treatments_responses")).toSeq
      == Seq("CR"))
    val m1 = tbm.filter($"model_id" === "M1" && $"data_source" === "provA").head()
    // Direct components + the DISCOVERED regimen (sorted [Cisplatin,
    // Paclitaxel] == the regimen's component list).
    assert(m1.getSeq[String](m1.fieldIndex("model_treatments")).toSeq ==
      Seq("cisplatin", "cisplatin/paclitaxel regimen", "paclitaxel"))
    assert(m1.getSeq[String](m1.fieldIndex("model_treatments_responses")).toSeq ==
      Seq("PD"))
    // Patient side: doxorubicin has no ontology match -> empty treatments,
    // but the response survives via the protocol join.
    assert(m1.getSeq[String](m1.fieldIndex("patient_treatments")).isEmpty)
    assert(m1.getSeq[String](m1.fieldIndex("patient_treatments_responses")).toSeq ==
      Seq("CR"))
    // Cisplatin's ancestor "Chemotherapeutic Agent" classifies the type.
    assert(m1.getSeq[String](m1.fieldIndex("treatment_types")).toSeq ==
      Seq("Chemotherapy"))
  }

  test("molecular_characterization: three origins, per-origin sample FKs") {
    val mc = out("molecular_characterization")
    assert(mc.count() == 4)
    val byOrigin = mc.groupBy("sample_origin").count()
      .as[(String, Long)].collect().toMap
    assert(byOrigin == Map("patient" -> 2L, "xenograft" -> 1L, "cell" -> 1L))
    assert(mc.filter($"sample_origin" === "patient" &&
      $"patient_sample_id".isNull).count() == 0)
    val xeno = mc.filter($"sample_origin" === "xenograft").head()
    assert(!xeno.isNullAt(xeno.fieldIndex("xenograft_sample_id")))
    assert(xeno.isNullAt(xeno.fieldIndex("patient_sample_id")))
    val cell = mc.filter($"sample_origin" === "cell").head()
    assert(!cell.isNullAt(cell.fieldIndex("cell_sample_id")))
    // Dedicated sample entities exist with composite keys.
    assert(out("xenograft_sample").count() == 1)
    assert(out("cell_sample").count() == 1)
  }

  test("model_links: S11 registry filters inline id-pattern links to JSON") {
    val ml = out("model_links")
    assert(ml.count() == 1) // only M1's sharing URL carries a known id
    val json = ml.filter($"model_id" === "M1").select("links_json").as[String].head()
    assert(json ==
      """[{"resource":"DepMap","link":"https://depmap.org/portal/cell_line/ACH-000123"}]""")
  }

  test("molecular_data_links: S12 downloaded entries join on the concat key") {
    val mdl = out("molecular_data_links")
    val brca = mdl.filter($"symbol" === "BRCA1").head()
    assert(brca.getAs[String]("resource") == "COSMIC")
    assert(brca.getAs[String]("link") ==
      "https://cancer.sanger.ac.uk/cosmic/search?q=COSM1")
    assert(mdl.filter($"symbol" =!= "BRCA1" && $"resource".isNotNull).count() == 0)
  }

  test("treatment entity: harmonised terms, aliases, offline chembl links; component FKs") {
    val t = out("treatment")
    // Mapped components surface as ONE global row per term, raw
    // spellings as aliases.
    val cis = t.filter($"name" === "Cisplatin").head()
    assert(cis.getAs[String]("term_id") == "NCIT:C376")
    assert(cis.getSeq[String](cis.fieldIndex("aliases")).toSeq == Seq("cisplatin"))
    assert(cis.getAs[String]("external_db_links").contains("CHEMBL11359"))
    assert(cis.getAs[String]("external_db_links").contains("\"resource\":\"ChEMBL\""))
    // Unmapped raw name keeps its spelling, no term, but still links.
    val dox = t.filter($"name" === "doxorubicin").head()
    assert(dox.isNullAt(dox.fieldIndex("term_id")))
    assert(dox.getAs[String]("external_db_links").contains("CHEMBL53463"))
    // Mapped but absent from the lookup -> no links column (API-miss
    // semantics).
    val pac = t.filter($"name" === "Paclitaxel").head()
    assert(pac.getAs[String]("term_id") == "NCIT:C1411")
    assert(pac.isNullAt(pac.fieldIndex("external_db_links")))
    // Every protocol component resolves its treatment FK.
    val tc = out("treatment_component")
    assert(tc.count() >= 3) // cisplatin, paclitaxel, doxorubicin
    assert(tc.filter($"treatment_id".isNull).count() == 0)
  }

  test("model_relationships + knowledge_graph: trees and patient-rooted subgraph") {
    // M1 is the root of the provA family, M2 its child (model.tsv
    // parent_model_id) — the nested JSON mirrors updates.sql:1-39.
    // r12: the entity is (external_model_id, data_source)-keyed — ids
    // are provider-local, so the lineage carries its scope column.
    val rel = out("model_relationships")
      .select("external_model_id", "data_source", "model_relationships",
        "has_relations")
      .orderBy("external_model_id").collect()
    assert(rel.map(_.getString(0)).toSeq == Seq("M1", "M2", "M3"))
    assert(rel.map(_.getString(1)).distinct.toSeq == Seq("provA"))
    assert(rel.map(_.getBoolean(3)).toSeq == Seq(true, true, false),
      "M1/M2 related; standalone M3 is not")
    assert(rel(0).getString(2) ==
      """{"parents":null,"children":[{"external_model_id":"M2","type":"tissue","children":null}]}""")
    assert(rel(1).getString(2) ==
      """{"parents":[{"external_model_id":"M1","type":"tissue","parents":null}],"children":null}""")
    // Every model resolves to a patient-rooted subgraph carrying all
    // three edge kinds (patient->sample->model plus the parent link).
    val kg = out("knowledge_graph")
    assert(kg.count() == 3 && kg.filter($"knowledge_graph".isNull).count() == 0)
    val g1 = kg.filter($"external_model_id" === "M1").head().getString(2)
    for (want <- Seq("\"node_type\":\"patient\"", "patient_sample",
        "sample_model", "parent_model", "\"model_id\":\"M2\""))
      assert(g1.contains(want), s"M1 graph missing $want: $g1")
    // The API view exposes all three enrichment columns.
    graft.api.PdcmApi.register(spark, out)
    val mi = spark.sql(
      """SELECT external_model_id, has_relations, model_relationships,
         knowledge_graph FROM pdcm_api_model_information
         ORDER BY external_model_id""").collect()
    assert(mi.map(_.getBoolean(1)).toSeq == Seq(true, true, false))
    assert(mi.forall(r => r.getString(2) != null && r.getString(3) != null))
  }

  test("release report: record counts, provider splits, null-FK audit") {
    val rep = out("report")
    val byTable = rep.filter($"report_type" === "records_by_table")
      .collect().map(r => r.getString(1) -> r.getString(2).toLong).toMap
    assert(byTable("model_entity") == 3 && byTable("patient") == 3)
    assert(byTable.contains("search_index") && byTable.contains("edges"))
    // Provider split: provA has 2 patients, provB has 1.
    val byProv = rep.filter($"report_type" === "records_by_provider")
      .collect().map(r => r.getString(1) -> r.getString(2).toLong).toMap
    assert(byProv("patient:provA") == 2 && byProv("patient:provB") == 1)
    // The null-FK audit reports only non-zero counts (reports.sql:126)
    // and flags real holes, e.g. provB's patients carry no ethnicity FK
    // resolution targets... every reported row must be > 0.
    val fkRows = rep.filter($"report_type" === "fk_null_values").collect()
    assert(fkRows.forall(_.getString(2).toLong > 0))
    // model_entity: provB has no sharing rows, so M2's contact_form FK
    // is null somewhere in the audit OR the audit is empty — either
    // way the section schema holds.
    assert(rep.columns.toSeq ==
      Seq("report_type", "report_key", "report_value"))
  }

  test("data-overview cohort views: panel-filtered molecular cohorts") {
    // The two views the reference disables on cluster runs
    // (data_visualization_views.sql:7,46) — gene panel ∩ fixture =
    // BRCA1 + harmonised EGFR (from OLDNAME1); unknown/ambiguous
    // symbols and off-panel genes drop out.
    graft.api.PdcmApi.register(spark, out)
    val mut = spark.sql(
      """SELECT symbol, provider, type, cancer_system
         FROM pdcm_api_data_overview_mutation_cohorts ORDER BY symbol""")
      .collect()
    assert(mut.map(_.getString(0)).toSeq == Seq("BRCA1", "EGFR"))
    assert(mut.forall(r => r.getString(3) != "Unclassified" &&
      r.getString(3) != null))
    val ex = spark.sql(
      """SELECT symbol, rnaseq_fpkm, rnaseq_fpkm_log
         FROM pdcm_api_data_overview_expression_cohorts ORDER BY symbol""")
      .collect()
    assert(ex.map(_.getString(0)).toSeq == Seq("BRCA1", "EGFR"))
    val log1 = ex(0).getDouble(2) // log2(8.1 + 0.001)
    assert(log1 > 3.01 && log1 < 3.03, s"unexpected log value $log1")
  }

  test("pdcm_api view surface: derived views answer search queries") {
    val names = graft.api.PdcmApi.register(spark, out)
    assert(names.size >= 45, s"only ${names.size} views registered: $names")
    assert(spark.sql(
      "SELECT name FROM pdcm_api_provider_group_vw ORDER BY name")
      .as[String].collect().toSeq ==
      Seq("Provider A Lab", "Provider B Bank"))
    assert(spark.sql(
      "SELECT model_name FROM pdcm_api_cell_model_vw WHERE external_model_id = 'M2'")
      .as[String].head() == "HCC-1954")
    assert(spark.sql(
      "SELECT marker_value FROM pdcm_api_immunemarker_data_table WHERE marker_name = 'HLA-A'")
      .as[String].head() == "A*02:01")
    assert(spark.sql(
      "SELECT count(*) FROM pdcm_api_immunemarker_data_table WHERE molecular_characterization_id IS NULL")
      .as[Long].head() == 0)
    assert(spark.sql(
      "SELECT count FROM pdcm_api_models_by_cancer WHERE histology = 'Lung Adenocarcinoma'")
      .as[Long].head() == 1)
    assert(spark.sql(
      "SELECT mutated_gene FROM pdcm_api_models_by_mutated_gene ORDER BY mutated_gene")
      .as[String].collect().toSeq == Seq("BRCA1", "EGFR", "GENE2"))
    assert(spark.sql(
      "SELECT hgnc_symbol FROM pdcm_api_mutation_data_table WHERE non_harmonised_symbol = 'OLDNAME1'")
      .as[String].head() == "EGFR")
    // Unharmonised symbols fall back to the raw symbol.
    assert(spark.sql(
      "SELECT hgnc_symbol FROM pdcm_api_mutation_data_table WHERE non_harmonised_symbol = 'TOTALLYUNKNOWN'")
      .as[String].head() == "TOTALLYUNKNOWN")
    assert(spark.sql("SELECT * FROM pdcm_api_model_information").count() == 3)
    assert(spark.sql(
      "SELECT treatment FROM pdcm_api_dosing_studies ORDER BY treatment")
      .as[String].collect().toSeq ==
      Seq("cisplatin", "cisplatin/paclitaxel regimen", "paclitaxel"))
    // The molecular-data restriction table hides a provider's table.
    val restricted = Seq(("provA", "mutation_measurement_data"))
      .toDF("data_source", "molecular_data_table")
    graft.api.PdcmApi.register(spark,
      out + ("molecular_data_restriction" -> restricted))
    assert(spark.sql("SELECT * FROM pdcm_api_mutation_data_table").count() == 0)
    assert(spark.sql("SELECT * FROM pdcm_api_expression_data_table").count() > 0)
    // A NULL restriction row must NOT empty the views (NOT EXISTS, not
    // NOT IN — NULL would poison every row of a NOT IN filter).
    val withNull = Seq((null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("data_source", "molecular_data_table")
    graft.api.PdcmApi.register(spark,
      out + ("molecular_data_restriction" -> withNull))
    assert(spark.sql("SELECT * FROM pdcm_api_mutation_data_table").count() > 0)
    graft.api.PdcmApi.register(spark, out) // restore unrestricted views
  }

  test("molecular *_data_table views: external_db_links + row-as-text (views.sql:377-380)") {
    graft.api.PdcmApi.register(spark, out)
    // Harmonised EGFR row links gene AND variant (civic fixture pair).
    val egfr = spark.sql(
      """SELECT external_db_links, text FROM pdcm_api_mutation_data_table
         WHERE non_harmonised_symbol = 'OLDNAME1'""").head()
    val links = egfr.getString(0)
    assert(links.contains("\"column\":\"hgnc_symbol\""), links)
    assert(links.contains("https://civicdb.org/links/entrez_name/EGFR"), links)
    assert(links.contains("\"column\":\"amino_acid_change\""), links)
    assert(links.contains("idtype=variant&id=12"), links)
    // The text haystack renders the projected row "(v1,v2,…)" with
    // nulls empty — the free-text-filter contract of (row)::text.
    val text = egfr.getString(1)
    assert(text.startsWith("(") && text.endsWith(")"), text)
    assert(text.contains("EGFR") && text.contains("L858R") &&
      text.contains("provA"), text)
    // BRCA1: gene link only (E1234K has no civic variant entry).
    val brca = spark.sql(
      """SELECT external_db_links FROM pdcm_api_mutation_data_table
         WHERE non_harmonised_symbol = 'BRCA1'""").as[String].head()
    assert(brca.contains("entrez_name/BRCA1") &&
      !brca.contains("amino_acid_change"), brca)
    // Unharmonised rows carry no links but still render a text tuple
    // (NULL → empty string inside the tuple).
    val unk = spark.sql(
      """SELECT external_db_links, text FROM pdcm_api_mutation_data_table
         WHERE non_harmonised_symbol = 'TOTALLYUNKNOWN'""").head()
    assert(unk.isNullAt(0))
    assert(unk.getString(1).contains("TOTALLYUNKNOWN"))
    // Expression and CNA project the same pair off the shared
    // molecularTable path.
    assert(spark.sql(
      """SELECT external_db_links FROM pdcm_api_expression_data_table
         WHERE non_harmonised_symbol = 'BRCA1'""").as[String].head()
      .contains("entrez_name/BRCA1"))
    assert(spark.sql(
      """SELECT external_db_links FROM pdcm_api_cna_data_table
         WHERE non_harmonised_symbol = 'BRCA1'""").as[String].head()
      .contains("entrez_name/BRCA1"))
    // Biomarker renames the JSON "column" to biomarker via the
    // reference's string REPLACE (views.sql:594) and the symbol pair to
    // biomarker/result.
    val bio = spark.sql(
      """SELECT external_db_links, result FROM pdcm_api_biomarker_data_table
         WHERE non_harmonised_symbol = 'BRCA1'""").head()
    assert(bio.getString(0).contains("\"column\":\"biomarker\"") &&
      !bio.getString(0).contains("hgnc_symbol"), bio.getString(0))
    assert(bio.getString(1) == "positive")
  }

  test("search_index view: every declared facet column resolves; paediatric CASE") {
    graft.api.PdcmApi.register(spark, out)
    val view = spark.sql("SELECT * FROM pdcm_api_search_index_vw")
    // EVERY facet in the registry (facets.py / PdcmEntities.ReferenceFacets)
    // must point at a real column of the search surface — the round-7
    // defect was facet 8 ("Paediatric Models") declaring column
    // `paediatric` while the view was a bare SELECT *.
    val cols = view.columns.toSet
    for (f <- PdcmEntities.ReferenceFacets if f.column.nonEmpty)
      assert(cols.contains(f.column), s"facet ${f.index} (${f.name}) column ${f.column}")
    // The paediatric CASE (views.sql:825-833): M3's "Childhood Cancer"
    // histology + "2 - 9" age bin fire it; M1/M2 stay adult.
    assert(spark.sql(
      """SELECT external_model_id FROM pdcm_api_search_index_vw
         WHERE paediatric = true""").as[String].collect().toSeq == Seq("M3"))
    // model_dataset_type_count nets out the publication flag
    // (views.sql:819-824): M1 has 3 real kinds, M3's single entry IS the
    // publication flag -> 0, M2 has none.
    val counts = spark.sql(
      """SELECT external_model_id, model_dataset_type_count
         FROM pdcm_api_search_index_vw ORDER BY external_model_id""")
      .as[(String, Int)].collect().toSeq
    assert(counts == Seq(("M1", 3), ("M2", 0), ("M3", 0)))
    // Availability: M1 'available'; M2 via its commercial vendor link;
    // M3 neither. has_relations joins through model_information.
    assert(spark.sql(
      """SELECT external_model_id, model_availability_boolean, has_relations,
         array_join(model_availability_plus_commercial_availability, '|')
         FROM pdcm_api_search_index_vw ORDER BY external_model_id""")
      .as[(String, Boolean, Boolean, String)].collect().toSeq == Seq(
      ("M1", true, true, "Available|Commercially Not Available"),
      ("M2", true, true, "Not available|Commercially Available"),
      ("M3", false, false, "Not available|Commercially Not Available")))
  }

  test("search_index view: has_relations is NULL for a model absent from model_information") {
    // views.sql:847-851 computes has_relations with a correlated scalar
    // subquery — a search_index row whose model is NOT in
    // model_information gets NULL (no row), not false. The registry can
    // never produce that row (search_index derives from model_entity),
    // so pin it with an augmented search surface: re-register with one
    // phantom row appended to search_index and assert the left join
    // propagates the NULL while the real rows keep their booleans.
    graft.api.PdcmApi.register(spark, out)
    val si = spark.table("search_index")
    val phantom = si.limit(1)
      .withColumn("pdcm_model_id", org.apache.spark.sql.functions.lit(-999L)
        .cast(si.schema("pdcm_model_id").dataType))
      .withColumn("external_model_id", org.apache.spark.sql.functions.lit("PHANTOM"))
    graft.api.PdcmApi.register(spark, out + ("search_index" -> si.union(phantom)))
    val got = spark.sql(
      """SELECT external_model_id, has_relations
         FROM pdcm_api_search_index_vw ORDER BY external_model_id""")
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) "null" else r.getBoolean(1).toString)).toSeq
    assert(got == Seq(("M1", "true"), ("M2", "true"), ("M3", "false"),
      ("PHANTOM", "null")), got)
    // Restore the unaugmented views for any later test.
    graft.api.PdcmApi.register(spark, out)
  }

  test("round-3 views: model_metadata, extended data, overview aggregates") {
    graft.api.PdcmApi.register(spark, out)
    // model_metadata joins model + search_index + specimen display names.
    val mm = spark.sql(
      """SELECT host_strain_nomenclature, engraftment_sample_state,
         provider_name, contact_form_url, source_database_url
         FROM pdcm_api_model_metadata_vw
         WHERE model_id = 'M1'""").head()
    assert(mm.getString(0) == "NOD.Cg-Prkdc<scid>")
    assert(mm.getString(1) == "fresh")
    assert(mm.getString(2) == "Provider A Lab")
    // Resolved through the per-model contact_form/source_database FKs
    // (views.sql:145-146), not a provider-level fallback.
    assert(mm.getString(3) == "https://provider-a.example/contact")
    assert(mm.getString(4) == "https://depmap.org/portal/cell_line/ACH-000123")
    // mutation_data_extended resolves model + sample through molchar.
    assert(spark.sql(
      """SELECT model_id FROM pdcm_api_mutation_data_extended
         WHERE non_harmonised_symbol = 'OLDNAME1'""")
      .as[String].head() == "M1")
    // details_molecular_data flags availability per data type: the
    // patient molchar rows have data; xenograft/cell molchar rows don't.
    val avail = spark.sql(
      """SELECT data_type, max(data_availability)
         FROM pdcm_api_details_molecular_data GROUP BY data_type""")
      .as[(String, String)].collect().toMap
    assert(avail("mutation") == "TRUE")
    assert(avail("expression") == "TRUE")
    assert(spark.sql(
      """SELECT data_availability FROM pdcm_api_details_molecular_data
         WHERE xenograft_sample_id IS NOT NULL""").as[String].head() == "FALSE")
    // overview aggregates.
    assert(spark.sql(
      "SELECT count FROM pdcm_api_models_by_patient_sex WHERE patient_sex = 'female'")
      .as[Long].head() == 1)
    // patient_treatments is empty in the fixture (doxorubicin lacks an
    // ontology match), so the patient-side aggregate has no rows — but
    // the view itself must resolve and stay empty rather than error.
    assert(spark.sql("SELECT * FROM pdcm_api_models_by_treatment").count() == 0)
    // drug_dosing_extended: entries go through treatment_component →
    // treatment, so mapped components carry the HARMONISED term name and
    // their ChEMBL link from the offline lookup.
    val dde = spark.sql(
      "SELECT entries FROM pdcm_api_drug_dosing_extended WHERE model_id = 'M1'")
      .as[String].head()
    assert(dde.contains("\"name\":\"Cisplatin\"") &&
      dde.contains("\"name\":\"Paclitaxel\""))
    assert(dde.contains("CHEMBL11359")) // cisplatin's external_db_links
    assert(!dde.contains("CHEMBL53463")) // doxorubicin is patient-side only
    assert(spark.sql("SELECT option FROM pdcm_api_search_facet_options")
      .count() >= 4)
    // patient_treatment_extended carries the JSON entries array.
    val pte = spark.sql(
      "SELECT entries FROM pdcm_api_patient_treatment_extended").as[String].head()
    assert(pte.contains("\"name\":\"doxorubicin\""))
    assert(spark.sql("SELECT value FROM pdcm_api_info").as[Long].head() >= 2)
  }

  test("lineage graph: nodes and edges incl. parent/child models") {
    assert(out("nodes").groupBy("node_type").count().count() == 3)
    val labels = out("edges").select("label").distinct().as[String].collect().toSet
    assert(labels == Set("patient_sample", "sample_model", "parent_model"))
    assert(out("edges").filter($"label" === "sample_model").count() == 3)
    // M2's parent is M1: one lineage edge M1 -> M2.
    assert(out("edges").filter($"label" === "parent_model").count() == 1)
  }

  test("available_molecular_data_columns: per-provider non-empty columns") {
    val am = out("available_molecular_data_columns")
    assert(am.count() == 4)
    val mut = am.filter($"molecular_characterization_type" === "mutation").head()
    assert(mut.getSeq[String](mut.fieldIndex("not_empty_cols")).toSeq ==
      Seq("chromosome", "harmonized_symbol", "seq_start_position", "symbol"))
    val bio = am.filter($"molecular_characterization_type" === "biomarker").head()
    assert(bio.getSeq[String](bio.fieldIndex("not_empty_cols")).toSeq ==
      Seq("biomarker_status", "harmonized_symbol", "symbol"))
  }

  test("Trees.modelRelationships scope: colliding ids across providers never merge lineages") {
    // The r12 volume-drill find: external model ids are provider-local.
    // Two providers both ship M1/M2 with M2→M1, but only provX's M9 has
    // a dangling parent — the scoped trees must stay identical per
    // provider and never resolve an id against the OTHER provider.
    val m = Seq(
      ("M1", "provX", "tissue", null.asInstanceOf[String]),
      ("M2", "provX", "tissue", "M1"),
      ("M9", "provX", "tissue", "M7"), // dangling in provX...
      ("M1", "provY", "tissue", null.asInstanceOf[String]),
      ("M2", "provY", "tissue", "M1"),
      ("M7", "provY", "tissue", null.asInstanceOf[String])) // ...but M7 EXISTS in provY
      .toDF("external_model_id", "data_source", "type", "parent_id")
    val rel = graft.graph.Trees.modelRelationships(
        m, "external_model_id", "type", "parent_id",
        scopeCol = Some("data_source"))
      .select("external_model_id", "data_source", "has_relations")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2))
      .toMap
    assert(rel(("M1", "provX")) && rel(("M2", "provX")))
    assert(rel(("M1", "provY")) && rel(("M2", "provY")))
    // M9's parent M7 exists ONLY in provY: scoped resolution must treat
    // it as dangling (no relations), and provY's M7 — parent of nobody
    // in its own provider — must stay relation-free too.
    assert(!rel(("M9", "provX")), "cross-provider id bleed: M9 resolved provY's M7")
    assert(!rel(("M7", "provY")), "cross-provider id bleed: M7 adopted provX's M9")
    // The unscoped default stays byte-compatible for single-provider
    // callers (q113/q241): same input restricted to provX behaves as
    // before.
    val solo = graft.graph.Trees.modelRelationships(
        m.filter($"data_source" === "provX"),
        "external_model_id", "type", "parent_id")
      .select("external_model_id", "has_relations")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(solo == Map("M1" -> true, "M2" -> true, "M9" -> false))
  }

  test("sources are read on demand: binding starts no job, a run reads only its closure") {
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = stage()
    val probe = "graft.pdcm-entities-spec.probe"
    val started = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties.getProperty(probe)).foreach(started.put)
    }
    val sc = spark.sparkContext
    def tagged[T](tag: String)(f: => T): T = {
      sc.setLocalProperty(probe, tag)
      try f finally sc.setLocalProperty(probe, null)
    }
    sc.addSparkListener(listener)
    val (src, jobs) = try {
      val src = tagged("sources")(PdcmEntities.sources(spark, root))
      // Events reach the listener in posting order: a job started while
      // binding is seen before the sentinel's start.
      tagged("sentinel")(sc.parallelize(Seq(1), 1).count())
      (src, Iterator.continually(started.poll(60, TimeUnit.SECONDS))
        .map(j => Option(j).getOrElse(fail("the sentinel job was not seen")))
        .takeWhile(_ != "sentinel").size)
    } finally sc.removeSparkListener(listener)
    assert(jobs == 0, s"binding the sources started $jobs jobs")
    assert(src.contains("raw_diagnosis_mappings") && src.keySet.size == src.size)

    val mappings = Paths.get(root, "diagnosis_mappings.json")
    Files.write(mappings, """{"mappings": [ {"data_source": "provA",""".getBytes)
    val ok = new PipelineRunner(spark, PdcmEntities.registry(), PdcmEntities.sources(spark, root))
      .run(Seq("mutation_data", "cna_data"))
    assert(ok("mutation_data").count() > 0 && ok("cna_data").count() > 0)
    val e = intercept[Exception](new PipelineRunner(spark, PdcmEntities.registry(),
      PdcmEntities.sources(spark, root)).run(Seq("sample_to_ontology")))
    assert(e.getMessage.contains("raw_diagnosis_mappings") &&
      e.getMessage.contains(mappings.toString), e.getMessage)
  }
}
