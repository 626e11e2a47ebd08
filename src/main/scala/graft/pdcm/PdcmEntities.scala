package graft.pdcm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{Cleaning, Ids}
import graft.graph.OntologyGraph
import graft.operators.{Harmonization, Relational}
import graft.pipeline.{EntityDef, EntityRegistry, LazySources}
import graft.sources.{ExternalResources, MappingRules, Obo, Ontolia, Tsv}

/** The PDCM entity DAG: the reference's central entity transforms
  * re-expressed as registry entities over its raw provider modules
  * (schemas from `etl/sources.yaml`, FIXTURES.md §1; transform semantics
  * from the per-entity jobs under `etl/jobs/transformation/`). Raw module
  * sources are bound at run time (read with [[graft.sources.Tsv]], so
  * missing provider files degrade to typed empty frames and every entity
  * below is total on empty inputs).
  *
  * Patterns per entity (SURVEY §2): formulaic dims are
  * select-clean-dedup-hash-id; facts FK-resolve against broadcast dims
  * (J1); model joins sharing null-safely (J2); protocols union
  * drug-dosing with patient-treatment positionally (U1) and split
  * parallel name/dose lists with cardinality matching (posexplode, J4
  * for mismatches); QA builds JSON columns (A2); the lineage graph emits
  * node/edge tables (§1 property-graph model).
  */
object PdcmEntities {

  /** Raw-module column lists (subset of `etl/sources.yaml` — the
    * load-bearing columns; all-string schemas).
    */
  val rawSchemas: Map[String, Seq[String]] = Map(
    "raw_patient" -> Seq("patient_id", "sex", "history", "ethnicity",
      "ethnicity_assessment_method", "age_at_initial_diagnosis",
      "initial_diagnosis"),
    "raw_sample" -> Seq("patient_id", "sample_id", "diagnosis", "tumour_type",
      "primary_site", "collection_site", "age_in_years_at_collection",
      "collection_date", "collection_event", "collection_method",
      "months_since_collection_1", "stage", "staging_system",
      "grade", "grading_system", "virology_status", "gene_mutation_status",
      "sharable", "treatment_naive_at_collection", "treated_at_collection",
      "treated_prior_to_collection", "response_to_treatment", "model_id"),
    "raw_model" -> Seq("model_id", "host_strain_name",
      "host_strain_nomenclature", "engraftment_site", "engraftment_type",
      "sample_type", "sample_state", "passage_number", "publications",
      "external_ids", "parent_model_id"),
    "raw_sharing" -> Seq("model_id", "accessibility",
      "europdx_access_modality", "email", "name", "form_url",
      "database_url", "license", "date_submitted", "model_availability"),
    "raw_model_validation" -> Seq("model_id", "validation_technique",
      "description", "passages_tested"),
    "raw_drug_dosing" -> Seq("model_id", "passage_range", "treatment_name",
      "treatment_dose", "administration_route", "treatment_schedule",
      "treatment_length", "treatment_response", "response_classification"),
    "raw_patient_treatment" -> Seq("patient_id", "treatment_name",
      "treatment_dose", "treatment_response", "response_classification",
      "model_id"),
    // Histology image sheets (etl/sources.yaml:172-198).
    "raw_model_image" -> Seq("model_id", "url", "description",
      "sample_type", "passage", "magnification", "staining"),
    "raw_image_study" -> Seq("study_id", "title", "description", "licence",
      "contact", "sample_organism", "sample_description",
      "imaging_instrument", "imaging_method"),
    "raw_molchar_sample" -> Seq("model_id", "sample_id", "sample_origin",
      "passage", "platform_id"),
    "raw_molchar_platform" -> Seq("platform_id",
      "molecular_characterisation_type", "instrument_model"),
    "raw_mutation" -> Seq("sample_id", "symbol", "biotype",
      "amino_acid_change", "consequence", "read_depth", "allele_frequency",
      "chromosome", "strand", "seq_start_position", "ref_allele",
      "alt_allele", "ensembl_gene_id", "ncbi_gene_id", "platform_id"),
    "raw_expression" -> Seq("sample_id", "chromosome", "strand",
      "seq_start_position", "seq_end_position", "symbol",
      "rnaseq_coverage", "rnaseq_fpkm", "rnaseq_tpm", "rnaseq_count",
      "platform_id"),
    "raw_cna" -> Seq("sample_id", "chromosome", "strand",
      "seq_start_position", "seq_end_position", "symbol", "log10r_cna",
      "log2r_cna", "copy_number_status", "gistic_value", "platform_id"),
    "raw_biomarker" -> Seq("sample_id", "symbol", "biomarker_status",
      "platform_id"),
    // Immunemarker sheet (etl/sources.yaml:320-329) — marker names are
    // not gene symbols, so no harmonization waterfall.
    "raw_immunemarker" -> Seq("sample_id", "marker_type", "marker_name",
      "marker_value", "essential_or_additional_details", "platform_id"),
    // Provider source YAML (etl/sources.yaml:4-14) — read via
    // Yaml.readModule, bound as a raw module like the TSVs.
    "raw_source" -> Seq("provider_name", "provider_abbreviation",
      "provider_type", "project", "provider_description"),
    // Cell-line model sheet (etl/sources.yaml:39-51).
    "raw_cell_model" -> Seq("model_id", "model_name", "model_name_aliases",
      "type", "growth_properties", "growth_media", "media_id", "parent_id",
      "origin_patient_sample_id", "publications", "plate_coating",
      "supplier", "supplier_type", "catalog_number", "vendor_link", "rrid"),
    // Global HGNC-style marker reference (S9, markers_reader.py):
    // previous/alias symbols are comma-separated lists.
    "raw_markers" -> Seq("approved_symbol", "previous_symbols", "alias_symbols"),
    // Offline treatment→ChEMBL id lookup (replaces the reference's EBI
    // API calls in `treatments_links_builder.py:59-113`; empty → null
    // links, the same result as an API miss).
    "raw_chembl_lookup" -> Seq("name", "chembl_id"))

  private val prov = Tsv.ProvenanceCol

  /** NCIt branch roots (reference `ONTOLOGIES`,
    * `etl/jobs/util/graph_builder.py:7-30`).
    */
  val DiagnosisRoots: Seq[String] = Seq("NCIT:C3262", "NCIT:C9305")
  val TreatmentRoots: Seq[String] = Seq(
    "NCIT:C1932", "NCIT:C1505", "NCIT:C1913", "NCIT:C45678", "NCIT:C1909",
    "NCIT:C1899", "NCIT:C15431", "NCIT:C49236", "NCIT:C15206", "NCIT:C26548")
  val RegimenRoots: Seq[String] = Seq("NCIT:C12218")

  /** Cancer-system classification terms and top-level noise terms
    * (reference `search_index_patient_sample_transformer_job.py:9-33`).
    */
  val CancerSystems: Seq[String] = Seq(
    "Breast Cancer", "Cardiovascular Cancer",
    "Connective and Soft Tissue Cancer", "Digestive System Cancer",
    "Endocrine Cancer", "Eye Cancer", "Head and Neck Cancer",
    "Hematopoietic and Lymphoid System Cancer", "Nervous System Cancer",
    "Peritoneal and Retroperitoneal Cancer", "Reproductive System Cancer",
    "Respiratory Tract Cancer", "Thoracic Cancer", "Skin Cancer",
    "Urinary System Cancer", "Unclassified")

  val ExcludeTopLevelTerms: Seq[String] = Seq(
    "Cancer", "Cancer by Special Category", "Cancer by Morphology",
    "Cancer by Site")

  /** Default external-resource registry (reference S11,
    * `model_links_resources.yaml` via
    * `external_resources_reader.py:32-59`) and download configuration
    * (S12, `:62-114`).
    */
  val DefaultResources: Seq[ExternalResources.ResourceDef] = Seq(
    ExternalResources.ResourceDef(1, "depmap", "DepMap", "Model", "inline",
      "https://depmap.org/portal/cell_line/TOKEN"),
    ExternalResources.ResourceDef(2, "cellosaurus", "Cellosaurus", "Model",
      "inline", "https://www.cellosaurus.org/TOKEN"),
    ExternalResources.ResourceDef(3, "cosmic", "COSMIC", "Variant", "download",
      "https://cancer.sanger.ac.uk/cosmic/search?q=ENTRY_ID"),
    // referenceLookup pair backing the per-row molecular
    // external_db_links (reference external_resources.yaml ids 1/2):
    // Gene entries match the harmonized symbol, Variant entries match
    // "<symbol> <amino_acid_change>".
    ExternalResources.ResourceDef(4, "civic_genes", "Civic", "Gene",
      "download", "https://civicdb.org/links/entrez_name/ENTRY_ID"),
    ExternalResources.ResourceDef(5, "civic_variants", "Civic", "Variant",
      "download", "https://civicdb.org/links?idtype=variant&id=ENTRY_ID"))

  val DefaultDownloadConfs: Seq[ExternalResources.DownloadConf] =
    Seq(ExternalResources.DownloadConf(3, "cosmic.csv"),
      ExternalResources.DownloadConf(4, "civic_genes.csv"),
      ExternalResources.DownloadConf(5, "civic_variants.csv"))

  /** The full reference facet registry (`etl/facets.py`, 28 definitions
    * across the search/model/patient_tumour/molecular_data/treatment
    * sections). Static boolean filters carry configured options and
    * never scan the data.
    */
  val ReferenceFacets: Seq[Scoring.FacetDef] = {
    import Scoring.FacetDef
    def dyn(i: Int, sec: String, nm: String, c: String, tpe: String,
        anyOp: String = "in", allOp: String = "") =
      FacetDef(i, sec, nm, "", c, "", anyOp, allOp, isBoolean = false, tpe)
    def stat(i: Int, sec: String, nm: String, c: String, opts: Seq[String]) =
      FacetDef(i, sec, nm, "", c, "", "in", "", isBoolean = true, "check",
        Some(opts))
    Seq(
      dyn(0, "search", "Search", "search_terms", "", anyOp = "ov"),
      dyn(1, "model", "Type", "model_type", "check"),
      dyn(2, "model", "Model ID", "external_model_id", "autocomplete"),
      dyn(3, "model", "Datasource", "data_source", "check"),
      dyn(4, "model", "Dataset available", "dataset_available", "check",
        anyOp = "ov"),
      stat(5, "model", "Model Availability", "model_availability_boolean",
        Seq("Available for distribution=true")),
      stat(6, "model", "Related Models", "has_relations",
        Seq("related models=true")),
      dyn(7, "model", "Project", "project_name", "check"),
      stat(8, "model", "Paediatric Models", "paediatric",
        Seq("paediatric=true")),
      dyn(9, "patient_tumour", "Collection Site", "collection_site", "check"),
      dyn(10, "patient_tumour", "Primary Site", "primary_site", "check"),
      dyn(11, "patient_tumour", "Patient Ethnicity", "patient_ethnicity",
        "check"),
      dyn(12, "patient_tumour", "Cancer system", "cancer_system", "check"),
      dyn(13, "patient_tumour", "Patient age", "patient_age", "check"),
      dyn(14, "patient_tumour", "Tumour type", "tumour_type", "check"),
      dyn(15, "patient_tumour", "Patient sex", "patient_sex", "check"),
      dyn(16, "molecular_data", "Gene mutation", "markers_with_mutation_data",
        "multivalued", anyOp = "ov", allOp = "cs"),
      dyn(17, "molecular_data", "Gene Expression",
        "markers_with_expression_data", "multivalued", anyOp = "ov",
        allOp = "cs"),
      dyn(18, "molecular_data", "Copy Number Alteration",
        "markers_with_cna_data", "multivalued", anyOp = "ov", allOp = "cs"),
      dyn(19, "molecular_data", "Breast cancer biomarkers",
        "breast_cancer_biomarkers", "check", anyOp = "ov"),
      dyn(20, "molecular_data", "Bio markers", "markers_with_biomarker_data",
        "multivalued", anyOp = "ov", allOp = "cs"),
      dyn(21, "molecular_data", "HLA types", "hla_types", "check",
        anyOp = "ov"),
      dyn(22, "molecular_data", "MSI Status", "msi_status", "check",
        anyOp = "ov"),
      dyn(23, "patient_treatment", "Patient treatment", "patient_treatments",
        "multivalued", anyOp = "ov", allOp = "cs"),
      dyn(24, "patient_treatment", "Responses",
        "patient_treatments_responses", "multivalued", anyOp = "ov",
        allOp = "cs"),
      dyn(25, "patient_treatment", "Treatment type",
        "custom_treatment_type_list", "multivalued", anyOp = "ov",
        allOp = "cs"),
      dyn(26, "model_treatment", "Model treatment", "model_treatments",
        "multivalued", anyOp = "ov", allOp = "cs"),
      dyn(27, "model_treatment", "Responses", "model_treatments_responses",
        "multivalued", anyOp = "ov", allOp = "cs"))
  }

  /** Treatment-type keyword map (reference `KEYWORDS_BY_TYPE`,
    * `treatment_type_helper_transformer_job.py:7-30`).
    */
  val TreatmentTypeKeywords: Seq[(String, Seq[String])] = Seq(
    "Hormone Therapy" -> Seq("hormone therapy"),
    "Immunotherapy" -> Seq("cytokine", "immunotherapeutic", "immunomodulatory"),
    "Targeted Therapy" -> Seq("targeted therapy", "targeting"),
    "Chemotherapy" -> Seq("chemotherapy", "chemotherapeutic"),
    "Surgery" -> Seq("surgery", "mammoplasty", "ectomy", "biopsy", "plasty"),
    "Radiation Therapy" -> Seq("radiation therapy"))

  /** Ontology-branch entity (reference
    * `ontology_term_{diagnosis,treatment,regimen}_transformer_job.py`):
    * collect the (small, ~100k-row) OBO term table to the driver, extract
    * the branch subgraph, and emit terms + pipe-joined ancestor names.
    * The derived table broadcast-joins against fact-sized data; the
    * driver graph mirrors the reference's networkx usage (§2.10) — for
    * fact-sized graphs use [[graft.graph.Closure]] instead.
    */
  private def ontologyBranch(entityName: String, roots: Seq[String]): EntityDef =
    EntityDef(entityName, Seq("raw_obo"), (s, in) => {
      val terms = in("raw_obo")
        .select("term_id", "term_name", "term_url", "is_a").collect()
        .map(r => Obo.OboTerm(r.getString(0),
          // remove_all_trailing_whitespaces (reference cleaner.py:38-39),
          // applied before graph build so ancestor name lists are clean too
          r.getString(1).replaceAll("\\s+", " ").trim,
          r.getString(2), r.getSeq[String](3)))
      val g = OntologyGraph.fromTerms(terms.toIndexedSeq).branch(roots)
      import s.implicits._
      val termsDf = g.termIds
        .map(id => (id, g.names(id)))
        .toDF("term_id", "term_name")
        .withColumn("id", Ids.hashId(col("term_id")))
      termsDf.join(g.termAncestorsDf(s), Seq("term_id"), "left")
    },
    outputColumns = Seq("id", "term_id", "term_name", "ancestors"))

  /** The type of a molecular row's link arrays, built here so that no
    * table build parses a type string.
    */
  private val LinkArray: DataType = ArrayType(StructType(
    Seq("column", "resource", "link").map(StructField(_, StringType))))

  /** Molecular-data table template (mutation/expression/cna/biomarker all
    * share it — reference `initial_*_transformer_job.py` +
    * `molecular_characterization_fk_assigner.py:10-39`): gene symbols
    * harmonized through the exactly-one waterfall (approved → previous →
    * alias), unmatched kept with null harmonized_symbol, then FK to
    * molecular_characterization on the composite (sample_id, platform_id,
    * provider) key.
    */
  private def molecularTable(
      entityName: String,
      rawModule: String,
      valueCols: Seq[String]): EntityDef = EntityDef(
    entityName, Seq(rawModule, "gene_marker", "molecular_characterization",
      "raw_downloaded_resources"),
    (_, in) => {
      val gm = in("gene_marker")
      def stage(kind: String) = Harmonization.Stage(kind,
        gm.filter(col("match_kind") === kind)
          .select(col("match_symbol"), col("approved_symbol")),
        "symbol", "match_symbol", Seq("approved_symbol"))
      val all = Harmonization.waterfall(
        in(rawModule),
        Seq(stage("approved"), stage("previous"), stage("alias")))
        .withColumnRenamed("approved_symbol", "harmonized_symbol")
      val mc = in("molecular_characterization")
        .select(col("id").as("molchar_id"), col("sample_id"),
          col("platform_id"), col(prov))
      // Per-row external_db_links (reference
      // `molecular_data_links_builder.py:20-38` + the JSON assembly in
      // `link_builder_utils.py:6-19`): referenceLookup entries from the
      // downloaded-resource table — "Gene" entries match the harmonized
      // symbol into the hgnc_symbol column; "Variant" entries match
      // "<symbol> <amino_acid_change>" (mutation only; concat
      // null-propagates, so unharmonised rows never link). The link
      // arrays aggregate on the RESOURCE side first (entry-domain-sized)
      // and broadcast back — never a per-corpus-row join; entries sort
      // (column, resource, link) where the reference's collect_list
      // order is partition-accidental.
      val res = in("raw_downloaded_resources").filter(col("link").isNotNull)
      val geneAgg = res.filter(col("type") === "Gene")
        .groupBy(col("entry").as("gene_entry"))
        .agg(sort_array(collect_list(struct(
          lit("hgnc_symbol").as("column"), col("resource"), col("link"))))
          .as("gene_links"))
      val hasAac = valueCols.contains("amino_acid_change")
      val withGene = all
        .join(broadcast(geneAgg),
          all("harmonized_symbol") === geneAgg("gene_entry"), "left")
        .drop("gene_entry")
      val withLinks0 =
        if (!hasAac) withGene.withColumn("var_links", lit(null).cast(LinkArray))
        else {
          val varAgg = res.filter(col("type") === "Variant")
            .groupBy(col("entry").as("var_entry"))
            .agg(sort_array(collect_list(struct(
              lit("amino_acid_change").as("column"), col("resource"),
              col("link")))).as("var_links"))
          // Alias-qualified: both sides carry raw_downloaded_resources
          // lineage (gene/variant branches of the same source).
          withGene.as("wg").join(broadcast(varAgg.as("va")),
            concat(col("wg.harmonized_symbol"), lit(" "), col("wg.amino_acid_change")) ===
              col("va.var_entry"), "left")
            .drop("var_entry")
        }
      val emptyLinks = array().cast(LinkArray)
      val withLinks = withLinks0
        .withColumn("external_db_links",
          when(col("gene_links").isNull && col("var_links").isNull,
            lit(null).cast(StringType))
            .otherwise(to_json(concat(
              coalesce(col("gene_links"), emptyLinks),
              coalesce(col("var_links"), emptyLinks)))))
        .drop("gene_links", "var_links")
      withLinks.join(mc, Seq("sample_id", "platform_id", prov), "left")
    },
    outputColumns = Seq("sample_id", "symbol", "harmonized_symbol",
      "match_stage") ++ valueCols ++
      Seq("external_db_links", "molchar_id", prov))

  /** Formulaic dimension: distinct cleaned non-sentinel values of one
    * column + deterministic id (the shape of ~20 reference dims,
    * SURVEY §7.2 step 3).
    */
  private def dimFromColumn(raw: DataFrame, column: String): DataFrame =
    raw.select(Cleaning.sentinelToNull(Cleaning.trimAll(col(column))).as("name"))
      .filter(col("name").isNotNull)
      .distinct()
      .withColumn("id", Ids.hashId(col("name")))
      .select("id", "name")

  /** The release: search_index plus every entity a heavy `pdcm_api`
    * view reads, as `PdcmFull` and `PdcmVolume` build and write it.
    */
  val releaseTargets: Seq[String] = Seq("search_index", "search_facet",
    "treatment_protocol", "quality_assurance", "molecular_characterization",
    "mutation_data", "expression_data", "cna_data", "biomarker_data", "nodes",
    "edges", "ontology_term_diagnosis", "ontology_term_treatment",
    "ontology_term_regimen", "sample_to_ontology", "regimen_to_treatment",
    "treatment_harmonised", "treatment_by_model", "treatment",
    "treatment_component", "model_links", "molecular_data_links",
    "model_metadata", "available_molecular_data_columns",
    "immunemarker_data", "provider_group", "contact_people",
    "publication_group", "xenograft_model_specimen", "platform",
    "model_relationships", "knowledge_graph")

  /** Build the full entity registry.
    *
    * @param molecularDataRestriction provider → restricted-table pairs
    *   (the reference's `molecular_data_restriction` config dict,
    *   `molecular_data_restriction_transformer_job.py:32-44`); rows here
    *   suppress the matching `*_data_table` API views for that provider.
    */
  def registry(
      molecularDataRestriction: Seq[(String, String)] = Nil): EntityRegistry =
    new EntityRegistry()
    .register(EntityDef("molecular_data_restriction", Nil,
      (s, _) => {
        import s.implicits._
        molecularDataRestriction
          .toDF("data_source", "molecular_data_table")
          // NULL rows would poison the views' anti-join semantics.
          .filter(col("data_source").isNotNull &&
            col("molecular_data_table").isNotNull)
      },
      outputColumns = Seq("data_source", "molecular_data_table")))
    .register(EntityDef("ethnicity", Seq("raw_patient"),
      (_, in) => dimFromColumn(in("raw_patient"), "ethnicity"),
      outputColumns = Seq("id", "name")))
    .register(EntityDef("tissue", Seq("raw_sample"),
      (_, in) => dimFromColumn(in("raw_sample"), "primary_site"),
      outputColumns = Seq("id", "name")))
    .register(EntityDef("tumour_type", Seq("raw_sample"),
      (_, in) => dimFromColumn(in("raw_sample"), "tumour_type"),
      outputColumns = Seq("id", "name")))
    .register(EntityDef("host_strain", Seq("raw_model"),
      (_, in) => dimFromColumn(in("raw_model"), "host_strain_name"),
      outputColumns = Seq("id", "name")))
    .register(EntityDef("engraftment_site", Seq("raw_model"),
      (_, in) => dimFromColumn(in("raw_model"), "engraftment_site"),
      outputColumns = Seq("id", "name")))
    .register(EntityDef("engraftment_type", Seq("raw_model"),
      (_, in) => dimFromColumn(in("raw_model"), "engraftment_type"),
      outputColumns = Seq("id", "name")))
    .register(EntityDef("engraftment_sample_type", Seq("raw_model"),
      (_, in) => dimFromColumn(in("raw_model"), "sample_type"),
      outputColumns = Seq("id", "name")))
    .register(EntityDef("engraftment_sample_state", Seq("raw_model"),
      (_, in) => dimFromColumn(in("raw_model"), "sample_state"),
      outputColumns = Seq("id", "name")))
    .register(EntityDef("response_classification",
      Seq("raw_drug_dosing", "raw_patient_treatment"),
      (_, in) => dimFromColumn(
        in("raw_drug_dosing").select(col("response_classification"))
          .union(in("raw_patient_treatment").select(col("response_classification"))),
        "response_classification"),
      outputColumns = Seq("id", "name")))
    // contact_form / source_database (reference
    // contact_form_transformer_job.py / source_database_transformer_job.py:
    // one row per distinct sharing-sheet URL).
    .register(EntityDef("contact_form", Seq("raw_sharing"),
      (_, in) => dimFromColumn(in("raw_sharing"), "form_url")
        .withColumnRenamed("name", "form_url"),
      outputColumns = Seq("id", "form_url")))
    .register(EntityDef("source_database", Seq("raw_sharing"),
      (_, in) => dimFromColumn(in("raw_sharing"), "database_url")
        .withColumnRenamed("name", "database_url"),
      outputColumns = Seq("id", "database_url")))
    .register(EntityDef("response", Seq("raw_drug_dosing", "raw_patient_treatment"),
      (_, in) => dimFromColumn(
        in("raw_drug_dosing").select(col("treatment_response"))
          .union(in("raw_patient_treatment").select(col("treatment_response"))),
        "treatment_response"),
      outputColumns = Seq("id", "name")))
    .register(EntityDef("accessibility_group", Seq("raw_sharing"),
      (_, in) => dimFromColumn(in("raw_sharing"), "accessibility"),
      outputColumns = Seq("id", "name")))
    .register(EntityDef("platform", Seq("raw_molchar_platform"),
      (_, in) => in("raw_molchar_platform")
        .select(col("platform_id"), col("molecular_characterisation_type"),
          col("instrument_model"), col(prov))
        .dropDuplicates("platform_id", prov)
        .withColumn("id", Ids.hashId(col("platform_id"), col(prov))),
      outputColumns = Seq("id", "platform_id",
        "molecular_characterisation_type", "instrument_model", prov)))
    // Static config dims (reference license_transformer_job.py:17-32 and
    // molecular_characterization_type_transformer_job.py:28-32).
    .register(EntityDef("license", Nil,
      (s, _) => {
        import s.implicits._
        Seq(
          (1, "EMBL-EBI", "https://www.ebi.ac.uk/about/terms-of-use"),
          (2, "CC0", "https://creativecommons.org/publicdomain/zero/1.0/"))
          .toDF("id", "name", "url")
      },
      outputColumns = Seq("id", "name", "url")))
    .register(EntityDef("molecular_characterization_type", Nil,
      (s, _) => {
        import s.implicits._
        Seq("mutation", "expression", "cna", "biomarker", "immunemarker")
          .zipWithIndex.map { case (n, i) => (i + 1, n) }.toDF("id", "name")
      },
      outputColumns = Seq("id", "name")))
    .register(EntityDef("provider_type", Seq("raw_source"),
      (_, in) => dimFromColumn(in("raw_source"), "provider_type"),
      outputColumns = Seq("id", "name")))
    .register(EntityDef("project_group", Seq("raw_source"),
      (_, in) => dimFromColumn(in("raw_source"), "project"),
      outputColumns = Seq("id", "name")))
    .register(EntityDef("provider_group",
      Seq("raw_source", "provider_type", "project_group"),
      (_, in) => {
        // Provider registry row per source YAML with dim FKs (reference
        // provider_group_transformer_job.py:30-75).
        val src = in("raw_source").select(
          Cleaning.trimAll(col("provider_name")).as("name"),
          Cleaning.trimAll(col("provider_abbreviation")).as("provider_abbreviation"),
          Cleaning.trimAll(col("provider_description")).as("provider_description"),
          col("provider_type"), col("project"), col(prov)).dropDuplicates()
        val withType = Relational.transformToFk(src, in("provider_type"),
          "provider_type", "name", "id", "provider_type_id")
        Relational.transformToFk(withType, in("project_group"),
          "project", "name", "id", "project_group_id")
          .withColumn("id", Ids.hashId(col("provider_abbreviation"), col(prov)))
      },
      outputColumns = Seq("id", "name", "provider_abbreviation",
        "provider_description", "provider_type_id", "project_group_id", prov)))
    .register(EntityDef("contact_people", Seq("raw_sharing"),
      (_, in) => in("raw_sharing")
        .select(Cleaning.sentinelToNull(Cleaning.trimAll(col("name"))).as("name_list"),
          Cleaning.sentinelToNull(Cleaning.trimAll(col("email"))).as("email_list"),
          col(prov))
        .filter(col("name_list").isNotNull || col("email_list").isNotNull)
        .dropDuplicates()
        .withColumn("id", Ids.hashId(col("name_list"), col("email_list"), col(prov))),
      outputColumns = Seq("id", "name_list", "email_list", prov)))
    .register(EntityDef("publication_group", Seq("raw_model"),
      (_, in) => dimFromColumn(in("raw_model"), "publications")
        .withColumnRenamed("name", "pubmed_ids"),
      outputColumns = Seq("id", "pubmed_ids")))
    .register(EntityDef("patient", Seq("raw_patient", "ethnicity"),
      (_, in) => {
        val cleaned = in("raw_patient")
          .withColumn("sex", lower(Cleaning.trimAll(col("sex"))))
          .withColumn("ethnicity", Cleaning.sentinelToNull(col("ethnicity")))
          .dropDuplicates("patient_id", prov)
          .withColumn("id", Ids.hashId(col("patient_id"), col(prov)))
        Relational.transformToFk(cleaned, in("ethnicity"),
          "ethnicity", "name", "id", "ethnicity_id")
      },
      outputColumns = Seq("id", "patient_id", "sex", "history",
        "ethnicity_assessment_method", "initial_diagnosis",
        "age_at_initial_diagnosis", "ethnicity_id", prov)))
    .register(EntityDef("patient_sample",
      Seq("raw_sample", "patient", "tissue", "tumour_type"),
      (_, in) => {
        val s0 = in("raw_sample")
          .dropDuplicates("sample_id", prov)
          .withColumn("id", Ids.hashId(col("sample_id"), col(prov)))
        // FK to patient on the composite natural key (patient_id, provider)
        // — reference J3 composite-key joins.
        val p = in("patient")
          .select(col("id").as("patient_fk"), col("patient_id"), col(prov))
        val withPatient = s0.join(p, Seq("patient_id", prov), "left")
        val withTissue = Relational.transformToFk(withPatient, in("tissue"),
          "primary_site", "name", "id", "tissue_id")
        Relational.transformToFk(withTissue, in("tumour_type"),
          "tumour_type", "name", "id", "tumour_type_id")
      },
      outputColumns = Seq("id", "sample_id", "patient_fk", "diagnosis",
        "tissue_id", "tumour_type_id", "collection_site", "collection_date",
        "collection_event", "collection_method", "months_since_collection_1",
        "age_in_years_at_collection",
        "stage", "staging_system", "grade", "grading_system",
        "virology_status", "gene_mutation_status", "sharable",
        "treatment_naive_at_collection", "treated_at_collection",
        "treated_prior_to_collection",
        "response_to_treatment", "model_id", prov)))
    .registerModel()
    .register(EntityDef("cell_model", Seq("raw_cell_model", "model_entity"),
      (_, in) => {
        // Cell-line sheet FK'd to the model core (reference
        // cell_model_transformer_job.py:28-33).
        val mfk = in("model_entity")
          .select(col("id").as("model_fk"), col("model_id"), col(prov))
        in("raw_cell_model").dropDuplicates("model_id", prov)
          .join(mfk, Seq("model_id", prov), "left")
          .withColumn("id", Ids.hashId(col("model_id"), col(prov)))
      },
      outputColumns = Seq("id", "model_fk", "model_id", "model_name",
        "model_name_aliases", "type", "growth_properties", "growth_media",
        "media_id", "plate_coating", "supplier", "supplier_type",
        "catalog_number", "vendor_link", "rrid", prov)))
    .register(EntityDef("immunemarker_data",
      Seq("raw_immunemarker", "molecular_characterization"),
      (_, in) => {
        // Composite-key FK like the other molecular tables, but NO gene
        // waterfall (immunemarker names aren't HGNC symbols).
        val mc = in("molecular_characterization")
          .select(col("id").as("molchar_id"), col("sample_id"),
            col("platform_id"), col(prov))
        in("raw_immunemarker").join(mc, Seq("sample_id", "platform_id", prov), "left")
      },
      outputColumns = Seq("sample_id", "marker_type", "marker_name",
        "marker_value", "essential_or_additional_details", "molchar_id", prov)))
    .register(EntityDef("xenograft_model_specimen",
      Seq("raw_model", "model_entity", "host_strain", "engraftment_site",
        "engraftment_type", "engraftment_sample_type",
        "engraftment_sample_state"),
      (_, in) => {
        // Specimen row per model with the chained dim-FK resolutions (J1
        // x5; reference xenograft_model_specimen via
        // model_transformer_job.py's FK chain). The raw display names
        // ride along for the search_index specimens JSON aggregation.
        val raw = in("raw_model").dropDuplicates("model_id", prov)
        val mfk = in("model_entity")
          .select(col("id").as("model_fk"), col("model_id"), col(prov))
        val withModel = raw.join(mfk, Seq("model_id", prov), "left")
        val withHs = Relational.transformToFk(withModel, in("host_strain"),
          "host_strain_name", "name", "id", "host_strain_id")
        val withSite = Relational.transformToFk(withHs, in("engraftment_site"),
          "engraftment_site", "name", "id", "engraftment_site_id")
        val withType = Relational.transformToFk(withSite, in("engraftment_type"),
          "engraftment_type", "name", "id", "engraftment_type_id")
        val withSt = Relational.transformToFk(withType,
          in("engraftment_sample_type").withColumnRenamed("name", "st_name"),
          "sample_type", "st_name", "id", "engraftment_sample_type_id")
        val withSs = Relational.transformToFk(withSt,
          in("engraftment_sample_state").withColumnRenamed("name", "ss_name"),
          "sample_state", "ss_name", "id", "engraftment_sample_state_id")
        withSs.withColumn("id", Ids.hashId(col("model_id"), col(prov)))
      },
      outputColumns = Seq("id", "model_fk", "passage_number",
        "host_strain_id", "engraftment_site_id", "engraftment_type_id",
        "engraftment_sample_type_id", "engraftment_sample_state_id",
        "host_strain_name", "host_strain_nomenclature",
        "engraftment_site", "engraftment_type",
        "sample_type", "sample_state", prov)))
    .register(EntityDef("quality_assurance", Seq("raw_model_validation"),
      (_, in) => in("raw_model_validation")
        .groupBy(col("model_id"), col(prov))
        .agg(concat(lit("["),
          concat_ws(",", sort_array(collect_list(
            concat(lit("{\"technique\":"), Links.jsonStr(col("validation_technique")),
              lit(",\"passages\":"), Links.jsonStr(col("passages_tested")),
              lit("}"))))),
          lit("]")).as("validation_json")),
      outputColumns = Seq("model_id", prov, "validation_json")))
    // Histology image entities (reference
    // model_image_transformer_job.py:32-47 and the image_study sheet,
    // etl/sources.yaml:172-198): images dedupe then FK to the model core
    // on the (external model id, provider) composite key — inner, like
    // the reference, so orphan image rows drop.
    .register(EntityDef("model_image", Seq("raw_model_image", "model_entity"),
      (_, in) => {
        val mfk = in("model_entity")
          .select(col("id").as("model_fk"), col("model_id"), col(prov))
        in("raw_model_image").dropDuplicates()
          .join(mfk, Seq("model_id", prov), "inner")
          .withColumn("id",
            Ids.hashId(col("model_id"), col("url"), col(prov)))
      },
      outputColumns = Seq("id", "model_fk", "model_id", "url", "description",
        "sample_type", "passage", "magnification", "staining", prov)))
    .register(EntityDef("image_study", Seq("raw_image_study"),
      (_, in) => in("raw_image_study").dropDuplicates("study_id", prov)
        .withColumn("id", Ids.hashId(col("study_id"), col(prov))),
      outputColumns = Seq("id", "study_id", "title", "description",
        "licence", "contact", "sample_organism", "sample_description",
        "imaging_instrument", "imaging_method", prov)))
    .register(EntityDef("treatment_protocol",
      Seq("raw_drug_dosing", "raw_patient_treatment"),
      (_, in) => {
        // Positional union of the two protocol sources (U1), then split
        // "+"-separated parallel name/dose lists with cardinality
        // matching; mismatched rows are dropped like the reference's
        // left-anti branch (J4).
        val dd = in("raw_drug_dosing").select(
          col("model_id").as("target_id"), lit("model").as("target_kind"),
          col("model_id"), col("treatment_name"), col("treatment_dose"),
          col("treatment_response"), col(prov))
        val pt = in("raw_patient_treatment").select(
          col("patient_id").as("target_id"), lit("patient").as("target_kind"),
          col("model_id"), col("treatment_name"), col("treatment_dose"),
          col("treatment_response"), col(prov))
        // protocol_id hashes the UNSPLIT combination row: components of
        // one "A + B" protocol share it (the aggregator's regimen
        // discovery groups components back by protocol).
        val combined = dd.union(pt).withColumn("protocol_id",
          Ids.hashId(col("target_id"), col("target_kind"),
            col("treatment_name"), col("treatment_dose"), col(prov)))
        val (matched, _) = Relational.posexplodeMatched(
          combined, "treatment_name", "treatment_dose")
        matched.withColumn("id",
          Ids.hashId(col("target_id"), col("target_kind"), col("treatment_name"),
            col("treatment_dose"), col(prov)))
      },
      outputColumns = Seq("id", "protocol_id", "target_id", "target_kind",
        "model_id", "treatment_name", "treatment_dose", "treatment_response",
        prov)))
    .register(EntityDef("xenograft_sample", Seq("raw_molchar_sample"),
      (_, in) => in("raw_molchar_sample")
        .filter(lower(Cleaning.trimAll(col("sample_origin"))) === "xenograft")
        .select(col("sample_id"), col("model_id"), col("passage"),
          col("platform_id"), col(prov))
        .dropDuplicates()
        .withColumn("id", Ids.hashId(col("sample_id"), col("platform_id"), col(prov))),
      outputColumns = Seq("id", "sample_id", "model_id", "passage",
        "platform_id", prov)))
    .register(EntityDef("cell_sample", Seq("raw_molchar_sample"),
      (_, in) => in("raw_molchar_sample")
        .filter(lower(Cleaning.trimAll(col("sample_origin"))) === "cell")
        .select(col("sample_id"), col("model_id"), col("passage"),
          col("platform_id"), col(prov))
        .dropDuplicates()
        .withColumn("id", Ids.hashId(col("sample_id"), col("platform_id"), col(prov))),
      outputColumns = Seq("id", "sample_id", "model_id", "passage",
        "platform_id", prov)))
    .register(EntityDef("molecular_characterization",
      Seq("raw_molchar_sample", "raw_molchar_platform", "patient_sample",
        "xenograft_sample", "cell_sample"),
      (_, in) => {
        // Three-origin union with PER-ORIGIN sample-FK resolution
        // (reference molecular_characterization_transformer_job.py:50-85,
        // 115-170): patient joins on (sample_id, provider); xenograft and
        // cell additionally key on platform_id (J3 composite keys). The
        // branches union positionally (U1).
        val pl = in("raw_molchar_platform").dropDuplicates("platform_id", prov)
          .select(col("platform_id"), col(prov),
            col("molecular_characterisation_type"), col("instrument_model"))
        val base = in("raw_molchar_sample")
          .withColumn("sample_origin", lower(Cleaning.trimAll(col("sample_origin"))))
          .dropDuplicates()
          .join(pl, Seq("platform_id", prov), "left")
        val nullFk = lit(null).cast("long")
        val ps = in("patient_sample")
          .select(col("id").as("patient_sample_id"), col("sample_id"), col(prov))
        val patientB = base.filter(col("sample_origin") === "patient")
          .join(ps, Seq("sample_id", prov), "left")
          .withColumn("xenograft_sample_id", nullFk)
          .withColumn("cell_sample_id", nullFk)
        val xs = in("xenograft_sample").select(
          col("id").as("xenograft_sample_id"), col("sample_id"),
          col("platform_id"), col(prov))
        val xenoB = base.filter(col("sample_origin") === "xenograft")
          .join(xs, Seq("sample_id", "platform_id", prov), "left")
          .withColumn("patient_sample_id", nullFk)
          .withColumn("cell_sample_id", nullFk)
        val cs = in("cell_sample").select(
          col("id").as("cell_sample_id"), col("sample_id"),
          col("platform_id"), col(prov))
        val cellB = base.filter(col("sample_origin") === "cell")
          .join(cs, Seq("sample_id", "platform_id", prov), "left")
          .withColumn("patient_sample_id", nullFk)
          .withColumn("xenograft_sample_id", nullFk)
        val outCols = Seq("id", "sample_id", "sample_origin", "passage",
          "platform_id", "molecular_characterisation_type",
          "patient_sample_id", "xenograft_sample_id", "cell_sample_id", prov)
        Seq(patientB, xenoB, cellB)
          .map(_.withColumn("id", Ids.hashId(col("sample_id"),
            col("platform_id"), col("sample_origin"), col(prov))))
          .map(_.select(outCols.map(col): _*))
          .reduce(_.union(_))
      },
      outputColumns = Seq("id", "sample_id", "sample_origin", "passage",
        "platform_id", "molecular_characterisation_type",
        "patient_sample_id", "xenograft_sample_id", "cell_sample_id", prov)))
    .register(EntityDef("gene_marker", Seq("raw_markers"),
      (_, in) => {
        // Approved symbols + exploded previous/alias lists, one row per
        // (approved, match_symbol, kind) — the lookup side of the
        // harmonization waterfall (gene_marker_transformer_job.py:32-46).
        val mk = in("raw_markers")
        val approved = mk.select(col("approved_symbol"),
          col("approved_symbol").as("match_symbol"), lit("approved").as("match_kind"))
        val previous = mk
          .select(col("approved_symbol"),
            explode(split(coalesce(col("previous_symbols"), lit("")), ",")).as("match_symbol"))
          .withColumn("match_symbol", trim(col("match_symbol")))
          .filter(col("match_symbol") =!= "")
          .withColumn("match_kind", lit("previous"))
        val alias = mk
          .select(col("approved_symbol"),
            explode(split(coalesce(col("alias_symbols"), lit("")), ",")).as("match_symbol"))
          .withColumn("match_symbol", trim(col("match_symbol")))
          .filter(col("match_symbol") =!= "")
          .withColumn("match_kind", lit("alias"))
        approved.unionByName(previous).unionByName(alias)
      },
      outputColumns = Seq("approved_symbol", "match_symbol", "match_kind")))
    .register(molecularTable("mutation_data", "raw_mutation",
      Seq("biotype", "amino_acid_change", "consequence", "read_depth",
        "allele_frequency", "chromosome", "strand", "seq_start_position",
        "ref_allele", "alt_allele")))
    .register(molecularTable("expression_data", "raw_expression",
      Seq("chromosome", "strand", "seq_start_position", "seq_end_position",
        "rnaseq_coverage", "rnaseq_fpkm", "rnaseq_tpm", "rnaseq_count")))
    .register(molecularTable("cna_data", "raw_cna",
      Seq("chromosome", "strand", "seq_start_position", "seq_end_position",
        "log10r_cna", "log2r_cna", "copy_number_status", "gistic_value")))
    .register(molecularTable("biomarker_data", "raw_biomarker",
      Seq("biomarker_status")))
    .register(EntityDef("search_index", Seq("patient_sample", "patient",
      "ethnicity", "tissue", "tumour_type", "model_entity", "cell_model",
      "molecular_characterization", "mutation_data", "expression_data",
      "cna_data", "biomarker_data", "quality_assurance",
      "sample_to_ontology", "ontology_term_diagnosis", "treatment_by_model",
      "model_links", "provider_group", "project_group", "license",
      "xenograft_model_specimen", "model_image", "molecular_data_links"),
      (_, in) => {
        // The search_index assembly (reference
        // `search_index_transformer_job.py:42-126` 70-column contract +
        // the patient-sample / molecular-data intermediate jobs). Sample
        // side stays row-preserving; every enrich is a broadcast dim or a
        // pre-aggregated per-sample/per-model join-back (J10).
        val ps = in("patient_sample")
        val eth = in("ethnicity")
          .select(col("id").as("ethnicity_id"), col("name").as("patient_ethnicity"))
        val p = in("patient")
          .select(col("id").as("patient_fk"), col("patient_id"),
            col("sex").as("patient_sex"), col("history").as("patient_history"),
            col("ethnicity_assessment_method")
              .as("patient_ethnicity_assessment_method"),
            col("initial_diagnosis").as("patient_initial_diagnosis"),
            col("age_at_initial_diagnosis").as("patient_age_at_initial_diagnosis"),
            col("ethnicity_id"))
          .join(broadcast(eth), Seq("ethnicity_id"), "left")
          .drop("ethnicity_id")
        val tis = in("tissue")
          .select(col("id").as("tissue_id"), col("name").as("primary_site"))
        val tt = in("tumour_type")
          .select(col("id").as("tumour_type_id"), col("name").as("tumour_type_name"))
        val m = in("model_entity").select(col("model_id"), col(prov),
          col("id").as("pdcm_model_id"), col("sample_type").as("model_type"),
          col("license").as("license_name"), col("external_ids"),
          col("model_availability"), col("date_submitted"),
          col("publications").as("pdx_model_publications"))
        // Provider registry enrich (one broadcast row per provider):
        // provider_name + project_name (reference joins these in the
        // patient-sample intermediate via provider_group).
        val pgrp = in("provider_group")
          .join(broadcast(in("project_group")
            .select(col("id").as("project_group_id"),
              col("name").as("project_name"))),
            Seq("project_group_id"), "left")
          .select(col(prov), col("name").as("provider_name"),
            col("project_name"))
        // license dim carries the URL for a known license name.
        val lic = in("license").select(col("name").as("license_name"),
          col("url").as("license_url"))
        // Per-model JSON aggregations (reference
        // model_metadata_transformer_job.py:166-212), via to_json(struct)
        // so quotes/backslashes in free text escape correctly.
        val specimens = in("xenograft_model_specimen")
          .groupBy(col("model_fk").as("pdcm_model_id"))
          .agg(to_json(sort_array(collect_list(struct(
            col("host_strain_name"), col("host_strain_nomenclature"),
            col("engraftment_site"), col("engraftment_type"),
            col("sample_type").as("engraftment_sample_type"),
            col("sample_state").as("engraftment_sample_state"),
            col("passage_number"))))).as("xenograft_model_specimens"))
        val images = in("model_image")
          .groupBy(col("model_fk").as("pdcm_model_id"))
          .agg(to_json(sort_array(collect_list(struct(
            col("url"), col("description"), col("sample_type"),
            col("passage"), col("magnification"), col("staining")))))
            .as("model_images"))
        // Resource lists (resources_per_model_util.py): raw-data links
        // pre-aggregated on model_links; annotation resources from the
        // molecular-data link table per model.
        val rawRes = in("model_links").select(col("model_id"), col(prov),
          col("resources").as("raw_data_resources"))
        val annRes = in("molecular_data_links")
          .filter(col("resource").isNotNull && col("model_id").isNotNull)
          .groupBy(col("model_id"), col(prov))
          .agg(sort_array(collect_set(col("resource")))
            .as("cancer_annotation_resources"))
        val onto = in("sample_to_ontology")
          .select(col("sample_id"), col(prov), col("term_name"), col("mapped_term_id"))
          .join(broadcast(in("ontology_term_diagnosis")
            .select(col("term_id").as("mapped_term_id"), col("ancestors"))),
            Seq("mapped_term_id"), "left")
          .drop("mapped_term_id")
        // Dataset names follow the reference's display renames
        // (model_metadata_transformer_job.py:221-227): biomarker →
        // "bio markers", immunemarker → "immune markers"; the treatment /
        // publication flags are appended AFTER the joins below
        // (model_metadata_transformer_job.py:237-266).
        val mcType =
          coalesce(col("molecular_characterisation_type"), lit("unknown"))
        val datasets = in("molecular_characterization")
          .groupBy(col("sample_id"), col(prov))
          .agg(sort_array(collect_set(
            when(mcType === "biomarker", lit("bio markers"))
              .when(mcType === "immunemarker", lit("immune markers"))
              .otherwise(mcType)))
            .as("dataset_available"))
        def markers(entity: String, outCol: String) = in(entity)
          .filter(col("harmonized_symbol").isNotNull)
          .groupBy(col("sample_id"), col(prov))
          .agg(sort_array(collect_set(col("harmonized_symbol"))).as(outCol))
        val bio = in("biomarker_data")
        val breast = bio
          .filter(col("symbol").isin("ERBB2", "ESR1", "PGR") &&
            lower(col("biomarker_status")).isin("positive", "negative"))
          .groupBy(col("sample_id"), col(prov))
          .agg(sort_array(collect_set(concat(
            Links.displayBreastGene(col("symbol")), lit(" "),
            lower(col("biomarker_status"))))).as("breast_cancer_biomarkers"))
        val msi = bio.filter(upper(col("symbol")).startsWith("MSI"))
          .groupBy(col("sample_id"), col(prov))
          .agg(sort_array(collect_set(col("biomarker_status"))).as("msi_status"))
        val hla = bio.filter(col("symbol").startsWith("HLA"))
          .groupBy(col("sample_id"), col(prov))
          .agg(sort_array(collect_set(col("symbol"))).as("hla_types"))
        val qa = in("quality_assurance")
          .select(col("model_id"), col(prov),
            col("validation_json").as("quality_assurance"))
        val tbm = in("treatment_by_model").withColumnRenamed(
          "treatment_types", "custom_treatment_type_list")
        val links = in("model_links").select(col("model_id"), col(prov),
          col("links_json").as("external_db_links"))
        val cell = in("cell_model").select(col("model_id"), col(prov),
          col("model_name"), col("model_name_aliases"),
          col("growth_properties"), col("growth_media"), col("media_id"),
          col("plate_coating"), col("supplier"), col("supplier_type"),
          col("catalog_number"), col("vendor_link"), col("rrid"))
        val emptyArr = array().cast("array<string>")
        ps.join(p, Seq("patient_fk"), "left")
          .join(broadcast(tis), Seq("tissue_id"), "left")
          .join(broadcast(tt), Seq("tumour_type_id"), "left")
          .join(m, Seq("model_id", prov), "left")
          .join(onto, Seq("sample_id", prov), "left")
          .join(datasets, Seq("sample_id", prov), "left")
          .join(markers("mutation_data", "markers_with_mutation_data"),
            Seq("sample_id", prov), "left")
          .join(markers("expression_data", "markers_with_expression_data"),
            Seq("sample_id", prov), "left")
          .join(markers("cna_data", "markers_with_cna_data"),
            Seq("sample_id", prov), "left")
          .join(markers("biomarker_data", "markers_with_biomarker_data"),
            Seq("sample_id", prov), "left")
          .join(breast, Seq("sample_id", prov), "left")
          .join(msi, Seq("sample_id", prov), "left")
          .join(hla, Seq("sample_id", prov), "left")
          .join(qa, Seq("model_id", prov), "left")
          .join(tbm, Seq("model_id", prov), "left")
          .join(links, Seq("model_id", prov), "left")
          .join(cell, Seq("model_id", prov), "left")
          .join(broadcast(pgrp), Seq(prov), "left")
          .join(broadcast(lic), Seq("license_name"), "left")
          .join(specimens, Seq("pdcm_model_id"), "left")
          .join(images, Seq("pdcm_model_id"), "left")
          .join(rawRes, Seq("model_id", prov), "left")
          .join(annRes, Seq("model_id", prov), "left")
          .withColumn("model_name_aliases",
            when(col("model_name_aliases").isNull, array().cast("array<string>"))
              .otherwise(split(col("model_name_aliases"), ",")))
          .withColumn("histology",
            Links.displayTermName(coalesce(col("term_name"), col("diagnosis"))))
          // search_terms: renamed term + ancestors minus top-level noise
          // (search_index_patient_sample_transformer_job.py:125-146);
          // cancer_system: first intersect with the configured systems.
          .withColumn("search_terms",
            when(col("term_name").isNull, emptyArr).otherwise(
              array_except(
                array_distinct(transform(
                  split(concat_ws("|", col("term_name"), col("ancestors")), "\\|"),
                  Links.displayTermName(_))),
                typedLit(ExcludeTopLevelTerms))))
          .withColumn("cancer_system",
            coalesce(
              // try_element_at: ANSI mode makes element_at(empty, 1) THROW
              try_element_at(array_intersect(typedLit(CancerSystems),
                col("search_terms")), lit(1)),
              lit("Unclassified")))
          .withColumn("patient_age_category",
            Cleaning.binAge(col("patient_age_at_initial_diagnosis")))
          // patient_age is the BINNED age at collection (reference
          // search_index_patient_sample_transformer_job.py:90-92).
          .withColumn("patient_age",
            Cleaning.binAge(col("age_in_years_at_collection")))
          .withColumnRenamed("stage", "cancer_stage")
          .withColumnRenamed("staging_system", "cancer_staging_system")
          .withColumnRenamed("grade", "cancer_grade")
          .withColumnRenamed("grading_system", "cancer_grading_system")
          .withColumnRenamed("collection_date", "patient_sample_collection_date")
          .withColumnRenamed("collection_event", "patient_sample_collection_event")
          .withColumnRenamed("collection_method", "patient_sample_collection_method")
          .withColumnRenamed("virology_status", "patient_sample_virology_status")
          .withColumnRenamed("treatment_naive_at_collection",
            "patient_sample_treatment_naive_at_collection")
          .withColumnRenamed("response_to_treatment",
            "patient_sample_response_to_treatment")
          .withColumnRenamed("months_since_collection_1",
            "patient_sample_months_since_collection_1")
          .withColumnRenamed("gene_mutation_status",
            "patient_sample_gene_mutation_status")
          .withColumnRenamed("sharable", "patient_sample_sharable")
          .withColumnRenamed("treated_at_collection",
            "patient_sample_treated_at_collection")
          .withColumnRenamed("treated_prior_to_collection",
            "patient_sample_treated_prior_to_collection")
          .withColumn("dataset_available",
            coalesce(col("dataset_available"), emptyArr))
          // Treatment/publication availability rides the SAME list the
          // UI facets on (model_metadata_transformer_job.py:237-266):
          // sorted molchar kinds first, then the flags in the reference's
          // append order — deterministic on both engines.
          .withColumn("dataset_available",
            when(size(col("model_treatments")) > 0,
              concat(col("dataset_available"), array(lit("model treatment"))))
              .otherwise(col("dataset_available")))
          .withColumn("dataset_available",
            when(size(col("patient_treatments")) > 0,
              concat(col("dataset_available"), array(lit("patient treatment"))))
              .otherwise(col("dataset_available")))
          .withColumn("dataset_available",
            when(col("pdx_model_publications").isNotNull,
              concat(col("dataset_available"), array(lit("publication"))))
              .otherwise(col("dataset_available")))
          // 7 possible kinds (data_calculator.py:8-9): mutation,
          // biomarkers, copy number alteration, expression, patient
          // treatment, model treatment, publication.
          .withColumn("data_score", Scoring.dataScore(col("dataset_available"), 7))
          .withColumn("metadata_score", Scoring.metadataScore(Seq(
            Scoring.Weight("diagnosis", 4), Scoring.Weight("patient_sex", 2),
            Scoring.Weight("tissue_id", 2), Scoring.Weight("tumour_type_id", 2))))
          // scores JSON (reference model_characterizations_calculator:
          // {"pdx_metadata_score": N, "data_score": M}); to_json escapes.
          .withColumn("scores", to_json(struct(
            col("metadata_score").as("pdx_metadata_score"),
            col("data_score"))))
          .withColumnRenamed("model_id", "external_model_id")
          .withColumnRenamed("sample_id", "patient_sample_id")
          .withColumnRenamed("tumour_type_name", "tumour_type")
      },
      // prov IS "data_source" — listed once. The 67-column reference
      // contract (entities_registry.py:623-691) plus engine extras
      // (data_score/metadata_score/external_db_links/cell-sheet columns).
      outputColumns = Seq("pdcm_model_id", "external_model_id", "data_source",
        "project_name", "provider_name", "external_ids",
        "model_type", "histology", "search_terms", "cancer_system",
        "dataset_available", "data_score", "metadata_score", "scores",
        "patient_id", "patient_age", "patient_sex", "patient_history",
        "patient_ethnicity", "patient_ethnicity_assessment_method",
        "patient_initial_diagnosis",
        "patient_age_at_initial_diagnosis", "patient_age_category",
        "patient_sample_id", "primary_site", "collection_site", "tumour_type",
        "markers_with_mutation_data", "markers_with_expression_data",
        "markers_with_cna_data", "markers_with_biomarker_data",
        "breast_cancer_biomarkers", "msi_status", "hla_types",
        "quality_assurance", "xenograft_model_specimens", "model_images",
        "model_treatments", "model_treatments_responses",
        "patient_treatments", "patient_treatments_responses",
        "custom_treatment_type_list", "pdx_model_publications",
        "license_name", "license_url", "model_availability",
        "external_db_links", "raw_data_resources",
        "cancer_annotation_resources",
        "model_name", "model_name_aliases", "growth_properties",
        "growth_media", "media_id", "plate_coating",
        "supplier", "supplier_type", "catalog_number", "vendor_link", "rrid",
        "cancer_stage", "cancer_staging_system", "cancer_grade",
        "cancer_grading_system", "patient_sample_collection_date",
        "patient_sample_collection_event", "patient_sample_collection_method",
        "patient_sample_months_since_collection_1",
        "patient_sample_gene_mutation_status",
        "patient_sample_virology_status", "patient_sample_sharable",
        "patient_sample_treatment_naive_at_collection",
        "patient_sample_treated_at_collection",
        "patient_sample_treated_prior_to_collection",
        "patient_sample_response_to_treatment", "date_submitted")))
    .register(EntityDef("search_facet", Seq("search_index"),
      (_, in) => Scoring.buildFacets(in("search_index"), ReferenceFacets),
      outputColumns = Seq("index", "facet_section", "facet_name",
        "facet_description", "facet_column", "facet_options",
        "facet_example", "any_operator", "all_operator", "is_boolean",
        "facet_type")))
    .register(EntityDef("model_metadata", Seq("search_index"),
      (_, in) => {
        // JSON metadata per model (reference
        // `model_metadata_transformer_job.py:137-266`): concat-built JSON
        // object string from the per-model search_index row set (A2).
        def jstr(c: Column): Column = Links.jsonStr(c)
        in("search_index")
          .groupBy(col("external_model_id"), col(prov))
          .agg(
            first(col("model_type"), ignoreNulls = true).as("model_type"),
            first(col("license_name"), ignoreNulls = true).as("license_name"),
            first(col("model_availability"), ignoreNulls = true)
              .as("model_availability"),
            first(col("quality_assurance"), ignoreNulls = true).as("qa_json"),
            first(col("external_db_links"), ignoreNulls = true).as("links_json"),
            sort_array(array_distinct(flatten(collect_list(
              col("dataset_available"))))).as("dataset_available"))
          .withColumn("metadata_json", concat(
            lit("{\"external_model_id\":"), jstr(col("external_model_id")),
            lit(",\"data_source\":"), jstr(col(prov)),
            lit(",\"model_type\":"), jstr(col("model_type")),
            lit(",\"license\":"), jstr(col("license_name")),
            lit(",\"quality_assurance\":"), coalesce(col("qa_json"), lit("[]")),
            lit(",\"external_db_links\":"), coalesce(col("links_json"), lit("[]")),
            lit("}")))
      },
      outputColumns = Seq("external_model_id", prov, "model_type",
        "license_name", "model_availability", "dataset_available",
        "metadata_json")))
    .register(ontologyBranch("ontology_term_diagnosis", DiagnosisRoots))
    .register(ontologyBranch("ontology_term_treatment", TreatmentRoots))
    .register(ontologyBranch("ontology_term_regimen", RegimenRoots))
    .register(EntityDef("sample_to_ontology",
      Seq("raw_sample", "raw_diagnosis_mappings", "ontology_term_diagnosis"),
      (_, in) => {
        // 4-key curated-mapping join (J3 +
        // sample_to_ontology_transformer_job.py:120-139): sample raw
        // strings → mapping rule → ontology term FK. Rules and the
        // ontology dim broadcast; the sample side never shuffles.
        val samples = in("raw_sample")
          .dropDuplicates("sample_id", prov)
          .withColumnRenamed(prov, "data_source")
        val onto = in("ontology_term_diagnosis")
          .select(col("id").as("ontology_term_id"),
            col("term_id").as("mapped_term_id"), col("term_name"))
        val rules = in("raw_diagnosis_mappings")
          .join(broadcast(onto), Seq("mapped_term_id"), "left")
        MappingRules.mapSamples(samples, rules)
          .select(col("sample_id"), col("data_source").as(prov),
            col("mapped_term_id"), col("ontology_term_id"), col("term_name"))
      },
      outputColumns = Seq("sample_id", prov, "mapped_term_id",
        "ontology_term_id", "term_name")))
    .register(EntityDef("regimen_to_treatment",
      Seq("raw_ontolia", "ontology_term_regimen", "ontology_term_treatment"),
      (_, in) => {
        // Ontolia regimen→components links resolved to ontology FKs
        // (reference regimen_to_treatment_transformer_job.py:88-95:
        // split + explode the comma-joined treatment list).
        val pairs = in("raw_ontolia").select(
          col("regimen").as("regimen_term_id"),
          explode(split(col("treatments"), ",")).as("treatment_term_id"))
        val reg = in("ontology_term_regimen")
          .select(col("id").as("regimen_ontology_id"),
            col("term_id").as("regimen_term_id"))
        val tr = in("ontology_term_treatment")
          .select(col("id").as("treatment_ontology_id"),
            col("term_id").as("treatment_term_id"))
        pairs.join(broadcast(reg), Seq("regimen_term_id"), "left")
          .join(broadcast(tr), Seq("treatment_term_id"), "left")
      },
      outputColumns = Seq("regimen_term_id", "treatment_term_id",
        "regimen_ontology_id", "treatment_ontology_id")))
    .register(EntityDef("treatment_harmonised",
      Seq("treatment_protocol", "ontology_term_treatment", "ontology_term_regimen"),
      (_, in) => {
        // Name → ontology-term harmonization per protocol component
        // (reference get_treatments_by_protocol,
        // treatment_data_aggregator_by_model.py:160-183): case-insensitive
        // match against the treatment and regimen branches; types
        // classified from ancestor names + own name (calculate_type,
        // treatment_type_helper_transformer_job.py:33-87).
        val tp = in("treatment_protocol").select(
          col("protocol_id").as("treatment_protocol_id"),
          lower(Cleaning.trimAll(col("treatment_name"))).as("name_key"))
        def side(onto: DataFrame, cls: String) = tp.join(
          broadcast(onto.select(
            lower(col("term_name")).as("name_key"), col("term_name"),
            Links.classifyTreatmentTypes(
              array_append(
                split(coalesce(col("ancestors"), lit("")), "\\|"),
                col("term_name")),
              TreatmentTypeKeywords).as("types"))),
          Seq("name_key"), "inner")
          .select(col("treatment_protocol_id"), col("term_name"), col("types"),
            lit(cls).as("class"))
        side(in("ontology_term_treatment"), "treatment")
          .union(side(in("ontology_term_regimen"), "regimen"))
      },
      outputColumns = Seq("treatment_protocol_id", "term_name", "types", "class")))
    .register(EntityDef("treatment_by_model",
      Seq("treatment_protocol", "treatment_harmonised", "regimen_to_treatment",
        "ontology_term_treatment", "ontology_term_regimen"),
      (_, in) => {
        // The aggregator (treatment_data_aggregator_by_model.py:103-278):
        // direct terms ∪ regimen→component expansion ∪ DISCOVERED regimens
        // (protocol's sorted treatment list == regimen's sorted component
        // list — the J7 array-equality join), then per-(model, target)
        // array aggregation and a model⟗patient outer join (J5).
        val r2t = in("regimen_to_treatment")
          .join(broadcast(in("ontology_term_regimen")
            .select(col("term_id").as("regimen_term_id"),
              col("term_name").as("regimen"))), Seq("regimen_term_id"))
          .join(broadcast(in("ontology_term_treatment")
            .select(col("term_id").as("treatment_term_id"),
              col("term_name").as("treatment"))), Seq("treatment_term_id"))
          .select("regimen", "treatment")
        val direct = in("treatment_harmonised")
        val discoveredTreatments = direct.filter(col("class") === "regimen")
          .join(r2t, direct("term_name") === r2t("regimen"))
          .select(col("treatment_protocol_id"), col("treatment").as("term_name"),
            col("types"), lit(null).cast("string").as("class"))
        val byProtocol = direct.filter(col("class") === "treatment")
          .groupBy(col("treatment_protocol_id"))
          .agg(sort_array(collect_list(col("term_name"))).as("treatment_list"),
            array_distinct(flatten(collect_list(col("types")))).as("types"))
        val byRegimen = r2t.groupBy(col("regimen"))
          .agg(collect_list(col("treatment")).as("component_list"))
        val discoveredRegimens = Relational
          .sortedArrayJoin(byProtocol, "treatment_list", byRegimen, "component_list")
          .select(col("treatment_protocol_id"), col("regimen").as("term_name"),
            col("types"), lit(null).cast("string").as("class"))
        val all = direct
          .select("treatment_protocol_id", "term_name", "types", "class")
          .union(discoveredTreatments).union(discoveredRegimens)
        // Provenance rides along end-to-end: two providers can share an
        // external model_id, and grouping on model_id alone would
        // cross-contaminate their treatment lists (the reference keys on
        // the internal per-provider model FK).
        val proto = in("treatment_protocol").select(
          col("protocol_id").as("treatment_protocol_id"), col("model_id"),
          col(prov), col("target_kind"), col("treatment_response")).dropDuplicates()
        val grouped = proto.join(all, Seq("treatment_protocol_id"), "left")
          .drop("treatment_protocol_id").dropDuplicates()
          .withColumn("term_name", lower(col("term_name")))
          .groupBy(col("model_id"), col(prov), col("target_kind"))
          .agg(
            sort_array(array_distinct(collect_list(col("term_name"))))
              .as("treatments"),
            sort_array(array_distinct(flatten(collect_list(col("types")))))
              .as("treatment_types"),
            sort_array(array_distinct(collect_list(col("treatment_response"))))
              .as("responses"))
        val model = grouped.filter(col("target_kind") === "model").select(
          col("model_id"), col(prov), col("treatments").as("model_treatments"),
          col("responses").as("model_treatments_responses"),
          col("treatment_types").as("model_types"))
        val patient = grouped.filter(col("target_kind") === "patient").select(
          col("model_id"), col(prov), col("treatments").as("patient_treatments"),
          col("responses").as("patient_treatments_responses"),
          col("treatment_types").as("patient_types"))
        model.join(patient, Seq("model_id", prov), "outer")
          .withColumn("treatment_types", sort_array(array_distinct(concat(
            coalesce(col("model_types"), array().cast("array<string>")),
            coalesce(col("patient_types"), array().cast("array<string>"))))))
          .drop("model_types", "patient_types")
      },
      outputColumns = Seq("model_id", prov, "model_treatments",
        "model_treatments_responses", "patient_treatments",
        "patient_treatments_responses", "treatment_types")))
    .register(EntityDef("treatment",
      Seq("treatment_protocol", "ontology_term_treatment",
        "ontology_term_regimen", "raw_chembl_lookup"),
      (_, in) => {
        // Reference treatment entity (`treatment_transformer_job.py:35-68`):
        // one GLOBAL row (no provenance — names are cross-provider) per
        // harmonised term, with the raw provider spellings aggregated as
        // `aliases`, plus one row per unmapped raw name. ChEMBL links are
        // resolved from the OFFLINE lookup table — the reference calls the
        // EBI API inside a UDF (`treatments_links_builder.py:59-113`), a
        // network-in-UDF anti-pattern Links.chemblLinks replaces with a
        // broadcast join.
        val names = in("treatment_protocol")
          .select(Cleaning.trimAll(col("treatment_name")).as("name"))
          .filter(col("name").isNotNull && length(col("name")) > 0)
          .distinct()
          .withColumn("name_key", lower(col("name")))
        def branch(onto: DataFrame, cls: String) = onto.select(
          lower(col("term_name")).as("name_key"), col("term_name"),
          col("term_id"),
          Links.classifyTreatmentTypes(
            array_append(
              split(coalesce(col("ancestors"), lit("")), "\\|"),
              col("term_name")),
            TreatmentTypeKeywords).as("types"),
          lit(cls).as("class"))
        val terms = branch(in("ontology_term_treatment"), "treatment")
          .unionByName(branch(in("ontology_term_regimen"), "regimen"))
        val mapped = names.join(terms, Seq("name_key"))
          .groupBy(col("term_name"), col("term_id"), col("types"), col("class"))
          .agg(sort_array(array_distinct(collect_list(col("name"))))
            .as("aliases"))
          .select(col("term_name").as("name"), col("term_id"), col("types"),
            col("class"), col("aliases"))
        val unmapped = names.join(terms, Seq("name_key"), "left_anti")
          .select(col("name"), lit(null).cast("string").as("term_id"),
            lit(null).cast("array<string>").as("types"),
            lit(null).cast("string").as("class"),
            lit(null).cast("array<string>").as("aliases"))
        Links.chemblLinks(mapped.unionByName(unmapped), "name",
            in("raw_chembl_lookup"))
          .withColumn("external_db_links",
            when(col("chembl_link").isNotNull, to_json(array(struct(
              lit("name").as("column"), lit("ChEMBL").as("resource"),
              col("chembl_link").as("link"))))))
          .withColumn("id", Ids.hashId(col("name")))
      },
      outputColumns = Seq("id", "name", "term_id", "types", "class",
        "aliases", "external_db_links")))
    .register(EntityDef("treatment_component",
      Seq("treatment_protocol", "treatment"),
      (_, in) => {
        // Component → treatment FK resolution
        // (`treatment_component_transformer_job.py:66-115`): harmonised
        // components match through the alias list (raw spelling → term
        // row); unmapped ones by their own name. min() keeps the id
        // deterministic if a spelling aliases both a treatment- and a
        // regimen-class row.
        val t = in("treatment")
        val byAlias = t.filter(col("term_id").isNotNull)
          .select(col("id").as("treatment_id"),
            explode(col("aliases")).as("raw_name"))
        val byName = t.filter(col("term_id").isNull)
          .select(col("id").as("treatment_id"), col("name").as("raw_name"))
        val nameToId = byAlias.unionByName(byName)
          .groupBy(lower(Cleaning.trimAll(col("raw_name"))).as("name_key"))
          .agg(min(col("treatment_id")).as("treatment_id"))
        in("treatment_protocol")
          .select(col("protocol_id").as("treatment_protocol_id"),
            lower(Cleaning.trimAll(col("treatment_dose"))).as("dose"),
            lower(Cleaning.trimAll(col("treatment_name"))).as("name_key"))
          .join(nameToId, Seq("name_key"), "left")
          .dropDuplicates("treatment_protocol_id", "dose", "treatment_id")
          .withColumn("id", Ids.hashId(col("treatment_protocol_id"),
            col("dose"), col("treatment_id")))
          .select("id", "dose", "treatment_protocol_id", "treatment_id")
      },
      outputColumns = Seq("id", "dose", "treatment_protocol_id",
        "treatment_id")))
    .register(EntityDef("model_links",
      Seq("model_entity", "raw_external_resources"),
      (_, in) => {
        // Per-model external-registry links (reference
        // `model_ids_links.py:36-174`): id patterns extracted from the
        // model's database_url, restricted to ACTIVE inline resources
        // from the S11 registry, aggregated to a JSON-array column (A2).
        val active = in("raw_external_resources")
          .filter(col("link_building_method") === "inline")
          .select(col("label").as("resource"))
        Links.resolveIdLinks(in("model_entity"), "database_url")
          .filter(col("resource").isNotNull)
          .join(broadcast(active), Seq("resource"), "left_semi")
          .groupBy(col("model_id"), col(prov))
          .agg(concat(lit("["),
            concat_ws(",", sort_array(collect_list(concat(
              lit("{\"resource\":"), Links.jsonStr(col("resource")),
              lit(",\"link\":"), Links.jsonStr(col("link")), lit("}"))))),
            lit("]")).as("links_json"),
            // Bare resource-name list: search_index.raw_data_resources
            // (reference resources_per_model_util.py:85-91 extracts it
            // back OUT of the JSON; the pre-aggregation side saves that).
            sort_array(collect_set(col("resource"))).as("resources"))
      },
      outputColumns = Seq("model_id", prov, "links_json", "resources")))
    .register(EntityDef("molecular_data_links",
      Seq("mutation_data", "raw_downloaded_resources", "raw_molchar_sample"),
      (_, in) => {
        // Expression join on a concatenated key against downloaded
        // resource entries (J8,
        // `molecular_data_links_builder.py:58-67`): "<symbol> <pos>" ==
        // entry AND resource type 'Variant'. Resource side broadcast.
        // model_id rides along (via the molchar sample sheet) so
        // search_index can aggregate cancer_annotation_resources per
        // model (resources_per_model_util.py:16-43).
        val res = in("raw_downloaded_resources")
          .filter(col("type") === "Variant")
          .select(col("entry"), col("resource"), col("link"))
        val sm = in("raw_molchar_sample")
          .select(col("sample_id"), col("model_id"), col(prov))
          .dropDuplicates("sample_id", prov)
        // Alias-qualified refs, not dataset-apply ones: mutation_data's
        // plan now itself contains raw_downloaded_resources (the per-row
        // external_db_links build), so res("…") against md would be an
        // ambiguous self-join reference (the r6 nullSafeJoin lesson).
        val md = in("mutation_data").as("md")
        md.join(broadcast(res.as("r")),
            expr("concat_ws(' ', md.symbol, md.seq_start_position) = r.entry"),
            "left")
          .select(col("md.sample_id"), col("md.symbol"),
            col("md.seq_start_position"),
            col("r.resource"), col("r.link"), col(s"md.$prov"))
          .join(sm, Seq("sample_id", prov), "left")
      },
      outputColumns = Seq("sample_id", "model_id", "symbol",
        "seq_start_position", "resource", "link", prov)))
    .register(EntityDef("nodes", Seq("patient", "patient_sample", "model_entity"),
      (_, in) => {
        val pn = in("patient").select(lit("patient").as("node_type"),
          col("id").as("node_id"),
          concat(lit("{\"patient_id\":"), Links.jsonStr(col("patient_id")),
            lit("}")).as("data"))
        val sn = in("patient_sample").select(lit("sample").as("node_type"),
          col("id").as("node_id"),
          concat(lit("{\"sample_id\":"), Links.jsonStr(col("sample_id")),
            lit("}")).as("data"))
        val mn = in("model_entity").select(lit("model").as("node_type"),
          col("id").as("node_id"),
          concat(lit("{\"model_id\":"), Links.jsonStr(col("model_id")),
            lit("}")).as("data"))
        pn.union(sn).union(mn)
      },
      outputColumns = Seq("node_type", "node_id", "data")))
    .register(EntityDef("edges", Seq("patient", "patient_sample", "model_entity"),
      (_, in) => {
        val ps = in("patient_sample")
        val patientSample = ps.filter(col("patient_fk").isNotNull)
          .select(lit("patient_sample").as("label"),
            col("patient_fk").as("src"), col("id").as("dst"))
        val m = in("model_entity").select(
          col("id").as("model_fk"), col("model_id"), col(prov))
        val sampleModel = ps.filter(col("model_id").isNotNull)
          .join(m, Seq("model_id", prov), "inner")
          .select(lit("sample_model").as("label"),
            col("id").as("src"), col("model_fk").as("dst"))
        // Parent/child model lineage: self-join on parent_model_id within
        // the same provider (J6, edges_transformer_job.py:285-300).
        val me = in("model_entity")
        val parents = me.select(col("id").as("parent_fk"),
          col("model_id").as("parent_external_id"), col(prov))
        val parentModel = me
          .filter(col("parent_model_id").isNotNull &&
            Cleaning.trimAll(col("parent_model_id")) =!= "")
          .select(col("id").as("child_fk"),
            col("parent_model_id").as("parent_external_id"), col(prov))
          .join(parents, Seq("parent_external_id", prov), "inner")
          .select(lit("parent_model").as("label"),
            col("parent_fk").as("src"), col("child_fk").as("dst"))
        patientSample.union(sampleModel).union(parentModel)
      },
      outputColumns = Seq("label", "src", "dst")))
    // model_relationships + has_relations (scripts/updates.sql:1-39):
    // nested parents/children JSON per model, resolved one hierarchy
    // LEVEL per round for every model at once — the reference runs its
    // recursive get_parents_tree/get_children_tree SQL function once
    // per model row. Lineage joins on the external model id, exactly
    // like init.sql:1186-1188.
    .register(EntityDef("model_relationships", Seq("model_entity"),
      (_, in) => {
        // data_source-SCOPED (r12 volume-drill find): external model
        // ids are only unique per provider, so the lineage trees must
        // never join across providers — the unscoped form silently
        // merged colliding ids once >1 provider shipped models.
        val m = in("model_entity")
          .select(col("model_id").as("external_model_id"),
            col("data_source"),
            coalesce(col("sample_type"), lit("")).as("type"),
            when(Cleaning.trimAll(col("parent_model_id")) === "",
              lit(null).cast("string"))
              .otherwise(col("parent_model_id")).as("parent_id"))
          .dropDuplicates("external_model_id", "data_source")
        graft.graph.Trees.modelRelationships(
          m, "external_model_id", "type", "parent_id",
          scopeCol = Some("data_source"))
      },
      outputColumns = Seq(
        "external_model_id", "data_source", "model_relationships",
        "has_relations")))
    // knowledge_graph (scripts/updates.sql:81-150): per-model reachable
    // subgraph JSON over the nodes/edges property graph. The root is
    // the model's PATIENT ancestor (find_root_node walks up the edge
    // table); each distinct root's subgraph is assembled ONCE and
    // joined back to its models — the reference re-runs the recursive
    // walk and temp-table dance per model call.
    .register(EntityDef("knowledge_graph",
      Seq("nodes", "edges", "model_entity"),
      (_, in) => {
        val nodes = in("nodes")
        val edges = in("edges")
        val models = in("model_entity").select(
          col("id").as("model_fk"),
          col("model_id").as("external_model_id"), col(prov))
        val rev = edges.select(col("dst").as("src"), col("src").as("dst"),
          col("label"))
        val up = graft.graph.Trees.reachableEdges(
          rev, models.select(col("model_fk").as("root")), "root")
        val patientIds = nodes.filter(col("node_type") === "patient")
          .select(col("node_id").as("p_id"))
        val rootFor = up.join(patientIds, up("dst") === col("p_id"))
          .groupBy(col("root")).agg(min(col("dst")).as("graph_root"))
          .select(col("root").as("m_fk"), col("graph_root"))
        val graphs = graft.graph.Trees.knowledgeGraph(nodes, edges,
          rootFor.select(col("graph_root").as("root")).dropDuplicates(),
          "root").select(col("root").as("g_root"), col("knowledge_graph"))
        models.join(rootFor, col("model_fk") === col("m_fk"), "left")
          .join(graphs, col("graph_root") === col("g_root"), "left")
          .select(col("external_model_id"), col(prov), col("knowledge_graph"))
      },
      outputColumns = Seq("external_model_id", prov, "knowledge_graph")))
    // Release report (scripts/reports.sql:1-146): record counts per
    // entity/provider + null-FK audit, one lazy UNION of tiny
    // aggregates (the reference drives a Postgres cursor per table).
    .register(EntityDef("report",
      Seq("patient", "patient_sample", "model_entity", "mutation_data",
        "expression_data", "cna_data", "biomarker_data",
        "immunemarker_data", "treatment", "search_index", "nodes", "edges"),
      (_, in) => Report.build(in),
      outputColumns = Seq("report_type", "report_key", "report_value")))
    .register(EntityDef("available_molecular_data_columns",
      Seq("mutation_data", "expression_data", "cna_data", "biomarker_data"),
      (_, in) => {
        // Per provider per mol-char type: which columns actually carry
        // data (A4 conditional-count aggregation,
        // available_molecular_data_columns_transformer_job.py:151-158).
        def avail(entity: String, kind: String, cols: Seq[String]) =
          Relational.nonNullCounts(in(entity), prov, cols)
            .select(col(prov),
              lit(kind).as("molecular_characterization_type"),
              sort_array(filter(
                array(cols.map(c => when(col(c) > 0, lit(c))): _*),
                _.isNotNull)).as("not_empty_cols"))
        avail("mutation_data", "mutation",
          Seq("symbol", "harmonized_symbol", "chromosome", "seq_start_position"))
          .union(avail("expression_data", "expression",
            Seq("symbol", "harmonized_symbol", "rnaseq_coverage",
              "rnaseq_fpkm", "rnaseq_tpm", "rnaseq_count")))
          .union(avail("cna_data", "cna",
            Seq("symbol", "harmonized_symbol", "log10r_cna", "log2r_cna",
              "copy_number_status", "gistic_value")))
          .union(avail("biomarker_data", "biomarker",
            Seq("symbol", "harmonized_symbol", "biomarker_status")))
      },
      outputColumns = Seq(prov, "molecular_characterization_type",
        "not_empty_cols")))

  /** model entity registered separately (the inline stub above is
    * replaced): raw model + sharing joined on the composite
    * (model_id, provider) key null-safely.
    */
  implicit private class RegistryOps(r: EntityRegistry) {
    def registerModel(): EntityRegistry = r.register(EntityDef(
      "model_entity",
      Seq("raw_model", "raw_sharing", "contact_form", "source_database"),
      (_, in) => {
        val m = in("raw_model").dropDuplicates("model_id", prov)
          .withColumn("id", Ids.hashId(col("model_id"), col(prov)))
        val sh = in("raw_sharing")
          .dropDuplicates("model_id", prov)
          .select(col("model_id"), col(prov),
            col("accessibility"), col("europdx_access_modality"),
            col("license"), col("form_url"), col("database_url"),
            col("date_submitted"), col("model_availability"))
        // FK the sharing URLs to their global dims (reference
        // model_transformer_job.py:112-120 set_fk_contact_form /
        // set_fk_source_database) — broadcast joins, the dims are tiny.
        val withFks = graft.operators.Relational.transformToFk(
          graft.operators.Relational.transformToFk(
            m.join(sh, Seq("model_id", prov), "left"),
            in("contact_form"), "form_url", "form_url", "id",
            "contact_form_id"),
          in("source_database"), "database_url", "database_url", "id",
          "source_database_id")
        withFks.drop("form_url")
      },
      outputColumns = Seq("id", "model_id", "host_strain_name",
        "host_strain_nomenclature", "engraftment_site", "engraftment_type",
        "sample_type", "sample_state", "passage_number", "publications",
        "external_ids", "parent_model_id", "accessibility",
        "europdx_access_modality", "license", "database_url",
        "date_submitted", "model_availability", "contact_form_id",
        "source_database_id", prov)))
  }

  /** Bind raw-module sources from a provider directory tree
    * (`<root>/<provider>/<module>.tsv`), with empty-input fallback.
    * Shared ontology inputs (`ncit.obo`, `ontolia.txt`,
    * `diagnosis_mappings.json`) live at the root; a missing file degrades
    * to a typed empty frame like every other module (S5). Each source is
    * read on its first lookup ([[LazySources]]), so a run reads only the
    * modules its targets need, and a failed read names the module and
    * its file.
    */
  def sources(spark: SparkSession, root: String): Map[String, DataFrame] =
    // raw_source is read from the provider YAMLs (ontologySources), not
    // globbed as a TSV.
    LazySources((rawSchemas - "raw_source").toSeq.map { case (name, cols) =>
      val paths = name.stripPrefix("raw_") match {
        case "drug_dosing"       => Seq(s"$root/*/drug-dosing.tsv")
        case "patient_treatment" => Seq(s"$root/*/patient-treatment.tsv")
        // markers/chembl_lookup are single global reference files, not
        // per-provider.
        case "markers"           => Seq(s"$root/markers.tsv")
        case "chembl_lookup"     => Seq(s"$root/chembl_lookup.tsv")
        case m                   => Seq(s"$root/*/$m.tsv")
      }
      (name, paths.mkString(", "),
        () => Tsv.read(spark, paths, cols, commentField = Some(cols.head)))
    } ++ ontologySources(spark, root))

  /** The root-level sources as (name, origin, build). */
  private def ontologySources(
      spark: SparkSession, root: String): Seq[(String, String, () => DataFrame)] = {
    def ifExists(name: String, path: String, orElse: => DataFrame)(
        read: String => DataFrame): (String, String, () => DataFrame) =
      (name, path, () =>
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(path))) read(path)
        else orElse)
    def empty(schema: StructType): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val oboSchema = StructType(Seq(
      StructField("term_id", StringType), StructField("term_name", StringType),
      StructField("term_url", StringType),
      StructField("is_a", ArrayType(StringType))))
    val ontoliaSchema = StructType(Seq(
      StructField("regimen", StringType), StructField("treatments", StringType)))
    val mappingSchema = StructType(Seq(
      StructField("data_source", StringType), StructField("diagnosis", StringType),
      StructField("primary_site", StringType), StructField("tumour_type", StringType),
      StructField("mapped_term_id", StringType)))
    Seq(
      ifExists("raw_obo", s"$root/ncit.obo", empty(oboSchema))(Obo.read(spark, _)),
      ifExists("raw_ontolia", s"$root/ontolia.txt", empty(ontoliaSchema))(
        Ontolia.read(spark, _)),
      ifExists("raw_diagnosis_mappings", s"$root/diagnosis_mappings.json",
        empty(mappingSchema))(MappingRules.readDiagnosisRules(spark, _)),
      ("raw_external_resources", "the default resource list",
        () => ExternalResources.resourcesTable(spark, DefaultResources)),
      ("raw_downloaded_resources", s"$root/externalDBs", () =>
        ExternalResources.readDownloaded(spark, root, DefaultResources, DefaultDownloadConfs)),
      // Provider source YAMLs via the S6 module reader, in the
      // rawSchemas column layout.
      ("raw_source", s"$root/*/source.yaml", () => {
        val providerYamls = Option(new java.io.File(root).listFiles())
          .getOrElse(Array.empty[java.io.File])
          .filter(_.isDirectory)
          .flatMap { d =>
            val f = new java.io.File(d, "source.yaml")
            if (f.exists()) Some(d.getName -> f.getPath) else None
          }.toMap
        graft.sources.Yaml.readModule(spark, providerYamls,
          rawSchemas("raw_source"))
      }))
  }
}
