package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}
import org.apache.spark.sql.internal.SQLConf

/** The `pdcm_api` view surface over the ENTITY DAG — the Spark analog of
  * the reference's Postgres view layer (`scripts/views.sql:66-1200`),
  * served natively: entity DataFrames register as temp views and the API
  * views are declarative SQL over them, so Catalyst folds a user query
  * straight through to the entity plans (predicate pushdown reaches the
  * underlying scans; a "materialized" reference view is just an entity
  * the runner persisted).
  *
  * View names carry the `pdcm_api_` prefix (temp views have no schema
  * qualifier).
  */
object PdcmApi {

  /** The data-overview gene panel (data_visualization_views.sql:29-34). */
  private val cohortGenes: String = Seq(
    "ALK", "BCL2", "BRAF", "BRCA1", "BRCA2", "EGFR", "ESR1", "PGR",
    "FGFR2", "FGFR3", "ERBB2", "IDH1", "IDH2", "IRF4", "KRAS", "MYC",
    "PIK3CA", "RET", "ROS1").map(g => s"'$g'").mkString(", ")

  /** Postgres `(row)::text` analog for the molecular `*_data_table`
    * views (views.sql:380,513,596,723): the projected row rendered as
    * "(v1,v2,…)" with NULL → empty string — the haystack the reference
    * UI's free-text filter scans. Divergences, both deliberate: the
    * reference renders the BASE-table tuple (we render the view's own
    * projection — the columns a consumer can actually see), and Postgres
    * CSV-quotes values containing commas/quotes (this surface is a
    * filter haystack, not a parser input, so values render bare).
    */
  private def rowText(exprs: Seq[String]): String =
    exprs.map(e => s"coalesce(CAST($e AS STRING), '')")
      .mkString("'(' || concat_ws(',', ", ", ", ") || ')'")

  /** SQL per derived view (reference views.sql line cited). */
  private val viewSql: Seq[(String, String)] = Seq(
    // model_information (views.sql:66): model + specimen FK row, plus
    // the updates.sql:1-55 enrichment columns (model_relationships /
    // has_relations / knowledge_graph) the reference bolts on with
    // per-row recursive-function UPDATEs after load.
    "model_information" ->
      """SELECT m.id, m.model_id AS external_model_id,
         m.data_source, m.sample_type, m.accessibility,
         m.license, s.host_strain_id, s.engraftment_site_id,
         s.engraftment_type_id, s.passage_number,
         r.model_relationships, coalesce(r.has_relations, false) AS has_relations,
         kg.knowledge_graph
         FROM model_entity m
         LEFT JOIN xenograft_model_specimen s ON m.id = s.model_fk
         LEFT JOIN model_relationships r ON m.model_id = r.external_model_id
           AND m.data_source = r.data_source
         LEFT JOIN knowledge_graph kg
           ON m.model_id = kg.external_model_id
          AND m.data_source = kg.data_source""",
    // model_quality_assurance (views.sql:189).
    "model_quality_assurance" ->
      """SELECT model_id, data_source, validation_json
         FROM quality_assurance""",
    // mutation_data_table (views.sql:363-382): harmonised-or-raw symbol,
    // per-row external_db_links, the row-as-text free-text haystack, and
    // the provider/table restriction filter. NOT EXISTS, not NOT IN: a
    // NULL row in the restriction table would make NOT IN evaluate to
    // NULL for EVERY row and silently empty the view.
    "mutation_data_table" ->
      s"""SELECT molchar_id AS molecular_characterization_id,
         COALESCE(harmonized_symbol, symbol) AS hgnc_symbol,
         symbol AS non_harmonised_symbol, amino_acid_change, chromosome,
         strand, consequence, read_depth, allele_frequency,
         seq_start_position, ref_allele, alt_allele, biotype,
         external_db_links,
         match_stage AS harmonisation_result,
         data_source,
         ${rowText(Seq("molchar_id", "COALESCE(harmonized_symbol, symbol)",
          "symbol", "amino_acid_change", "chromosome", "strand",
          "consequence", "read_depth", "allele_frequency",
          "seq_start_position", "ref_allele", "alt_allele", "biotype",
          "external_db_links", "match_stage", "data_source"))} AS text
         FROM mutation_data d
         WHERE NOT EXISTS
           (SELECT 1 FROM molecular_data_restriction r
            WHERE r.data_source = d.data_source
            AND r.molecular_data_table = 'mutation_measurement_data')""",
    // expression_data_table (views.sql:496-514).
    "expression_data_table" ->
      s"""SELECT molchar_id AS molecular_characterization_id,
         COALESCE(harmonized_symbol, symbol) AS hgnc_symbol,
         symbol AS non_harmonised_symbol, chromosome, strand,
         seq_start_position, seq_end_position, rnaseq_coverage,
         rnaseq_fpkm, rnaseq_tpm, rnaseq_count,
         external_db_links,
         match_stage AS harmonisation_result,
         data_source,
         ${rowText(Seq("molchar_id", "COALESCE(harmonized_symbol, symbol)",
          "symbol", "chromosome", "strand", "seq_start_position",
          "seq_end_position", "rnaseq_coverage", "rnaseq_fpkm",
          "rnaseq_tpm", "rnaseq_count", "external_db_links",
          "match_stage", "data_source"))} AS text
         FROM expression_data d
         WHERE NOT EXISTS
           (SELECT 1 FROM molecular_data_restriction r
            WHERE r.data_source = d.data_source
            AND r.molecular_data_table = 'expression_molecular_data')""",
    // cna_data_table (views.sql:705-727).
    "cna_data_table" ->
      s"""SELECT molchar_id AS molecular_characterization_id,
         COALESCE(harmonized_symbol, symbol) AS hgnc_symbol,
         symbol AS non_harmonised_symbol, chromosome, strand,
         seq_start_position, seq_end_position, log10r_cna, log2r_cna,
         copy_number_status, gistic_value,
         external_db_links,
         match_stage AS harmonisation_result,
         data_source,
         ${rowText(Seq("molchar_id", "COALESCE(harmonized_symbol, symbol)",
          "symbol", "chromosome", "strand", "seq_start_position",
          "seq_end_position", "log10r_cna", "log2r_cna",
          "copy_number_status", "gistic_value", "external_db_links",
          "match_stage", "data_source"))} AS text
         FROM cna_data d
         WHERE NOT EXISTS
           (SELECT 1 FROM molecular_data_restriction r
            WHERE r.data_source = d.data_source
            AND r.molecular_data_table = 'cna_molecular_data')""",
    // biomarker_data_table (views.sql:588-599): the reference renames
    // the symbol pair to biomarker/result and rewrites the link JSON's
    // "column" field from hgnc_symbol to biomarker with a string
    // REPLACE — reproduced verbatim (the links are built on the shared
    // molecularTable path under the hgnc_symbol name).
    "biomarker_data_table" ->
      s"""SELECT molchar_id AS molecular_characterization_id,
         COALESCE(harmonized_symbol, symbol) AS biomarker,
         symbol AS non_harmonised_symbol, biomarker_status AS result,
         replace(external_db_links, 'hgnc_symbol', 'biomarker')
           AS external_db_links,
         match_stage AS harmonisation_result,
         data_source,
         ${rowText(Seq("molchar_id", "COALESCE(harmonized_symbol, symbol)",
          "symbol", "biomarker_status",
          "replace(external_db_links, 'hgnc_symbol', 'biomarker')",
          "match_stage", "data_source"))} AS text
         FROM biomarker_data d
         WHERE NOT EXISTS
           (SELECT 1 FROM molecular_data_restriction r
            WHERE r.data_source = d.data_source
            AND r.molecular_data_table = 'biomarker_molecular_data')""",
    // immunemarker_data_table (views.sql:655).
    "immunemarker_data_table" ->
      """SELECT molchar_id AS molecular_characterization_id, marker_type,
         marker_name, marker_value, essential_or_additional_details,
         data_source
         FROM immunemarker_data d
         WHERE NOT EXISTS
           (SELECT 1 FROM molecular_data_restriction r
            WHERE r.data_source = d.data_source
            AND r.molecular_data_table = 'immunemarker_molecular_data')""",
    // molecular_data_restriction passthrough (views.sql:803).
    "molecular_data_restriction_vw" ->
      "SELECT data_source, molecular_data_table FROM molecular_data_restriction",
    // model_molecular_metadata (views.sql:406, materialized there — here
    // a plain view; persist the molchar entity for the same effect).
    // model_id resolves through whichever origin sample the molchar row
    // points at (the reference pre-joins this in the transformer).
    "model_molecular_metadata" ->
      """SELECT mc.id AS molecular_characterization_id,
         mc.sample_id, mc.sample_origin, mc.sample_origin AS source,
         COALESCE(ps.model_id, xs.model_id, cs.model_id) AS model_id,
         mc.platform_id, mc.molecular_characterisation_type,
         mc.patient_sample_id, mc.xenograft_sample_id, mc.cell_sample_id,
         mc.data_source
         FROM molecular_characterization mc
         LEFT JOIN patient_sample ps ON mc.patient_sample_id = ps.id
         LEFT JOIN xenograft_sample xs ON mc.xenograft_sample_id = xs.id
         LEFT JOIN cell_sample cs ON mc.cell_sample_id = cs.id""",
    // models_by_cancer (views.sql:1097).
    "models_by_cancer" ->
      """SELECT cancer_system, histology, count(*) AS count
         FROM search_index GROUP BY cancer_system, histology""",
    // models_by_mutated_gene (views.sql:1113).
    "models_by_mutated_gene" ->
      """SELECT split_part(gene, '/', 1) AS mutated_gene,
         count(DISTINCT pdcm_model_id) AS count
         FROM (SELECT explode(markers_with_mutation_data) AS gene,
                 pdcm_model_id FROM search_index)
         GROUP BY split_part(gene, '/', 1)""",
    // models_by_dataset_availability (views.sql:1128).
    "models_by_dataset_availability" ->
      """SELECT dataset_availability, count(DISTINCT pdcm_model_id) AS count
         FROM (SELECT explode(dataset_available) AS dataset_availability,
                 pdcm_model_id FROM search_index)
         GROUP BY dataset_availability""",
    // dosing_studies / patient_treatment (views.sql:1142, :1192).
    "dosing_studies" ->
      """SELECT model_id, explode(model_treatments) AS treatment
         FROM treatment_by_model WHERE model_treatments IS NOT NULL""",
    "patient_treatment" ->
      """SELECT model_id, explode(patient_treatments) AS treatment
         FROM treatment_by_model WHERE patient_treatments IS NOT NULL""",
    // provider_group / project_group (views.sql:967, :984).
    "provider_group_vw" ->
      """SELECT id, name, provider_abbreviation, provider_description,
         provider_type_id, project_group_id, data_source
         FROM provider_group""",
    "project_group_vw" -> "SELECT id, name FROM project_group",
    // contact_people (views.sql:229).
    "contact_people_vw" ->
      "SELECT id, name_list, email_list, data_source FROM contact_people",
    // cell_model (views.sql:997).
    "cell_model_vw" ->
      """SELECT id, model_fk, model_id AS external_model_id, model_name,
         model_name_aliases, type, growth_properties, growth_media,
         media_id, plate_coating, data_source
         FROM cell_model""",
    // publication_group (views.sql:352).
    "publication_group_vw" -> "SELECT id, pubmed_ids FROM publication_group",
    // Dim passthroughs (views.sql:264-337).
    "engraftment_site_vw" -> "SELECT id, name FROM engraftment_site",
    "engraftment_type_vw" -> "SELECT id, name FROM engraftment_type",
    "host_strain_vw" -> "SELECT id, name FROM host_strain",
    // search_index API surface (views.sql:816-851): the entity plus the
    // view-computed columns — dataset count net of the publication flag,
    // the paediatric CASE the "Paediatric Models" facet (facet 8)
    // resolves against, the availability booleans, and the
    // model_information enrichment the reference fetches per-row with
    // correlated subqueries (views.sql:843-851; a hash join here — same
    // rows, no per-row probe).
    "search_index_vw" ->
      """SELECT si.*,
         CASE WHEN array_contains(si.dataset_available, 'publication')
           THEN size(si.dataset_available) - 1
           ELSE size(si.dataset_available) END AS model_dataset_type_count,
         CASE WHEN si.project_name = 'PIVOT'
             OR lower(si.histology) LIKE '%childhood%'
             OR si.patient_age LIKE '%19'
             OR si.patient_age LIKE '2 - 9'
             OR si.patient_age LIKE '%months'
             OR si.data_source = 'CCC'
           THEN true ELSE false END AS paediatric,
         CASE WHEN lower(si.model_availability) = 'available'
             OR lower(si.model_availability) = 'unknown'
             OR coalesce(lower(si.vendor_link), '') LIKE 'http%'
           THEN true ELSE false END AS model_availability_boolean,
         array(
           CASE WHEN si.model_availability = 'available'
             THEN 'Available' ELSE 'Not available' END,
           CASE WHEN si.vendor_link IS NULL
               OR lower(si.vendor_link) = 'not provided'
             THEN 'Commercially Not Available'
             ELSE 'Commercially Available' END)
           AS model_availability_plus_commercial_availability,
         mi.model_relationships, mi.has_relations
         FROM search_index si
         LEFT JOIN pdcm_api_model_information mi
           ON si.pdcm_model_id = mi.id AND si.data_source = mi.data_source""",
    // ^ has_relations stays UN-coalesced: the reference computes it with a
    //   correlated scalar subquery (views.sql:847-851) that yields NULL for
    //   a model absent from model_information — the left join reproduces
    //   that exactly. (Within model_information itself the column is never
    //   NULL: updates.sql:23-34 UPDATEs every row, mirrored by the coalesce
    //   in the model_information view above.)
    "search_facet_vw" -> "SELECT * FROM search_facet",
    "available_molecular_data_columns_vw" ->
      "SELECT * FROM available_molecular_data_columns",

    // ── round-3 bulk registration: the rest of views.sql ──────────────
    // molecular_characterization_vw (views.sql:2).
    "molecular_characterization_vw" ->
      """SELECT id, sample_id, sample_origin, passage, platform_id,
         molecular_characterisation_type, patient_sample_id,
         xenograft_sample_id, cell_sample_id, data_source
         FROM molecular_characterization""",
    // model_metadata (views.sql:102): model core + search_index row +
    // specimen display names + contact/source rows. contact_form /
    // source_database resolve through the per-model FKs the model entity
    // carries (views.sql:145-146); contact_people stays provider-scoped.
    "model_metadata_vw" ->
      """SELECT m.model_id, m.data_source, si.provider_name,
         si.model_type AS type,
         x.host_strain_name, x.host_strain_nomenclature,
         x.engraftment_site, x.engraftment_type,
         x.sample_type AS engraftment_sample_type,
         x.sample_state AS engraftment_sample_state,
         x.passage_number,
         si.histology, si.cancer_system, si.primary_site,
         si.collection_site, si.tumour_type AS tumor_type,
         si.cancer_grade, si.cancer_grading_system, si.cancer_stage,
         si.patient_age, si.patient_sex, si.patient_ethnicity,
         m.publications AS pubmed_ids,
         m.europdx_access_modality AS europdx_access_modalities,
         m.accessibility,
         cp.name_list AS contact_name_list,
         cp.email_list AS contact_email_list,
         cf.form_url AS contact_form_url,
         sd.database_url AS source_database_url
         FROM model_entity m
         JOIN search_index si ON si.pdcm_model_id = m.id
         LEFT JOIN xenograft_model_specimen x ON x.model_fk = m.id
         LEFT JOIN contact_people cp ON cp.data_source = m.data_source
         LEFT JOIN contact_form cf ON cf.id = m.contact_form_id
         LEFT JOIN source_database sd ON sd.id = m.source_database_id""",
    // xenograft_model_specimen (views.sql:308).
    "xenograft_model_specimen_vw" ->
      """SELECT id, model_fk, passage_number, host_strain_id,
         engraftment_site_id, engraftment_type_id,
         engraftment_sample_type_id, engraftment_sample_state_id,
         data_source
         FROM xenograft_model_specimen""",
    // quality_assurance (views.sql:337) — the JSON-aggregated form.
    "quality_assurance_vw" ->
      "SELECT model_id, data_source, validation_json FROM quality_assurance",
    // contact_form / source_database (views.sql:242, :253).
    "contact_form_vw" -> "SELECT id, form_url FROM contact_form",
    "source_database_vw" -> "SELECT id, database_url FROM source_database",
    // remaining dim passthroughs (views.sql:286, :297).
    "engraftment_sample_type_vw" ->
      "SELECT id, name FROM engraftment_sample_type",
    "engraftment_sample_state_vw" ->
      "SELECT id, name FROM engraftment_sample_state",
    "response_vw" -> "SELECT id, name FROM response",
    "response_classification_vw" ->
      "SELECT id, name FROM response_classification",
    "model_image_vw" ->
      """SELECT id, model_fk, model_id, url, description, sample_type,
         passage, magnification, staining, data_source FROM model_image""",
    "image_study_vw" ->
      """SELECT id, study_id, title, description, licence, contact,
         sample_organism, sample_description, imaging_instrument,
         imaging_method, data_source FROM image_study""",
    // *_data_extended (views.sql:448, :541, :619, :672, :754): data rows
    // joined back to the model/sample via model_molecular_metadata.
    "mutation_data_extended" ->
      """SELECT mmm.model_id, mmm.sample_id, mmm.source,
         d.hgnc_symbol, d.amino_acid_change, d.consequence, d.read_depth,
         d.allele_frequency, d.seq_start_position, d.ref_allele,
         d.alt_allele, d.data_source, d.non_harmonised_symbol,
         d.harmonisation_result
         FROM pdcm_api_mutation_data_table d
         JOIN pdcm_api_model_molecular_metadata mmm
         ON mmm.molecular_characterization_id = d.molecular_characterization_id""",
    "expression_data_extended" ->
      """SELECT mmm.model_id, mmm.sample_id, mmm.source,
         d.hgnc_symbol, d.rnaseq_coverage, d.rnaseq_fpkm, d.rnaseq_tpm,
         d.rnaseq_count, d.data_source, d.non_harmonised_symbol
         FROM pdcm_api_expression_data_table d
         JOIN pdcm_api_model_molecular_metadata mmm
         ON mmm.molecular_characterization_id = d.molecular_characterization_id""",
    "cna_data_extended" ->
      """SELECT mmm.model_id, mmm.sample_id, mmm.source,
         d.hgnc_symbol, d.log10r_cna, d.log2r_cna, d.copy_number_status,
         d.gistic_value, d.data_source, d.non_harmonised_symbol
         FROM pdcm_api_cna_data_table d
         JOIN pdcm_api_model_molecular_metadata mmm
         ON mmm.molecular_characterization_id = d.molecular_characterization_id""",
    "biomarker_data_extended" ->
      """SELECT mmm.model_id, mmm.sample_id, mmm.source,
         d.hgnc_symbol, d.biomarker_status, d.data_source,
         d.non_harmonised_symbol
         FROM pdcm_api_biomarker_data_table d
         JOIN pdcm_api_model_molecular_metadata mmm
         ON mmm.molecular_characterization_id = d.molecular_characterization_id""",
    "immunemarker_data_extended" ->
      """SELECT mmm.model_id, mmm.sample_id, mmm.source,
         d.marker_type, d.marker_name, d.marker_value,
         d.essential_or_additional_details, d.data_source
         FROM pdcm_api_immunemarker_data_table d
         JOIN pdcm_api_model_molecular_metadata mmm
         ON mmm.molecular_characterization_id = d.molecular_characterization_id""",
    // Data-overview cohort views (data_visualization_views.sql:7,46) —
    // the two materialized views the reference DISABLES on cluster runs
    // ("takes a lot to run", etl/workflow/loader.py:277). Served here as
    // plain declarative views: Catalyst folds the gene-list filter and
    // the search_index join into the scans, so they cost one filtered
    // broadcast join instead of a Postgres materialization.
    "data_overview_mutation_cohorts" ->
      s"""SELECT mut.model_id, mut.sample_id, mut.hgnc_symbol AS symbol,
         mut.amino_acid_change, mut.consequence,
         si.data_source AS provider, si.model_type AS type,
         si.cancer_system, mut.read_depth, mut.seq_start_position,
         mut.ref_allele, mut.alt_allele
         FROM pdcm_api_mutation_data_extended mut
         JOIN search_index si
           ON mut.model_id = si.external_model_id
          AND mut.data_source = si.data_source
         WHERE si.cancer_system != 'Unclassified'
           AND mut.hgnc_symbol IN ($cohortGenes)""",
    "data_overview_expression_cohorts" ->
      s"""SELECT exp.model_id, exp.sample_id, exp.hgnc_symbol AS symbol,
         exp.rnaseq_fpkm, si.data_source AS provider,
         si.model_type AS type, si.cancer_system,
         log(2.0, exp.rnaseq_fpkm + 0.001) AS rnaseq_fpkm_log
         FROM pdcm_api_expression_data_extended exp
         JOIN search_index si
           ON exp.model_id = si.external_model_id
          AND exp.data_source = si.data_source
         WHERE si.cancer_system != 'Unclassified'
           AND exp.rnaseq_fpkm IS NOT NULL
           AND exp.hgnc_symbol IN ($cohortGenes)""",
    // details_molecular_data (views.sql:1041): molchar rows with
    // per-data-type availability after restriction filtering.
    "details_molecular_data" ->
      """SELECT mc.id, ps.sample_id AS patient_sample_id,
         xs.sample_id AS xenograft_sample_id, xs.passage AS xenograft_passage,
         cs.sample_id AS cell_sample_id,
         mc.molecular_characterisation_type AS data_type,
         mc.platform_id,
         CASE
           WHEN mc.molecular_characterisation_type = 'mutation'
             AND mc.id IN (SELECT DISTINCT molecular_characterization_id
                           FROM pdcm_api_mutation_data_table) THEN 'TRUE'
           WHEN mc.molecular_characterisation_type = 'expression'
             AND mc.id IN (SELECT DISTINCT molecular_characterization_id
                           FROM pdcm_api_expression_data_table) THEN 'TRUE'
           WHEN mc.molecular_characterisation_type = 'cna'
             AND mc.id IN (SELECT DISTINCT molecular_characterization_id
                           FROM pdcm_api_cna_data_table) THEN 'TRUE'
           WHEN mc.molecular_characterisation_type = 'biomarker'
             AND mc.id IN (SELECT DISTINCT molecular_characterization_id
                           FROM pdcm_api_biomarker_data_table) THEN 'TRUE'
           ELSE 'FALSE'
         END AS data_availability,
         mc.data_source
         FROM molecular_characterization mc
         LEFT JOIN patient_sample ps ON mc.patient_sample_id = ps.id
         LEFT JOIN xenograft_sample xs ON mc.xenograft_sample_id = xs.id
         LEFT JOIN cell_sample cs ON mc.cell_sample_id = cs.id""",
    // release_info (views.sql:952): synthesized from the provider
    // registry (the reference loads a loader-written table).
    "release_info_vw" ->
      """SELECT 'dev' AS name, CAST(NULL AS STRING) AS date,
         sort_array(collect_set(data_source)) AS providers
         FROM provider_group""",
    // data-overview aggregates (views.sql:1246-1544).
    "models_by_treatment" ->
      """SELECT treatment, count(DISTINCT pdcm_model_id) AS count
         FROM (SELECT explode(patient_treatments) AS treatment,
                 pdcm_model_id FROM search_index)
         GROUP BY treatment""",
    "models_by_type" ->
      """SELECT model_type, count(1) AS count
         FROM search_index GROUP BY model_type""",
    "models_by_primary_site" ->
      """SELECT primary_site, count(1) AS count
         FROM search_index GROUP BY primary_site""",
    "models_by_anatomical_system_and_diagnosis" ->
      """SELECT cancer_system, histology, count(1) AS count
         FROM search_index GROUP BY cancer_system, histology""",
    "models_by_tumour_type" ->
      """SELECT tumour_type, count(1) AS count
         FROM search_index GROUP BY tumour_type""",
    "models_by_patient_age" ->
      """SELECT patient_age, count(1) AS count
         FROM search_index GROUP BY patient_age""",
    "models_by_patient_sex" ->
      """SELECT patient_sex, count(1) AS count
         FROM search_index GROUP BY patient_sex""",
    "models_by_patient_ethnicity" ->
      """SELECT patient_ethnicity, count(1) AS count
         FROM search_index GROUP BY patient_ethnicity""",
    // search_facet_options (views.sql:1280).
    "search_facet_options" ->
      """SELECT facet_column, explode(facet_options) AS option
         FROM search_facet""",
    // patient_treatment_extended / drug_dosing_extended (views.sql:1295,
    // :1363): per-protocol treatment entries as a JSON array + model row.
    // Entries follow the reference's nested jsonb sub-select
    // (views.sql:1303-1314): one {name, dose, external_db_links} object
    // per protocol COMPONENT, name and links from the harmonised
    // treatment entity via treatment_component's FK. to_json drops null
    // fields, so link-less treatments simply omit external_db_links.
    "patient_treatment_extended" ->
      """WITH comp AS (
           SELECT tc.treatment_protocol_id AS protocol_id,
             sort_array(collect_list(struct(
               t.name AS name, tc.dose AS dose,
               t.external_db_links AS external_db_links))) AS entry_list
           FROM treatment_component tc
           JOIN treatment t ON tc.treatment_id = t.id
           GROUP BY tc.treatment_protocol_id),
         proto AS (
           SELECT DISTINCT protocol_id, model_id, data_source,
             target_kind, treatment_response
           FROM treatment_protocol)
         SELECT si.external_model_id AS model_id, si.data_source,
           si.patient_id, si.patient_age, si.patient_sex,
           si.patient_ethnicity, si.histology,
           p.treatment_response AS response,
           to_json(c.entry_list) AS entries
         FROM proto p
         JOIN comp c ON c.protocol_id = p.protocol_id
         JOIN search_index si ON p.model_id = si.external_model_id
           AND p.data_source = si.data_source
         WHERE p.target_kind = 'patient'""",
    "drug_dosing_extended" ->
      """WITH comp AS (
           SELECT tc.treatment_protocol_id AS protocol_id,
             sort_array(collect_list(struct(
               t.name AS name, tc.dose AS dose,
               t.external_db_links AS external_db_links))) AS entry_list
           FROM treatment_component tc
           JOIN treatment t ON tc.treatment_id = t.id
           GROUP BY tc.treatment_protocol_id),
         proto AS (
           SELECT DISTINCT protocol_id, model_id, data_source,
             target_kind, treatment_response
           FROM treatment_protocol)
         SELECT si.external_model_id AS model_id, si.data_source,
           si.histology, p.treatment_response AS response,
           to_json(c.entry_list) AS entries
         FROM proto p
         JOIN comp c ON c.protocol_id = p.protocol_id
         JOIN search_index si ON p.model_id = si.external_model_id
           AND p.data_source = si.data_source
         WHERE p.target_kind = 'model'""",
    // info (views.sql:1544).
    "info" ->
      """SELECT 'total_models' AS key,
         (SELECT count(1) FROM search_index) AS value""")

  /** Register the entity DataFrames as temp views plus every derived
    * `pdcm_api_<name>` view. An entity map may supply
    * `molecular_data_restriction`; otherwise an empty restriction table
    * is registered (nothing filtered). Views whose base entities are
    * absent from `entities` are skipped (a caller running a sub-DAG gets
    * the sub-surface); returns the view names actually created.
    *
    * A view that names a relation which is not a registered temp view is
    * skipped after parsing, without analysis: in a sub-DAG most views
    * are, and analysing each only to fail took half of registration.
    */
  def register(
      spark: SparkSession,
      entities: Map[String, DataFrame]): Seq[String] = {
    entities.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    if (!entities.contains("molecular_data_restriction"))
      spark.sql(
        """SELECT CAST(null AS STRING) AS data_source,
           CAST(null AS STRING) AS molecular_data_table WHERE 1 = 0""")
        .createOrReplaceTempView("molecular_data_restriction")
    val catalog = spark.sessionState.catalog
    viewSql.flatMap { case (name, sql) =>
      val viewName = s"pdcm_api_$name"
      val plan = spark.sessionState.sqlParser.parsePlan(sql)
      if (!relationNames(plan).forall(n => catalog.getTempView(n).isDefined)) None
      else try {
        spark.sql(s"CREATE OR REPLACE TEMP VIEW $viewName AS $sql")
        Some(viewName)
      } catch {
        case _: org.apache.spark.sql.AnalysisException => None
      }
    }
  }

  /** The unqualified relations a parsed query reads, in subqueries and
    * CTE bodies too, less the names its CTEs define. A qualified name is
    * left to analysis.
    */
  private def relationNames(plan: LogicalPlan): Set[String] = {
    def walk(p: LogicalPlan): Seq[LogicalPlan] = {
      val inner = p match {
        case w: UnresolvedWith => w.cteRelations.map(_._2)
        case _ => Nil
      }
      p +: (p.children ++ inner ++ p.subqueries).flatMap(walk)
    }
    val nodes = walk(plan)
    val ctes = nodes.collect { case w: UnresolvedWith => w.cteRelations.map(_._1) }.flatten
    val resolver = SQLConf.get.resolver
    nodes.collect { case r: UnresolvedRelation if r.multipartIdentifier.size == 1 =>
        r.multipartIdentifier.head }
      .filterNot(n => ctes.exists(resolver(_, n))).toSet
  }
}
