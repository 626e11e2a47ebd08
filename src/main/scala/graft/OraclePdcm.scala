package graft

import OracleHelpers._

/** DuckDB oracle SQL for the QueriesPdcm tier (cross-engine determinism
  * rules in the SparkEntry scaladoc). Moved verbatim from SparkEntry.
  */
private[graft] object OraclePdcm {
  // End-to-end registry replay: the whole raw→search_index chain in
  // SQL over the SAME staged fixture files the engine reads —
  // TSV/YAML via read_csv, mapping rules via read_json_auto, the OBO
  // stanzas via read_text + regex, the ancestor closure via recursive
  // CTEs (branch roots excluded, like OntologyGraph.branch), and the
  // display-rename/score arithmetic inline. The CTE chain is SHARED
  // between q120 (the entity projection) and q295 (the views.sql:816-851
  // computed-column contract over the API view) so the two oracles can
  // never drift apart. `{fixture}` stands for the staged fixture dir.
  private def siCtes(fixture: String): String =
      """WITH RECURSIVE
         raw_patient AS (
           SELECT patient_id, sex, history, ethnicity, ethnicity_assessment_method,
                  age_at_initial_diagnosis, initial_diagnosis,
                  regexp_extract(filename, '.*/([^/]+)/[^/]+$', 1) AS data_source
           FROM read_csv('{fixture}/*/patient.tsv',
             delim='\t', header=true, all_varchar=true, filename=true)),
         raw_sample AS (
           SELECT *, regexp_extract(filename, '.*/([^/]+)/[^/]+$', 1) AS data_source
           FROM read_csv('{fixture}/*/sample.tsv',
             delim='\t', header=true, all_varchar=true, filename=true)),
         raw_model AS (
           SELECT *, regexp_extract(filename, '.*/([^/]+)/[^/]+$', 1) AS data_source
           FROM read_csv('{fixture}/*/model.tsv',
             delim='\t', header=true, all_varchar=true, filename=true)),
         raw_sharing AS (
           SELECT *, regexp_extract(filename, '.*/([^/]+)/[^/]+$', 1) AS data_source
           FROM read_csv('{fixture}/*/sharing.tsv',
             delim='\t', header=true, all_varchar=true, filename=true)),
         raw_mcs AS (
           SELECT *, regexp_extract(filename, '.*/([^/]+)/[^/]+$', 1) AS data_source
           FROM read_csv('{fixture}/*/molchar_sample.tsv',
             delim='\t', header=true, all_varchar=true, filename=true)),
         raw_mcp AS (
           SELECT *, regexp_extract(filename, '.*/([^/]+)/[^/]+$', 1) AS data_source
           FROM read_csv('{fixture}/*/molchar_platform.tsv',
             delim='\t', header=true, all_varchar=true, filename=true)),
         raw_dd AS (
           SELECT *, regexp_extract(filename, '.*/([^/]+)/[^/]+$', 1) AS data_source
           FROM read_csv('{fixture}/*/drug-dosing.tsv',
             delim='\t', header=true, all_varchar=true, filename=true)),
         raw_pt AS (
           SELECT *, regexp_extract(filename, '.*/([^/]+)/[^/]+$', 1) AS data_source
           FROM read_csv('{fixture}/*/patient-treatment.tsv',
             delim='\t', header=true, all_varchar=true, filename=true)),
         raw_ontolia AS (
           SELECT trim(split_part(line, '=', 1)) AS regimen_id,
                  trim(unnest(string_split(split_part(line, '=', 2), ','))) AS comp_id
           FROM read_csv('{fixture}/ontolia.txt',
             delim='\t', quote='', header=false, all_varchar=true, names=['line'])
           WHERE contains(line, '=')),
         src_kv AS (
           SELECT trim(split_part(line, ':', 1)) AS k,
                  trim(substr(line, strpos(line, ':') + 1)) AS v,
                  regexp_extract(filename, '.*/([^/]+)/[^/]+$', 1) AS data_source
           FROM read_csv('{fixture}/*/source.yaml',
             delim='\t', quote='', header=false, all_varchar=true, filename=true,
             names=['line'])),
         raw_source AS (
           SELECT data_source,
             max(CASE WHEN k = 'provider_name' THEN v END) AS provider_name,
             max(CASE WHEN k = 'project' THEN v END) AS project
           FROM src_kv GROUP BY data_source),
         rules AS (
           SELECT lower(trim(m.data_source)) AS r_ds, lower(trim(m.diagnosis)) AS r_diag,
                  lower(trim(m.primary_site)) AS r_site, lower(trim(m.tumour_type)) AS r_tt,
                  m.mapped_term_id
           FROM (SELECT unnest(mappings) AS m
                 FROM read_json_auto('{fixture}/diagnosis_mappings.json'))),
         obo_terms AS (
           SELECT
             trim(regexp_extract(stanza_text, '(?m)^\s*id: *([^\n]*)', 1)) AS term_id,
             trim(regexp_replace(
               trim(regexp_extract(stanza_text, '(?m)^\s*name: *([^\n]*)', 1)),
               '\s+', ' ', 'g')) AS term_name,
             regexp_extract_all(stanza_text, '(?m)^\s*is_a: *([^\n]*)', 1) AS is_a_refs
           FROM (SELECT unnest(string_split(content, '[Term]')) AS stanza_text
                 FROM read_text('{fixture}/ncit.obo'))
           WHERE regexp_matches(stanza_text, '(?m)^\s*id: ')),
         obo_edges AS (
           SELECT term_id AS child, trim(split_part(ref, '!', 1)) AS parent
           FROM (SELECT term_id, unnest(is_a_refs) AS ref FROM obo_terms)),
         desc_terms AS (
           SELECT child AS id FROM obo_edges WHERE parent IN ('NCIT:C3262', 'NCIT:C9305')
           UNION
           SELECT e.child FROM obo_edges e, desc_terms d WHERE e.parent = d.id),
         branch_edges AS (
           SELECT DISTINCT e.child, e.parent FROM obo_edges e
           WHERE e.child IN (SELECT id FROM desc_terms)
             AND e.parent IN (SELECT id FROM desc_terms)),
         anc AS (
           SELECT child AS id, parent AS anc FROM branch_edges
           UNION
           SELECT a.id, e.parent FROM anc a JOIN branch_edges e ON a.anc = e.child),
         anc_names AS (
           SELECT a.id, string_agg(tn.term_name, '|' ORDER BY tn.term_name) AS ancestors
           FROM (SELECT DISTINCT id, anc FROM anc) a
           JOIN obo_terms tn ON tn.term_id = a.anc
           GROUP BY a.id),
         onto AS (
           SELECT t.term_id, t.term_name, coalesce(an.ancestors, '') AS ancestors
           FROM obo_terms t LEFT JOIN anc_names an ON an.id = t.term_id
           WHERE t.term_id IN (SELECT id FROM desc_terms)),
         desc_treat AS (
           SELECT child AS id FROM obo_edges WHERE parent IN
             ('NCIT:C1932', 'NCIT:C1505', 'NCIT:C1913', 'NCIT:C45678', 'NCIT:C1909',
              'NCIT:C1899', 'NCIT:C15431', 'NCIT:C49236', 'NCIT:C15206', 'NCIT:C26548')
           UNION
           SELECT e.child FROM obo_edges e, desc_treat d WHERE e.parent = d.id),
         branch_edges_treat AS (
           SELECT DISTINCT e.child, e.parent FROM obo_edges e
           WHERE e.child IN (SELECT id FROM desc_treat)
             AND e.parent IN (SELECT id FROM desc_treat)),
         anc_treat AS (
           SELECT child AS id, parent AS anc FROM branch_edges_treat
           UNION
           SELECT a.id, e.parent FROM anc_treat a JOIN branch_edges_treat e ON a.anc = e.child),
         onto_treat AS (
           SELECT t.term_id, t.term_name,
             coalesce(an.ancestors, '') AS ancestors
           FROM obo_terms t
           LEFT JOIN (SELECT a.id, string_agg(tn.term_name, '|' ORDER BY tn.term_name) AS ancestors
                      FROM (SELECT DISTINCT id, anc FROM anc_treat) a
                      JOIN obo_terms tn ON tn.term_id = a.anc GROUP BY a.id) an
             ON an.id = t.term_id
           WHERE t.term_id IN (SELECT id FROM desc_treat)),
         desc_reg AS (
           SELECT child AS id FROM obo_edges WHERE parent IN ('NCIT:C12218')
           UNION
           SELECT e.child FROM obo_edges e, desc_reg d WHERE e.parent = d.id),
         branch_edges_reg AS (
           SELECT DISTINCT e.child, e.parent FROM obo_edges e
           WHERE e.child IN (SELECT id FROM desc_reg)
             AND e.parent IN (SELECT id FROM desc_reg)),
         anc_reg AS (
           SELECT child AS id, parent AS anc FROM branch_edges_reg
           UNION
           SELECT a.id, e.parent FROM anc_reg a JOIN branch_edges_reg e ON a.anc = e.child),
         onto_reg AS (
           SELECT t.term_id, t.term_name,
             coalesce(an.ancestors, '') AS ancestors
           FROM obo_terms t
           LEFT JOIN (SELECT a.id, string_agg(tn.term_name, '|' ORDER BY tn.term_name) AS ancestors
                      FROM (SELECT DISTINCT id, anc FROM anc_reg) a
                      JOIN obo_terms tn ON tn.term_id = a.anc GROUP BY a.id) an
             ON an.id = t.term_id
           WHERE t.term_id IN (SELECT id FROM desc_reg)),
         proto_base AS (
           SELECT model_id AS target_id, 'model' AS target_kind, model_id, data_source,
                  treatment_name, treatment_dose, treatment_response
           FROM raw_dd
           UNION ALL
           SELECT patient_id, 'patient', model_id, data_source,
                  treatment_name, treatment_dose, treatment_response
           FROM raw_pt),
         components AS (
           SELECT target_id, target_kind, model_id, data_source, treatment_response,
             concat_ws(chr(30), target_id, target_kind, treatment_name,
               treatment_dose, data_source) AS protocol_key,
             trim(unnest(string_split(treatment_name, '+'))) AS comp_name
           FROM proto_base
           WHERE len(string_split(treatment_name, '+'))
               = len(string_split(treatment_dose, '+'))),
         harmonised AS (
           SELECT c.protocol_key, o.term_name,
             list_filter(
               ['Hormone Therapy', 'Immunotherapy', 'Targeted Therapy',
                'Chemotherapy', 'Surgery', 'Radiation Therapy'],
               ty -> len(list_filter(
                 list_append(string_split(coalesce(o.ancestors, ''), '|'), o.term_name),
                 a -> CASE ty
                   WHEN 'Hormone Therapy' THEN contains(lower(a), 'hormone therapy')
                   WHEN 'Immunotherapy' THEN contains(lower(a), 'cytokine')
                     OR contains(lower(a), 'immunotherapeutic')
                     OR contains(lower(a), 'immunomodulatory')
                   WHEN 'Targeted Therapy' THEN contains(lower(a), 'targeted therapy')
                     OR contains(lower(a), 'targeting')
                   WHEN 'Chemotherapy' THEN contains(lower(a), 'chemotherapy')
                     OR contains(lower(a), 'chemotherapeutic')
                   WHEN 'Surgery' THEN contains(lower(a), 'surgery')
                     OR contains(lower(a), 'mammoplasty') OR contains(lower(a), 'ectomy')
                     OR contains(lower(a), 'biopsy') OR contains(lower(a), 'plasty')
                   WHEN 'Radiation Therapy' THEN contains(lower(a), 'radiation therapy')
                   END)) > 0) AS types,
             o.cls AS class
           FROM components c
           JOIN (SELECT term_name, ancestors, 'treatment' AS cls FROM onto_treat
                 UNION ALL
                 SELECT term_name, ancestors, 'regimen' FROM onto_reg) o
             ON lower(trim(replace(c.comp_name, chr(160), ' '))) = lower(o.term_name)),
         r2t AS (
           SELECT reg.term_name AS regimen, tr.term_name AS treatment
           FROM raw_ontolia p
           JOIN onto_reg reg ON p.regimen_id = reg.term_id
           JOIN onto_treat tr ON p.comp_id = tr.term_id),
         by_protocol AS (
           SELECT protocol_key, list_sort(list(term_name)) AS treatment_list,
             list_distinct(flatten(list(types))) AS types
           FROM harmonised WHERE class = 'treatment' GROUP BY protocol_key),
         by_regimen AS (
           SELECT regimen, list(treatment) AS component_list FROM r2t GROUP BY regimen),
         all_terms AS (
           SELECT protocol_key, term_name, types, class FROM harmonised
           UNION ALL
           SELECT h.protocol_key, r.treatment, h.types, NULL
           FROM harmonised h JOIN r2t r ON h.term_name = r.regimen
           WHERE h.class = 'regimen'
           UNION ALL
           SELECT bp.protocol_key, br.regimen, bp.types, NULL
           FROM by_protocol bp JOIN by_regimen br
             ON list_sort(bp.treatment_list) = list_sort(br.component_list)),
         proto AS (
           SELECT DISTINCT protocol_key, model_id, data_source, target_kind,
             treatment_response
           FROM components),
         tbm_grouped AS (
           SELECT model_id, data_source, target_kind,
             list_sort(list_distinct(coalesce(list(lower(term_name))
               FILTER (WHERE term_name IS NOT NULL), []))) AS treatments,
             list_sort(list_distinct(flatten(coalesce(list(types)
               FILTER (WHERE types IS NOT NULL), [])))) AS types,
             list_sort(list_distinct(coalesce(list(treatment_response)
               FILTER (WHERE treatment_response IS NOT NULL), []))) AS responses
           FROM (SELECT DISTINCT p.model_id, p.data_source, p.target_kind,
                   p.treatment_response, a.term_name, a.types, a.class
                 FROM proto p LEFT JOIN all_terms a USING (protocol_key))
           GROUP BY model_id, data_source, target_kind),
         tbm AS (
           SELECT coalesce(m.model_id, p.model_id) AS model_id,
             coalesce(m.data_source, p.data_source) AS data_source,
             m.treatments AS model_treatments,
             m.responses AS model_treatments_responses,
             p.treatments AS patient_treatments,
             p.responses AS patient_treatments_responses,
             list_sort(list_distinct(coalesce(m.types, []) || coalesce(p.types, [])))
               AS treatment_types
           FROM (SELECT * FROM tbm_grouped WHERE target_kind = 'model') m
           FULL OUTER JOIN (SELECT * FROM tbm_grouped WHERE target_kind = 'patient') p
             ON m.model_id = p.model_id AND m.data_source = p.data_source),
         s2o AS (
           SELECT s.sample_id, s.data_source, o.term_name, o.ancestors,
             CASE WHEN o.term_name IS NULL THEN NULL
               ELSE list_transform(
                 string_split(concat_ws('|', o.term_name, o.ancestors), '|'),
                 x -> trim(regexp_replace(
                   CASE WHEN contains(x, 'Malignant')
                     THEN regexp_replace(x, '(.*)Malignant(.*)Neoplasm(.*)', '\1\2Cancer\3')
                     ELSE regexp_replace(x, '(.*)Neoplasm(.*)', '\1Cancer\2') END,
                   '\s+', ' ', 'g'))) END AS display_list
           FROM raw_sample s
           LEFT JOIN rules r ON lower(trim(s.data_source)) = r.r_ds
             AND lower(trim(s.diagnosis)) = r.r_diag
             AND lower(trim(s.primary_site)) = r.r_site
             AND lower(trim(s.tumour_type)) = r.r_tt
           LEFT JOIN onto o ON r.mapped_term_id = o.term_id),
         datasets AS (
           SELECT b.sample_id, b.data_source,
             list_sort(list_distinct(list(
               CASE WHEN pl.molecular_characterisation_type = 'biomarker'
                 THEN 'bio markers'
                 WHEN pl.molecular_characterisation_type = 'immunemarker'
                 THEN 'immune markers'
                 ELSE coalesce(pl.molecular_characterisation_type, 'unknown')
                 END))) AS ds_list
           FROM (SELECT DISTINCT * FROM raw_mcs) b
           LEFT JOIN (SELECT DISTINCT platform_id, data_source,
                        molecular_characterisation_type FROM raw_mcp) pl
             USING (platform_id, data_source)
           GROUP BY b.sample_id, b.data_source),
         model AS (
           SELECT m.model_id, m.data_source, m.sample_type AS model_type,
             m.publications,
             sh.license AS license_name, sh.model_availability, sh.date_submitted
           FROM (SELECT DISTINCT model_id, data_source, sample_type,
                   publications FROM raw_model) m
           LEFT JOIN (SELECT DISTINCT model_id, data_source, license,
                        model_availability, date_submitted FROM raw_sharing) sh
             USING (model_id, data_source)),
         license_dim(license_name, license_url) AS (VALUES
           ('EMBL-EBI', 'https://www.ebi.ac.uk/about/terms-of-use'),
           ('CC0', 'https://creativecommons.org/publicdomain/zero/1.0/')),
         enriched AS (
           SELECT s.*, p.sex, p.history, p.ethnicity, p.age_at_initial_diagnosis,
             t.term_name, t.ancestors, d.ds_list, m.model_type, m.publications,
             m.license_name,
             m.model_availability, m.date_submitted, rs.provider_name, rs.project,
             CASE WHEN t.term_name IS NULL THEN []::VARCHAR[]
               ELSE list_filter(
                 list_filter(t.display_list,
                   (x, i) -> list_position(t.display_list, x) = i),
                 x -> NOT list_contains(
                   ['Cancer', 'Cancer by Special Category', 'Cancer by Morphology',
                    'Cancer by Site'], x))
               END AS search_terms_list
           FROM raw_sample s
           LEFT JOIN raw_patient p USING (patient_id, data_source)
           LEFT JOIN s2o t USING (sample_id, data_source)
           LEFT JOIN datasets d USING (sample_id, data_source)
           LEFT JOIN model m USING (model_id, data_source)
           LEFT JOIN raw_source rs USING (data_source)),
         raw_cell AS (
           SELECT *, regexp_extract(filename, '.*/([^/]+)/[^/]+$', 1) AS data_source
           FROM read_csv('{fixture}/*/cell_model.tsv',
             delim='\t', header=true, all_varchar=true, filename=true)),
         rel AS (
           SELECT DISTINCT model_id, data_source FROM (
             SELECT model_id, data_source FROM raw_model
             WHERE parent_model_id IS NOT NULL AND parent_model_id <> ''
             UNION ALL
             SELECT parent_model_id, data_source FROM raw_model
             WHERE parent_model_id IS NOT NULL AND parent_model_id <> ''))"""
        .replace("{fixture}", fixture)

  /** The dataset_available list with the reference's appended flags
    * (model_metadata_transformer_job.py:237-266), as a DuckDB expression
    * over `enriched e` + `tbm tb` — used by dataset_available,
    * data_score, and the view's model_dataset_type_count.
    */
  private val dsExt: String =
    """coalesce(e.ds_list, [])
               || (CASE WHEN tb.model_treatments IS NOT NULL
                     AND len(tb.model_treatments) > 0
                   THEN ['model treatment'] ELSE [] END)
               || (CASE WHEN tb.patient_treatments IS NOT NULL
                     AND len(tb.patient_treatments) > 0
                   THEN ['patient treatment'] ELSE [] END)
               || (CASE WHEN e.publications IS NOT NULL
                   THEN ['publication'] ELSE [] END)"""

  /** The display-renamed histology (Links.displayTermName over the
    * mapped term or raw diagnosis) as a DuckDB expression.
    */
  private val histologySql: String =
    """trim(regexp_replace(
             CASE WHEN contains(coalesce(e.term_name, e.diagnosis), 'Malignant')
               THEN regexp_replace(coalesce(e.term_name, e.diagnosis),
                 '(.*)Malignant(.*)Neoplasm(.*)', '\1\2Cancer\3')
               ELSE regexp_replace(coalesce(e.term_name, e.diagnosis),
                 '(.*)Neoplasm(.*)', '\1Cancer\2') END,
             '\s+', ' ', 'g'))"""

  /** Cleaning.binAge over age_in_years_at_collection (the search_index
    * patient_age column) as a DuckDB expression.
    */
  private val patientAgeSql: String =
    """CASE WHEN TRY_CAST(trim(replace(e.age_in_years_at_collection, chr(160), ' ')) AS DOUBLE) IS NULL THEN NULL
             WHEN TRY_CAST(trim(replace(e.age_in_years_at_collection, chr(160), ' ')) AS DOUBLE) < 2 THEN '0 - 23 months'
             WHEN TRY_CAST(trim(replace(e.age_in_years_at_collection, chr(160), ' ')) AS DOUBLE) < 10 THEN '2 - 9'
             ELSE concat(
               CAST(CAST(floor(TRY_CAST(trim(replace(e.age_in_years_at_collection, chr(160), ' ')) AS DOUBLE) / 10) * 10 AS INTEGER) AS VARCHAR),
               ' - ',
               CAST(CAST(floor(TRY_CAST(trim(replace(e.age_in_years_at_collection, chr(160), ' ')) AS DOUBLE) / 10) * 10 + 9 AS INTEGER) AS VARCHAR))
             END"""

  /** Sentinel-cleaned project_name as a DuckDB expression. */
  private val projectSql: String =
    """CASE WHEN e.project IS NULL
               OR lower(trim(replace(e.project, chr(160), ' ')))
                 IN ('not provided', 'not collected', '') THEN NULL
             ELSE trim(replace(e.project, chr(160), ' ')) END"""

  private val q120Select: String =
      s"""SELECT
           e.model_id AS external_model_id,
           e.data_source,
           e.patient_id,
           lower(trim(replace(e.sex, chr(160), ' '))) AS patient_sex,
           e.history AS patient_history,
           CASE WHEN e.ethnicity IS NULL
               OR lower(trim(replace(e.ethnicity, chr(160), ' ')))
                 IN ('not provided', 'not collected', '') THEN NULL
             ELSE e.ethnicity END AS patient_ethnicity,
           e.age_at_initial_diagnosis AS patient_age_at_initial_diagnosis,
           CASE WHEN TRY_CAST(trim(replace(e.age_at_initial_diagnosis, chr(160), ' ')) AS DOUBLE) IS NULL THEN NULL
             WHEN TRY_CAST(trim(replace(e.age_at_initial_diagnosis, chr(160), ' ')) AS DOUBLE) < 2 THEN '0 - 23 months'
             WHEN TRY_CAST(trim(replace(e.age_at_initial_diagnosis, chr(160), ' ')) AS DOUBLE) < 10 THEN '2 - 9'
             ELSE concat(
               CAST(CAST(floor(TRY_CAST(trim(replace(e.age_at_initial_diagnosis, chr(160), ' ')) AS DOUBLE) / 10) * 10 AS INTEGER) AS VARCHAR),
               ' - ',
               CAST(CAST(floor(TRY_CAST(trim(replace(e.age_at_initial_diagnosis, chr(160), ' ')) AS DOUBLE) / 10) * 10 + 9 AS INTEGER) AS VARCHAR))
             END AS patient_age_category,
           $patientAgeSql AS patient_age,
           e.sample_id AS patient_sample_id,
           CASE WHEN e.primary_site IS NULL
               OR lower(trim(replace(e.primary_site, chr(160), ' ')))
                 IN ('not provided', 'not collected', '') THEN NULL
             ELSE trim(replace(e.primary_site, chr(160), ' ')) END AS primary_site,
           e.collection_site,
           CASE WHEN e.tumour_type IS NULL
               OR lower(trim(replace(e.tumour_type, chr(160), ' ')))
                 IN ('not provided', 'not collected', '') THEN NULL
             ELSE trim(replace(e.tumour_type, chr(160), ' ')) END AS tumour_type,
           e.stage AS cancer_stage,
           e.grade AS cancer_grade,
           $histologySql AS histology,
           coalesce(array_to_string(e.search_terms_list, '|'), '') AS search_terms,
           coalesce(
             list_filter(
               ['Breast Cancer', 'Cardiovascular Cancer',
                'Connective and Soft Tissue Cancer', 'Digestive System Cancer',
                'Endocrine Cancer', 'Eye Cancer', 'Head and Neck Cancer',
                'Hematopoietic and Lymphoid System Cancer', 'Nervous System Cancer',
                'Peritoneal and Retroperitoneal Cancer', 'Reproductive System Cancer',
                'Respiratory Tract Cancer', 'Thoracic Cancer', 'Skin Cancer',
                'Urinary System Cancer', 'Unclassified'],
               x -> list_contains(e.search_terms_list, x))[1],
             'Unclassified') AS cancer_system,
           coalesce(array_to_string($dsExt, '|'), '') AS dataset_available,
           CAST(trunc(len($dsExt) * 100 / 7.0) AS INTEGER) AS data_score,
           CAST(floor((
             (CASE WHEN e.diagnosis IS NOT NULL
                 AND lower(trim(replace(e.diagnosis, chr(160), ' ')))
                   NOT IN ('not provided', 'not collected', '') THEN 4 ELSE 0 END) +
             (CASE WHEN e.sex IS NOT NULL
                 AND lower(trim(replace(e.sex, chr(160), ' ')))
                   NOT IN ('not provided', 'not collected', '') THEN 2 ELSE 0 END) +
             (CASE WHEN e.primary_site IS NOT NULL
                 AND lower(trim(replace(e.primary_site, chr(160), ' ')))
                   NOT IN ('not provided', 'not collected', '') THEN 2 ELSE 0 END) +
             (CASE WHEN e.tumour_type IS NOT NULL
                 AND lower(trim(replace(e.tumour_type, chr(160), ' ')))
                   NOT IN ('not provided', 'not collected', '') THEN 2 ELSE 0 END)
             ) * 100.0 / 10) AS INTEGER) AS metadata_score,
           trim(replace(e.provider_name, chr(160), ' ')) AS provider_name,
           $projectSql AS project_name,
           e.license_name,
           ld.license_url,
           e.model_type,
           e.model_availability,
           e.date_submitted,
           CASE WHEN tb.model_treatments IS NULL THEN NULL
             ELSE coalesce(array_to_string(tb.model_treatments, '|'), '') END
             AS model_treatments,
           CASE WHEN tb.model_treatments_responses IS NULL THEN NULL
             ELSE coalesce(array_to_string(tb.model_treatments_responses, '|'), '') END
             AS model_treatments_responses,
           CASE WHEN tb.patient_treatments IS NULL THEN NULL
             ELSE coalesce(array_to_string(tb.patient_treatments, '|'), '') END
             AS patient_treatments,
           CASE WHEN tb.patient_treatments_responses IS NULL THEN NULL
             ELSE coalesce(array_to_string(tb.patient_treatments_responses, '|'), '') END
             AS patient_treatments_responses,
           CASE WHEN tb.treatment_types IS NULL THEN NULL
             ELSE coalesce(array_to_string(tb.treatment_types, '|'), '') END
             AS custom_treatment_type_list
         FROM enriched e
         LEFT JOIN license_dim ld ON e.license_name = ld.license_name
         LEFT JOIN tbm tb ON e.model_id = tb.model_id
           AND e.data_source = tb.data_source"""

  /** The API-view computed columns (views.sql:819-851) over the same
    * chain: paediatric CASE, dataset count net of the publication flag,
    * availability booleans, has_relations. Spark side reads
    * pdcm_api_search_index_vw; this replays the CASEs in DuckDB.
    */
  private val q295Select: String =
      s"""SELECT
           e.model_id AS external_model_id,
           e.data_source,
           coalesce(array_to_string($dsExt, '|'), '') AS dataset_available,
           CAST(CASE WHEN list_contains($dsExt, 'publication')
             THEN len($dsExt) - 1
             ELSE len($dsExt) END AS INTEGER) AS model_dataset_type_count,
           CASE WHEN ($projectSql) = 'PIVOT'
               OR lower($histologySql) LIKE '%childhood%'
               OR ($patientAgeSql) LIKE '%19'
               OR ($patientAgeSql) LIKE '2 - 9'
               OR ($patientAgeSql) LIKE '%months'
               OR e.data_source = 'CCC'
             THEN true ELSE false END AS paediatric,
           CASE WHEN lower(e.model_availability) = 'available'
               OR lower(e.model_availability) = 'unknown'
               OR coalesce(lower(cm.vendor_link), '') LIKE 'http%'
             THEN true ELSE false END AS model_availability_boolean,
           concat(
             CASE WHEN e.model_availability = 'available'
               THEN 'Available' ELSE 'Not available' END,
             '|',
             CASE WHEN cm.vendor_link IS NULL
                 OR lower(cm.vendor_link) = 'not provided'
               THEN 'Commercially Not Available'
               ELSE 'Commercially Available' END) AS availability_rollup,
           CASE WHEN mi.model_id IS NULL THEN NULL
                WHEN r.model_id IS NOT NULL THEN true ELSE false END
             AS has_relations
         FROM enriched e
         LEFT JOIN tbm tb ON e.model_id = tb.model_id
           AND e.data_source = tb.data_source
         LEFT JOIN (SELECT model_id, data_source, vendor_link FROM raw_cell) cm
           ON e.model_id = cm.model_id AND e.data_source = cm.data_source
         LEFT JOIN (SELECT DISTINCT model_id, data_source FROM raw_model) mi
           ON e.model_id = mi.model_id AND e.data_source = mi.data_source
         LEFT JOIN rel r ON e.model_id = r.model_id
           AND e.data_source = r.data_source"""

  /** The search_index oracles (q120, q466, q295) over the two-provider
    * fixture staged at `fixture`.
    */
  def searchIndexSql(fixture: String): Map[String, String] = Map(
    "q120_search_index_e2e" -> (siCtes(fixture) + "\n         " + q120Select),
    // q466 is the FRESH-rebuild face of the same search_index contract
    // (q120 probes the memoized entities; q466 re-runs the DAG) — the
    // oracle is therefore literally q120's.
    "q466_registry_rebuild" -> (siCtes(fixture) + "\n         " + q120Select),
    "q295_search_index_flags" -> (siCtes(fixture) + "\n         " + q295Select))

  def map: Map[String, String] = searchIndexSql(Tables.fixtureDir) ++ Map(
    "q53_nodes" ->
      """SELECT 'customer' AS node_type, c_custkey AS node_id,
         '{"name":"' || c_name || '"}' AS data FROM customer
         UNION ALL
         SELECT 'supplier', s_suppkey, '{"name":"' || s_name || '"}' FROM supplier""",
    "q54_edges" ->
      """SELECT DISTINCT label, src, dst FROM (
         SELECT 'placed' AS label, o_custkey AS src, o_orderkey AS dst FROM orders
         UNION ALL
         SELECT 'contains', l_orderkey, l_partkey FROM lineitem)""",
    "q68_ancestor_closure" ->
      """WITH RECURSIVE e AS (
           SELECT p_partkey AS child, p_partkey // 2 AS parent
           FROM part WHERE p_partkey > 1),
         anc AS (
           SELECT child, parent FROM e
           UNION
           SELECT a.child, e.parent FROM anc a JOIN e ON a.parent = e.child)
         SELECT child, parent FROM anc""",
    // Nested parents tree: each model's ancestor CHAIN is linear
    // (single parent), so the recursive CTE accumulates the opening
    // half of the nested JSON walking up, then closes depth brackets.
    "q112_parents_tree" ->
      """WITH RECURSIVE m AS (
           SELECT 'M' || p_partkey AS id,
             CASE WHEN p_partkey % 2 = 0 THEN 'PDX' ELSE 'organoid' END AS mtype,
             CASE WHEN p_partkey > 1 THEN 'M' || (p_partkey // 2) END AS pid
           FROM part WHERE p_partkey < 2048),
         walk AS (
           SELECT c.id AS model, p.pid AS anc_pid,
             '[{"external_model_id":"' || p.id || '","type":"' || p.mtype ||
               '","parents":' AS prefix,
             1 AS depth
           FROM m c JOIN m p ON c.pid = p.id
           UNION ALL
           SELECT w.model, p.pid,
             w.prefix || '[{"external_model_id":"' || p.id || '","type":"' ||
               p.mtype || '","parents":',
             w.depth + 1
           FROM walk w JOIN m p ON w.anc_pid = p.id)
         SELECT m.id AS external_model_id,
           w.prefix || 'null' || repeat('}]', w.depth) AS parents_json
         FROM m LEFT JOIN (
           SELECT model, prefix, depth FROM walk
           WHERE anc_pid IS NULL
              OR NOT EXISTS (SELECT 1 FROM m p2 WHERE p2.id = anc_pid)) w
           ON w.model = m.id""",
    // 3-level hierarchy: children JSON built bottom-up in two passes
    // (leaf-children aggregate, then the general wrap), parents in two
    // joins; model_relationships/has_relations as in updates.sql:1-39.
    "q113_model_relationships" ->
      """WITH m AS (
           SELECT 'M' || p_partkey AS id,
             CASE p_partkey % 3 WHEN 0 THEN 'PDX' WHEN 1 THEN 'organoid'
               ELSE 'cell line' END AS mtype,
             CASE WHEN p_partkey % 16 = 0 THEN NULL
                  WHEN p_partkey % 16 <= 3 THEN 'M' || (p_partkey - (p_partkey % 16))
                  ELSE 'M' || (p_partkey - (p_partkey % 16) + 1 + ((p_partkey % 16 - 4) % 3))
             END AS pid
           FROM part),
         link AS (SELECT c.id, c.mtype, c.pid FROM m c JOIN m p ON c.pid = p.id),
         cj1 AS (
           SELECT l.pid AS id,
             '[' || string_agg('{"external_model_id":"' || l.id || '","type":"' ||
               l.mtype || '","children":null}', ',' ORDER BY l.id) || ']' AS cj
           FROM link l
           WHERE NOT EXISTS (SELECT 1 FROM link g WHERE g.pid = l.id)
           GROUP BY l.pid),
         cj2 AS (
           SELECT l.pid AS id,
             '[' || string_agg('{"external_model_id":"' || l.id || '","type":"' ||
               l.mtype || '","children":' || coalesce(c1.cj, 'null') || '}',
               ',' ORDER BY l.id) || ']' AS cj
           FROM link l LEFT JOIN cj1 c1 ON c1.id = l.id
           GROUP BY l.pid),
         pj1 AS (
           SELECT c.id,
             '[{"external_model_id":"' || p.id || '","type":"' || p.mtype ||
               '","parents":null}]' AS pj
           FROM link c JOIN m p ON c.pid = p.id
           WHERE p.pid IS NULL
              OR NOT EXISTS (SELECT 1 FROM m gp WHERE gp.id = p.pid)),
         pj2 AS (
           SELECT c.id,
             '[{"external_model_id":"' || p.id || '","type":"' || p.mtype ||
               '","parents":' || p1.pj || '}]' AS pj
           FROM link c JOIN m p ON c.pid = p.id JOIN pj1 p1 ON p1.id = p.id)
         SELECT m.id AS external_model_id,
           '{"parents":' || coalesce(coalesce(pj2.pj, pj1.pj), 'null') ||
             ',"children":' || coalesce(cj2.cj, 'null') || '}' AS model_relationships,
           (coalesce(pj2.pj, pj1.pj) IS NOT NULL OR cj2.cj IS NOT NULL) AS has_relations
         FROM m LEFT JOIN pj1 ON pj1.id = m.id
                LEFT JOIN pj2 ON pj2.id = m.id
                LEFT JOIN cj2 ON cj2.id = m.id""",
    // Reachable subgraph per root (multi-source), nodes/edges JSON with
    // deterministic sort — UNION (not ALL) in the recursive member is
    // the cycle-safe dedup.
    "q114_knowledge_graph" ->
      """WITH RECURSIVE e AS (
           SELECT o_custkey AS src, o_orderkey + 10000000 AS dst,
             'placed' AS label FROM orders
           UNION ALL
           SELECT DISTINCT l_orderkey + 10000000, l_partkey + 20000000,
             'contains' FROM lineitem
           UNION ALL
           SELECT DISTINCT l_partkey + 20000000, l_suppkey + 30000000,
             'supplied_by' FROM lineitem),
         n AS (
           SELECT c_custkey AS node_id, 'customer' AS node_type,
             '{"name":"' || c_name || '"}' AS data FROM customer
           UNION ALL
           SELECT o_orderkey + 10000000, 'order',
             '{"status":"' || o_orderstatus || '"}' FROM orders
           UNION ALL
           SELECT p_partkey + 20000000, 'part',
             '{"name":"' || p_name || '"}' FROM part
           UNION ALL
           SELECT s_suppkey + 30000000, 'supplier',
             '{"name":"' || s_name || '"}' FROM supplier),
         roots AS (SELECT c_custkey AS root FROM customer
                   WHERE c_custkey IN (1, 7, 42)),
         reach AS (
           SELECT r.root, e.src, e.dst, e.label FROM roots r
           JOIN e ON e.src = r.root
           UNION
           SELECT c.root, e.src, e.dst, e.label FROM reach c
           JOIN e ON e.src = c.dst),
         member AS (
           -- outer DISTINCT, not UNION-dedup: DuckDB fails to dedup a
           -- UNION whose branches both re-reference a recursive CTE
           SELECT DISTINCT root, node_id FROM (
             SELECT root, src AS node_id FROM reach
             UNION ALL SELECT root, dst FROM reach)),
         nj AS (
           SELECT member.root,
             '[' || string_agg('{"id":' || n.node_id || ',"node_type":"' ||
               n.node_type || '","data":' || n.data || '}',
               ',' ORDER BY n.node_id, n.node_type, n.data) || ']' AS nodes_json
           FROM member JOIN n ON n.node_id = member.node_id
           GROUP BY member.root),
         ej AS (
           SELECT root,
             '[' || string_agg('{"source":' || src || ',"target":' || dst ||
               ',"label":"' || label || '"}', ',' ORDER BY src, dst, label) || ']' AS edges_json
           FROM reach GROUP BY root)
         SELECT nj.root,
           '{"nodes":' || nj.nodes_json || ',"edges":' || ej.edges_json || '}' AS knowledge_graph
         FROM nj JOIN ej ON nj.root = ej.root""",
    "q55_sql_view" ->
      """SELECT r_name AS region_name, c_mktsegment AS segment, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE o_orderstatus = 'F'
         GROUP BY r_name, c_mktsegment""",
    "q69_facet_view" ->
      """SELECT 'lang' AS facet_name,
         string_agg(DISTINCT lang, ',' ORDER BY lang) AS options,
         count(DISTINCT lang) AS n_options FROM documents
         UNION ALL
         SELECT 'source', string_agg(DISTINCT source, ',' ORDER BY source),
         count(DISTINCT source) FROM documents""",
    "q70_display_view" ->
      """SELECT l_orderkey, l_linenumber, p_name, s_name AS supplier_name,
         concat_ws('/', p_brand, p_type) AS brand_display, l_quantity
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         WHERE concat_ws('/', p_brand, p_type) LIKE 'Brand#3%'""",
    "q79_overview_view" ->
      """SELECT n.n_name AS nation_name, count(1) AS n_orders
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         GROUP BY n.n_name""",
    "q115_data_overview_cohorts" ->
      """SELECT l.l_orderkey, l.l_linenumber, p.p_name AS symbol,
         n.n_name AS provider, c.c_mktsegment AS type,
         r.r_name AS cohort_system, l.l_quantity,
         round(log2(l.l_extendedprice + 0.001), 4) AS price_log
         FROM lineitem l
         JOIN part p ON l.l_partkey = p.p_partkey
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         WHERE r.r_name != 'AFRICA'
           AND p.p_name IN ('blue plate', 'red bolt', 'hot widget')""",
    "q80_facet_options_view" ->
      """WITH f AS (
           SELECT 'lang' AS facet_name,
             list_sort(list_distinct(list(lang))) AS options FROM documents
           UNION ALL
           SELECT 'source', list_sort(list_distinct(list(source)))
           FROM documents)
         SELECT facet_name, unnest(options) AS option FROM f""",
  )
}
