package graft.api

import org.apache.spark.sql.SparkSession
import graft.{SessionMemo, Tables}

/** SQL surface: register the engine's tables and derived API views as
  * temp views, so end users query with plain `spark.sql` — the Spark
  * analog of the reference's Postgres `pdcm_api` view layer
  * (`scripts/views.sql:66-952`), served natively instead of via a DB
  * load. View definitions stay declarative SQL: Catalyst folds them into
  * the consuming query, so predicates on a view push down into the
  * parquet scans.
  */
object SqlViews {

  /** Sessions×dirs already registered. Registration re-plans ~10 views
    * (the tables themselves come from [[Tables.load]]'s per-session
    * relations), so queries that call [[register]] defensively must not
    * pay it twice; keyed by the session (not globally) because temp views
    * are session-scoped.
    */
  private val registered = new SessionMemo[String, Unit]

  /** Register every base table as `<name>` plus the derived views.
    * Idempotent per (session, sfDir): repeat calls are no-ops.
    */
  def register(spark: SparkSession, sfDir: String): Unit =
    registered.getOrElseUpdate(spark, sfDir)(doRegister(spark, sfDir))

  private def doRegister(spark: SparkSession, sfDir: String): Unit = {
    Tables.names.foreach { n =>
      val df = if (n == "events") Tables.events(spark, sfDir) else Tables.load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW order_facts AS
         SELECT o.*, c.c_name, c.c_mktsegment, n.n_name AS nation_name,
                r.r_name AS region_name
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey""")
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW document_stats AS
         SELECT doc_id, lang, source, n_chars,
                size(split(trim(text), '\\s+')) AS n_tokens
         FROM documents""")
    // search_facet-style options view (reference
    // `search_facet_transformer_job.py:44-93` / scripts/views.sql:932):
    // one row per facet with its sorted distinct option list.
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW facet_options AS
         SELECT 'lang' AS facet_name, sort_array(collect_set(lang)) AS options
         FROM documents
         UNION ALL
         SELECT 'source', sort_array(collect_set(source)) FROM documents""")
    // models_by_* overview aggregate (reference `scripts/views.sql:1418`
    // family: group-count over the search surface).
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW orders_by_nation AS
         SELECT nation_name, count(1) AS n_orders
         FROM order_facts GROUP BY nation_name""")
    // search_facet_options (reference `scripts/views.sql:1280`): one row
    // per facet option, exploded from the per-facet option arrays.
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW facet_option_rows AS
         SELECT facet_name, explode(options) AS option FROM facet_options""")
    // data_overview_*_cohorts shape (reference
    // `scripts/data_visualization_views.sql:7,46` — the materialized
    // views the reference DISABLES on cluster runs for cost): fact rows
    // joined to the search surface, filtered to a hot panel, with a
    // derived log column. Declarative here, so the panel IN-list and
    // the dimension filter push into the scans.
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW item_cohorts AS
         SELECT l.l_orderkey, l.l_linenumber, p.p_name AS symbol,
                f.nation_name AS provider, f.c_mktsegment AS type,
                f.region_name AS cohort_system, l.l_quantity,
                round(log2(l.l_extendedprice + 0.001), 4) AS price_log
         FROM lineitem l
         JOIN part p ON l.l_partkey = p.p_partkey
         JOIN order_facts f ON l.l_orderkey = f.o_orderkey
         WHERE f.region_name != 'AFRICA'
           AND p.p_name IN ('blue plate', 'red bolt', 'hot widget')""")
    // mutation_data_table-style wide display view (reference
    // `scripts/views.sql:363`): fact rows joined to their dims with a
    // concatenated display column.
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW item_display AS
         SELECT l.l_orderkey, l.l_linenumber, p.p_name,
                s.s_name AS supplier_name,
                concat_ws('/', p.p_brand, p.p_type) AS brand_display,
                l.l_quantity
         FROM lineitem l
         JOIN part p ON l.l_partkey = p.p_partkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey""")
  }
}
