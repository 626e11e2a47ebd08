package graft.sources

import java.io.IOException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.functions.Cleaning

/** Provider-TSV source (reference S1–S5, `etl/workflow/spark_reader.py`):
  * multi-glob tab-separated reads with a DECLARED all-string schema,
  * header-comment filtering, column-name cleaning, provenance tagging, and
  * the empty-input fallback that the whole downstream DAG must tolerate.
  *
  * Scale notes: schema is declared (never inferred — no sampling pass over
  * 100 TB of TSVs); the provenance column comes from `input_file_name()`
  * at scan time (no join); a glob that matches no file contributes
  * nothing, and when none match the result is an empty frame with the
  * declared schema, so a 1000-provider run never aborts on one absent
  * file; a path that exists but cannot be read fails the read.
  */
object Tsv {

  /** All-nullable-string schema from declared column names
    * (reference `spark_reader.py:24-28`).
    */
  def declaredSchema(columns: Seq[String]): StructType =
    StructType(columns.map(StructField(_, StringType, nullable = true)))

  val ProvenanceCol = "data_source"

  /** Read TSV files matching `paths` (globs allowed) with the declared
    * column set. Steps (matching reference order, `spark_reader.py:86-108`):
    * read → clean column names → drop '#'-comment rows (in `commentField`)
    * → stamp provenance from the file path via `providerRegex`.
    * Each glob is expanded here and the reader gets the matched files, so
    * a glob that matches nothing drops out alone; when no glob matches,
    * the result is the empty frame with declared schema + provenance "".
    * Any other failure propagates, naming the path it could not read.
    */
  def read(
      spark: SparkSession,
      paths: Seq[String],
      columns: Seq[String],
      commentField: Option[String] = Some("field"),
      providerRegex: String = ".*/([^/]+)/[^/]+$"
  ): DataFrame = {
    val schema = declaredSchema(columns.map(Cleaning.cleanName))
    val files = paths.flatMap(matches(spark, _))
    val raw =
      if (files.isEmpty) empty(spark, columns)
      else spark.read
        .option("sep", "\t")
        .option("header", "true")
        .schema(schema)
        .csv(files: _*)
    val cleaned = Cleaning.cleanColumnNames(raw)
    val filtered = commentField match {
      case Some(f) => Cleaning.filterCommentRows(cleaned, f)
      case None    => cleaned
    }
    if (filtered.columns.contains(ProvenanceCol)) filtered
    else
      filtered.withColumn(
        ProvenanceCol,
        regexp_extract(input_file_name(), providerRegex, 1))
  }

  /** The files `glob` matches, sorted; none when nothing matches. */
  private def matches(spark: SparkSession, glob: String): Seq[String] =
    try {
      val p = new Path(glob)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Option(fs.globStatus(p)).toSeq.flatten.map(_.getPath.toString).sorted
    } catch {
      case e: IOException =>
        throw new IOException(s"Tsv.read: cannot read '$glob': ${e.getMessage}", e)
    }

  /** Empty frame with the declared schema + blank provenance
    * (reference `spark_reader.py:95-107`).
    */
  def empty(spark: SparkSession, columns: Seq[String]): DataFrame =
    spark
      .createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        declaredSchema(columns.map(Cleaning.cleanName)))
      .withColumn(ProvenanceCol, lit(""))
}
