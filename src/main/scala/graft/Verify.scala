package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Tables.localSession(Tables.cores)
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (comma-separated name prefixes); the driver
    // sets no env, so its runs always dump everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    def selected(name: String) = only.forall(_.exists(name.startsWith))
    // Every declared query MUST yield an output dir: on failure we write a
    // one-row parquet with a single `err` column, so the downstream oracle
    // compare produces an explicit red row (schema mismatch) instead of a
    // silent absence. Round 5 shipped two broken queries invisibly because
    // a failed dump simply produced no row in CORRECTNESS — absence must be
    // impossible.
    var failed = List.empty[String]
    // Harness self-test hook, same contract as Bench's: the named query
    // throws, and must come out as an err-marker parquet, never an absence.
    val failInject = sys.env.get("SPARK_GRAFT_FAIL_INJECT")
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      // Progress marker: lets log-tail warnings (e.g. WindowExec's
      // single-partition warning) be attributed to the emitting query.
      System.err.println(s"[verify] running $name")
      try {
        if (failInject.contains(name))
          throw new RuntimeException("injected failure (SPARK_GRAFT_FAIL_INJECT)")
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed ::= name
        try {
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
          import spark.implicits._
          Seq(msg).toDF("err").coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case marker: Throwable =>
          System.err.println(s"[verify] $name error-marker write failed: ${marker.getMessage}")
        }
      }
    }
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} FAILED: ${failed.sorted.mkString(", ")}")
    writeOracleSql(outDir, SparkEntry.oracleSql.filter(o => selected(o._1)))
    spark.stop()
  }

  /** Write `outDir/oracle_sql.json`, query name → DuckDB SQL, the file
    * `tools/check.py` replays against the dumped results.
    */
  def writeOracleSql(outDir: String, sql: Iterable[(String, String)]): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = sql.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
