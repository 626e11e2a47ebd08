package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation

/** Test-table access, the local session, the session configs (the
  * streaming checkpoint file manager among them) and the repo/testdata
  * paths shared by Verify/Bench/tools/tests: each is decided here and
  * nowhere else.
  *
  * The synthetic `events` table carries nanosecond parquet timestamps,
  * which Spark's vectorized reader rejects by default; sessions created
  * through [[Tables.sessionConfigs]] read them as nanos-since-epoch longs
  * and [[Tables.events]] restores a proper TimestampType column
  * (microsecond truncation — the same truncation DuckDB applies, so
  * oracles agree).
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The session conf that names Spark's streaming checkpoint file manager. */
  val checkpointFileManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Configs every engine session should carry (local or cluster).
    *
    * The checkpoint file manager is [[graft.streaming.CheckpointFiles]].
    * When Hadoop has no native library, its local filesystem forks a
    * process for two steps of every checkpoint file, and on a local path
    * this manager avoids both: Spark's default renames each file through
    * Hadoop's FileContext, which forks `readlink` (the manager renames
    * through the FileSystem API instead), and Hadoop sets each created
    * file's mode by forking `chmod` (the manager sets it in-process). A
    * streaming micro-batch writes its offset and commit logs and a state
    * file per partition, and those forks took about half of each batch's
    * time. The `.crc` files, Spark's state file checksums and the
    * temp-file-then-rename writes are unchanged, and other schemes keep
    * Spark's choice.
    *
    * ICU case mappings are off: with them on, the first `lower`/`upper`
    * in a JVM initializes Spark's `CollationAwareUTF8String`, which
    * title-cases every Unicode code point with ICU (1.7-1.9 s, on one
    * executor thread while the others wait); the JVM's mappings agree with
    * ICU's root-locale ones on the strings graft lowers (`TablesSpec`).
    */
  val sessionConfigs: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    checkpointFileManagerKey -> classOf[graft.streaming.CheckpointFiles].getName,
    "spark.sql.icu.caseMappings.enabled" -> "false"
  )

  /** Local cores: `SPARK_GRAFT_CPUS` when set, else the host's. */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The local session every graft main and the test suites run on:
    * `local[cores]` with one shuffle partition per core, no UI,
    * [[sessionConfigs]], and WARN logging.
    */
  def localSession(cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      // 4000, not the default 100: Bench runs ~490 queries × several
      // codegen units each, round after round, and a smaller LRU evicts
      // a query's generated classes before its next sample runs, which
      // then re-pays janino compilation (~40-100 ms/query, seconds on
      // the widest plans): measurement overhead, not query cost.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
    sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The generated tables at scale factor `sf` (TESTDATA.md). */
  def sfDir(sf: String): String = s"/root/testdata/sf$sf"

  /** The checkout's root: sbt sets `user.dir` to the build's base
    * directory for forked runs and tests.
    */
  def repoDir: String = sys.props("user.dir")

  /** Where q120/q295/q466 stage the two-provider PDCM fixture, and
    * where their oracle SQL reads it.
    */
  def fixtureDir: String = s"$repoDir/target/q120_fixtures"

  /** A resolved parquet relation and the file statuses it was resolved
    * from: (path, length, modification time) of each leaf file.
    */
  private final case class Resolved(files: Seq[(String, Long, Long)], relation: BaseRelation)

  private val relations = new SessionMemo[String, Resolved]

  /** Test table `name` under `sfDir`: the one reader of the test tables.
    *
    * The first read in a session lists the file and infers its schema (a
    * Spark job); the resolved relation is kept per (session, path) and
    * reused while the file statuses under the path are unchanged, so a
    * repeat read is a status check plus analysis of one leaf. Each call
    * returns a new frame with fresh attribute ids, so two loads of one
    * table self-join as two independent reads do. A rewrite that keeps a
    * file's path, length and modification time is not seen.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val files = fileStatuses(spark, path)
    val relation = relations.get(spark, path).filter(_.files == files).map(_.relation)
      .getOrElse {
        val r = spark.read.parquet(path).queryExecution.analyzed match {
          case l: LogicalRelation => l.relation
          case other => throw new IllegalStateException(
            s"$path: expected a file relation, got ${other.nodeName}")
        }
        relations.put(spark, path, Resolved(files, r))
        r
      }
    spark.baseRelationToDataFrame(relation)
  }

  /** (path, length, modification time) of the file at `path`, or of
    * every file under it when it is a directory, sorted by path.
    */
  private def fileStatuses(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status = fs.getFileStatus(p)
    val leaves =
      if (status.isFile) Iterator(status)
      else {
        val it = fs.listFiles(p, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      }
    leaves.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .toSeq.sortBy(_._1)
  }

  /** `events` with `ts` normalized to TimestampType.
    *
    * The testdata has shipped `ts` two ways across rounds: nanosecond
    * parquet timestamps (read as nanos-since-epoch longs under the
    * `nanosAsLong` session flag — restored here with µs truncation, the
    * same truncation DuckDB applies) and plain `timestamp[us]` with
    * isAdjustedToUTC=false, which Spark 4 reads as TIMESTAMP_NTZ. The
    * NTZ case is cast to TIMESTAMP: the engine session timezone is
    * pinned to UTC (see [[sessionConfigs]]), so the wall-clock values —
    * and every DuckDB oracle — are unchanged, while `unix_micros` and
    * streaming watermarks (which require TIMESTAMP) work again.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType.typeName match {
      case "long"          => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case "timestamp_ntz" => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _               => raw
    }
  }
}
