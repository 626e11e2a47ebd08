package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** One decision point each for the local session, the machine's paths,
  * the test-table reader and the streaming checkpoint file manager:
  * `Tables.scala` is the only source that makes any of these decisions.
  * Driver-side concurrency has its own: only `EntityPipeline.scala`
  * creates a thread pool. So does the local-file permission policy: only
  * `CheckpointFiles.scala` subclasses Hadoop's raw local filesystem or
  * names the `file` scheme's filesystem class.
  */
class LintSpec extends AnyFunSuite {

  // Forked tests run in the build's base directory.
  private val src = Paths.get(Tables.repoDir, "src")
  private val tables = src.resolve(Paths.get("main", "scala", "graft", "Tables.scala"))

  private val pipeline = src.resolve(Paths.get("main", "scala", "graft", "pipeline",
    "EntityPipeline.scala"))

  private val checkpointFiles = src.resolve(Paths.get("main", "scala", "graft", "streaming",
    "CheckpointFiles.scala"))

  /** `file:line: text` for every line of a Scala file under `dir`,
    * other than `owner` (`Tables.scala` by default), that `pattern` matches.
    */
  private def hits(dir: Path, pattern: Regex, owner: Path = tables): List[String] = {
    assert(Files.isRegularFile(owner), s"no $owner")
    val files = Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.size > 100, s"scanned only ${files.size} Scala files under $dir")
    for {
      f <- files if f != owner
      (line, i) <- Files.readAllLines(f).asScala.toList.zipWithIndex
      if pattern.findFirstIn(line).nonEmpty
    } yield s"${src.relativize(f)}:${i + 1}: ${line.trim}"
  }

  test("lint: only Tables.scala names a path under the machine's root directory") {
    // Assembled, so that this file does not match itself.
    val rootPath = Regex.quote("/" + "root/").r
    val found = hits(src, rootPath)
    assert(found.isEmpty,
      s"resolve paths through Tables.sfDir/repoDir/fixtureDir:\n${found.mkString("\n")}")
  }

  test("lint: only Tables.scala calls SparkSession.builder under src/main") {
    val found = hits(src.resolve("main"), """SparkSession\s*\.\s*builder""".r)
    assert(found.isEmpty,
      s"build local sessions with Tables.localSession:\n${found.mkString("\n")}")
  }

  test("lint: only Tables.scala reads a test table's parquet path under src/main") {
    // `<dir>/<table>.parquet`, with the table a literal or a plain variable.
    val tableRead = """read\s*\.\s*parquet\(\s*s"\$\{?\w+\}?/(\$\{?\w+\}?|\w+)\.parquet"""".r
    val found = hits(src.resolve("main"), tableRead)
    assert(found.isEmpty,
      s"read test tables with Tables.load:\n${found.mkString("\n")}")
  }

  test("lint: only Tables.scala names the checkpoint file manager conf") {
    // Assembled, so that this file does not match itself.
    val key = Regex.quote("checkpointFileManager" + "Class").r
    val found = hits(src, key)
    assert(found.isEmpty,
      s"name the manager in Tables.sessionConfigs only:\n${found.mkString("\n")}")
  }

  test("lint: only CheckpointFiles.scala decides how local files get their modes under src/main") {
    // A subclass of the raw local filesystem, or the conf keys that pick
    // the `file` scheme's class or bypass Hadoop's filesystem cache.
    val policy = ("""extends\s+(org\.apache\.hadoop\.fs\.)?RawLocalFileSystem\b""" +
      """|new\s+(org\.apache\.hadoop\.fs\.)?RawLocalFileSystem\s*(\(\s*\))?\s*\{""" +
      """|fs\.file\.impl""").r
    val found = hits(src.resolve("main"), policy, owner = checkpointFiles)
    assert(found.isEmpty,
      s"set local file modes through graft.streaming.CheckpointFiles:\n${found.mkString("\n")}")
  }

  test("lint: only EntityPipeline.scala creates a thread pool under src/main") {
    // A single `new Thread` (SkewDrill's) is not a pool.
    val pool = """Executors\s*\.|ExecutionContext\s*\.\s*(from|global|Implicits)|ForkJoinPool|ThreadPoolExecutor""".r
    val found = hits(src.resolve("main"), pool, owner = pipeline)
    assert(found.isEmpty,
      s"run concurrent driver work through PipelineRunner:\n${found.mkString("\n")}")
  }
}
