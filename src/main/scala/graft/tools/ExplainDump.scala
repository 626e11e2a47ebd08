package graft.tools

import java.nio.file.{Files, Paths}

import graft.{SparkEntry, Tables}

/** Dev tool: dump `.explain("formatted")` per query to files — the
  * before/after plan evidence for optimization rounds (plans/rNN/).
  *
  * Usage: runMain graft.tools.ExplainDump <outDir> <suffix> [q1,q2,...]
  * Writes <outDir>/<query>_<suffix>.txt for each selected query.
  * Iterative operators build their plan by executing per-round pins, so
  * the dump runs at sf0.001 (shape is identical across SFs; only the
  * AQE runtime stats differ).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val suffix = args(1)
    val only = args.lift(2).map(_.split(",").toSet)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Tables.sfDir("0.001"))
    val spark = Tables.localSession(Tables.cores)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(out))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, dir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(s"$out/${name}_$suffix.txt"), txt)
          println(s"[explain] wrote ${name}_$suffix.txt")
        } catch { case e: Throwable =>
          // e.getMessage can be null (e.g. NPE) — don't abort the dump loop.
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          println(s"[explain] ERROR $name: ${msg.linesIterator.nextOption.getOrElse("")}")
        }
      }
    spark.stop()
  }
}
