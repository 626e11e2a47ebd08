package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation

import graft.api.SqlViews

/** [[Tables.load]] resolves a test table once per session and re-resolves
  * it when the files under its path change; against the uncached reader
  * (`spark.read.parquet`) it plans and answers the same.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val Probe = "graft.tables-spec.probe"

  /** Spark jobs that `f` starts on this thread. A sentinel job marks the
    * end: the listener sees events in posting order, so once it has seen
    * the sentinel start it has seen every job `f` started. Jobs of other
    * threads carry no probe property and are not counted.
    */
  private def jobsDuring(s: SparkSession)(f: => Unit): Int = {
    val started = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Probe))).foreach(started.put)
    }
    val sc = s.sparkContext
    sc.addSparkListener(listener)
    try {
      def tagged(tag: String)(g: => Unit): Unit = {
        sc.setLocalProperty(Probe, tag)
        try g finally sc.setLocalProperty(Probe, null)
      }
      tagged("job")(f)
      tagged("sentinel")(sc.parallelize(Seq(1), 1).count())
      Iterator.continually(started.poll(60, TimeUnit.SECONDS))
        .map(j => Option(j).getOrElse(fail("the sentinel job was not seen")))
        .takeWhile(_ == "job").size
    } finally sc.removeSparkListener(listener)
  }

  private def relation(df: DataFrame): BaseRelation =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .getOrElse(fail(s"no file relation in ${df.queryExecution.analyzed}"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def tmpDir(): String = Files.createTempDirectory("graft-tables").toString

  /** Write `df` as one parquet file at `path` (replacing what is there). */
  private def writeFile(df: DataFrame, path: String): Unit = {
    val stage = s"${tmpDir()}/stage"
    df.coalesce(1).write.parquet(stage)
    val part = Files.list(Paths.get(stage)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a repeat load runs no job and plans as the uncached read does") {
    val s = spark.newSession()
    assert(jobsDuring(s)(Tables.load(s, sfDir, "orders")) >= 1,
      "the first load of a session infers the schema with a job")
    val again = jobsDuring(s)(Tables.load(s, sfDir, "orders"))
    assert(again == 0, s"a repeat load ran $again jobs")
    assert(relation(Tables.load(s, sfDir, "orders")) eq relation(Tables.load(s, sfDir, "orders")))

    def query(o: DataFrame) = o.filter(col("o_totalprice") > 1000)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    val cached = query(Tables.load(s, sfDir, "orders")).queryExecution.optimizedPlan
    val uncached = query(s.read.parquet(s"$sfDir/orders.parquet")).queryExecution.optimizedPlan
    assert(cached.sameResult(uncached), s"cached:\n$cached\nuncached:\n$uncached")
  }

  test("two loads of one table self-join as two uncached reads do") {
    def selfJoin(a: DataFrame, b: DataFrame) =
      a.join(b, a("n_regionkey") === b("n_regionkey") && a("n_nationkey") < b("n_nationkey"))
        .select(a("n_name"), b("n_name"))
    val got = selfJoin(Tables.load(spark, sfDir, "nation"), Tables.load(spark, sfDir, "nation"))
    val path = s"$sfDir/nation.parquet"
    val want = selfJoin(spark.read.parquet(path), spark.read.parquet(path))
    assert(rows(got).nonEmpty)
    assert(rows(got) == rows(want))
  }

  test("a file rewritten at the same path is seen on the next load") {
    val dir = tmpDir()
    val path = s"$dir/t.parquet"
    writeFile(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    assert(rows(Tables.load(spark, dir, "t")) == Seq("[1,a]", "[2,b]"))

    writeFile(Seq((3L, "c"), (4L, "d"), (5L, "e")).toDF("k", "v"), path)
    assert(rows(Tables.load(spark, dir, "t")) == Seq("[3,c]", "[4,d]", "[5,e]"))

    writeFile(Seq((6L, "f", 1.5)).toDF("k", "v", "w"), path)
    val widened = Tables.load(spark, dir, "t")
    assert(widened.columns.toSeq == Seq("k", "v", "w"))
    assert(rows(widened) == Seq("[6,f,1.5]"))
  }

  test("a file added to a directory dataset is seen on the next load") {
    val dir = tmpDir()
    val path = s"$dir/d.parquet"
    Seq(1L, 2L).toDF("k").coalesce(1).write.parquet(path)
    assert(Tables.load(spark, dir, "d").count() == 2)
    assert(jobsDuring(spark)(Tables.load(spark, dir, "d")) == 0)
    Seq(3L).toDF("k").coalesce(1).write.mode("append").parquet(path)
    assert(rows(Tables.load(spark, dir, "d")) == Seq("[1]", "[2]", "[3]"))
  }

  test("sessions keep their own relations, memo entries and SQL views") {
    val (s1, s2) = (spark.newSession(), spark.newSession())
    val r1 = relation(Tables.load(s1, sfDir, "region"))
    assert(jobsDuring(s2)(Tables.load(s2, sfDir, "region")) >= 1,
      "a second session resolved the table without reading it")
    val r2 = relation(Tables.load(s2, sfDir, "region"))
    assert(r1 ne r2)
    assert(r2.asInstanceOf[HadoopFsRelation].sparkSession eq s2)

    val memo = new SessionMemo[String, Int]
    memo.put(s1, "k", 1)
    assert(memo.get(s2, "k").isEmpty)
    assert(memo.getOrElseUpdate(s2, "k")(2) == 2 && memo.get(s1, "k").contains(1))

    SqlViews.register(s1, sfDir)
    assert(!s2.catalog.tableExists("order_facts"))
    SqlViews.register(s2, sfDir)
    assert(s2.catalog.tableExists("order_facts") && s1.catalog.tableExists("order_facts"))
  }

  test("case mapping without ICU agrees with ICU's root locale") {
    import com.ibm.icu.lang.UCharacter
    import com.ibm.icu.util.ULocale
    assert(spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false")
    // ASCII, German sharp s, Greek with a final sigma, dotted capital I,
    // the titlecase digraph, a ligature and mixed text.
    val words = Seq("Patient-Derived Xenograft", "sample_origin 42", "Straße", "ΣΑΣ",
      "ΟΔΟΣ ΣΑΣ", "İ", "İstanbul", "ǅ", "ǅemal", "ﬁne", "Ünïcödé Mixed")
    val got = words.toDF("s").select($"s", lower($"s"), upper($"s")).as[(String, String, String)]
      .collect()
    assert(got.length == words.size)
    got.foreach { case (s, lo, up) =>
      assert(lo == UCharacter.toLowerCase(ULocale.ROOT, s), s"lower($s)")
      assert(up == UCharacter.toUpperCase(ULocale.ROOT, s), s"upper($s)")
    }
  }
}
