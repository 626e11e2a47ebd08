package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.AnalysisException

/** Adversarial harness drill, round-7 rotation (r6 verdict item 6).
  *
  * Round 6 proved the harness's OWN failure path (SPARK_GRAFT_FAIL_INJECT
  * → err-marker parquet / nonzero rc). This round sabotages the DATA on a
  * staged copy of sf0.001 (the real testdata stays untouched) and proves
  * the gate goes red — never silently green, never absent — in each of the
  * three ways an upstream break can reach the engine:
  *
  *  1. corrupt parquet footer  → the scan throws; Verify's catch turns any
  *     throw into a one-row `err` parquet (schema-mismatch red row) and
  *     Bench records it in `errs` + exits nonzero — so a throw IS a red;
  *  2. renamed column          → AnalysisException at plan time (same red
  *     path as 1);
  *  3. retyped column (the sneaky one: the query still RUNS) → the result
  *     schema differs from the declared one, which the driver's per-query
  *     schema compare flags as its own red channel.
  *
  * The drill is recorded in NOTES.md per the per-round rotation.
  */
class HarnessDrillSpec extends SparkSpec {

  /** Stage a drill dir: symlinks to every sf0.001 table; the caller then
    * replaces one table with a sabotaged copy.
    */
  private def stageDrillDir(): java.io.File = {
    val d = Files.createTempDirectory("graft_drill").toFile
    new java.io.File(sfDir).listFiles().foreach { f =>
      Files.createSymbolicLink(Paths.get(d.getPath, f.getName), f.toPath)
    }
    d
  }

  private def replaceNation(d: java.io.File)(write: String => Unit): Unit = {
    val target = Paths.get(d.getPath, "nation.parquet")
    Files.delete(target)
    write(target.toString)
  }

  test("corrupt parquet footer: the scan throws — red in both channels, not absent") {
    val d = stageDrillDir()
    replaceNation(d) { path =>
      val bytes = Files.readAllBytes(Paths.get(sfDir, "nation.parquet"))
      Files.write(Paths.get(path), bytes.take(bytes.length / 2)) // footer gone
    }
    val e = intercept[Throwable] {
      SparkEntry.queries("q07_self_join")(spark, d.getPath).collect()
    }
    // Any throw is a red: Verify writes the one-row `err` parquet (schema
    // mismatch vs oracle), Bench appends to `errs` and exits nonzero.
    assert(e.getMessage != null)
  }

  test("schema drift, renamed column: analysis error at plan time — red, not silent") {
    val d = stageDrillDir()
    replaceNation(d) { path =>
      spark.read.parquet(s"$sfDir/nation.parquet")
        .withColumnRenamed("n_name", "nation_label")
        .coalesce(1).write.parquet(path)
    }
    intercept[AnalysisException] {
      SparkEntry.queries("q07_self_join")(spark, d.getPath).collect()
    }
  }

  test("schema drift, retyped column: query runs but the result schema changes — schema-compare red") {
    val d = stageDrillDir()
    replaceNation(d) { path =>
      val n = spark.read.parquet(s"$sfDir/nation.parquet")
      n.withColumn("n_regionkey", n("n_regionkey").cast("string"))
        .coalesce(1).write.parquet(path)
    }
    val drifted = SparkEntry.queries("q07_self_join")(spark, d.getPath)
    val declared = SparkEntry.queries("q07_self_join")(spark, sfDir)
    // The sneaky break: rows still come back (green-looking), but the
    // declared schema drifted — exactly what the driver's per-query
    // schema compare (CORRECTNESS_r*.json `schema_match`) exists to catch.
    assert(drifted.collect().nonEmpty)
    assert(drifted.schema("region_key").dataType
      != declared.schema("region_key").dataType)
  }

  test("ORACLE sabotage: a wrong oracle SQL string turns the gate red — guards oracle-drift false-greens") {
    // r8 rotation (r7 verdict item 8): rounds 6-7 sabotaged the harness
    // and the DATA; this round sabotages the ORACLE side. If an oracle
    // SQL string drifts from the query's semantics (the false-green
    // nightmare: both engines "agree" because the comparator never really
    // compared), the DuckDB compare must go RED. Staged copy only —
    // the real SparkEntry.oracleSql is untouched.
    //
    // The drill runs the REAL comparator (tools/check.py, the local
    // replica of the driver's gate) twice over the same q01 dump: once
    // with the true oracle (control, must be OK) and once with an
    // off-by-one sabotage (must FAIL + nonzero exit).
    import scala.sys.process._
    val out = Files.createTempDirectory("graft_oracle_drill").toString
    SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$out/q01_pricing_summary")
    def runGate(oracleSql: String): (Int, String) = {
      val json = "{\"q01_pricing_summary\": " +
        "\"" + oracleSql.replace("\\", "\\\\").replace("\"", "\\\"")
          .replace("\n", " ").replace("\t", " ") + "\"}"
      Files.writeString(Paths.get(out, "oracle_sql.json"), json)
      val buf = new StringBuilder
      val rc = Process(Seq("python3", "tools/check.py", sfDir, out),
        new java.io.File(Tables.repoDir))
        .!(ProcessLogger(l => buf.append(l).append('\n'), _ => ()))
      (rc, buf.toString)
    }
    val truth = SparkEntry.oracleSql("q01_pricing_summary")
    val (rcOk, outOk) = runGate(truth)
    assert(rcOk == 0 && outOk.contains("OK   q01_pricing_summary"),
      s"control run must be green:\n$outOk")
    // Sabotage: same shape, same columns, one value expression nudged —
    // the exact drift mode a stale oracle string would produce.
    val sabotaged = truth.replace("count(*) AS count_order",
      "count(*) + 1 AS count_order")
    assert(sabotaged != truth, "sabotage must actually change the SQL")
    val (rcBad, outBad) = runGate(sabotaged)
    assert(rcBad != 0 && outBad.contains("FAIL q01_pricing_summary"),
      s"sabotaged oracle MUST go red:\n$outBad")
  }

  test("BENCH sabotage: a lazily-throwing plan lands in errs + nonzero rc, never a silent total") {
    // r9 rotation (r8 verdict item 7): rounds 6-8 sabotaged the harness's
    // eager path, the data, and the oracle. This round attacks the BENCH
    // channel with the sneakiest runtime shape: a plan that analyzes
    // fine, produces its first rows, then throws MID-ITERATION (the
    // round-5 failure mode was exactly such a query being recorded as a
    // plausible 0.06 s timing). The drill runs the REAL graft.Bench main
    // in a subprocess with SPARK_GRAFT_LAZY_FAIL planted on q03 and
    // proves: nonzero exit, the failure named in `errs`, failed=1, and
    // NO timing row for the sabotaged query — while the healthy q01
    // still gets its timing.
    import scala.sys.process._
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val addOpens = jvmArgs.zipWithIndex.collect {
      case (a, i) if a == "--add-opens" => Seq(a, jvmArgs(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
    }.flatten
    val cp = System.getProperty("java.class.path")
    val cmd = Seq("java", "-Xmx4g") ++ addOpens ++ Seq(
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", cp, "graft.Bench")
    val out = new StringBuilder
    val rc = Process(cmd, new java.io.File(Tables.repoDir),
      "SPARK_GRAFT_SF_DIR" -> sfDir,
      "SPARK_GRAFT_ONLY" -> "q01,q03",
      "SPARK_GRAFT_ROUNDS" -> "1",
      "SPARK_GRAFT_CPUS" -> "4",
      "SPARK_GRAFT_LAZY_FAIL" -> "q03_revenue_by_nation")
      .!(ProcessLogger(l => { out.append(l).append('\n'); () }, _ => ()))
    val line = out.toString.linesIterator
      .filter(l => l.startsWith("{") && l.contains("\"metric\"")).toSeq.lastOption
    assert(rc != 0, s"Bench must exit nonzero on a failed query; got rc=$rc\n$out")
    assert(line.isDefined, s"Bench must still emit its JSON line:\n$out")
    val json = line.get
    assert(json.contains("\"failed\":1"), json)
    assert(json.contains("injected lazy failure"), json)
    // Spark renders raise_error as "[USER_RAISED_EXCEPTION] <msg>" — pin
    // only that the err row is keyed to q03 and carries the message.
    assert(json.contains("\"q03\":\"") || json.contains("\"q03_revenue_by_nation\":\""), json)
    // The sabotaged query must NOT appear as a timing sample; q01 must.
    val queriesPart = json.substring(json.indexOf("\"queries\""))
    assert(!queriesPart.contains("q03"), s"no silent timing for the failure: $json")
    assert(queriesPart.contains("q01"), s"healthy query keeps its timing: $json")
  }

  test("value drift, one cell flipped: rows and schema stay green — ONLY the value hash catches it") {
    // r7 rotation addition (the sneakiest break mode): an upstream feed
    // silently corrupts one VALUE. The query runs, the schema matches,
    // the row count matches — rows_match and schema_match both stay
    // green, so the drill proves the third channel (value hash) is what
    // stands between this break and a green gate.
    val d = stageDrillDir()
    replaceNation(d) { path =>
      val n = spark.read.parquet(s"$sfDir/nation.parquet")
      n.withColumn("n_name",
          org.apache.spark.sql.functions.when(n("n_nationkey") === 0,
            org.apache.spark.sql.functions.concat(n("n_name"),
              org.apache.spark.sql.functions.lit("X")))
            .otherwise(n("n_name")))
        .coalesce(1).write.parquet(path)
    }
    val drifted = SparkEntry.queries("q03_revenue_by_nation")(spark, d.getPath)
    val declared = SparkEntry.queries("q03_revenue_by_nation")(spark, sfDir)
    val dRows = drifted.collect()
    val cRows = declared.collect()
    assert(drifted.schema == declared.schema, "schema channel must stay green")
    assert(dRows.length == cRows.length, "row-count channel must stay green")
    assert(dRows.map(_.toString).toSet != cRows.map(_.toString).toSet,
      "the value hash MUST differ — otherwise the sabotage is invisible")
  }

  test("ROUNDLINT: the boundary-rounding lint flags a planted site and the live tree is fully audited") {
    // r11 (r10 verdict item 2): the "round a SUM onto a coarser grid
    // than its terms" class is now guarded STATICALLY — tools/
    // roundlint.py flags every round-over-fold site whose output grid
    // is coarser than its term grid, each flagged site carries a hand-
    // audited disposition, and any NEW site fails the lint (exit 1).
    // The selftest plants a synthetic bad block + a clean control.
    import scala.sys.process._
    def run(args: Seq[String]): (Int, String) = {
      val out = new StringBuilder
      val rc = Process(Seq("python3", "tools/roundlint.py") ++ args,
        new java.io.File(Tables.repoDir))
        .!(ProcessLogger(l => { out.append(l).append('\n'); () },
          l => { out.append(l).append('\n'); () }))
      (rc, out.toString)
    }
    val (src, sout) = run(Seq("--selftest"))
    assert(src == 0 && sout.contains("selftest OK"),
      s"roundlint selftest must flag the planted site:\n$sout")
    val (rc, out) = run(Nil)
    assert(rc == 0 && out.contains("0 unaudited"),
      s"every flagged round-over-fold site must carry an audited disposition:\n$out")
  }

  test("SCALED-SWEEP sabotage: a one-ulp drift at scaled-only density goes red — the sf1+ sweep channel is earned") {
    // r11 rotation (r10 verdict item 8): the sf0.1/sf1 oracle sweeps are
    // now the primary divergence-hunting channel (5 real finds across
    // two rounds), but the channel itself was never negatively tested —
    // nothing proved a sub-rounding-grid drift at a SCALED dir actually
    // turns the comparator red. This drill stages a key-shifted 2×
    // scale-up of sf0.001 (the ScaleUp construction the real sfx1 dir
    // uses), dumps q01 over it, proves the comparator green at scale
    // (control), then nudges ONE double cell of the Spark dump by ONE
    // ULP — the smallest possible divergence, the exact magnitude class
    // the q133/q201/q333 finds reduced to — and proves the gate FAILs.
    import scala.sys.process._
    import org.apache.spark.sql.functions._
    // 2× key-shifted lineitem: the ScaleUp recipe, one table is enough
    // for q01 (lineitem-only query).
    val d = stageDrillDir()
    val target = Paths.get(d.getPath, "lineitem.parquet")
    Files.delete(target)
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val shifted = Seq("l_orderkey", "l_partkey", "l_suppkey")
      .foldLeft(li)((acc, c) => acc.withColumn(c, col(c) + lit(1000000000L)))
    li.unionByName(shifted).coalesce(2).write.parquet(target.toString)

    val out = Files.createTempDirectory("graft_sweep_drill").toString
    val dump = s"$out/q01_pricing_summary"
    SparkEntry.queries("q01_pricing_summary")(spark, d.getPath)
      .coalesce(1).write.mode("overwrite").parquet(dump)
    val json = "{\"q01_pricing_summary\": " +
      "\"" + SparkEntry.oracleSql("q01_pricing_summary")
        .replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", " ").replace("\t", " ") + "\"}"
    Files.writeString(Paths.get(out, "oracle_sql.json"), json)
    def runGate(): (Int, String) = {
      val buf = new StringBuilder
      val rc = Process(Seq("python3", "tools/check.py", d.getPath, out),
        new java.io.File(Tables.repoDir))
        .!(ProcessLogger(l => buf.append(l).append('\n'), _ => ()))
      (rc, buf.toString)
    }
    val (rcOk, outOk) = runGate()
    assert(rcOk == 0 && outOk.contains("OK   q01_pricing_summary"),
      s"control at the SCALED dir must be green:\n$outOk")
    // One-ulp sabotage on one double cell of the Spark dump only.
    // localCheckpoint BEFORE the overwrite: the sabotaged plan must not
    // lazily re-read the files it is about to replace.
    val rows = spark.read.parquet(dump).localCheckpoint()
    val dblCol = rows.schema.fields
      .find(_.dataType == org.apache.spark.sql.types.DoubleType).get.name
    val marker = rows.select(max(col(dblCol))).head().getDouble(0)
    rows.withColumn(dblCol,
        when(col(dblCol) === marker,
          lit(Math.nextUp(marker))).otherwise(col(dblCol)))
      .coalesce(1).write.mode("overwrite").parquet(dump)
    val (rcBad, outBad) = runGate()
    assert(rcBad != 0 && outBad.contains("FAIL q01_pricing_summary"),
      s"a one-ulp drift at scaled density MUST go red:\n$outBad")
  }

  test("HOT-KEY ScaleUp: skew mode makes the rows-derived keyedPairs cap BIND on generated data") {
    // r11 verdict #1: ScaleUp's key-shift preserves key widths by
    // construction, so no scaled dataset had ever made the sqrt(N)
    // width cap fire — the 100 TB skew story was correct-by-
    // construction, never measured-under-fire. The new hot mode
    // collapses ~1/m of basket keys onto ONE hot key; this drill proves
    // (a) the default path is unchanged, (b) the hot mode produces a
    // dataset where the DERIVED cap actually binds, with the dropped
    // mass reportable — the property the full-size SkewDrill record
    // (CHECK_skew.json) relies on.
    import org.apache.spark.sql.functions._
    import graft.operators.Relational
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    // default path: 2x rows, no hot key, widths preserved (<= 7)
    val plain = graft.tools.ScaleUp.scaleTable(li, "lineitem", 2)
    assert(plain.count() == 2 * li.count())
    assert(plain.filter(col("l_orderkey") === graft.tools.ScaleUp.HotKey).count() == 0)
    // hot mode: ~1/50 of orderkeys collapse onto HotKey
    val hot = graft.tools.ScaleUp.scaleTable(li, "lineitem", 2, Some(50L))
    val items = hot.select(col("l_orderkey"), col("l_partkey")).distinct()
    val n = items.count()
    val cap = Relational.scaledMaxWidth(n)
    val over = Relational.overWidthKeys(items, "l_orderkey", cap)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(over.nonEmpty, s"derived cap $cap did not bind at n=$n")
    assert(over.map(_._1).contains(graft.tools.ScaleUp.HotKey))
    // the capped wedge join drops the hot key entirely; narrow keys match
    val capped = Relational.keyedPairs(items, "l_orderkey", "l_partkey",
      maxWidth = Some(cap))
    assert(capped.filter(col("l_orderkey") === graft.tools.ScaleUp.HotKey).count() == 0)
    assert(capped.count() > 0)
  }

  test("SCANNER sabotage: leakscan and copyscan flag planted violations — clean-tree zeros are earned") {
    // r10 rotation (r9 verdict item 6): harness, data, oracle, and bench
    // channels are drill-proven (rounds 6-9), but LEAKCHECK and
    // COPYCHECK had only ever scanned clean trees — "0 hits" and
    // "flagged: []" were never negatively tested. Each scanner now
    // carries a --selftest that stages a temp tree with a known
    // violation (a file carrying every leak-pattern class; a >60%-
    // similar near-copy of a generated reference file) next to a clean
    // control file, and asserts the violation is flagged and the control
    // is not. The drill runs both selftests and requires exit 0.
    import scala.sys.process._
    assume(Process(Seq("python3", "--version")).!(ProcessLogger(_ => ())) == 0,
      "python3 not available in this environment")
    def run(tool: String): (Int, String) = {
      val out = new StringBuilder
      val rc = Process(Seq("python3", s"tools/$tool", "--selftest"),
        new java.io.File(Tables.repoDir))
        .!(ProcessLogger(l => { out.append(l).append('\n'); () },
          l => { out.append(l).append('\n'); () }))
      (rc, out.toString)
    }
    val (lrc, lout) = run("leakscan.py")
    assert(lrc == 0 && lout.contains("selftest OK"),
      s"leakscan selftest must pass and flag the planted file:\n$lout")
    val (crc, cout) = run("copyscan.py")
    assert(crc == 0 && cout.contains("selftest OK"),
      s"copyscan selftest must pass and flag the planted near-copy:\n$cout")
  }
}
