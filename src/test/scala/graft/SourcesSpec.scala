package graft

import java.nio.file.{Files, Paths}
import graft.sources.{Obo, Ontolia, PostgresTsv, Tsv, Yaml}
import graft.graph.OntologyGraph

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-test").toString

  test("Tsv.read: declared schema, comment filter, provenance") {
    val dir = tmpDir()
    Files.createDirectories(Paths.get(s"$dir/providerA"))
    Files.writeString(
      Paths.get(s"$dir/providerA/patient.tsv"),
      "field\tvalue\n#template comment\tx\np1\tv1\np2\tv2\n")
    val df = Tsv.read(spark, Seq(s"$dir/*/patient.tsv"), Seq("field", "value"))
    val rows = df.orderBy("field")
      .select("field", "value", Tsv.ProvenanceCol)
      .as[(String, String, String)].collect()
    assert(rows.toSeq == Seq(("p1", "v1", "providerA"), ("p2", "v2", "providerA")))
  }

  test("Tsv.read: missing input degrades to typed empty frame") {
    val df = Tsv.read(spark, Seq("/nonexistent/*/nope.tsv"), Seq("a", "b"))
    assert(df.columns.toSeq == Seq("a", "b", Tsv.ProvenanceCol))
    assert(df.count() == 0)
  }

  test("Tsv.read: a glob that matches nothing drops out alone") {
    val dir = tmpDir()
    Files.createDirectories(Paths.get(s"$dir/providerA"))
    Files.writeString(Paths.get(s"$dir/providerA/patient.tsv"), "field\tvalue\np1\tv1\n")
    val df = Tsv.read(spark, Seq(s"$dir/*/patient.tsv", s"$dir/*/absent.tsv"),
      Seq("field", "value"))
    assert(df.select("field", Tsv.ProvenanceCol).as[(String, String)].collect().toSeq ==
      Seq(("p1", "providerA")))
  }

  test("Tsv.read: a path that cannot be read fails and names the path") {
    val path = "nosuchfs://host/providers/*/patient.tsv"
    val e = intercept[java.io.IOException](Tsv.read(spark, Seq(path), Seq("field", "value")))
    assert(e.getMessage.contains(path), e.getMessage)
  }

  test("Obo.parse: stanzas, urls, multi is_a") {
    val obo =
      """format-version: 1.2
        |
        |[Term]
        |id: NCIT:C1
        |name: Root Term
        |
        |[Term]
        |id: NCIT:C2
        |name: Child Term
        |is_a: NCIT:C1 ! Root Term
        |is_a: NCIT:C9 ! Other
        |""".stripMargin
    val terms = Obo.parse(obo.linesIterator)
    assert(terms.map(_.term_id) == Seq("NCIT:C1", "NCIT:C2"))
    assert(terms(1).is_a == Seq("NCIT:C1", "NCIT:C9"))
    assert(terms(0).term_url == "http://purl.obolibrary.org/obo/NCIT_C1")
  }

  test("Ontolia.parseLine: regimen=treatments with trimming") {
    assert(Ontolia.parseLine(" NCIT:C100 = NCIT:C1 , NCIT:C2 ")
      .contains(Ontolia.RegimenLink("NCIT:C100", "NCIT:C1,NCIT:C2")))
    assert(Ontolia.parseLine("garbage").isEmpty)
  }

  test("Yaml.read: yaml doc -> dataframe via json") {
    val dir = tmpDir()
    Files.writeString(
      Paths.get(s"$dir/meta.yaml"),
      "name: providerA\nproject: PDX\ncounts:\n  models: 12\n")
    val df = Yaml.read(spark, Seq(s"$dir/meta.yaml"))
    val row = df.select("name", "project", "counts.models").head()
    assert(row.getString(0) == "providerA" && row.getLong(2) == 12L)
  }

  test("Yaml.readModule: declared-col projection, missing keys null, provider union") {
    val dir = tmpDir()
    Files.writeString(Paths.get(s"$dir/a.yaml"),
      "name: providerA\nabbreviation: PA\nextra: ignored\n")
    Files.writeString(Paths.get(s"$dir/b.yaml"),
      "name: providerB\n") // no abbreviation -> null column
    val df = Yaml.readModule(spark,
      Map("provA" -> s"$dir/a.yaml", "provB" -> s"$dir/b.yaml"),
      Seq("name", "abbreviation"))
    assert(df.columns.toSeq == Seq("name", "abbreviation", Tsv.ProvenanceCol))
    val rows = df.orderBy("name").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("providerA", "providerB"))
    assert(rows(0).getString(1) == "PA" && rows(1).isNullAt(1))
    assert(rows.map(_.getString(2)).toSeq == Seq("provA", "provB"))
    // No providers -> typed empty frame.
    assert(Yaml.readModule(spark, Map.empty, Seq("name")).isEmpty)
  }

  test("OntologyGraph: ancestors/descendants/subgraph + rename") {
    val terms = Seq(
      Obo.OboTerm("C1", "Root Neoplasm", "", Nil),
      Obo.OboTerm("C2", "Malignant Lung Neoplasm", "", Seq("C1")),
      Obo.OboTerm("C3", "Sub Type", "", Seq("C2")),
      Obo.OboTerm("C9", "Unrelated", "", Nil))
    val g = OntologyGraph.fromTerms(terms)
    assert(g.ancestors("C3") == Set("C1", "C2"))
    assert(g.descendants("C1") == Set("C2", "C3"))
    assert(g.subgraphTerms(Seq("C1")) == Set("C2", "C3"))
    assert(OntologyGraph.updateTermName("Malignant Lung Neoplasm") == "Lung Cancer")
    assert(OntologyGraph.updateTermName("Breast Neoplasm") == "Breast Cancer")
    val anc = g.termAncestorsDf(spark).as[(String, String)].collect().toMap
    assert(anc("C3") == "Malignant Lung Neoplasm|Root Neoplasm")
  }

  test("Closure.transitiveClosure matches driver BFS and survives cycles") {
    import graft.graph.Closure
    // Diamond + chain: 5→{3,4}, 3→2, 4→2, 2→1.
    val edges = Seq((5L, 3L), (5L, 4L), (3L, 2L), (4L, 2L), (2L, 1L))
      .toDF("child", "parent")
    val closure = Closure.transitiveClosure(edges, "child", "parent")
      .as[(Long, Long)].collect().toSet
    val g = OntologyGraph.fromTerms(Seq(
      Obo.OboTerm("1", "a", "", Nil), Obo.OboTerm("2", "b", "", Seq("1")),
      Obo.OboTerm("3", "c", "", Seq("2")), Obo.OboTerm("4", "d", "", Seq("2")),
      Obo.OboTerm("5", "e", "", Seq("3", "4"))))
    val expected = for {
      n <- Seq("1", "2", "3", "4", "5")
      a <- g.ancestors(n)
    } yield (n.toLong, a.toLong)
    assert(closure == expected.toSet)
    // A 3-cycle converges to the full 3x3 pair set instead of looping.
    val cyc = Closure.transitiveClosure(
      Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("child", "parent"),
      "child", "parent")
    assert(cyc.count() == 9)
  }

  test("MappingRules: multiline JSON read + 4-key case-insensitive mapping") {
    import graft.sources.MappingRules
    val dir = tmpDir()
    Files.writeString(Paths.get(s"$dir/diagnosis_mappings.json"),
      """{ "mappings": [
        |  { "data_source": "ProvA", "diagnosis": "Lung Cancer",
        |    "primary_site": "lung", "tumour_type": "primary",
        |    "mapped_term_id": "NCIT:C1000", "decision": "curated" },
        |  { "data_source": "provB", "diagnosis": "colon cancer",
        |    "primary_site": "colon", "tumour_type": "primary",
        |    "mapped_term_id": "NCIT:C3000", "decision": "curated" }
        |] }""".stripMargin)
    val rules = MappingRules.readDiagnosisRules(spark, s"$dir/diagnosis_mappings.json")
    assert(rules.count() == 2)
    val samples = Seq(
      ("provA", "LUNG CANCER", "Lung", "Primary"), // case differs everywhere
      ("provB", "colon cancer", "colon", "primary"),
      ("provB", "unmapped thing", "x", "primary"))
      .toDF("data_source", "diagnosis", "primary_site", "tumour_type")
    val mapped = MappingRules.mapSamples(samples, rules)
      .select("diagnosis", "mapped_term_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(mapped("LUNG CANCER") == "NCIT:C1000")
    assert(mapped("colon cancer") == "NCIT:C3000")
    assert(mapped("unmapped thing") == null)
  }

  test("chembl offline lookup and treatment-type classification") {
    import graft.pdcm.Links
    val treatments = Seq("Cisplatin", "unknowndrug").toDF("treatment_name")
    val lookup = Seq(("cisplatin", "CHEMBL11359")).toDF("name", "chembl_id")
    val linked = Links.chemblLinks(treatments, "treatment_name", lookup)
      .select("treatment_name", "chembl_link")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(linked("Cisplatin") ==
      "https://www.ebi.ac.uk/chembl/compound_report_card/CHEMBL11359")
    assert(linked("unknowndrug") == null)

    val df = Seq(Seq("Platinum Compound", "Cytotoxic Chemotherapeutic Agent"),
      Seq("Unrelated Term")).toDF("ancestors")
    val types = df.select(Links.classifyTreatmentTypes($"ancestors", Seq(
      "Chemotherapy" -> Seq("chemotherapeutic"),
      "Targeted" -> Seq("kinase inhibitor"))).as("t"))
      .as[Seq[String]].collect()
    assert(types(0) == Seq("Chemotherapy") && types(1).isEmpty)
  }

  test("Snapshots: time travel isolates versions; increment reads only new files") {
    import graft.sources.Snapshots
    val path = java.nio.file.Files
      .createTempDirectory("graft-snap").toString + "/t"
    val a = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    val b = Seq((3L, 30.0)).toDF("id", "v")
    assert(Snapshots.append(a, path, "v", nFiles = 2) == 1)
    assert(Snapshots.append(b, path, "v", nFiles = 1) == 2)
    assert(Snapshots.currentVersion(path) == 2)
    // v1 is untouched by the later commit.
    assert(Snapshots.readSnapshot(spark, path, 1)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(Snapshots.readSnapshot(spark, path, 2)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // The change feed is exactly batch 2, and it READS only batch-2
    // files (the incremental-consumption contract).
    val inc = Snapshots.readIncrement(spark, path, 1, 2)
    assert(inc.select("id").as[Long].collect().toSeq == Seq(3L))
    val incFiles = inc
      .select(org.apache.spark.sql.functions.input_file_name())
      .distinct().as[String].collect()
    assert(incFiles.nonEmpty && incFiles.forall(_.contains("batch-2")))
    // From version 0 = full table.
    assert(Snapshots.readIncrement(spark, path, 0, 2).count() == 3)
    // Unknown version is an error, not silent empty.
    intercept[IllegalArgumentException](Snapshots.readSnapshot(spark, path, 9))
  }

  test("Snapshots: commit tag rides in the manifest; orphan batch dirs are safe") {
    import graft.sources.Snapshots
    val path = java.nio.file.Files
      .createTempDirectory("graft-snap-tag").toString + "/t"
    val a = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    // Untagged commit first (schema evolution: old manifests lack the
    // tag column), then a tagged one — both visible, only the tagged id
    // in committedTags.
    Snapshots.append(a, path, "v", nFiles = 1)
    Snapshots.append(Seq((3L, 30.0)).toDF("id", "v"), path, "v",
      nFiles = 1, commitTag = Some(7L))
    assert(Snapshots.committedTags(spark, path) == Set(7L))
    // Crash window: data for batch-3 written but the manifest commit
    // never happened. The tag is absent (replay must NOT skip) and the
    // retry overwrites the orphan dir instead of erroring or duplicating.
    val orphan = Seq((4L, 40.0)).toDF("id", "v")
    orphan.write.parquet(s"$path/batch-3")
    assert(!Snapshots.committedTags(spark, path).contains(8L))
    Snapshots.append(orphan, path, "v", nFiles = 1, commitTag = Some(8L))
    assert(Snapshots.committedTags(spark, path) == Set(7L, 8L))
    assert(Snapshots.readSnapshot(spark, path, 3)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("Jsonl source: declared schema, corrupt lines quarantined not dropped") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/part0.jsonl"),
      ("""{"doc_id": 1, "text": "hello world", "lang": "en"}""" + "\n" +
        """{"doc_id": 2, "text": "bonjour", "lang": "fr"}""" + "\n" +
        """{"doc_id": 3, "text": "truncated""" + "\n" +
        """not json at all""" + "\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    val (clean, quarantine) =
      graft.sources.Jsonl.readWithQuarantine(spark, Seq(s"$dir/*.jsonl"), schema)
    assert(clean.columns.toSeq == Seq("doc_id", "text", "lang"))
    assert(clean.orderBy("doc_id").select("text").as[String].collect().toSeq ==
      Seq("hello world", "bonjour"))
    val bad = quarantine.select("raw_line").as[String].collect().sorted
    assert(bad.length == 2 && bad.exists(_.contains("truncated")) &&
      bad.contains("not json at all"))
    assert(quarantine.select("input_file").as[String].collect()
      .forall(_.contains("part0.jsonl")))
  }

  test("Jdbc sink: entities round-trip through an embedded database") {
    // Derby ships with Spark, so the S15 live-DB load is exercised
    // against a real (embedded) JDBC database: write an entity table,
    // read it back, values and row count intact.
    val dbDir = java.nio.file.Files.createTempDirectory("graft-jdbc").toString
    val url = s"jdbc:derby:$dbDir/graftdb;create=true"
    val df = Seq(
      (1L, "M1", Seq("JAX:123", "X"), 2),
      (2L, "M2", Seq.empty[String], 1)).toDF("id", "model_id", "external_ids", "passages")
    graft.sources.Jdbc.write(df, url, "model_entity", numPartitions = 2)
    val back = graft.sources.Jdbc.read(spark, url, "model_entity")
      .orderBy("id").collect()
    assert(back.length == 2)
    assert(back(0).getString(1) == "M1" && back(1).getString(1) == "M2")
    // Arrays land as Postgres-style literals, like the COPY path.
    assert(back(0).getString(2) == "{\"JAX:123\",\"X\"}")
    assert(back(1).getString(2) == "{}")
    // Overwrite mode replaces, not appends.
    graft.sources.Jdbc.write(df.limit(1), url, "model_entity")
    assert(graft.sources.Jdbc.read(spark, url, "model_entity").count() == 1)
  }

  test("PostgresTsv: array literals, null fill, newline escape") {
    val df = Seq((1L, Seq("a", "b"), "line1\nline2"), (2L, Seq.empty[String], null))
      .toDF("id", "tags", "note")
    val prepped = PostgresTsv.prepare(df).orderBy("id")
      .as[(String, String, String)].collect()
    assert(prepped(0) == ("1", "{\"a\",\"b\"}", "line1\\nline2"))
    assert(prepped(1) == ("2", "{}", ""))
  }
}
