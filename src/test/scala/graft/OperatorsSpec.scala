package graft

import org.apache.spark.sql.functions._
import graft.operators.{BloomJoin, Dedup, Relational, Similarity}
import graft.plans.BloomExpressions

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("removeDuplicateSpans deletes non-canonical spans, merges overlaps") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "ABCDEFGH"),   // canonical for every gram it contains
      (2L, "XXABCDEFGH"), // tail duplicates doc 1 -> spans [3,10] removed
      (3L, "ABCDEABCDE"), // dup grams at pos 1 and 6 cover the whole text
      (4L, "AB")          // shorter than a gram: passes through unchanged
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(docs, "doc_id", "text", gramLen = 5)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "ABCDEFGH", 0L),
      (2L, "XX", 8L),
      (3L, "", 10L),
      (4L, "AB", 0L)))
  }

  test("removeDuplicateSpans: gramKeyHash variant is bit-identical") {
    // Same corpus through 8-byte xxhash64 gram keys: the shuffle narrows,
    // the answer must not move (collision odds are ~n²/2⁶⁵).
    val rnd = new scala.util.Random(42)
    val docs = (1L to 60L).map { id =>
      (id, (1 to 40).map(_ => "ab" (rnd.nextInt(2))).mkString)
    }.toDF("doc_id", "text")
    val exact = Dedup.removeDuplicateSpans(docs, "doc_id", "text", gramLen = 7)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    val hashed = Dedup.removeDuplicateSpans(docs, "doc_id", "text", gramLen = 7,
        gramKeyHash = true)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(exact == hashed)
  }

  test("removeDuplicateSpans: maxDocFreq caps which grams dedup") {
    val docs = Seq(
      (1L, "HOTGRAMXX"), // HOTGRAM in 3 docs (df=3); doc 1 canonical
      (2L, "HOTGRAMYY"),
      (3L, "HOTGRAMZZ"),
      (4L, "AABCDEAABCDE") // within-doc repeat: df=1, always dedups
    ).toDF("doc_id", "text")
    def run(cap: Option[Int]) =
      Dedup.removeDuplicateSpans(docs, "doc_id", "text", gramLen = 6,
          maxDocFreq = cap)
        .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    // Cap below the hot gram's df=3: its occurrences survive; the
    // df=1 within-doc repeat still dedups. Never removes MORE than exact.
    val capped = run(Some(2))
    assert(capped.take(3).forall(_._3 == 0L))
    assert(capped(3)._3 > 0L)
    // Cap at/above every df: identical to the exact path.
    assert(run(Some(3)) == run(None))
  }

  test("jaccardJoin: complete vs brute force over random corpora/thresholds") {
    // The PPJoin prefix filter must drop NO qualifying pair at ANY
    // threshold — property-checked against all-pairs Jaccard on random
    // token sets (small vocabulary forces heavy overlap, the hard case
    // for prefix filtering).
    val rnd = new scala.util.Random(11)
    val vocab = ('a' to 'j').map(_.toString)
    def corpus() = (1L to 30L).map { id =>
      (id, rnd.shuffle(vocab).take(2 + rnd.nextInt(6)).toSeq)
    }
    for (((tNum, tDen), docsSeq) <- Seq((1, 2), (2, 3), (4, 5), (1, 1))
           .map(t => t -> corpus())) {
      val docs = docsSeq.toDF("id", "toks")
      val got = Dedup.jaccardJoin(docs, "id", "toks", tNum, tDen)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val sets = docsSeq.map { case (id, ts) => id -> ts.toSet }
      val want = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        inter = (sa & sb).size; uni = (sa | sb).size
        if inter.toLong * tDen >= uni.toLong * tNum
      } yield (a, b)).toSet
      assert(got == want, s"t=$tNum/$tDen")
    }
  }

  test("semanticDedup matches an in-memory Lloyd + cosine reference") {
    // Three well-separated clusters plus three planted near-copies
    // (cos ~ 0.99995 to their originals); cluster-mates sit far below
    // the 0.99 threshold, so every verdict has wide float margin. The
    // reference mirrors the operator's determinism contract exactly:
    // lowest-id seeds, argmin(-2·dot + |c|²) with ties to the lower
    // cell, per-iteration means rounded HALF_UP to 6 dp, empty cells
    // keeping their previous centroid.
    val rnd = new scala.util.Random(7)
    val dim = 16
    val centers = (0 until 3).map { c =>
      Array.tabulate(dim)(d => if (d == c) 2.0 else 0.0)
    }
    val originals = (0 until 57).map { i =>
      i.toLong -> centers(i % 3).map(c => c + (rnd.nextDouble() - 0.5) * 4.0)
    }
    val copies = (0 until 3).map { i =>
      (57 + i).toLong -> originals(i)._2.map(x => x * 1.01 + 1e-4)
    }
    val all = originals ++ copies
    val docs = all.map { case (id, v) => (id, v.map(_.toFloat).toSeq) }
      .toDF("vec_id", "embedding")

    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def round6(x: Double): Double =
      BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val doubled = all.map { case (id, v) => id -> v.map(_.toFloat.toDouble) }
    val nCells = 4
    var cents = doubled.sortBy(_._1).take(nCells).map(_._2)
    def assign(v: Array[Double]): Int =
      cents.zipWithIndex.map { case (c, i) => (-2 * dot(v, c) + dot(c, c), i) }.min._2
    for (_ <- 1 to 2) {
      val byCell = doubled.groupBy { case (_, v) => assign(v) }
      cents = cents.zipWithIndex.map { case (prev, c) =>
        byCell.get(c).fold(prev) { members =>
          val n = members.size
          prev.indices.map(d =>
            round6(members.map(_._2(d)).sum / n)).toArray
        }
      }
    }
    val cells = doubled.map { case (id, v) => id -> assign(v) }.toMap
    val want = doubled.map { case (id, v) =>
      val dupOf = doubled
        .filter { case (oid, ov) =>
          oid < id && cells(oid) == cells(id) &&
            dot(ov, v) / (math.sqrt(dot(ov, ov)) * math.sqrt(dot(v, v))) >= 0.99
        }
        .map(_._1).sorted.headOption
      (id, cells(id).toLong, dupOf, dupOf.isDefined)
    }.sortBy(_._1)
    val got = Dedup.semanticDedup(docs, "vec_id", "embedding",
        nCells = nCells, lloydIters = 2, simThreshold = 0.99)
      .orderBy("vec_id").as[(Long, Long, Option[Long], Boolean)].collect().toSeq
    assert(got == want)
    assert(want.count(_._4) == 3) // exactly the planted copies fall
  }

  test("semanticDedup at nCells >> cores with one hot cell stays bounded and exact") {
    // Scale probe for the SemDeDup knobs (VERDICT r5 item 8): 64 cells on a
    // 4-core session (cells ≫ parallelism), with a planted HOT cell — 300
    // verbatim copies of vector 0 — the skew shape that breaks any plan
    // whose within-cell work is not an equi-join. Verbatim copies make
    // every hot-cell verdict exact (cosine is identically 1.0), so the
    // assertions have no float margin to argue about.
    val base = Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding")
    // Copies built driver-side from the single collected vector so the
    // plan under test is the OPERATOR's plan, not the fixture's.
    val emb0 = base.filter($"vec_id" === 0)
      .select($"embedding").as[Seq[Float]].head()
    val copies = (1 to 300)
      .map(i => (100000L + i, emb0)).toDF("vec_id", "embedding")
    val skewed = base.unionByName(copies)
    val n = skewed.count()

    val out = Dedup.semanticDedup(skewed, "vec_id", "embedding",
      nCells = 64, lloydIters = 2, simThreshold = 0.999)
    // The dedup join must be an equi-join on cell — a cartesian/nested-loop
    // here is exactly the 100 TB scale-killer this operator exists to avoid.
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      "within-cell dedup must stay an equi-join on cell")

    val rows = out.collect().map(r => (r.getLong(0),
      r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)),
      r.getBoolean(3)))
    assert(rows.length == n, "one verdict row per input vector")
    val cells = rows.map(_._2).distinct
    assert(cells.length <= 64)
    // Every planted copy is removed, and attributed to vector 0 — the
    // lowest id in the hot cell (distance 0, same cell by construction).
    val planted = rows.filter(_._1 >= 100000L)
    assert(planted.length == 300)
    assert(planted.forall { case (_, cell, dupOf, removed) =>
      removed && dupOf.contains(0L) && cell == rows.find(_._1 == 0L).get._2 })
    // Vector 0 itself survives (nothing below it in the cell).
    assert(rows.find(_._1 == 0L).exists(r => !r._4 && r._3.isEmpty))
    // The hot cell is as hot as constructed: >= 301 members, yet the job
    // finished through the bounded equi-join (this spec IS the measurement
    // hook — wall time recorded in NOTES.md).
    val hotCell = rows.find(_._1 == 0L).get._2
    assert(rows.count(_._2 == hotCell) >= 301)
  }

  test("defaultNCells holds expected cell occupancy constant across scales") {
    // The rows-derived policy form of the SemDeDup knob (the r8 sf10
    // probe: fixed nCells=8 at 100× the corpus = 326.8 s, scaled = 20.9 s).
    // Ceiling division: occupancy never exceeds the target.
    assert(Dedup.defaultNCells(2048L) == 1)
    assert(Dedup.defaultNCells(2049L) == 2)
    assert(Dedup.defaultNCells(16384L, 2048) == 8)
    // 100× the corpus ⇒ 100× the cells ⇒ same expected occupancy — the
    // exact recovery the probe demonstrated by hand.
    assert(Dedup.defaultNCells(1638400L, 2048) == 100 * Dedup.defaultNCells(16384L, 2048))
    assert(Dedup.defaultNCells(1L) == 1)
    intercept[IllegalArgumentException](Dedup.defaultNCells(0L))
    // The derived default drives the operator end-to-end: tiny target ⇒
    // several cells, verdicts still exact on verbatim copies.
    val base = Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding").limit(40)
    val emb0 = base.filter($"vec_id" === 0)
      .select($"embedding").as[Seq[Float]].head()
    val withCopy = base.unionByName(Seq((90000L, emb0)).toDF("vec_id", "embedding"))
    val k = Dedup.defaultNCells(withCopy.count(), targetPerCell = 16)
    assert(k == 3) // ceil(41/16)
    val out = Dedup.semanticDedup(withCopy, "vec_id", "embedding",
      nCells = k, lloydIters = 2, simThreshold = 0.999)
      .filter($"vec_id" === 90000L).collect().head
    assert(out.getBoolean(3) && out.getLong(2) == 0L,
      "verbatim copy must dedup against vector 0 under the derived k")
  }

  test("TopKPerKey native operator matches the window top-k, two-phase plan") {
    import org.apache.spark.sql.graft.TopKPerKey
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir)
      .select($"event_type", $"event_id", $"value")
    val got = TopKPerKey(ev, Seq("event_type"),
      Seq(("value", false), ("event_id", true)), k = 3)
    // Two custom nodes (partial before the exchange, final after) — the
    // map-side bounding that distinguishes this from the window plan.
    val plan = got.queryExecution.executedPlan.toString
    assert("TopKPerKey \\[".r.findAllIn(plan).size == 2, plan.take(800))
    assert(plan.contains("Exchange"))
    val w = Window.partitionBy($"event_type")
      .orderBy($"value".desc, $"event_id")
    val want = ev.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3).drop("rn")
      .as[(String, Long, Double)].collect().toSet
    val res = got.as[(String, Long, Double)].collect().toSet
    assert(res == want && res.nonEmpty)
    // Bounded-state contract: k rows per key survive.
    assert(res.groupBy(_._1).values.forall(_.size <= 3))
  }

  test("TopKPerKey orders correctly by STRING sort keys (buffer-aliasing regression)") {
    // Regression: the partial pass buffered evaluated sort keys without
    // copying — a UTF8String key aliased the reused unsafe-row buffer and
    // string-ordered top-k silently returned arrival-order rows. Caught
    // by q176's oracle; primitive keys (the only prior shape) were safe.
    import org.apache.spark.sql.graft.TopKPerKey
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"source", $"doc_id", md5($"doc_id".cast("string")).as("hk"))
    val got = TopKPerKey(docs, Seq("source"), Seq(("hk", true), ("doc_id", true)), k = 5)
      .as[(String, Long, String)].collect().toSet
    val w = Window.partitionBy($"source").orderBy($"hk", $"doc_id")
    val want = docs.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5).drop("rn")
      .as[(String, Long, String)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("TopKPerKey distinct mode keeps the k smallest DISTINCT keys under heavy duplication") {
    // The KMV-sketch contract (q436): per key, the k smallest DISTINCT
    // sort-key values — multiplicities and arrival order must not
    // matter, in the partial pass or the final merge. events replays
    // each user_id many times; distinct-mode top-k over the md5 unit
    // hash of user_id must equal distinct-then-window exactly.
    import org.apache.spark.sql.graft.TopKPerKey
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir)
      .select($"event_type",
        md5($"user_id".cast("string")).as("h"))
    val got = TopKPerKey(ev, Seq("event_type"), Seq(("h", true)),
      k = 7, distinct = true)
      .as[(String, String)].collect().toSeq
    // no duplicate (key, h) survives, ≤ k per key
    assert(got.distinct.size == got.size)
    assert(got.groupBy(_._1).values.forall(_.size <= 7))
    val w = Window.partitionBy($"event_type").orderBy($"h")
    val want = ev.distinct().withColumn("rn", row_number().over(w))
      .filter($"rn" <= 7).drop("rn")
      .as[(String, String)].collect().toSet
    assert(got.toSet == want && got.nonEmpty)
    // non-distinct mode on the same input keeps duplicates — the two
    // modes genuinely differ on this data
    val dup = TopKPerKey(ev, Seq("event_type"), Seq(("h", true)), k = 7)
      .as[(String, String)].collect().toSeq
    assert(dup.distinct.size < dup.size)
  }

  test("Skyline two-phase frontier equals the brute-force dominance filter") {
    import graft.operators.Skyline
    import graft.operators.Skyline.Pt
    // Adversarial layout: points shuffled across partitions so local
    // frontiers genuinely disagree; includes exact ties (both survive)
    // and a fully-dominated cluster.
    val pts = Seq(
      Pt(1, 10, 0.9), Pt(2, 10, 0.9), Pt(3, 20, 0.5), Pt(4, 5, 1.0),
      Pt(5, 20, 0.5), Pt(6, 19, 0.4), Pt(7, 1, 0.1), Pt(8, 15, 0.7),
      Pt(9, 20, 0.4), Pt(10, 3, 0.95))
    val got = Skyline.frontier(
        spark.createDataset(pts).repartition(4))
      .as[(Long, Long, Double)].collect().toSet
    val brute = pts.filter(a => !pts.exists(b =>
        b.x >= a.x && b.y >= a.y && (b.x > a.x || b.y > a.y)))
      .map(p => (p.id, p.x, p.y)).toSet
    assert(got == brute)
    assert(got.map(_._1).intersect(Set(1L, 2L)) == Set(1L, 2L)) // ties survive
  }

  test("BPE merge learning matches a classic in-memory reference") {
    import graft.operators.Bpe
    // Reference: textbook BPE (Sennrich et al. 2016) on the SAME word
    // frequencies — count adjacent pairs weighted by word freq, take the
    // (count desc, pair asc) argmax, merge left-to-right non-overlapping.
    val docs = Tables.load(spark, sfDir, "documents").select("text")
    val words = Bpe.wordTable(docs, "text").cache()
    val freqs = words.select("word", "freq").as[(String, Long)].collect()

    def refMerges(k: Int): List[(String, String)] = {
      var tbl: Seq[(Vector[String], Long)] = freqs.toSeq.map { case (w, f) =>
        (w.map(_.toString).toVector :+ "</w>") -> f
      }
      val out = scala.collection.mutable.ListBuffer.empty[(String, String)]
      var continue = true
      for (_ <- 1 to k if continue) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((v, f) <- tbl; i <- 0 until v.length - 1)
          counts((v(i), v(i + 1))) = counts.getOrElse((v(i), v(i + 1)), 0L) + f
        if (counts.isEmpty) continue = false
        else {
          val (a, b) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
          out += ((a, b))
          tbl = tbl.map { case (v, f) =>
            val nb = Vector.newBuilder[String]
            var i = 0
            while (i < v.length) {
              if (i < v.length - 1 && v(i) == a && v(i + 1) == b) {
                nb += (a + b); i += 2
              } else { nb += v(i); i += 1 }
            }
            nb.result() -> f
          }
        }
      }
      out.toList
    }

    val got = Bpe.learnMerges(words, k = 8)
    assert(got == refMerges(8))
    assert(got.size == 8) // corpus is rich enough for 8 full rounds
    // Applying the merges shrinks total symbol count by exactly the
    // weighted number of merged occurrences (sanity on the fold).
    val before = words.select(sum(size($"symbols") * $"freq")).head().getLong(0)
    val after = Bpe.applyMerges(words, got)
      .select(sum(size($"symbols") * $"freq")).head().getLong(0)
    words.unpersist()
    assert(after < before)
  }

  test("removeDuplicateSpans: gramLen sweep matches a local reference") {
    // Property-style check of the span fold (the off-by-one class the
    // merge invites) against an independent in-memory implementation,
    // across gram lengths spanning shorter/longer-than-doc.
    def reference(corpus: Seq[(Long, String)], gramLen: Int): Seq[(Long, String, Long)] = {
      val occ = for {
        (id, t) <- corpus if t.length >= gramLen
        p <- 1 to (t.length - gramLen + 1)
      } yield (t.substring(p - 1, p - 1 + gramLen), id, p)
      val canon = occ.groupBy(_._1).map { case (g, os) =>
        g -> os.map(o => (o._2, o._3)).min
      }
      corpus.map { case (id, t) =>
        if (t.length < gramLen) (id, t, 0L)
        else {
          val covered = (1 to (t.length - gramLen + 1)).filter { p =>
            canon(t.substring(p - 1, p - 1 + gramLen)) != ((id, p))
          }
          var cursor = 1
          val acc = new StringBuilder
          covered.foreach { s =>
            if (s > cursor) acc.append(t.substring(cursor - 1, s - 1))
            cursor = math.max(s + gramLen, cursor)
          }
          val cleaned = acc.append(t.substring(cursor - 1)).toString
          (id, cleaned, (t.length - cleaned.length).toLong)
        }
      }
    }
    val rnd = new scala.util.Random(7)
    val corpus = (1L to 50L).map { id =>
      (id, (1 to (5 + rnd.nextInt(60))).map(_ => "abc" (rnd.nextInt(3))).mkString)
    }
    val docs = corpus.toDF("doc_id", "text")
    Seq(5, 10, 20, 50).foreach { gl =>
      val got = Dedup.removeDuplicateSpans(docs, "doc_id", "text", gramLen = gl)
        .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
      val want = reference(corpus, gl).sortBy(_._1)
      assert(got == want, s"gramLen=$gl")
    }
  }

  test("transformToFk resolves and leaves misses null") {
    val fact = Seq("US", "FR", "XX").toDF("country")
    val dim = Seq((1L, "US"), (2L, "FR")).toDF("id", "code")
    val got = Relational
      .transformToFk(fact, dim, "country", "code", "id", "country_id")
      .orderBy("country").select("country", "country_id")
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(got.toSeq == Seq(("FR", 2L), ("US", 1L), ("XX", -1L)))
  }

  test("exactlyOneJoin keeps only unambiguous matches") {
    val fact = Seq("a", "b", "c").toDF("k")
    val lookup = Seq(("a", 1), ("b", 2), ("b", 3)).toDF("lk", "v")
    val got = Relational.exactlyOneJoin(fact, lookup, "k", "lk")
      .select("k", "v").as[(String, Int)].collect()
    assert(got.toSeq == Seq(("a", 1)))
  }

  test("sortedArrayJoin matches order-insensitively") {
    val l = Seq((1, Seq("x", "y"))).toDF("id", "arr")
    val r = Seq((9, Seq("y", "x")), (8, Seq("y", "z"))).toDF("rid", "rarr")
    val got = Relational.sortedArrayJoin(l, "arr", r, "rarr").select("rid").as[Int].collect()
    assert(got.toSeq == Seq(9))
  }

  test("posexplodeMatched splits parallel lists, isolates mismatches") {
    val df = Seq(("a+b", "1+2"), ("c+d", "5")).toDF("name", "dose")
    val (matched, mismatched) = Relational.posexplodeMatched(df, "name", "dose")
    assert(matched.select("name", "dose").as[(String, String)].collect().toSet ==
      Set(("a", "1"), ("b", "2")))
    assert(mismatched.select("name").as[String].collect().toSeq == Seq("c+d"))
  }

  test("nonNullCounts counts per column per group") {
    val df = Seq(("g1", "x", null), ("g1", null, null), ("g2", "y", "z"))
      .toDF("g", "c1", "c2")
    val got = Relational.nonNullCounts(df, "g", Seq("c1", "c2"))
      .orderBy("g").as[(String, Long, Long)].collect()
    assert(got.toSeq == Seq(("g1", 1L, 0L), ("g2", 1L, 1L)))
  }

  test("harmonization waterfall: priority order, exactly-one, fall-through") {
    import graft.operators.Harmonization
    import graft.operators.Harmonization.Stage
    val facts = Seq("BRCA1", "OLD1", "AMBIG", "AL1", "NOPE").toDF("symbol")
    val approved = Seq(("BRCA1", "HGNC:1100")).toDF("sym", "hgnc_id")
    val previous = Seq(("OLD1", "HGNC:1100"), ("AMBIG", "HGNC:2"), ("AMBIG", "HGNC:3"))
      .toDF("prev", "hgnc_id")
    val alias = Seq(("AL1", "HGNC:1100"), ("AMBIG", "HGNC:9")).toDF("al", "hgnc_id")
    val out = Harmonization.waterfall(facts, Seq(
      Stage("approved", approved, "symbol", "sym", Seq("hgnc_id")),
      Stage("previous", previous, "symbol", "prev", Seq("hgnc_id")),
      Stage("alias", alias, "symbol", "al", Seq("hgnc_id"))))
    // Every fact row comes back once; no stage's claim = null match_stage.
    assert(out.count() == facts.count())
    val matched = out.filter($"match_stage".isNotNull)
    val unmatched = out.filter($"match_stage".isNull)
    val byStage = matched.select("symbol", "match_stage", "hgnc_id")
      .as[(String, String, String)].collect().toSet
    // AMBIG is ambiguous in `previous` (2 candidates) but unique in
    // `alias` — it must fall through and be claimed by the later stage.
    assert(byStage == Set(
      ("BRCA1", "approved", "HGNC:1100"),
      ("OLD1", "previous", "HGNC:1100"),
      ("AMBIG", "alias", "HGNC:9"),
      ("AL1", "alias", "HGNC:1100")))
    assert(unmatched.select("symbol").as[String].collect().toSeq == Seq("NOPE"))
    // Non-broadcast path (fact-sized lookup opt-out): identical results,
    // and the plan must contain no broadcast exchange.
    val out2 = Harmonization.waterfall(facts, Seq(
      Stage("approved", approved, "symbol", "sym", Seq("hgnc_id")),
      Stage("previous", previous, "symbol", "prev", Seq("hgnc_id")),
      Stage("alias", alias, "symbol", "al", Seq("hgnc_id"))),
      broadcastDim = false)
    val m2 = out2.filter($"match_stage".isNotNull)
    val u2 = out2.filter($"match_stage".isNull)
    assert(m2.select("symbol", "match_stage", "hgnc_id")
      .as[(String, String, String)].collect().toSet == byStage)
    assert(u2.select("symbol").as[String].collect().toSeq == Seq("NOPE"))
    // The broadcast HINT must be gone (Catalyst may still auto-broadcast
    // under the size threshold — the opt-out's job is to stop FORCING it
    // on lookups too big to fit).
    assert(matched.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("strategy=broadcast"))
    assert(!m2.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("strategy=broadcast"))
  }

  test("harmonization waterfall equals a stage-by-stage reference on seeded random lookups") {
    import graft.operators.Harmonization
    import graft.operators.Harmonization.Stage
    // The waterfall as the reference states it, one stage at a time: a
    // fact row goes to the first stage with exactly one candidate for its
    // key (a null key has none); the claim carries that candidate's payload.
    type Spec = (String, Int, Seq[(String, String, String)]) // name, fact column, candidates
    def reference(facts: Seq[(Int, String, String)], stages: Seq[Spec])
        : Set[(Int, String, String, String)] =
      facts.map { case (id, a, b) =>
        stages.iterator.map { case (name, keyCol, cands) =>
          val key = if (keyCol == 0) a else b
          (name, cands.filter(c => key != null && c._1 == key))
        }.collectFirst { case (name, Seq((_, hgnc, note))) => (id, name, hgnc, note) }
          .getOrElse((id, null, null, null))
      }.toSet
    val keys = Seq("K0", "K1", "K2", "K3", "K4", "K5", null)
    def pick[T](rnd: scala.util.Random, xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val facts = (0 until 40).map(id =>
        (id, pick(rnd, keys :+ "NONE"), pick(rnd, keys :+ "NONE")))
      def cands(n: Int): Seq[(String, String, String)] = { // key, hgnc, note
        val drawn = Seq.fill(n)((pick(rnd, keys), pick(rnd, Seq("H1", "H2", "H3", null)),
          pick(rnd, Seq("n1", null))))
        drawn ++ drawn.take(2) // exact duplicate rows: two candidates, not one
      }
      // K5 is ambiguous in the first stage and unique in the second.
      val approved = cands(6) ++ Seq(("K5", "H1", "n1"), ("K5", "H2", null))
      val previous = cands(6) :+ (("K5", "H9", "n9"))
      val alias = cands(6)
      val byB = cands(6) // a stage on the other fact column
      val stageSpecs = Seq(("approved", 0, approved), ("previous", 0, previous),
        ("by_b", 1, byB), ("alias", 0, alias))
      val factDf = facts.toDF("id", "a", "b")
      val stages = stageSpecs.map { case (name, keyCol, cs) =>
        // Differently named lookup keys; only the last stage carries `note`.
        val df = cs.toDF(s"k_$name", "hgnc", "note")
        Stage(name, if (name == "alias") df else df.drop("note"),
          if (keyCol == 0) "a" else "b", s"k_$name",
          if (name == "alias") Seq("hgnc", "note") else Seq("hgnc"))
      }
      // Stages without a `note` payload yield a null note.
      def asClaimed(specs: Seq[Spec]) = specs.map { case (n, k, cs) =>
        (n, k, if (n == "alias") cs else cs.map(c => (c._1, c._2, null: String)))
      }
      val expected = reference(facts, asClaimed(stageSpecs))
      for (bc <- Seq(true, false)) {
        val got = Harmonization.waterfall(factDf, stages, broadcastDim = bc)
        assert(got.columns.toSeq == Seq("id", "a", "b", "hgnc", "note", "match_stage"))
        val rows = got.select("id", "match_stage", "hgnc", "note")
          .as[(Int, String, String, String)].collect()
        assert(rows.length == facts.size, s"seed $seed: a fact row lost or repeated")
        assert(rows.toSet == expected, s"seed $seed broadcast=$bc")
      }
      // One fact key: the whole waterfall is one join.
      val oneKey = Harmonization.waterfall(factDf, stages.filter(_.factKey == "a"))
      assert(oneKey.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.size == 1)
      assert(oneKey.select("id", "match_stage", "hgnc", "note")
        .as[(Int, String, String, String)].collect().toSet ==
        reference(facts, asClaimed(stageSpecs.filter(_._2 == 0))))
    }
  }

  test("operators are total on empty inputs (SURVEY risk 6)") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("id", "text")
    assert(Dedup.exactDedup(emptyDocs, "id", "text").count() == 0)
    assert(Dedup.minhashCandidatePairs(emptyDocs, "id", "text").count() == 0)
    assert(Dedup.simhashClusters(emptyDocs, "id", "text").count() == 0)
    val emptyFact = Seq.empty[(String, Int)].toDF("k", "v")
    val dim = Seq(("a", 1L)).toDF("code", "id")
    assert(Relational.transformToFk(emptyFact, dim, "k", "code", "id", "fk").count() == 0)
    assert(Relational.exactlyOneJoin(emptyFact, dim, "k", "code").count() == 0)
    def t0 = new java.sql.Timestamp(0L)
    val emptyTs = Seq.empty[(Long, java.sql.Timestamp, Long)].toDF("k", "ts", "rid")
    assert(Relational.asofJoin(emptyTs, emptyTs, "k", "ts", "rid", "x").count() == 0)
  }

  test("asofJoin attaches latest prior value, inclusive at ties") {
    def t(min: Long) = new java.sql.Timestamp(min * 60000L)
    val left = Seq((1L, t(10), "p1"), (1L, t(5), "p2"), (2L, t(1), "p3"))
      .toDF("k", "ts", "pid")
    val right = Seq((1L, t(5), 100L), (1L, t(8), 101L), (2L, t(2), 102L))
      .toDF("k", "ts", "rid")
    val got = Relational.asofJoin(left, right, "k", "ts", "rid", "last_rid")
      .select("pid", "last_rid").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got == Map("p1" -> 101L, "p2" -> 100L, "p3" -> -1L))
  }

  test("exactDedup keeps one representative per text") {
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("id", "text")
    val kept = Dedup.exactDedup(docs, "id", "text").select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("incrementalDedup drops corpus matches and within-shard dups") {
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"))
      .toDF("id", "text")
    val incoming = Seq(
      (10L, "beta  alpha gamma alpha"), // bag-equal to corpus doc 1
      (11L, "zeta eta"), (12L, "eta zeta"), // bag-equal pair, keep min id
      (13L, "unique words here")).toDF("id", "text")
    val got = Dedup.incrementalDedup(incoming, corpus, "id", "text")
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(11L, 13L))
  }

  test("minhash LSH finds a planted near-duplicate pair") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 39).map(i => s"w$i").mkString(" ") + " zz"
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("id", "text")
    val pairs = Dedup.minhashDuplicatePairs(docs, "id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("lshTopK finds the brute-force nearest neighbor") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val q = e.filter($"vec_id" === 3).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    val brute = Similarity.bruteForceTopK(e, "vec_id", "embedding", q, 1)
      .select("vec_id").as[Long].head()
    val idx = Similarity.lshIndex(e, "vec_id", "embedding", 6, q.size)
    val approx = Similarity.lshTopK(idx, "vec_id", "embedding", q, 6, 1)
      .select("vec_id").as[Long].head()
    assert(brute == 3L && approx == 3L) // self is always in its own bucket
  }

  test("nearDuplicatePairs is symmetric-free and thresholded") {
    val e = Tables.load(spark, sfDir, "embeddings").limit(50)
    val pairs = Similarity.nearDuplicatePairs(e, "vec_id", "embedding", 2, 64, 0.2)
      .as[(Long, Long, Double)].collect()
    assert(pairs.forall { case (a, b, s) => a < b && s >= 0.2 })
  }

  test("bloom prunedJoin: exact result, no false negatives, real pruning") {
    val dim = Tables.load(spark, sfDir, "part").filter($"p_size" <= 5)
      .select($"p_partkey", $"p_brand")
    val fact = Tables.load(spark, sfDir, "lineitem")
      .select($"l_partkey", $"l_quantity")
    val pruned = BloomJoin
      .prunedJoin(fact, "l_partkey", dim, "p_partkey", numBits = 1 << 16)
      .groupBy($"p_brand").count()
    val plain = fact.join(dim, $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand").count()
    assert(pruned.as[(String, Long)].collect().toSet ==
      plain.as[(String, Long)].collect().toSet)
    // No false negatives: every dim key passes the filter it built.
    val bloom = dim.agg(
      BloomExpressions.bloomBuild($"p_partkey", 1 << 16, 5).as("b"))
    val misses = dim.join(broadcast(bloom))
      .where(!BloomExpressions.mightContain($"p_partkey", $"b")).count()
    assert(misses == 0)
    // The filter really prunes the fact side (selective dim keys).
    val passed = fact.join(broadcast(bloom))
      .where(BloomExpressions.mightContain($"l_partkey", $"b")).count()
    assert(passed < fact.count() / 2)
  }

  test("rerank: batch/partition invariant, bounded blend, deterministic") {
    import graft.operators.Rerank
    import graft.operators.Rerank.Candidate
    val cands = (0L until 40L).map(i => Candidate(i, 1.0 - i * 0.01))
    val one = Rerank.rerank(spark.createDataset(cands).repartition(1), 7L,
      batchSize = 64).collect().sortBy(_.id)
    val many = Rerank.rerank(spark.createDataset(cands).repartition(8), 7L,
      batchSize = 3).collect().sortBy(_.id)
    // Scores are a pure function of (query, id, stage1): identical under
    // any partitioning and batch size.
    assert(one.toSeq == many.toSeq)
    // Blend is bounded by its components.
    assert(one.forall(r => r.rerank_score >= 0.9 * r.stage1_score &&
      r.rerank_score <= 0.9 * r.stage1_score + 0.1))
    // The affinity term actually reorders some near-tied candidates.
    val s1Order = one.sortBy(r => (-r.stage1_score, r.id)).map(_.id).toSeq
    val s2Order = one.sortBy(r => (-r.rerank_score, r.id)).map(_.id).toSeq
    assert(s1Order != s2Order)
  }

  test("int8TopK: self is top hit, codes bounded, approx tracks exact") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val q = e.filter($"vec_id" === 7).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    val got = Similarity.int8TopK(e, "vec_id", "embedding", q, 5)
      .as[(Long, Long, Double)].collect()
    // Self-match leads: quantization preserves the dominant dot product.
    assert(got.head._1 == 7L)
    // The de-scaled approximate dot of the self pair is close to |q|^2.
    val exact = q.map(x => x * x).sum
    assert(math.abs(got.head._3 - exact) / exact < 0.02)
    // Codes lie in [-127, 127]: q_dot of any pair is bounded by dim * 127^2.
    assert(got.forall(r => math.abs(r._2) <= q.size.toLong * 127 * 127))
  }

  test("keyedPairs: wedge-join pair stream, hot-basket cap drops (never samples) over-width keys") {
    // Baskets: b1 width 3 (3 pairs), b2 width 2 (1 pair), HOT width 5
    // (10 pairs — the skew the cap targets).
    val items = (Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "a"), (2L, "d")) ++
      (1 to 5).map(i => (9L, s"h$i"))).toDF("ok", "item")
    val uncapped = Relational.keyedPairs(items, "ok", "item")
      .as[(Long, String, String)].collect().toSeq
    assert(uncapped.size == 3 + 1 + 10)
    // Pairs are canonical (a < b) and per-key.
    assert(uncapped.forall { case (_, a, b) => a < b })
    assert(uncapped.count(_._1 == 1L) == 3)
    // Cap at width 3: the hot basket vanishes ENTIRELY — its pair count
    // is 0, not a sampled subset (skip, never silently sample).
    val capped = Relational.keyedPairs(items, "ok", "item", maxWidth = Some(3))
      .as[(Long, String, String)].collect().toSeq
    assert(capped.size == 3 + 1)
    assert(!capped.exists(_._1 == 9L))
    // The dropped mass is reportable: exactly the hot key with its width.
    val dropped = Relational.overWidthKeys(items, "ok", maxWidth = 3)
      .as[(Long, Long)].collect().toSeq
    assert(dropped == Seq((9L, 5L)))
    // A cap wider than every basket is a no-op (the default-path contract).
    assert(Relational.keyedPairs(items, "ok", "item", maxWidth = Some(100))
      .count() == 14)
  }

  test("scaledMaxWidth: rows-derived cap — sqrt policy, floor, no-op on bounded baskets") {
    // The policy: max(64, ceil(sqrt(N))) — a width-w key emits w(w-1)/2
    // pairs, so w <= sqrt(N) bounds any single key's output by ~N/2.
    assert(Relational.scaledMaxWidth(0L) == 64)
    assert(Relational.scaledMaxWidth(4096L) == 64)      // floor binds
    assert(Relational.scaledMaxWidth(1000000L) == 1000) // sqrt region
    assert(Relational.scaledMaxWidth(600000L) == 775)   // ceil(sqrt(6e5))
    // Monotone in corpus size: growing data never TIGHTENS the cap.
    assert(Relational.scaledMaxWidth(10000000L) > Relational.scaledMaxWidth(1000000L))
    // Gate-equivalence contract: on width-bounded baskets (max width 5
    // here, like TPC-H's <= 7) the derived cap never binds, so the
    // capped edge list is bit-identical to the uncapped one — the
    // co-purchase tier (q211/q450-q452) rides exactly this.
    val items = (Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "a"), (2L, "d")) ++
      (1 to 5).map(i => (9L, s"h$i"))).toDF("ok", "item")
    val cap = Relational.scaledMaxWidth(items.count())
    assert(cap == 64) // 10 rows -> floor
    val capped = Relational.keyedPairs(items, "ok", "item", maxWidth = Some(cap))
      .as[(Long, String, String)].collect().toSet
    val uncapped = Relational.keyedPairs(items, "ok", "item")
      .as[(Long, String, String)].collect().toSet
    assert(capped == uncapped)
  }

  test("scaledMaxWidth BINDS on a hot key: derived cap drops it, mass reported, rest identical") {
    // r11 verdict #1: the rows-derived cap had only no-op evidence
    // (ScaleUp preserves key widths, TPC-H baskets are <= 7). This is
    // the binding case: N = 4160 item rows -> cap = max(64, ceil(sqrt))
    // = 65; one hot key of width 160 > 65 must be DROPPED (never
    // sampled), reported via overWidthKeys, and the narrow keys' pairs
    // must be bit-identical between the capped and uncapped plans.
    val hot = (1 to 160).map(i => (-42L, f"h$i%03d"))
    val narrow = (1 to 2000).flatMap(k =>
      Seq((k.toLong, "a"), (k.toLong, "b")))
    val items = (hot ++ narrow).toDF("ok", "item")
    val n = items.count()
    assert(n == 4160L)
    val cap = Relational.scaledMaxWidth(n)
    assert(cap == 65, s"expected ceil(sqrt(4160)) = 65, got $cap")
    val dropped = Relational.overWidthKeys(items, "ok", cap)
      .as[(Long, Long)].collect().toSeq
    assert(dropped == Seq((-42L, 160L))) // non-empty: the cap BINDS
    // dropped pair mass is the analytic w(w-1)/2 — quantified, not vibes
    assert(dropped.map(d => d._2 * (d._2 - 1) / 2).sum == 160L * 159 / 2)
    val capped = Relational.keyedPairs(items, "ok", "item", maxWidth = Some(cap))
      .as[(Long, String, String)].collect().toSet
    assert(!capped.exists(_._1 == -42L)) // hot key gone ENTIRELY
    assert(capped.size == 2000)          // one (a,b) pair per narrow key
    val uncappedNarrow = Relational.keyedPairs(items, "ok", "item")
      .as[(Long, String, String)].collect().toSet.filter(_._1 != -42L)
    assert(capped == uncappedNarrow)     // untouched keys bit-identical
  }
}
