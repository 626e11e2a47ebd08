package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Document deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and fingerprint clustering.
  *
  * Scale design (100 TB): every operator is a hash-partitioned groupBy or a
  * bucket-local self-join — NEVER an all-pairs cross join. Candidate
  * generation (LSH bands / SimHash buckets / fingerprints) shuffles each
  * doc a constant number of times (one row per band), and the quadratic
  * verification step runs only within buckets, whose size is bounded by
  * actual near-duplicate density.
  */
object Dedup {

  /** Exact duplicate clusters by content hash: one row per duplicated text
    * with the cluster size and the kept (minimum) id. Single shuffle.
    */
  def exactClusters(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(Text.md5Hex(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))
      .filter(col("n_docs") > 1)

  /** Keep one representative (min id) per exact-duplicate cluster.
    * The groupBy partial-aggregates map-side, so the shuffle carries only
    * one (hash, id) pair per distinct text per partition.
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = docs
      .groupBy(Text.md5Hex(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Exact duplicated-substring REMOVAL (Lee et al.'s ExactSubstr dedup,
    * "Deduplicating Training Data Makes Language Models Better"): every
    * `gramLen`-char span whose gram occurs anywhere earlier in the corpus
    * (canonical occurrence = minimum (id, position), a deterministic total
    * order) is deleted; overlapping deletions merge. Returns
    * (idCol, cleaned_text, removed_chars).
    *
    * Distributed shape: one [[graft.plans.TextKernels.CharGrams]] kernel
    * pass emits the gram stream, a TWO-LEVEL aggregate ((gram, doc) →
    * gram — map-side combinable at both levels, so a hot gram's rows
    * collapse per-partition before any shuffle) finds each gram's
    * canonical occurrence, and a per-document fold over the sorted
    * covered starts merges spans and stitches the kept segments — no
    * char-level explode (which copies the full text into every position
    * row), no suffix array, no driver-side text. Documents shorter than
    * `gramLen` cannot contain a duplicated span and pass through
    * unchanged (`removed_chars = 0`).
    *
    * The two 100 TB knobs, both OFF by default:
    *  - `gramKeyHash`: shuffle/group on `xxhash64(gram)` (8 bytes) in
    *    place of the `gramLen`-char string — identical output barring a
    *    64-bit hash collision (~n²/2⁶⁵ for n distinct grams; a corpus
    *    with 10¹² grams risks ~3%, below that it is bit-identical and
    *    the spec asserts exactly that at test scale).
    *  - `maxDocFreq = Some(k)`: grams appearing in MORE than `k`
    *    distinct documents are treated as ubiquitous boilerplate and
    *    SKIPPED by span detection — their occurrences are never removed,
    *    so the cap only ever removes fewer characters than the exact
    *    path (equal whenever every gram's doc frequency ≤ k). This
    *    bounds the per-gram fan-out of the canonical join at k rows.
    */
  def removeDuplicateSpans(
      docs: DataFrame, idCol: String, textCol: String,
      gramLen: Int = 20,
      gramKeyHash: Boolean = false,
      maxDocFreq: Option[Int] = None): DataFrame = {
    val spark = docs.sparkSession
    val d = docs
      .filter(length(col(textCol)) >= gramLen)
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    val gramKey: Column => Column =
      if (gramKeyHash) g => xxhash64(g) else identity
    val occ = d.select(col("doc_id"), col("text"),
        posexplode(graft.plans.TextKernels.charGramsNative(col("text"), gramLen)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        gramKey(col("col")).as("gram"))
    // Per-(gram, doc) min position first: the gram-level min(struct) is
    // derivable from the per-doc partials (lexicographic struct order),
    // and the (gram, doc) group count IS the doc frequency.
    val perDocMin = occ.groupBy(col("gram"), col("doc_id"))
      .agg(min(col("pos")).as("mp"))
    val canonAll = perDocMin.groupBy(col("gram"))
      .agg(min(struct(col("doc_id"), col("mp").as("pos"))).as("c"),
        count(lit(1)).as("df"))
    val canon = maxDocFreq.fold(canonAll)(k => canonAll.filter(col("df") <= k))
      .select(col("gram"), col("c"))
    val covered = occ.join(canon, Seq("gram"))
      .filter(struct(col("doc_id"), col("pos")) =!= col("c"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("covered"))
    val cleanedLong = d.join(covered, Seq("doc_id"), "left")
      .withColumn("covered",
        coalesce(col("covered"), array().cast("array<int>")))
      .withColumn("cleaned_text",
        expr(s"""aggregate(
            covered,
            struct(CAST(1 AS INT) AS cursor, '' AS acc),
            (a, s) -> struct(
              CAST(greatest(s + $gramLen, a.cursor) AS INT) AS cursor,
              CASE WHEN s > a.cursor
                THEN concat(a.acc, substring(text, a.cursor, s - a.cursor))
                ELSE a.acc END AS acc),
            a -> concat(a.acc,
              substring(text, a.cursor, length(text) - a.cursor + 1)))"""))
      .select(col("doc_id").as(idCol), col("cleaned_text"),
        (length(col("text")) - length(col("cleaned_text"))).cast("long")
          .as("removed_chars"))
    // Sub-gram-length docs: no possible duplicated span — pass through.
    cleanedLong.unionByName(docs
      .filter(length(col(textCol)) < gramLen)
      .select(col(idCol), col(textCol).as("cleaned_text"),
        lit(0L).as("removed_chars")))
  }

  /** Connected components over a candidate-pair table (near-duplicate
    * CLUSTERING: after LSH/SimHash candidate generation + verification,
    * group mutually-similar documents so one representative per cluster
    * survives). Distributed min-label propagation: every vertex starts
    * labelled with its own id; each round takes the min of its own and its
    * neighbors' labels. Rounds = component diameter — near-dup clusters
    * are shallow, so this converges in a few hash-join rounds with no
    * driver-side graph. Plans are re-pinned per round (see
    * [[graft.graph.Closure]]) to truncate iterative lineage.
    *
    * Returns (vertex, component) for every vertex present in `pairs`,
    * where component = min vertex id reachable.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxRounds: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    // Lazy pins (r13): the per-round convergence count is the action
    // that materializes the round — an eager pin paid one extra job per
    // round for rows the count was about to compute anyway.
    def pin(df: DataFrame): DataFrame =
      org.apache.spark.sql.graft.Pin.pin(df, eager = false)
    val edges = pin(pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .union(pairs.select(col(bCol).as("a"), col(aCol).as("b")))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .dropDuplicates())
    var labels = pin(edges.select(col("a").as("vertex")).distinct()
      .withColumn("component", col("vertex")))
    var changed = true
    var round = 0
    while (changed && round < maxRounds) {
      val nbrMin = edges
        .join(labels.select(col("vertex").as("b"), col("component").as("nb_label")),
          Seq("b"))
        .groupBy(col("a").as("vertex"))
        .agg(min(col("nb_label")).as("nbr_min"))
      // The round's starting label rides along as `old`, so convergence
      // is a filter on the already-pinned result — no extra join against
      // the previous labels per round.
      val relaxed = labels.select(col("vertex"), col("component").as("old"))
        .join(nbrMin, Seq("vertex"), "left")
        .select(col("vertex"), col("old"),
          least(col("old"), coalesce(col("nbr_min"), col("old")))
            .as("component"))
      // Pointer jump: label(v) ← label(label(v)). Together with the
      // neighbor-min relax this converges in O(log diameter) rounds.
      val lookup = relaxed.select(
        col("vertex").as("c_vertex"), col("component").as("c_component"))
      val updated = pin(relaxed
        .join(lookup, col("component") === col("c_vertex"), "left")
        .select(col("vertex"), col("old"),
          least(col("component"), coalesce(col("c_component"), col("component")))
            .as("component")))
      changed = updated.filter(col("component") =!= col("old"))
        .limit(1).count() > 0
      labels = updated.select(col("vertex"), col("component"))
      round += 1
    }
    labels
  }

  /** Per-document MinHash signature + LSH band keys over word `shingleN`-gram
    * shingles. Docs with fewer than `shingleN` tokens are dropped (no
    * shingles → no signature). Returns (id, signature, band_keys).
    */
  def minhashSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 2,
      shingleN: Int = 3
  ): DataFrame = {
    // One-pass codegen'd signature kernel: tokenize/shingle/k-way md5-min
    // per row, no interpreted lambdas, no shuffle (vs. the explode +
    // hash-agg or array-lambda formulations — byte-identical output, see
    // graft.plans.MinHashSignature). Short docs yield null → dropped.
    docs
      .select(
        col(idCol),
        graft.plans.MinHashSignature
          .minhashSignatureNative(col(textCol), k, shingleN).as("signature"))
      .filter(col("signature").isNotNull)
      .withColumn("band_keys", Text.lshBandKeys(col("signature"), k, bands))
  }

  /** Candidate near-duplicate pairs (idA < idB) that share at least one LSH
    * band. Plan shape: explode bands (k/bands rows per doc) → shuffle by
    * band key → bucket-local self-join → distinct pairs. The self-join is
    * an equi-join on the band key, so Spark executes it as a shuffled hash
    * join with both sides partitioned by the key — no cross product.
    */
  def minhashCandidatePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      bands: Int = 2,
      shingleN: Int = 3
  ): DataFrame = {
    // Band keys straight from the one-pass kernel, consumed by a single
    // explode: the Generate operator evaluates the kernel exactly once per
    // row. (Deriving band keys from a signature column here would let
    // project-collapse inline — and re-evaluate — the kernel per band.)
    val exploded = docs
      .select(
        col(idCol),
        explode(graft.plans.MinHashSignature
          .minhashBandKeysNative(col(textCol), k, bands, shingleN)).as("band_key"))
    val a = exploded.select(col(idCol).as("id_a"), col("band_key"))
    val b = exploded.select(col(idCol).as("id_b"), col("band_key"))
    a.join(b, Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** MinHash-LSH near-duplicate pairs verified by true token-set Jaccard ≥
    * `threshold`. Verification joins the texts back only for candidate
    * pairs — the quadratic step never touches non-candidates.
    */
  def minhashDuplicatePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      k: Int = 8,
      bands: Int = 2,
      shingleN: Int = 3
  ): DataFrame = {
    val pairs = minhashCandidatePairs(docs, idCol, textCol, k, bands, shingleN)
    val t = docs.select(col(idCol), Text.tokens(col(textCol)).as("toks"))
    pairs
      .join(t.select(col(idCol).as("id_a"), col("toks").as("toks_a")), Seq("id_a"))
      .join(t.select(col(idCol).as("id_b"), col("toks").as("toks_b")), Seq("id_b"))
      .withColumn("jaccard", Text.jaccard(col("toks_a"), col("toks_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** SimHash bucketing: docs sharing an identical 16-bit SimHash are
    * near-duplicate candidates. Returns (simhash, n_docs, ids) clusters
    * with more than one member.
    */
  def simhashClusters(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), graft.plans.TextKernels.simhash16Native(col(textCol)).as("simhash"))
      .groupBy(col("simhash"))
      .agg(count(lit(1)).as("n_docs"), sort_array(collect_list(col(idCol))).as("ids"))
      .filter(col("n_docs") > 1)

  /** Bag-of-words fingerprint dedup: clusters of docs with identical sorted
    * distinct-token bags (order/whitespace/duplication-insensitive).
    */
  def fingerprintClusters(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(Text.bagFingerprint(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))
      .filter(col("n_docs") > 1)

  /** EXACT Jaccard-threshold set-similarity self-join via prefix
    * filtering (the PPJoin family, Chaudhuri/Xiao et al.) — unlike the
    * LSH paths this has NO false negatives: candidate generation is a
    * provably complete filter and every candidate is verified, so the
    * output IS the set of pairs with `J(x,y) >= t`.
    *
    * Why it scales: order each doc's token set by ascending document
    * frequency (rarest first, ties by token); a pair with Jaccard >= t
    * MUST share a token inside each side's first `|x| - ceil(t*|x|) + 1`
    * tokens (if all shared tokens hid in the suffix, the intersection
    * would be < t*|x|). So only prefix tokens are exploded for the
    * equi-join — and because prefixes lead with the RAREST tokens, the
    * hot-key fan-out that kills a naive token join never materializes.
    * Verification is exact set arithmetic on the two sorted token
    * arrays. The threshold is a RATIONAL `tNum/tDen` and every
    * comparison is integer cross-multiplication
    * (`(tDen+tNum)*|∩| >= tNum*(|x|+|y|)`) — a float threshold would
    * round the boundary differently across engines (DECIMAL vs DOUBLE
    * literal semantics), which is exactly the bug class the oracle gate
    * exists to catch.
    */
  def jaccardJoin(
      docs: DataFrame,
      idCol: String,
      tokensCol: String,
      tNum: Int,
      tDen: Int): DataFrame = {
    require(tNum > 0 && tDen >= tNum, "need 0 < tNum/tDen <= 1")
    val sets = docs.select(col(idCol).as("id"),
      array_distinct(col(tokensCol)).as("toks"))
    // (id, token) rows feed BOTH the df count and the per-doc ordering:
    // materialize once (the multi-reference rule). Partition layout is
    // the CALLER's concern — a projection passed in `docs` runs below
    // this plan, so spread the input BEFORE computing token sets (a
    // single local file otherwise pins that computation to one task).
    // Pinning is persist(), not a Pin cut: the cache populates
    // lazily inside the job that first scans it (no extra eager job, no
    // RDD round-trip — 10× on q109's demo scale), and the plan under it
    // stays visible to Catalyst. Both pins are UNPERSISTED before
    // return: the join materializes its small (output-sized) result
    // eagerly below, so the token-stream-sized caches live only for the
    // duration of the computation — repeated runs can't accumulate
    // corpus-sized storage (measured: leaked pins degraded repeated sf1
    // runs 17 s → 72 s as storage displaced execution memory).
    val tok = sets
      .select(col("id"), explode(col("toks")).as("token"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // Per-doc tokens ordered (df asc, token asc); prefix length
    // L = n - ceil(t*n) + 1, with ceil done in integers.
    val ordered = tok.join(dfreq, "token")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("token"))))
        .getField("token").as("sorted_toks"))
      .withColumn("n", size(col("sorted_toks")))
      .withColumn("prefix", slice(col("sorted_toks"), lit(1),
        (col("n") - expr(s"(n * $tNum + ${tDen - 1}) div $tDen") + 1)
          .cast("int")))
    // Referenced three times below (prefix self-join + two array
    // fetches): materialize once, as an indexed PPJoin would.
    val pinned = ordered.select(col("id"), col("n"),
        col("sorted_toks"), col("prefix"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Candidate generation on NARROW (id, token) rows only — the token
    // arrays stay out of the join and the dedup shuffle; they come back
    // per UNIQUE candidate pair, of which a threshold this high admits
    // few.
    val pref = pinned.select(col("id"), explode(col("prefix")).as("token"))
    val cands = pref.as("x").join(pref.as("y"),
        col("x.token") === col("y.token") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val arrays = pinned.select(col("id"), col("n"), col("sorted_toks"))
    val result = cands
      .join(arrays.select(col("id").as("id_a"), col("n").as("na"),
        col("sorted_toks").as("ta")), "id_a")
      .join(arrays.select(col("id").as("id_b"), col("n").as("nb"),
        col("sorted_toks").as("tb")), "id_b")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("uni", (col("na") + col("nb")).cast("long") - col("inter"))
      .filter(col("inter") * (tDen + tNum) >=
        (col("na") + col("nb")).cast("long") * tNum)
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"))
    // Pin the qualifying pairs (threshold-bounded, output-sized), then
    // release the corpus-sized index caches.
    val out = org.apache.spark.sql.graft.Pin.pin(result)
    tok.unpersist(blocking = false)
    pinned.unpersist(blocking = false)
    out
  }

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): k-means-cluster the embedding space, then inside
    * each cluster mark every vector whose cosine similarity to a
    * lower-id member is at least `simThreshold` as a semantic duplicate
    * of that member. Returns one row per input vector:
    * (idCol, cell, dup_of, removed) — `dup_of` = the smallest same-cell
    * id it duplicates (null for survivors), `removed` = dup_of IS NOT
    * NULL. Complements the lexical family above: exact/MinHash/SimHash
    * find REWORDING-free copies; this finds paraphrases that share an
    * embedding neighborhood.
    *
    * Determinism contract (the oracle gate): k-means is Lloyd with
    * deterministic seeds (the `nCells` lowest-id vectors) and a FIXED
    * iteration count, and each iteration's centroid means are rounded
    * to 6 decimals — engine-side (`round(avg(x), 6)`), so the
    * sum-order ulp wobble of a distributed mean collapses onto a grid
    * both engines agree on. Assignment scores and pairwise cosines are
    * then pure sequential folds over bit-identical doubles
    * ([[graft.plans.DotProduct]] / DuckDB `list_sum`), so cell ids and
    * the `>= simThreshold` verdicts are exactly reproducible.
    *
    * Scale design (100 TB): per-iteration work is one codegen'd
    * assignment scan plus one groupBy(cell) with `dim` map-side-combined
    * `avg` columns — the shuffle carries k×dim partials per partition,
    * NOT n×dim exploded rows, and only the k×dim centroid table ever
    * reaches the driver. The dedup step is an equi-join on `cell`
    * (shuffled hash join — no cross product); its within-cell
    * quadratic cost is bounded by choosing `nCells` proportional to
    * corpus size (SemDeDup's own knob), and the per-pair verify is one
    * codegen'd dot product. The source scan is persisted across the
    * `lloydIters + 1` passes and released before return.
    */
  /** Rows-derived default for [[semanticDedup]]'s `nCells` — the policy
    * form of the knob the r8 sf10 probe demonstrated (fixed nCells=8 at
    * 100× the corpus ⇒ 100× points per cell ⇒ within-cell quadratic
    * blow-up 326.8 s, vs 20.9 s after scaling the knob): hold the
    * EXPECTED CELL OCCUPANCY constant at `targetPerCell`, so the
    * within-cell pair work stays n·targetPerCell/2 — linear in corpus —
    * at every scale. The fixed-value form stays available for the
    * oracle faces (whose unrolled Lloyd SQL needs a literal k).
    */
  def defaultNCells(n: Long, targetPerCell: Int = 2048): Int = {
    require(n > 0 && targetPerCell > 0, "defaultNCells needs positive sizes")
    math.max(1L, (n + targetPerCell - 1) / targetPerCell).toInt
  }

  def semanticDedup(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      lloydIters: Int,
      simThreshold: Double): DataFrame = {
    import graft.functions.Vectors
    val base = embeddings
      .select(col(idCol).as("id"), Vectors.toDoubleVec(col(vecCol)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dim = base.select(size(col("v"))).head().getInt(0)
    // Seeds: the nCells lowest-id vectors (a deterministic, replayable
    // choice — k-means++ would sharpen clusters but costs determinism).
    var cents: Seq[Seq[Double]] = base.orderBy(col("id")).limit(nCells)
      .select(col("v")).collect().map(_.getSeq[Double](0).toSeq).toSeq
    for (_ <- 1 to lloydIters) {
      val assigned = base.withColumn("cell", Ivf.assignCell(col("v"), cents))
      val meanCols = (1 to dim).map(i =>
        round(avg(element_at(col("v"), i)), 6).as(s"m$i"))
      val rows = assigned.groupBy(col("cell"))
        .agg(meanCols.head, meanCols.tail: _*)
        .collect()
      val byCell = rows.map(r => r.getLong(0) -> r).toMap
      cents = cents.zipWithIndex.map { case (prev, c) =>
        byCell.get(c.toLong)
          .map(r => (1 to dim).map(r.getDouble): Seq[Double])
          .getOrElse(prev) // an emptied cell keeps its previous centroid
      }
    }
    val indexed = base.withColumn("cell", Ivf.assignCell(col("v"), cents))
    val lhs = indexed.select(col("cell"), col("id").as("id_a"), col("v").as("va"))
    val rhs = indexed.select(col("cell"), col("id").as("id_b"), col("v").as("vb"))
    val dups = lhs.join(rhs, Seq("cell"))
      .filter(col("id_a") < col("id_b") &&
        Vectors.cosine(col("va"), col("vb")) >= simThreshold)
      .groupBy(col("id_b").as("id"))
      .agg(min(col("id_a")).as("dup_of"))
    val out = indexed.join(dups, Seq("id"), "left")
      .select(col("id").as(idCol), col("cell"), col("dup_of"),
        col("dup_of").isNotNull.as("removed"))
    // The persist exists for the iteration loop's repeated scans; the
    // final (lazy) plan recomputes from source rather than holding a
    // corpus-sized cache past return (the jaccardJoin leak lesson).
    base.unpersist(blocking = false)
    out
  }

  /** Incremental ingestion dedup: keep only incoming docs whose bag
    * fingerprint does not already exist in the corpus — the shape a
    * rolling 100 TB pipeline runs per shard. The corpus side reduces to
    * its DISTINCT fingerprint set (in production a persisted, bucketed
    * fingerprint index — the text is never rescanned), and the check is
    * one left-anti equi-join on the hash: no full-corpus comparison, no
    * pairwise work. Also dedups the incoming shard against itself
    * (keep-min-id), so output fingerprints are unique.
    */
  def incrementalDedup(
      incoming: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val corpusFp = corpus
      .select(Text.bagFingerprint(col(textCol)).as("fingerprint")).distinct()
    incoming
      .groupBy(Text.bagFingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as(idCol))
      .join(corpusFp, Seq("fingerprint"), "left_anti")
      .select(col(idCol), col("fingerprint"))
  }
}
