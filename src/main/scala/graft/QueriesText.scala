package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin.CutOps
import graft.functions.{Ids, Redaction, Text, Vectors}
import graft.operators.{Dedup, Relational, Sampling, Similarity}
import QueryDsl._

/** Query registry, text-analysis / dedup / curation tier — the LLM-pipeline
  * operators over the documents table.
  *
  * Entries moved verbatim from SparkEntry (r7 registry split); the
  * contract — name -> (session, sfDir) -> DataFrame, every entry
  * oracle-checked — is unchanged and pinned by RegistrySpec.
  */
private[graft] object QueriesText {
  def map: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── Dedup operators (beyond-parity, on documents) ───────────────────
    "q30_exact_dedup" -> ((s, dir) =>
      Dedup.exactClusters(tbl(s, dir, "documents"), "doc_id", "text")),
    "q31_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashCandidatePairs(tbl(s, dir, "documents"), "doc_id", "text",
        k = 8, bands = 2, shingleN = 3)),
    "q32_simhash" -> ((s, dir) =>
      tbl(s, dir, "documents").select(
        col("doc_id"),
        graft.plans.TextKernels.simhash16Native(col("text")).as("simhash"))),
    "q33_ngram_jaccard" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      val a = d.select(col("doc_id").as("id_a"), col("toks").as("toks_a"))
      val b = d.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"),
        col("toks").as("toks_b"))
      a.join(b, Seq("id_a"))
        .select(col("id_a"), col("id_b"),
          Text.jaccard(col("toks_a"), col("toks_b")).as("jaccard"))
    }),
    "q34_fingerprint" -> ((s, dir) =>
      Dedup.fingerprintClusters(tbl(s, dir, "documents"), "doc_id", "text")),
    "q90_incremental_dedup" -> ((s, dir) => {
      // Rolling-ingestion dedup: a 10% shard (doc_id % 10 = 0, SF-
      // proportional) against the remaining corpus, via one anti-join on
      // the bag fingerprint — per-shard cost is independent of corpus
      // size once the fingerprint index is persisted.
      val docs = tbl(s, dir, "documents")
      graft.operators.Dedup.incrementalDedup(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text")
    }),

    // ── End-to-end curation + near-dup clustering (beyond-parity) ───────
    "q71_curation" -> ((s, dir) => {
      // The composed training-data curation pass: language-consistency
      // filter + quality threshold + exact dedup keep-min-id. One scan,
      // one groupBy shuffle, one semi join.
      val toks = Text.tokens(col("text"))
      val scored = tbl(s, dir, "documents").select(
        col("doc_id"), col("text"),
        Text.langIdByStopwords(toks, langMarkers).as("pred_lang"),
        Text.qualityScore(col("text"), toks).as("quality_score"),
        col("lang"))
      val filtered = scored
        .filter(col("quality_score") >= 40 && col("pred_lang") === col("lang"))
      val keep = filtered
        .groupBy(Text.md5Hex(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      filtered.join(keep, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("pred_lang"), col("quality_score"))
    }),
    "q72_neardup_components" -> ((s, dir) => {
      // LSH-bucketed near-dup pairs → connected components: the cluster
      // assignment a dedup pipeline uses to keep one doc per near-dup
      // group. Label propagation rounds = cluster diameter.
      val e = tbl(s, dir, "embeddings")
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      val pairs = Similarity.nearDuplicatePairs(e, "vec_id", "embedding",
        nPlanes = 4, dim = dim, threshold = 0.3).select("id_a", "id_b")
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("vertex", "vec_id")
    }),

    // ── Text analysis (beyond-parity) ───────────────────────────────────
    "q35_lang_id" -> ((s, dir) =>
      tbl(s, dir, "documents").select(
        col("doc_id"), col("lang").as("actual_lang"),
        Text.langIdByStopwords(Text.tokens(col("text")), langMarkers).as("pred_lang"))),
    "q36_quality" -> ((s, dir) => {
      val toks = Text.tokens(col("text"))
      tbl(s, dir, "documents").select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        Text.qualityScore(col("text"), toks).as("quality_score"))
    }),
    "q37_token_count" -> ((s, dir) =>
      tbl(s, dir, "documents").select(
        col("doc_id"),
        size(Text.tokens(col("text"))).as("ws_tokens"),
        Text.bpeishTokenCount(col("text")).as("bpeish_tokens"))),
    "q83_repetition" -> ((s, dir) => {
      // Gopher-style repetition quality signals: top-gram and
      // duplicated-gram fractions at word and bigram granularity, as a
      // PURE PROJECTION (one-pass sort + run-length kernel per row) —
      // zero shuffles at any corpus size, where the naive explode →
      // groupBy(doc, gram) → groupBy(doc) plan pays two shuffles on a
      // gram-inflated row count. The HOF fold form
      // (Text.repetitionStats, parity-spec'd) ran 7.4 s at sf0.1; the
      // codegen'd kernel is ~30x cheaper.
      // inline(array(...)) is a Generate barrier: each kernel runs
      // ONCE, not re-inlined per downstream fraction by project collapse.
      val stats = struct(
        graft.plans.TextKernels.repetitionStatsNative(col("text"), 1).as("w"),
        graft.plans.TextKernels.repetitionStatsNative(col("text"), 2).as("b"))
      tbl(s, dir, "documents")
        .select(col("doc_id"), inline(array(stats)))
        .filter(col("b.total") > 0)
        .select(
          col("doc_id"),
          col("w.total").as("n_words"),
          (col("w.top").cast("double") / col("w.total").cast("double"))
            .as("top_word_frac"),
          (col("w.dup").cast("double") / col("w.total").cast("double"))
            .as("dup_word_frac"),
          (col("b.top").cast("double") / col("b.total").cast("double"))
            .as("top_bigram_frac"),
          (col("b.dup").cast("double") / col("b.total").cast("double"))
            .as("dup_bigram_frac"))
    }),

    "q143_repetition_gate" -> ((s, dir) => {
      // Gopher-style repetition GATE (Rae et al. 2021 §A1.2) composing
      // q83's oracle-proven fractions into keep/violation verdicts —
      // same one-pass codegen'd kernel projection, zero shuffles; the
      // thresholds compare ratios of exact integer counts, identical in
      // both engines.
      val stats = struct(
        graft.plans.TextKernels.repetitionStatsNative(col("text"), 1).as("w"),
        graft.plans.TextKernels.repetitionStatsNative(col("text"), 2).as("b"))
      val twf = col("w.top").cast("double") / col("w.total").cast("double")
      val dwf = col("w.dup").cast("double") / col("w.total").cast("double")
      val tbf = col("b.top").cast("double") / col("b.total").cast("double")
      val dbf = col("b.dup").cast("double") / col("b.total").cast("double")
      val viol = (twf > 0.3).cast("int") + (dwf > 0.4).cast("int") +
        (tbf > 0.2).cast("int") + (dbf > 0.6).cast("int")
      tbl(s, dir, "documents")
        .select(col("doc_id"), inline(array(stats)))
        .filter(col("b.total") > 0)
        .select(col("doc_id"), col("w.total").as("n_words"),
          viol.as("n_violations"),
          (twf <= 0.3 && dwf <= 0.4 && tbf <= 0.2 && dbf <= 0.6).as("keep"))
    }),

    "q144_source_overlap" -> ((s, dir) => {
      // Cross-source duplication matrix — the dataset-card report behind
      // mixing/dedup decisions: for every source pair, the Jaccard
      // overlap of their distinct word-trigram sets (how much of one
      // crawl is already inside another). Scale shape: one scan
      // collapses to a distinct (source, gramHash) frame (8-byte
      // xxhash64 shuffle keys — the q121/q129 lesson), pinned because it
      // feeds both legs; shared counts come from a gram-keyed self-join
      // whose per-gram fan-out is bounded by the SOURCE count (≤ S²/2
      // pairs per gram), never the corpus; set sizes are a source-sized
      // agg, and the full matrix (zero-overlap pairs included) is a
      // cross of two source-sized tables — driver-free, broadcast-sized.
      val sh = tbl(s, dir, "documents")
        .select(col("source"),
          explode(graft.plans.TextKernels.wordShinglesNative(col("text"), 3))
            .as("g"))
        .select(col("source"), xxhash64(col("g")).as("g"))
        .distinct()
        .cut()
      val cnt = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val shared = sh.as("a").join(sh.as("b"),
          col("a.g") === col("b.g") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared"))
      val ns = coalesce(col("n_shared"), lit(0L))
      cnt.select(col("source").as("source_a"), col("n").as("n_a"))
        .crossJoin(cnt.select(col("source").as("source_b"), col("n").as("n_b")))
        .filter(col("source_a") < col("source_b"))
        .join(shared, Seq("source_a", "source_b"), "left")
        .select(col("source_a"), col("source_b"), ns.as("n_shared"),
          col("n_a"), col("n_b"),
          round(ns.cast("double") / (col("n_a") + col("n_b") - ns), 6)
            .as("jaccard"))
    }),

    "q145_boilerplate_prefix" -> ((s, dir) => {
      // Boilerplate-prefix mining (the signal behind C4/RefinedWeb
      // repeated-header removal): normalized 30-char document prefixes
      // shared by ≥ 2 documents are template material, reported with
      // corpus spread and earliest exemplar. Scale shape: pure
      // projection → ONE map-combinable agg keyed by the bounded-width
      // prefix (count, distinct-source count, min id all partial-agg);
      // the report is top-20 via TakeOrderedAndProject. Zero windows,
      // one corpus shuffle of ≤ 30-char keys.
      tbl(s, dir, "documents")
        .select(substring(lower(trim(col("text"))), 1, 30).as("prefix"),
          col("doc_id"), col("source"))
        .groupBy(col("prefix"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          min(col("doc_id")).as("first_doc_id"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("prefix"))
        .limit(20)
    }),

    "q146_mad_outliers" -> ((s, dir) => {
      // Robust per-source outlier gate: median/MAD instead of mean/σ —
      // a single pathological document cannot drag the threshold the
      // way it drags a mean (the reason robust statistics run quality
      // anomaly gates in practice). Flags docs whose quality deviates
      // from their source's median by > 3×MAD. Scale shape: quality is
      // the q36 codegen'd projection, pinned once; both robust stats
      // collapse to source-sized tables broadcast back onto the pinned
      // frame — the corpus is never shuffled. Exact percentile is the
      // oracle-able form; approx_percentile is the drop-in 100 TB knob
      // with the identical plan shape (the q142 pairing). Determinism:
      // median interpolation, abs, and the 3×MAD compare are single
      // IEEE ops on identical inputs — bit-equal cross-engine.
      val q = tbl(s, dir, "documents").select(col("doc_id"), col("source"),
          Text.qualityScore(col("text"), Text.tokens(col("text"))).as("quality"))
        .cut()
      val med = q.groupBy(col("source"))
        .agg(percentile(col("quality"), lit(0.5)).as("med"))
      val dev = q.join(broadcast(med), Seq("source"))
        .withColumn("dev", abs(col("quality") - col("med")))
      val mad = dev.groupBy(col("source"))
        .agg(percentile(col("dev"), lit(0.5)).as("mad"))
      dev.join(broadcast(mad), Seq("source"))
        .select(col("doc_id"), col("source"),
          round(col("quality"), 6).as("quality"),
          round(col("med"), 6).as("med"),
          round(col("dev"), 6).as("dev"),
          (col("dev") > lit(3.0) * col("mad")).as("is_outlier"))
    }),

    "q150_padding_efficiency" -> ((s, dir) => {
      // Batch-shape planning report: for each candidate max sequence
      // length, per source — tokens kept vs truncated, pad waste under
      // naive one-doc-per-row padding, and the packed row count (the
      // q77 packing upper bound), i.e. the numbers that pick seq_len
      // before a training run. Pure integer arithmetic on one corpus
      // scan (token count is the codegen'd q37 projection); the explode
      // over 3 literal lengths triples rows BEFORE a map-combinable
      // source×len agg — output is sources × lengths.
      val d = tbl(s, dir, "documents").select(col("source"),
        size(Text.tokens(col("text"))).cast("bigint").as("n_tok"))
      d.select(col("source"), col("n_tok"),
          explode(array(lit(128), lit(512), lit(2048))).as("seq_len"))
        .groupBy(col("source"), col("seq_len"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(least(col("n_tok"), col("seq_len").cast("bigint")))
            .as("kept_tokens"),
          sum(greatest(col("n_tok") - col("seq_len"), lit(0L)))
            .as("truncated_tokens"))
        .select(col("source"), col("seq_len"), col("n_docs"), col("n_tokens"),
          col("kept_tokens"), col("truncated_tokens"),
          (col("n_docs") * col("seq_len") - col("kept_tokens")).as("pad_waste"),
          floor((col("kept_tokens") + col("seq_len") - 1) / col("seq_len"))
            .cast("bigint").as("packed_rows"),
          round(col("kept_tokens").cast("double") /
            (floor((col("kept_tokens") + col("seq_len") - 1) / col("seq_len")) *
              col("seq_len")), 6).as("pack_efficiency"))
    }),

    "q151_lexical_diversity" -> ((s, dir) => {
      // Per-source lexical-diversity signals: type-token ratio and hapax
      // fraction — the cheap vocabulary-health stats that flag template
      // spam (low TTR) and OCR noise (high hapax) before training. One
      // corpus scan collapsing to (source, term) counts (map-combinable,
      // the q127 shuffle shape), then a source-sized rollup; divisions
      // are single IEEE ops on exact integer counts — bit-equal
      // cross-engine.
      val tf = tbl(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
      tf.groupBy(col("source"))
        .agg(sum(col("cnt")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
          round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
          round(col("n_hapax").cast("double") / col("n_types"), 6)
            .as("hapax_frac"))
    }),

    "q152_cluster_sizes" -> ((s, dir) => {
      // Dataset-card staple: the near-dup cluster-size histogram (how
      // much of the corpus sits in 2-clusters vs mega-clusters decides
      // whether dedup keeps or reshapes the distribution). Reuses q72's
      // component assignment (LSH pairs → min-label CC, singletons not
      // in the pair graph excluded by construction); both rollups are
      // map-combinable and the output is histogram-sized.
      val e = tbl(s, dir, "embeddings")
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      val pairs = Similarity.nearDuplicatePairs(e, "vec_id", "embedding",
        nPlanes = 4, dim = dim, threshold = 0.3).select("id_a", "id_b")
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("cluster_size")).as("n_vectors"))
    }),

    "q153_zipf_head" -> ((s, dir) => {
      // Zipf head report: top-50 corpus terms with rank and cumulative
      // coverage — the "how much text do the top-k types explain"
      // number behind stopword lists and vocab-size choices. Scale
      // shape: one (term) partial agg, the head extracted by
      // orderBy+limit (TakeOrderedAndProject — the q119 lesson); the
      // rank/cumsum window runs AFTER the limit, over exactly 50 rows
      // on one partition, so the global-window hazard never touches the
      // vocab-sized table. Counts are integers — cumulative fractions
      // are single exact divisions.
      val tc = tbl(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val tot = tc.agg(sum(col("cnt")).as("total"))
      // Rank + running sum over the 50-row post-limit tail go through
      // the triangular self-join (ScalableWindow.boundedRankCum), not an
      // unpartitioned window — same values, no single-partition stage.
      val top50 = tc.orderBy(col("cnt").desc, col("term")).limit(50)
      operators.ScalableWindow.boundedRankCum(top50,
          Seq(("cnt", false), ("term", true)), "rank", Seq(("cnt", "cum")))
        .crossJoin(broadcast(tot))
        .select(col("rank").cast("int").as("rank"), col("term"), col("cnt"),
          round(col("cum").cast("double") / col("total"), 6)
            .as("cum_frac"))
    }),

    "q154_quality_length_corr" -> ((s, dir) => {
      // Per-source Pearson correlation between document length and the
      // q36 quality score — the audit that catches a quality signal
      // that is secretly just a length proxy. Float sums are
      // order-dependent, so all five moments fold in doc_id order
      // (position-ordered fold, the q149 contract) for the bit-exact
      // oracle; the order-free sum/avg moments are the 100 TB knob with
      // the identical one-shuffle plan. The r formula is written with
      // the identical IEEE op sequence in both engines.
      val q = tbl(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars").cast("double").as("x"),
        Text.qualityScore(col("text"), Text.tokens(col("text"))).as("y"))
      def fold(e: Column): Column =
        aggregate(array_sort(collect_list(struct(col("doc_id"), e.as("e")))),
          lit(0.0), (a, r) => a + r.getField("e"))
      val m = q.groupBy(col("source")).agg(
        count(lit(1)).cast("double").as("n"),
        fold(col("x")).as("sx"), fold(col("y")).as("sy"),
        fold(col("x") * col("y")).as("sxy"),
        fold(col("x") * col("x")).as("sx2"),
        fold(col("y") * col("y")).as("sy2"))
      m.select(col("source"), col("n").cast("bigint").as("n_docs"),
        when((col("n") * col("sx2") - col("sx") * col("sx")) *
          (col("n") * col("sy2") - col("sy") * col("sy")) <= 0,
          lit(null).cast("double"))
          .otherwise(round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sx2") - col("sx") * col("sx")) *
             sqrt(col("n") * col("sy2") - col("sy") * col("sy"))), 6))
          .as("corr_len_quality"))
    }),

    "q157_length_debias" -> ((s, dir) => {
      // The FIX for what q154 detects: length-debiased quality — fit
      // quality = a + b·length per source (closed-form least squares
      // from the same five ordered-fold moments) and emit each doc's
      // residual, the quality signal with the length proxy regressed
      // out. Scale shape: one corpus scan feeds the moment shuffle; the
      // source-sized (a, b) table broadcasts back onto the pinned
      // frame; the residual is a codegen'd projection. Determinism:
      // identical fold order and an identical IEEE op sequence for
      // b, a, and the residual in both engines; a zero-variance source
      // yields null residuals in both.
      val q = tbl(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars").cast("double").as("x"),
          Text.qualityScore(col("text"), Text.tokens(col("text"))).as("y"))
        .cut()
      def fold(e: Column): Column =
        aggregate(array_sort(collect_list(struct(col("doc_id"), e.as("e")))),
          lit(0.0), (a, r) => a + r.getField("e"))
      val m = q.groupBy(col("source")).agg(
        count(lit(1)).cast("double").as("n"),
        fold(col("x")).as("sx"), fold(col("y")).as("sy"),
        fold(col("x") * col("y")).as("sxy"),
        fold(col("x") * col("x")).as("sx2"))
      val ab = m.select(col("source"), col("n"), col("sx"), col("sy"),
        when(col("n") * col("sx2") - col("sx") * col("sx") === 0,
          lit(null).cast("double"))
          .otherwise((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sx2") - col("sx") * col("sx"))).as("b"))
        .select(col("source"), col("b"),
          ((col("sy") - col("b") * col("sx")) / col("n")).as("a"))
      q.join(broadcast(ab), Seq("source"))
        .select(col("doc_id"), col("source"),
          round(col("y"), 6).as("quality"),
          round(col("y") - (col("a") + col("b") * col("x")), 6)
            .as("debiased_quality"))
    }),

    "q158_bpe_pair_stats" -> ((s, dir) => {
      // The BPE merge-round statistic on the oracle path: frequency-
      // weighted adjacent-symbol-pair counts — exactly what the
      // tokenizer trainer's argmax reads each round (operators.Bpe;
      // the full learnMerges loop is spec-covered) — top 20 by count.
      // Scale shape: ONE corpus scan builds the VOCABULARY-sized word
      // table; the pair explode runs over that table's symbol arrays
      // (never the corpus); the count is a map-combinable partial agg
      // and the top-k is TakeOrderedAndProject.
      import graft.operators.Bpe
      val words = Bpe.wordTable(tbl(s, dir, "documents"), "text")
        .filter(col("word") =!= "")
      Bpe.pairCounts(words)
        .orderBy(col("pair_count").desc, col("a"), col("b")).limit(20)
    }),

    "q167_bigram_lm" -> ((s, dir) => {
      // Interpolated bigram-LM scoring (Jelinek-Mercer λ=0.7 over the
      // corpus bigram + unigram MLEs) — the next model up from q125's
      // unigram perplexity filter. Scale shape mirrors q125: the
      // positioned bigram stream comes from ONE codegen'd shingle pass
      // (no token-stream self-join, no window), the LM tables are
      // bigram-/vocab-sized partial aggs joined back by type, and
      // per-doc order is restored with the ordered (pos, lp) fold.
      // Determinism: -ln on a 6-dp grid, position-ordered summation.
      val docs = tbl(s, dir, "documents")
      val pos = docs.select(col("doc_id"),
          posexplode(graft.plans.TextKernels.wordShinglesNative(col("text"), 2)))
        .select(col("doc_id"), col("pos"),
          split(col("col"), " ").getItem(0).as("prev"),
          split(col("col"), " ").getItem(1).as("cur"))
        .cut()
      val uni = docs.select(explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cu"))
        .cut()
      val totU = uni.agg(sum(col("cu")).as("t"))
      val big = pos.groupBy(col("prev"), col("cur"))
        .agg(count(lit(1)).as("cb")).cut()
      val cs = big.groupBy(col("prev")).agg(sum(col("cb")).as("cstart"))
      val lp = big.join(cs, Seq("prev"))
        .join(uni.select(col("term").as("cur"), col("cu")), Seq("cur"))
        .crossJoin(broadcast(totU))
        .select(col("prev"), col("cur"),
          round(-log(lit(0.7) *
              (col("cb").cast("double") / col("cstart").cast("double")) +
            lit(0.3) *
              (col("cu").cast("double") / col("t").cast("double"))), 6)
            .as("lp"))
      pos.join(lp, Seq("prev", "cur"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          aggregate(array_sort(collect_list(struct(col("pos"), col("lp")))),
            lit(0.0), (a, x) => a + x.getField("lp")).as("nll"))
        // unrounded (roundlint r11): Σ(6-dp lp)/count lands on 4-dp half
        // boundaries with P ≈ 1e-2/count per doc — the q133 class; the
        // fold and the integer division are bit-identical both engines
        .select(col("doc_id"), col("n_bigrams"),
          (col("nll") / col("n_bigrams")).as("avg_neg_logp"))
    }),

    "q170_feature_hashing" -> ((s, dir) => {
      // Hashing-trick collision report: vocabulary → 4096 buckets via
      // the 3-hex-char md5 prefix (the engine's cross-engine hash), with
      // bucket-occupancy and collision-fraction stats — what you check
      // before fixing a feature-hash width for training. Vocab-sized
      // distinct + two map-combinable aggs; the corpus is scanned once.
      val terms = tbl(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("term"))
        .distinct()
      val loads = terms
        .select(substring(md5(col("term")), 1, 3).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("ld"))
      loads.agg(
          sum(col("ld")).cast("long").as("n_terms"),
          count(lit(1)).as("n_buckets_used"),
          max(col("ld")).as("max_load"))
        .select(col("n_terms"), col("n_buckets_used"), col("max_load"),
          round(lit(1.0) - col("n_buckets_used").cast("double") /
            col("n_terms").cast("double"), 6).as("collision_frac"))
    }),

    "q173_containment_join" -> ((s, dir) => {
      // Asymmetric containment join (|A∩B|/|A| ≥ 0.8 over distinct word-
      // trigram shingles — quote/subsumption detection, the measure
      // Jaccard misses when a small doc is swallowed by a big one).
      // Two composed scale techniques, both exact:
      //  1. EXACT-DUP COLLAPSE FIRST: containment depends only on the
      //     text, so the join runs on md5-text equivalence classes and
      //     expands back to doc ids at the end. On a replicated corpus
      //     this is the difference between O(docs²) and O(classes²)
      //     candidate work (sf1: 50k docs → 4,992 classes; identical-
      //     text pairs are emitted directly with containment 1.0).
      //  2. PPJoin-style prefix filter in containment form on the class
      //     level: index only each class's sz − ⌈t·sz⌉ + 1 RAREST
      //     shingles (global-df order) — any qualifying pair must share
      //     one — then verify candidates exactly against full sets.
      // The oracle is the brute-force all-pairs list_intersect, so it
      // independently proves the composition loses nothing. Shingles
      // (not unigrams) make the filter bite: the shared unigram
      // vocabulary would qualify ~all pairs.
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val canon = docs.select(col("doc_id"), md5(col("text")).as("h"))
        .cut()
      val reps = canon.groupBy(col("h")).agg(min(col("doc_id")).as("rep_id"))
      val repDocs = docs.join(reps, docs("doc_id") === reps("rep_id"))
        .select(col("h"), col("text"))
      val toks = repDocs.select(col("h"),
          explode(array_distinct(
            graft.plans.TextKernels.wordShinglesNative(col("text"), 3)))
            .as("term"))
        .cut()
      // r13 restructure (guide §2.3, the jaccardJoin shape, exact): the
      // old intersection step exploded every candidate pair into |A| rows
      // (cand ⋈ per-class tokens on ha) and shuffled the full token
      // stream again on (hb, term); candidates are prefix-filter-bounded
      // and few, so fetching the two SORTED TERM ARRAYS per unique pair
      // and intersecting locally moves pair-count × array bytes instead.
      // `terms` is also the prefix source and the class size (|distinct
      // shingles| = its length), so the separate sz aggregate is gone —
      // one checkpointed per-class array frame feeds all three uses.
      val dfreq = toks.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val ordered = toks.join(dfreq, Seq("term"))
        .groupBy(col("h"))
        .agg(array_sort(collect_list(struct(col("df"), col("term"))))
          .getField("term").as("terms"))
        .withColumn("sz", size(col("terms")).cast("long"))
        .cut()
      val prefix = ordered.select(col("h").as("ha"),
          explode(expr(
            "slice(terms, 1, size(terms) - cast(ceil(0.8 * size(terms)) as int) + 1)"))
            .as("term"))
      val cand = prefix
        .join(toks.select(col("h").as("hb"), col("term")), Seq("term"))
        .filter(col("ha") =!= col("hb"))
        .select(col("ha"), col("hb")).distinct()
      val classPairs = cand
        .join(ordered.select(col("h").as("ha"), col("terms").as("t_a"),
          col("sz").as("sz_a")), Seq("ha"))
        .join(ordered.select(col("h").as("hb"), col("terms").as("t_b")),
          Seq("hb"))
        .withColumn("inter",
          size(array_intersect(col("t_a"), col("t_b"))).cast("long"))
        .filter(col("inter").cast("double") / col("sz_a").cast("double") >= 0.8)
        .select(col("ha"), col("hb"), col("inter"), col("sz_a"))
      val cross = classPairs
        .join(canon.select(col("h").as("ha"), col("doc_id").as("id_a")), Seq("ha"))
        .join(canon.select(col("h").as("hb"), col("doc_id").as("id_b")), Seq("hb"))
        .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"),
          round(col("inter").cast("double") / col("sz_a").cast("double"), 6)
            .as("containment"))
      val within = canon.select(col("h"), col("doc_id").as("id_a"))
        .join(canon.select(col("h"), col("doc_id").as("id_b")), Seq("h"))
        .filter(col("id_a") =!= col("id_b"))
        .join(ordered.select(col("h"), col("sz")), Seq("h"))
        .select(col("id_a"), col("id_b"), col("sz").as("inter"),
          col("sz").as("sz_a"), lit(1.0).as("containment"))
      cross.unionByName(within)
    }),

    "q175_weighted_sample" -> ((s, dir) => {
      // Efraimidis–Spirtes weighted sampling WITHOUT replacement via
      // deterministic exponential clocks: clock(d) = −ln(u_d)/w_d with
      // u_d a unit-interval double derived from md5(doc_id) (the q88
      // affinity idiom — no RNG, replayable on any engine) and weight
      // w = n_chars; the k smallest clocks ARE a weighted sample. One
      // codegen'd projection + TakeOrderedAndProject — zero shuffles of
      // corpus data beyond the top-k exchange at any scale.
      // Native UnitHash kernel; ·2³² recovers the exact integer (v/2³²
      // is dyadic, so the reconstruction is lossless and the (v+0.5)/2³²
      // sequence stays bit-identical to the oracle's hex-parse form).
      val u = (graft.plans.TextKernels.unitHashNative(col("doc_id").cast("string")) *
        lit(4294967296.0) + lit(0.5)) / lit(4294967296.0)
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          round(-log(u) / col("n_chars").cast("double"), 6).as("clock"))
        .orderBy(col("clock"), col("doc_id")).limit(20)
    }),

    "q176_stratified_sample" -> ((s, dir) => {
      // Deterministic stratified sample: 5 docs per source in md5 order
      // — a per-stratum reservoir that never changes as the corpus grows
      // (the q130 content-stable-split property, per key). Runs through
      // the native TopKPerKey physical operator, so each map partition
      // holds at most k rows per stratum before the exchange — no
      // per-source sort, no window over the corpus.
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string")).as("hk"))
      org.apache.spark.sql.graft.TopKPerKey(docs, Seq("source"),
          Seq(("hk", true), ("doc_id", true)), k = 5)
        .select(col("source"), col("doc_id"), col("hk"))
    }),

    "q178_ks_drift" -> ((s, dir) => {
      // Two-sample Kolmogorov–Smirnov drift per source: sup |F_s − F|
      // between each source's n_chars CDF and the corpus CDF, evaluated
      // on the full distinct-value grid (both CDFs are step functions,
      // so the sup is attained there). The corpus collapses to a
      // (source, value)-sized count table FIRST; every window after that
      // is bounded by distinct values (~hundreds), never corpus rows —
      // the same bounded-state argument as the q146 robust gate.
      val perSV = tbl(s, dir, "documents")
        .select(col("source"), col("n_chars").as("x"))
        .groupBy(col("source"), col("x")).agg(count(lit(1)).as("c"))
        .cut()
      val srcTot = perSV.groupBy(col("source")).agg(sum(col("c")).as("ns"))
      val corpus = perSV.groupBy(col("x")).agg(sum(col("c")).as("cc"))
        .cut()
      val corpTotal = corpus.agg(sum(col("cc")).as("nc"))
      // Corpus-CDF cumsum over the distinct-value grid: banded two-pass
      // (ScalableWindow), not an unpartitioned window — the grid is
      // value-domain-bounded but still grows with the domain at 100 TB.
      val corpCum = operators.ScalableWindow.bandedCumSum(corpus,
        bandOn = "x", descending = false, tieBreakers = Nil,
        sumCol = "cc", out = "ccum")
      val grid = srcTot.crossJoin(corpus.select(col("x")))
        .join(perSV, Seq("source", "x"), "left")
        .select(col("source"), col("ns"), col("x"),
          coalesce(col("c"), lit(0L)).as("c"))
      val srcCum = grid.withColumn("scum",
        sum(col("c")).over(Window.partitionBy(col("source")).orderBy(col("x"))))
      srcCum.join(corpCum.select(col("x"), col("ccum")), Seq("x"))
        .crossJoin(broadcast(corpTotal))
        .select(col("source"), col("ns"),
          abs(col("scum").cast("double") / col("ns").cast("double") -
            col("ccum").cast("double") / col("nc").cast("double")).as("d"))
        .groupBy(col("source"), col("ns"))
        .agg(round(max(col("d")), 6).as("ks"))
        .select(col("source"), col("ns").as("n"), col("ks"))
    }),

    // ── Corpus-scaling-law tier (q461–q463, round 10) ───────────────────

    "q464_good_turing" -> ((s, dir) => {
      // Good–Turing frequency smoothing over trigram-shingle counts
      // (the corpus's long-tail unit — its raw token vocabulary is a
      // closed 31-word set with no rare mass): the count-of-counts
      // table N_r, the adjusted counts r* = (r+1)·N_{r+1}/N_r for
      // r ≤ 5, and the missing mass N₁/N — the unseen-event
      // probability a language model must reserve. Everything is
      // integer counts and single divisions; the count-of-counts table
      // is tiny at any corpus size.
      val tf = tbl(s, dir, "documents")
        .select(explode(graft.plans.TextKernels.wordShinglesNative(
          lower(col("text")), 3)).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val nr = tf.groupBy(col("c").as("r")).agg(count(lit(1)).as("n_r"))
        .cut()
      val tot = tf.agg(sum(col("c")).as("n"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"))
      val nxt = nr.select((col("r") - 1).as("r"), col("n_r").as("n_r1"))
      nr.filter(col("r") <= 5).join(nxt, Seq("r"), "left")
        .crossJoin(broadcast(tot))
        .select(col("r"), col("n_r"),
          round(when(col("n_r1").isNotNull,
            (col("r") + 1).cast("double") * col("n_r1").cast("double") /
              col("n_r").cast("double")), 6).as("r_star"),
          round(col("n1").cast("double") / col("n").cast("double"), 6)
            .as("missing_mass"))
    }),

    "q461_heaps_fit" -> ((s, dir) => {
      // Heaps'-law fit V = k·T^β: OLS of ln(distinct tokens) on
      // ln(total tokens) across sources — the vocabulary-growth exponent
      // a tokenizer-budget planner needs. One (source, token) collapse
      // gives both axes; the ≤20-source point set folds source-ordered;
      // ln on the 6-dp grid (libm contract).
      val toks = tbl(s, dir, "documents")
        .select(col("source"),
          explode(graft.functions.Text.tokens(lower(col("text")))).as("tok"))
        .filter(length(col("tok")) > 0)
      val per = toks.groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("t"), count(lit(1)).as("v"))
      val xy = per.select(col("source"),
        round(log(col("t").cast("double")), 6).as("x"),
        round(log(col("v").cast("double")), 6).as("y"))
      def fold(w: Column, nm: String) =
        aggregate(array_sort(collect_list(struct(col("source"), w.as(nm)))),
          lit(0.0), (acc, e) => acc + e.getField(nm))
      val sums = xy.agg(count(lit(1)).cast("double").as("n"),
        fold(col("x"), "a").as("sx"), fold(col("y"), "b").as("sy"),
        fold(col("x") * col("x"), "c").as("sxx"),
        fold(col("x") * col("y"), "d").as("sxy"),
        fold(col("y") * col("y"), "e").as("syy"))
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      val vx = col("n") * col("sxx") - col("sx") * col("sx")
      val vy = col("n") * col("syy") - col("sy") * col("sy")
      sums.select(col("n").cast("long").as("n_sources"),
        // roundZ canonicalizes the signed zero a ~1e-14 fold residue can
        // round to (the sf1 sweep find) — applied to ALL THREE rounded
        // fold outputs, not just the one the sweep happened to hit
        roundZ(when(vx > 0, cov / vx), 6).as("heaps_beta"),
        roundZ(when(vx > 0,
          (col("sy") - cov / vx * col("sx")) / col("n")), 6).as("ln_k"),
        roundZ(when(vx > 0 && vy > 0, cov * cov / (vx * vy)), 6).as("r2"))
    }),

    "q462_contamination_matrix" -> ((s, dir) => {
      // Cross-source contamination matrix: shared distinct 5-gram mass
      // between every source pair — the decontamination audit run
      // between train/eval splits before training. Grams collapse to
      // DISTINCT (source, gram) first; pairs come only from the shared-
      // gram equi-join (Σ_g df(g)² with df ≤ #sources — never doc²);
      // containment = shared/min(|A|,|B|) is one division of exact
      // integers.
      // r13 restructure (guide §2.3/§2.4, exact): the old shape was
      // distinct(source, gram) → gram-keyed SELF-JOIN — the 5-gram
      // strings crossed the network three times (the distinct, then both
      // join sides). The per-gram DISTINCT source set is tiny (≤ #sources),
      // so collapse straight to (gram → sorted source set) in ONE
      // exchange (collect_set partial-aggregates map-side exactly like
      // the distinct did) and expand each gram's source PAIRS locally —
      // same multiset of (sa < sb) pairs, no self-join, no second gram
      // shuffle. sort_array gives the same lexicographic sa < sb order
      // the join predicate used.
      val byGram = tbl(s, dir, "documents")
        .select(col("source"),
          // Native one-pass shingle kernel (r13): byte-identical to the
          // HOF form (FunctionsSpec parity), no interpreted lambda per gram.
          explode(graft.plans.TextKernels.wordShinglesNative(
            lower(col("text")), 5)).as("g"))
        .groupBy(col("g"))
        .agg(sort_array(collect_set(col("source"))).as("ss"))
        .select(col("ss"))
        .cut()
      val sizes = byGram.select(explode(col("ss")).as("source"))
        .groupBy(col("source")).agg(count(lit(1)).as("ng"))
      val pairs = byGram
        .filter(size(col("ss")) > 1)
        .select(explode(flatten(transform(col("ss"), (x, i) =>
          transform(slice(col("ss"), i + 2, size(col("ss"))),
            y => struct(x.as("sa"), y.as("sb")))))).as("p"))
        .groupBy(col("p.sa").as("sa"), col("p.sb").as("sb"))
        .agg(count(lit(1)).as("shared"))
      pairs
        .join(sizes.select(col("source").as("sa"), col("ng").as("na")), Seq("sa"))
        .join(sizes.select(col("source").as("sb"), col("ng").as("nb")), Seq("sb"))
        .select(col("sa"), col("sb"), col("shared"), col("na"), col("nb"),
          round(col("shared").cast("double") /
            least(col("na"), col("nb")).cast("double"), 6).as("containment"))
    }),

    "q463_vocab_coverage" -> ((s, dir) => {
      // Vocabulary coverage points: the smallest head size k whose
      // frequency-ranked token mass reaches 50/90/99% of the corpus —
      // the vocab-size planning curve. Entirely exact integers: the
      // cumulative rides one bandedCumSum over (freq desc, tok asc) and
      // each threshold is an integer cross-multiply (cum·100 < p·total
      // counts the head strictly BEFORE the threshold, +1 lands on it).
      val tf = tbl(s, dir, "documents")
        .select(explode(graft.functions.Text.tokens(lower(col("text"))))
          .as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        // Checkpointed: feeds both the banded pass and the t/v totals —
        // one token-explode build (r13).
        .cut()
      val cum = operators.ScalableWindow.bandedCumSum(tf, "c",
        descending = true, Seq("tok"), "c", "cum")
      val tot = tf.agg(sum(col("c")).as("t"), count(lit(1)).as("v"))
      cum.crossJoin(broadcast(tot))
        .agg(max(col("v")).as("vocab_size"), max(col("t")).as("total_tokens"),
          (sum(when(col("cum") * 100 < col("t") * 50, 1L).otherwise(0L)) +
            lit(1L)).as("k50"),
          (sum(when(col("cum") * 100 < col("t") * 90, 1L).otherwise(0L)) +
            lit(1L)).as("k90"),
          (sum(when(col("cum") * 100 < col("t") * 99, 1L).otherwise(0L)) +
            lit(1L)).as("k99"))
    }),

    "q456_wasserstein_drift" -> ((s, dir) => {
      // Earth-mover drift per source: W₁(source, corpus) = ∫|F_s − F_c|dx
      // over the n_chars distributions — the area version of q178's sup
      // (KS says "how far apart at the worst point", W₁ says "how much
      // mass must move"). Same bounded machinery as q178: the corpus
      // collapses to the (source, value) count table first; the step
      // widths come from a triangular next-value join on the DISTINCT-
      // VALUE grid — value-DOMAIN-bounded (max document length), never
      // corpus-sized, the boundedRankCum class with the bound documented
      // here. |F_s − F_c|·Δx terms fold in value order.
      val perSV = tbl(s, dir, "documents")
        .select(col("source"), col("n_chars").as("x"))
        .groupBy(col("source"), col("x")).agg(count(lit(1)).as("c"))
        .cut()
      val srcTot = perSV.groupBy(col("source")).agg(sum(col("c")).as("ns"))
      val corpus = perSV.groupBy(col("x")).agg(sum(col("c")).as("cc"))
        .cut()
      val corpTotal = corpus.agg(sum(col("cc")).as("nc"))
      val corpCum = operators.ScalableWindow.bandedCumSum(corpus,
        bandOn = "x", descending = false, tieBreakers = Nil,
        sumCol = "cc", out = "ccum")
      // next distinct value per grid row (triangular min-join; the last
      // value gets no next and contributes zero width)
      val nextX = corpus.as("a").join(corpus.as("b"),
          col("b.x") > col("a.x"), "left")
        .groupBy(col("a.x").as("x")).agg(min(col("b.x")).as("nx"))
      val grid = srcTot.crossJoin(corpus.select(col("x")))
        .join(perSV, Seq("source", "x"), "left")
        .select(col("source"), col("ns"), col("x"),
          coalesce(col("c"), lit(0L)).as("c"))
      val srcCum = grid.withColumn("scum",
        sum(col("c")).over(Window.partitionBy(col("source")).orderBy(col("x"))))
      val terms = srcCum.join(corpCum.select(col("x"), col("ccum")), Seq("x"))
        .join(nextX, Seq("x"))
        .crossJoin(broadcast(corpTotal))
        .select(col("source"), col("ns"), col("x"),
          (abs(col("scum").cast("double") / col("ns").cast("double") -
            col("ccum").cast("double") / col("nc").cast("double")) *
            (coalesce(col("nx"), col("x")) - col("x")).cast("double"))
            .as("t"))
      terms.groupBy(col("source"), col("ns"))
        // roundZ: uniform −0.0 canonicalization on rounded fold sums
        // (here the terms are |·|≥0 so −0.0 can't arise, but the class
        // rule is one helper everywhere, not per-site reasoning)
        .agg(roundZ(aggregate(array_sort(collect_list(struct(col("x"),
          col("t").as("t")))), lit(0.0), (acc, e) => acc + e.getField("t")),
          4).as("w1_chars"))
        .select(col("source"), col("ns").as("n"), col("w1_chars"))
    }),

    "q182_quantile_normalize" -> ((s, dir) => {
      // Quantile normalization: every doc's n_chars is replaced by the
      // CORPUS value at the equivalent rank — the cross-source score
      // calibration a curation pipeline applies before mixing sources
      // whose scorers drift. All integer: source rank r (per-source
      // window — per-key sorts are the operation itself; approx
      // quantiles are the documented 100 TB knob, the q146 pairing),
      // target corpus rank t = ⌈r·N/n_s⌉ via exact integer div, and the
      // inverse-CDF lookup is a banded join against the value grid —
      // distinct-value-sized, broadcast, never corpus².
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars").as("x"))
      val ns_ = d.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      val ntot = d.agg(count(lit(1)).as("n"))
      val r = d.withColumn("r", row_number()
        .over(Window.partitionBy(col("source")).orderBy(col("x"), col("doc_id")))
        .cast("long"))
      val tt = r.join(broadcast(ns_), Seq("source"))
        .crossJoin(broadcast(ntot))
        .withColumn("t", expr("div(r * n + n_s - 1, n_s)"))
      val grid = d.groupBy(col("x").as("gx")).agg(count(lit(1)).as("c"))
        .withColumn("ccum", sum(col("c")).over(Window.orderBy(col("gx"))))
        .withColumn("pcum", col("ccum") - col("c"))
      tt.join(broadcast(grid),
          col("t") > col("pcum") && col("t") <= col("ccum"))
        .select(col("doc_id"), col("source"), col("x"), col("gx").as("norm_x"))
    }),

    "q194_lang_entropy" -> ((s, dir) => {
      // Per-source language-mix entropy (−Σ p·ln p over the language
      // distribution) — the mix-health number a multilingual corpus card
      // reports. One (source, lang) count, source-sized tails, terms on
      // the 6-dp grid folded in language order.
      val lc = tbl(s, dir, "documents")
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("cnt"))
        .cut()
      val st = lc.groupBy(col("source")).agg(sum(col("cnt")).as("tot"))
      val p = col("cnt").cast("double") / col("tot").cast("double")
      lc.join(st, Seq("source"))
        .select(col("source"), col("lang"), col("tot"),
          round(-(p * log(p)), 6).as("term"))
        .groupBy(col("source"), col("tot"))
        .agg(count(lit(1)).as("n_langs"),
          round(aggregate(array_sort(collect_list(struct(col("lang"), col("term")))),
            lit(0.0), (acc, e) => acc + e.getField("term")), 4).as("entropy"))
        .select(col("source"), col("tot").as("n_docs"), col("n_langs"),
          col("entropy"))
    }),

    "q195_token_gini" -> ((s, dir) => {
      // Vocabulary-concentration Gini per source over token frequencies:
      // G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) with frequencies ranked
      // ascending — EXACT BIGINT numerator/denominator, one double
      // division. The rank window partitions per source over the VOCAB
      // (never the token stream); equal-frequency ties are order-
      // invariant in the formula but still tie-broken by term for
      // determinism.
      val tf = tbl(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("x"))
      val idx = tf.withColumn("i", row_number()
        .over(Window.partitionBy(col("source")).orderBy(col("x"), col("term")))
        .cast("long"))
      idx.groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("i") * col("x")).as("a"))
        .select(col("source"), col("n").as("n_terms"), col("sx").as("n_tokens"),
          round((lit(2L) * col("a") - (col("n") + 1) * col("sx")).cast("double") /
            (col("n") * col("sx")).cast("double"), 6).as("gini"))
    }),

    "q204_quantile_scaled" -> ((s, dir) => {
      // q182's quantile normalization with BOTH skew knobs as code
      // (sharing q182's oracle verbatim — the rewrite is exact):
      //  - the per-source rank no longer funnels each source's full doc
      //    set through one window partition: rank r = (count of strictly
      //    smaller values in the source, off the distinct-value grid) +
      //    (row_number among the value's ties, partitioned by
      //    (source, value) — tie-group-sized, never source-sized);
      //  - the corpus-wide value-grid cumsum runs through
      //    ScalableWindow.bandedCumSum instead of an unpartitioned
      //    window. PlanSpec asserts no empty Window.partitionSpec.
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars").as("x"))
      val ns_ = d.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      val ntot = d.agg(count(lit(1)).as("n"))
      // Per-source grid: strictly-smaller cumulative count per value.
      // The grid window is partitioned by source AND distinct-value-
      // sized (bounded by the n_chars domain, not the corpus).
      val gs = d.groupBy(col("source"), col("x")).agg(count(lit(1)).as("c"))
        .withColumn("pcum_s",
          sum(col("c")).over(Window.partitionBy(col("source"))
            .orderBy(col("x"))) - col("c"))
        .drop("c")
      val r = d
        .withColumn("tie", row_number()
          .over(Window.partitionBy(col("source"), col("x"))
            .orderBy(col("doc_id"))).cast("long"))
        .join(gs, Seq("source", "x"))
        .withColumn("r", col("pcum_s") + col("tie"))
      val tt = r.join(broadcast(ns_), Seq("source"))
        .crossJoin(broadcast(ntot))
        .withColumn("t", expr("div(r * n + n_s - 1, n_s)"))
      val grid0 = d.groupBy(col("x").as("gx")).agg(count(lit(1)).as("c"))
      val grid = operators.ScalableWindow.bandedCumSum(grid0,
          bandOn = "gx", descending = false, tieBreakers = Nil,
          sumCol = "c", out = "ccum")
        .withColumn("pcum", col("ccum") - col("c"))
      tt.join(broadcast(grid),
          col("t") > col("pcum") && col("t") <= col("ccum"))
        .select(col("doc_id"), col("source"), col("x"), col("gx").as("norm_x"))
    }),

    "q155_dedup_impact" -> ((s, dir) => {
      // Dataset-card "what did dedup do" report: per-source doc and
      // token counts before vs after the q136 keep-list, with keep
      // rates — the numbers a curation run publishes. Composes q136's
      // survivor policy verbatim (LSH pairs → CC → quality-argmax
      // survivor) plus ONE corpus scan for token counts; keep-list
      // joins are by id and the output is source-sized.
      val e = tbl(s, dir, "embeddings")
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      val pairs = Similarity.nearDuplicatePairs(e, "vec_id", "embedding",
        nPlanes = 4, dim = dim, threshold = 0.3).select("id_a", "id_b")
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val qual = tbl(s, dir, "documents").select(col("doc_id"),
        Text.qualityScore(col("text"), Text.tokens(col("text"))).as("q"))
      val surv = cc.join(qual, cc("vertex") === qual("doc_id"))
        .groupBy(col("component"))
        .agg(min(struct((-col("q")).as("nq"), col("doc_id").as("id"))).as("m"))
        .select(col("m.id").as("survivor_doc_id"))
      val toks = tbl(s, dir, "documents").select(col("doc_id"), col("source"),
        size(Text.tokens(col("text"))).cast("bigint").as("n_tok"))
      toks
        .join(cc, toks("doc_id") === cc("vertex"), "left")
        .join(surv, toks("doc_id") === surv("survivor_doc_id"), "left")
        .withColumn("kept",
          col("vertex").isNull || col("survivor_doc_id").isNotNull)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs_before"),
          sum(col("n_tok")).as("tokens_before"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("docs_after"),
          sum(when(col("kept"), col("n_tok")).otherwise(0L))
            .as("tokens_after"))
        .select(col("source"), col("docs_before"), col("docs_after"),
          col("tokens_before"), col("tokens_after"),
          round(col("docs_after").cast("double") / col("docs_before"), 6)
            .as("doc_keep_rate"),
          round(col("tokens_after").cast("double") / col("tokens_before"), 6)
            .as("token_keep_rate"))
    }),

    "q156_contamination_curve" -> ((s, dir) => {
      // Decontamination threshold curve: how many train docs would be
      // flagged at each ≥t shared-shingle cutoff — the sweep that picks
      // q138's operating point before committing to a removal pass.
      // Same split, shingles, and df-cap as q78/q138 so the three
      // compose measure → sweep → act. Scale shape: the per-doc shared
      // count is the q138 equi-join; the sweep is an explode over the
      // 4-element threshold literal on the doc-count-sized shared table
      // (never the corpus), collapsing to a 4-row report.
      import s.implicits._
      val sh = tbl(s, dir, "documents").select(col("doc_id"),
        explode(array_distinct(
          graft.plans.TextKernels.wordShinglesNative(col("text"), 3)))
          .as("shingle"))
      val ev = sh.filter(col("doc_id") < 50).select(col("shingle")).distinct()
      val tr = sh.filter(col("doc_id") >= 50)
      val rare = tr.groupBy(col("shingle"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") <= 64).select(col("shingle"))
      val shared = tr
        .join(rare, Seq("shingle"), "left_semi")
        .join(ev, Seq("shingle"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      val ths = array(lit(1), lit(2), lit(4), lit(8))
      val fl = shared
        .select(explode(filter(ths, t => col("n_shared") >= t)).as("threshold"))
        .groupBy(col("threshold")).agg(count(lit(1)).as("n_flagged"))
      val tot = tbl(s, dir, "documents").filter(col("doc_id") >= 50)
        .agg(count(lit(1)).as("n_train"))
      Seq(1, 2, 4, 8).toDF("threshold")
        .join(fl, Seq("threshold"), "left")
        .crossJoin(broadcast(tot))
        .select(col("threshold"),
          coalesce(col("n_flagged"), lit(0L)).as("n_flagged"), col("n_train"),
          round(coalesce(col("n_flagged"), lit(0L)).cast("double") /
            col("n_train"), 6).as("flagged_frac"))
    }),

    "q86_pii_redaction" -> ((s, dir) => {
      // The corpus tables carry no PII by construction, so contact text
      // is synthesized deterministically per customer (q81 precedent:
      // both engines build identical strings), then redacted by the
      // codegen'd kernel. Scan-local projection — zero shuffles.
      // c_name's own 9-digit run is a deliberate phone-pattern hit.
      val key7 = lpad(col("c_custkey").cast("string"), 7, "0")
      val text = concat(
        col("c_name"), lit(" <user"), col("c_custkey").cast("string"),
        lit("@example.com>"),
        when(col("c_custkey") % 3 === 0,
          concat(lit(" tel 555-"), key7)).otherwise(lit("")),
        when(col("c_custkey") % 5 === 0,
          concat(lit(" ip 10.0."), (col("c_custkey") % 256).cast("string"),
            lit(".7"))).otherwise(lit("")))
      tbl(s, dir, "customer").select(
        col("c_custkey"),
        Redaction.redactAll(text).as("redacted"),
        Redaction.matchCount(text, Redaction.EmailPattern).as("n_emails"),
        Redaction.matchCount(text, Redaction.PhonePattern).as("n_phones"),
        Redaction.matchCount(text, Redaction.Ipv4Pattern).as("n_ips"))
    }),
    "q87_salient_terms" -> ((s, dir) => {
      // Per-doc most salient term by tf × (N/df) — ratio IDF, not ln:
      // bit-exact cross-engine where ln is only correctly-rounded-ish.
      // Plan: one (doc, term) shuffle for tf; df DERIVED from tf (partial
      // agg, vocabulary-sized result, broadcast back); top term per doc
      // via min(struct(-score, term)) — map-side partial aggregation
      // with a deterministic tie-break (highest score, then first term),
      // where a row_number window would shuffle and sort.
      val docs = tbl(s, dir, "documents")
      // tf feeds BOTH df_ and the join: materialize it once (the q78
      // rule for multiply-referenced subtrees), with the explode spread
      // off the single local file first.
      val tf = docs
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .cut()
      val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      tf.join(broadcast(df_), Seq("term")).crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"),
          (col("tf").cast("double") *
            (col("n_docs").cast("double") / col("df").cast("double")))
            .as("score"))
        .groupBy(col("doc_id"))
        .agg(min(struct((-col("score")).as("neg"), col("term").as("term")))
          .as("m"))
        .select(col("doc_id"),
          col("m").getField("term").as("top_term"),
          (-col("m").getField("neg")).as("tfidf"))
    }),

    "q94_dup_spans" -> ((s, dir) => {
      // Exact duplicated-substring coverage (the suffix-array dedup
      // measure of Lee et al.'s "Deduplicating Training Data", computed
      // the distributed way): every char position starts a 20-gram;
      // positions whose gram recurs in ANOTHER doc are duplicated
      // coverage. One explode + one gram groupBy + one semi-join — the
      // 100 TB knobs (xxhash64 8-byte gram keys, hot-gram df cap) are
      // implemented and oracle-proven on the REMOVAL operator
      // (Dedup.removeDuplicateSpans gramKeyHash/maxDocFreq, q121) and
      // apply to this measure identically.
      // Plan notes (probe-measured, 15 s -> 2 s at sf0.1): (a) grams come
      // from the one-pass CharGrams kernel — the compositional
      // explode(sequence)+substr form copies the full text into EVERY
      // position row; (b) the doc scan is repartitioned first — a single
      // parquet file otherwise pins the whole explode to ONE task;
      // (c) the dup test rides a window over the (gram, doc) aggregate
      // instead of a second gram explode + semi-join.
      val d = tbl(s, dir, "documents")
        .filter(length(col("text")) >= 20)
        .select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      val grams = d.select(col("doc_id"),
        explode(graft.plans.TextKernels.charGramsNative(col("text"), 20)).as("gram"))
      val g1 = grams.groupBy(col("gram"), col("doc_id"))
        .agg(count(lit(1)).as("npos"))
      val nDocs = Window.partitionBy(col("gram"))
      val perDoc = g1.withColumn("nd", count(lit(1)).over(nDocs))
        .filter(col("nd") >= 2)
        .groupBy(col("doc_id")).agg(sum(col("npos")).as("dup_positions"))
      d.select(col("doc_id"), (length(col("text")) - 19).cast("long").as("total_grams"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("total_grams"),
          coalesce(col("dup_positions"), lit(0L)).as("dup_positions"))
    }),

    "q119_vocab_encode" -> ((s, dir) => {
      // Corpus vocabulary + token-id encoding (the tokenize step every
      // training pipeline runs): vocab = top-1000 tokens by (count
      // desc, token) — a deterministic total order — and each document
      // becomes its ordered id sequence with OOV = 0, emitted as a
      // space-joined string (the oracle comparator hashes scalars, not
      // arrays). The top-k is `orderBy(...).limit(1000)` — Spark plans
      // TakeOrderedAndProject (per-partition top-k, driver merge), so
      // the corpus-sized distinct-token table is NEVER funneled through
      // one partition; only the 1000-row dictionary sees a window. The
      // vocab join is a broadcast (always dictionary-sized); order
      // inside each document is restored by sorting the (pos, id)
      // structs, so no window shuffle touches the token stream either.
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val toks = d.select(col("doc_id"),
          posexplode(split(trim(col("text")), "\\s+")))
        .select(col("doc_id"), col("pos"), col("col").as("token"))
      val top = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(1000)
      // Vocab ids over the post-limit 1000-row head: triangular rank
      // (q153 rule), never an unpartitioned window.
      val vocab = operators.ScalableWindow.boundedRankCum(top,
          Seq(("cnt", false), ("token", true)), "token_id")
        .select(col("token"), col("token_id").cast("int").as("token_id"))
      toks.join(broadcast(vocab), Seq("token"), "left")
        .select(col("doc_id"), col("pos"),
          coalesce(col("token_id"), lit(0)).as("tid"))
        .groupBy(col("doc_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tid")))),
          e => e("tid").cast("string")), " ").as("token_ids"))
    }),

    "q118_dedup_spans" -> ((s, dir) =>
      // Exact duplicated-substring REMOVAL (the action q94 only
      // measures): see Dedup.removeDuplicateSpans for the distributed
      // shape and the q94 lessons it inherits.
      Dedup.removeDuplicateSpans(
        tbl(s, dir, "documents"), "doc_id", "text", gramLen = 20)),

    "q121_dedup_spans_hash" -> ((s, dir) =>
      // The 100 TB shuffle shape of q118: grams grouped by their
      // xxhash64 (8-byte shuffle keys instead of 20-char strings) under
      // a doc-frequency cap set high enough to be inert at this scale —
      // proving the scale knobs reproduce the exact path bit-for-bit
      // (the oracle row is the same SQL as q118).
      Dedup.removeDuplicateSpans(
        tbl(s, dir, "documents"), "doc_id", "text", gramLen = 20,
        gramKeyHash = true, maxDocFreq = Some(1000000))),

    "q123_bm25" -> ((s, dir) => {
      // BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed 3-term query
      // — the retrieval primitive a training-data pipeline uses for
      // benchmark-decontamination lookups and RAG corpus probes.
      // Scale shape: the term filter runs BEFORE the (doc, term) shuffle,
      // so tf aggregation carries query-term tokens only (matching docs ×
      // |q| rows, not the corpus token stream); doc length is a
      // scan-local projection feeding one corpus-stats row; df and stats
      // broadcast back onto tf; the final top-10 is TakeOrderedAndProject,
      // never a global sort. Determinism: per-term components rounded to
      // 6 dp, then summed in term order via an ordered fold
      // (array_sort(collect_list) → aggregate), mirroring DuckDB
      // list_sum(list(... ORDER BY term)) — same grid, same fold order
      // (the q87 ratio-IDF lesson extended to ln via rounding; the idf
      // argument is > 1, so scores are positive and no-match docs can
      // never reach the top 10).
      val qTerms = Seq("spark", "merge", "window")
      val docs = tbl(s, dir, "documents")
      val toks = docs.select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      // dl feeds BOTH the corpus stats and the scoring join, and tf
      // feeds BOTH df and the join — pin each (the q87 rule for
      // multiply-referenced subtrees), so the corpus text is scanned
      // exactly twice and each pinned frame is doc-count-sized
      // (two ints / a few matched terms per doc, not the token stream).
      val dl = toks.select(col("doc_id"), size(col("toks")).as("dl"))
        .cut()
      val stats = dl.agg(avg(col("dl")).as("avgdl"), count(lit(1)).as("n_docs"))
      val tf = toks
        .select(col("doc_id"), explode(col("toks")).as("term"))
        .filter(col("term").isin(qTerms: _*))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .cut()
      val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val comp = round(
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 6)
      tf.join(broadcast(df_), Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          struct(col("term").as("term"), comp.as("comp")).as("tc"))
        .groupBy(col("doc_id"))
        .agg(aggregate(array_sort(collect_list(col("tc"))), lit(0.0),
          (acc, x) => acc + x.getField("comp")).as("sc"))
        // unrounded (roundlint r11): the 6-dp-term fold sum rounded to
        // 4 dp is the boundary class; unrounded scores also make the
        // top-10 cut deterministic (fewer ties at rank 10)
        .select(col("doc_id"), col("sc").as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(10)
    }),

    "q125_perplexity_filter" -> ((s, dir) => {
      // CCNet-style perplexity quality filter with a corpus unigram LM
      // as the deterministic stand-in for KenLM: p(t) = cnt(t)/total,
      // doc score = mean over positions of -ln p(token), keep = score
      // below threshold (the high-perplexity tail is the noise a
      // curation pipeline drops). Scale shape: ONE corpus scan feeds the
      // pinned (doc, pos, term) stream; the LM is a vocab-sized partial
      // agg of it, joined back BY TERM (Catalyst broadcasts while the LM
      // fits, shuffles when the vocabulary outgrows it); per-doc order
      // is restored by sorting (pos, lp) structs — no window touches the
      // token stream. Determinism: -ln p on a 6-dp grid, summed in
      // position order via the same ordered fold as q123.
      val pos = tbl(s, dir, "documents")
        .select(col("doc_id"), posexplode(Text.tokens(col("text"))))
        .select(col("doc_id"), col("pos"), col("col").as("term"))
        .cut()
      val lm = pos.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val total = lm.agg(sum(col("cnt")).as("total"))
      val lp = lm.crossJoin(broadcast(total)).select(col("term"),
        round(-log(col("cnt").cast("double") / col("total")), 6).as("lp"))
      pos.join(lp, Seq("term"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          aggregate(array_sort(collect_list(struct(col("pos"), col("lp")))),
            lit(0.0), (a, x) => a + x.getField("lp")).as("nll"))
        // unrounded (roundlint r11): same boundary class as q167; the
        // keep flag already compared the unrounded ratio
        .select(col("doc_id"), col("n_tokens"),
          (col("nll") / col("n_tokens")).as("avg_neg_logp"),
          (col("nll") / col("n_tokens") <= lit(3.45)).as("keep"))
    }),

    "q126_pmi_collocations" -> ((s, dir) => {
      // PMI collocation mining (phrase discovery over the corpus):
      // pmi(a,b) = ln(p(ab) / (p(a)·p(b))) over adjacent token pairs,
      // top-20 by PMI among pairs seen >= 5 times. Scale shape: two
      // corpus scans (unigram explode; shingle explode), each collapsing
      // scan-locally into a vocab-/pair-type-sized partial agg before
      // any join; both count tables are pinned once (multiply
      // referenced: totals + join legs) and the PMI joins run between
      // dictionary-sized frames that Catalyst broadcasts. The top-20 is
      // TakeOrderedAndProject. Determinism: one round(ln(ratio of exact
      // counts), 4) per pair — no float accumulation at all.
      val docs = tbl(s, dir, "documents")
      val uni = docs.select(explode(Text.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .cut()
      val biAll = docs.select(
          explode(graft.plans.TextKernels.wordShinglesNative(col("text"), 2))
            .as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("cnt_ab"))
        .cut()
      val totU = uni.agg(sum(col("cnt")).as("tot_u"))
      val totB = biAll.agg(sum(col("cnt_ab")).as("tot_b"))
      val ua = uni.select(col("tok").as("wa"), col("cnt").as("cnt_a"))
      val ub = uni.select(col("tok").as("wb"), col("cnt").as("cnt_b"))
      biAll.filter(col("cnt_ab") >= 5)
        .withColumn("wa", split(col("bigram"), " ").getItem(0))
        .withColumn("wb", split(col("bigram"), " ").getItem(1))
        .join(ua, Seq("wa")).join(ub, Seq("wb"))
        .crossJoin(broadcast(totU)).crossJoin(broadcast(totB))
        .select(col("bigram"), col("cnt_ab"),
          round(log((col("cnt_ab").cast("double") / col("tot_b")) /
            ((col("cnt_a").cast("double") / col("tot_u")) *
             (col("cnt_b").cast("double") / col("tot_u")))), 4).as("pmi"))
        .orderBy(col("pmi").desc, col("bigram"))
        .limit(20)
    }),

    "q124_dedup_survivors" -> ((s, dir) => {
      // Quality-aware near-dup survivor selection — the policy step after
      // q72's clustering: keep the HIGHEST-quality member of each near-dup
      // component (ties → lowest doc_id), the choice a curation pipeline
      // applies before dropping the rest. Components come from the
      // LSH-bucketed pair graph (candidate-bounded, never all-pairs);
      // quality is the q36 score joined by id; the survivor argmax is a
      // min(struct(-quality, id)) partial agg — map-side combinable, no
      // window, no sort, so the shuffle carries one row per component.
      val e = tbl(s, dir, "embeddings")
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      val pairs = Similarity.nearDuplicatePairs(e, "vec_id", "embedding",
        nPlanes = 4, dim = dim, threshold = 0.3).select("id_a", "id_b")
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val qual = tbl(s, dir, "documents").select(
        col("doc_id"),
        Text.qualityScore(col("text"), Text.tokens(col("text"))).as("q"))
      cc.join(qual, cc("vertex") === qual("doc_id"))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          min(struct((-col("q")).as("nq"), col("doc_id").as("id"))).as("m"))
        .select(col("component"), col("m.id").as("survivor_doc_id"),
          col("n_members"), (-col("m.nq")).as("survivor_quality"))
    }),

    "q136_dedup_apply" -> ((s, dir) => {
      // The dedup ACTION composed end-to-end: q124 picks each near-dup
      // component's survivor; this query APPLIES the policy and emits the
      // kept corpus manifest — untouched docs tagged 'unique', component
      // survivors tagged 'survivor', everything else dropped. Scale
      // shape: the pair graph and components are LSH-candidate-bounded;
      // the survivor table is one row per component; both join back to
      // the corpus BY ID (broadcast while components fit, shuffled
      // equi-join beyond), so the corpus is scanned once and never
      // pairwise-compared here.
      val e = tbl(s, dir, "embeddings")
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      val pairs = Similarity.nearDuplicatePairs(e, "vec_id", "embedding",
        nPlanes = 4, dim = dim, threshold = 0.3).select("id_a", "id_b")
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val qual = tbl(s, dir, "documents").select(
        col("doc_id"),
        Text.qualityScore(col("text"), Text.tokens(col("text"))).as("q"))
      val surv = cc.join(qual, cc("vertex") === qual("doc_id"))
        .groupBy(col("component"))
        .agg(min(struct((-col("q")).as("nq"), col("doc_id").as("id"))).as("m"))
        .select(col("m.id").as("survivor_doc_id"))
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      docs
        .join(cc, docs("doc_id") === cc("vertex"), "left")
        .join(surv, docs("doc_id") === surv("survivor_doc_id"), "left")
        .filter(col("vertex").isNull || col("survivor_doc_id").isNotNull)
        .select(col("doc_id"),
          when(col("vertex").isNull, lit("unique"))
            .otherwise(lit("survivor")).as("status"))
    }),

    "q137_sentence_dedup" -> ((s, dir) => {
      // C4-style sentence-level dedup (Raffel et al. 2020 §2.2 dedups
      // three-sentence spans; here the unit is the sentence): every
      // repeated sentence keeps ONLY its canonical occurrence — lowest
      // (doc_id, position) corpus-wide — and documents are rebuilt from
      // their surviving sentences in order. Granularity sits between
      // q118 (char-gram spans) and q30 (whole documents). Scale shape:
      // one explode feeds a (sentence → min(doc,pos)) map-combinable
      // partial agg; the canonical table joins back BY SENTENCE (the
      // q118 gram-join shape — shuffled equi-join, hashable to 8-byte
      // keys the same way if sentences are long); per-doc rebuild is a
      // sorted-struct fold, no window on the sentence stream.
      val sent = tbl(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), "\\. ")))
        .select(col("doc_id"), col("pos"), col("col").as("sent"))
      val canon = sent.groupBy(col("sent"))
        .agg(min(struct(col("doc_id").as("d"), col("pos").as("p"))).as("c"))
      sent.join(canon, Seq("sent"))
        .select(col("doc_id"), col("pos"), col("sent"),
          (col("c.d") === col("doc_id") && col("c.p") === col("pos"))
            .cast("long").as("kept"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sents"), sum(col("kept")).as("n_kept"),
          // collect_list skips nulls: only kept sentences enter the fold.
          array_join(transform(array_sort(collect_list(
            when(col("kept") === 1, struct(col("pos"), col("sent"))))),
            e => e.getField("sent")), ". ").as("text_deduped"))
    }),

    "q142_quality_quantile" -> ((s, dir) => {
      // Per-source quality-quantile gate — the calibrated form of a fixed
      // quality threshold: keep each source's top quartile (quality >=
      // that source's exact P75). Pipelines calibrate per source because
      // quality distributions differ by origin; a single global cut
      // over- or under-prunes. Scale shape: quality is the q36 codegen'd
      // projection; the P75 is one exact-percentile agg collapsing to a
      // source-count-sized table that broadcasts back; the gate is one
      // filter — two corpus scans total (agg + gate), zero extra
      // shuffles of the corpus.
      val q = tbl(s, dir, "documents").select(col("doc_id"), col("source"),
        Text.qualityScore(col("text"), Text.tokens(col("text"))).as("quality"))
      val thr = q.groupBy(col("source"))
        .agg(percentile(col("quality"), lit(0.75)).as("p75"))
      q.join(broadcast(thr), Seq("source"))
        .filter(col("quality") >= col("p75"))
        .select(col("doc_id"), col("source"), col("quality"), col("p75"))
    }),

    "q141_mix_apply" -> ((s, dir) => {
      // The mixing plan APPLIED (q139 → corpus): each source's
      // water-filled token allocation becomes a per-doc acceptance rate
      // alloc/n_tokens, executed as the deterministic md5 unit-hash
      // filter (q76's idiom — replayable on any engine, stable under
      // retries). Scale shape: the rate table is source-count-sized and
      // broadcasts; the corpus is scanned once through one codegen'd
      // filter — the plan-to-sample path has zero extra shuffles.
      val st = tbl(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_tokens"))
      val rates = Sampling.waterFillBudget(st, "source", "n_tokens", budget = 26000L)
        .select(col("source"), (col("alloc") / col("n_tokens")).as("rate"))
      tbl(s, dir, "documents").select(col("doc_id"), col("source"))
        .join(broadcast(rates), Seq("source"))
        .filter(Sampling.unitHash(col("doc_id")) < col("rate"))
        .select(col("doc_id"), col("source"))
    }),

    "q138_decontaminate" -> ((s, dir) => {
      // Train-set decontamination — the ACTION on q78's measurement
      // (GPT-3-style n-gram overlap removal): every train doc is flagged
      // by how many of its shingles appear in the eval set, under q78's
      // boilerplate df-cap (a shingle in > 64 train docs is template
      // noise, not leakage — the skew killer at 100 TB). Same split and
      // shingle construction as q78, so the two queries compose into
      // measure → act. Scale shape: candidate generation is an equi-join
      // on the shingle key (never doc×doc); the verdict join back to the
      // train corpus is by id.
      val sh = tbl(s, dir, "documents").select(col("doc_id"),
        explode(array_distinct(
          graft.plans.TextKernels.wordShinglesNative(col("text"), 3)))
          .as("shingle"))
      val ev = sh.filter(col("doc_id") < 50).select(col("shingle")).distinct()
      val tr = sh.filter(col("doc_id") >= 50)
      val rare = tr.groupBy(col("shingle"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") <= 64).select(col("shingle"))
      val shared = tr
        .join(rare, Seq("shingle"), "left_semi")
        .join(ev, Seq("shingle"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("shingle")).as("n"))
      tbl(s, dir, "documents").filter(col("doc_id") >= 50)
        .select(col("doc_id"))
        .join(shared, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n"), lit(0L)).as("n_shared_shingles"),
          (coalesce(col("n"), lit(0L)) > 0).as("contaminated"))
    }),

    "q139_budget_alloc" -> ((s, dir) => {
      // Water-filling token-budget allocation across sources (the
      // UniMax idea, Chung et al. 2023): spread a fixed budget so every
      // source below the water level is fully used and the rest split
      // the remainder evenly — closed form over sources sorted by size:
      // k = max{i : sᵢ·(n−i+1) ≤ B − S_{i−1}}, level t = (B−S_k)/(n−k),
      // allocᵢ = sᵢ for i ≤ k else t. Scale shape: ONE corpus scan
      // collapses to a source-count-sized table; the windows that
      // follow run over that tiny frame (source-count rows — NOT the
      // corpus; the q119 global-window prohibition is about
      // corpus-sized streams), and the three scalars (n, k, S_k)
      // broadcast back. All-integer predicate; the level is one exact
      // division, rounded once.
      val st = tbl(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_tokens"))
      Sampling.waterFillBudget(st, "source", "n_tokens", budget = 26000L)
        .select(col("source"), col("n_tokens"),
          col("alloc").as("alloc_tokens"), col("fully_used"))
    }),

    "q127_kl_drift" -> ((s, dir) => {
      // Domain-distribution drift: KL(source ‖ corpus) over unigram
      // distributions — the monitoring signal a data-mixing pipeline
      // watches to spot a source whose token distribution has shifted
      // away from the blend. Scale shape: ONE corpus scan collapses
      // scan-locally into a (source, term) partial agg; corpus counts
      // derive from that frame (no second scan), so everything after the
      // first shuffle is (sources × vocab)-sized. Source totals are
      // source-count-sized and broadcast. Determinism: each term's
      // contribution p_s·ln(p_s/p_c) lands on a 6-dp grid, summed in
      // term order via the q123 ordered fold (per-group state is the
      // source's vocabulary, never the token stream).
      val st = tbl(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
        .cut()
      val corpus = st.groupBy(col("term")).agg(sum(col("cnt")).as("ccnt"))
      val ctot = corpus.agg(sum(col("ccnt")).as("ctot"))
      val stot = st.groupBy(col("source")).agg(sum(col("cnt")).as("stot"))
      val kc = round(
        (col("cnt").cast("double") / col("stot")) *
          log((col("cnt").cast("double") / col("stot")) /
            (col("ccnt").cast("double") / col("ctot"))), 6)
      st.join(corpus, Seq("term"))
        .join(broadcast(stot), Seq("source"))
        .crossJoin(broadcast(ctot))
        .select(col("source"), col("stot"),
          struct(col("term"), kc.as("kc")).as("tc"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_terms"), max(col("stot")).as("n_tokens"),
          aggregate(array_sort(collect_list(col("tc"))), lit(0.0),
            (a, x) => a + x.getField("kc")).as("kl"))
        // unrounded (roundlint r11): 6-dp term fold on a 4-dp output
        // grid — boundary class; the fold is bit-identical both engines
        .select(col("source"), col("n_terms"), col("n_tokens"),
          col("kl").as("kl_vs_corpus"))
    }),

    "q128_vocab_coverage" -> ((s, dir) => {
      // Tokenizer-vocabulary coverage per source: the fraction of a
      // source's token stream covered by the top-k corpus vocabulary,
      // and its OOV rate — the acceptance test run before freezing a
      // tokenizer. Scale shape: the same (source, term) partial agg as
      // q127 feeds both legs; the vocabulary is orderBy+limit
      // (TakeOrderedAndProject — per-partition top-k, merged on the
      // driver, NEVER a global sort or single-partition window: the
      // q119 lesson); the dictionary-sized vocab broadcasts back onto
      // the (source, term) frame. Determinism: one ratio of exact
      // counts, rounded once.
      val st = tbl(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
        .cut()
      val vocab = st.groupBy(col("term")).agg(sum(col("cnt")).as("tc"))
        .orderBy(col("tc").desc, col("term")).limit(10)
        .select(col("term"), lit(1).as("in_vocab"))
      st.join(broadcast(vocab), Seq("term"), "left")
        .groupBy(col("source"))
        .agg(sum(col("cnt")).as("n_tokens"),
          sum(when(col("in_vocab") === 1, col("cnt")).otherwise(lit(0L)))
            .as("covered"))
        .select(col("source"), col("n_tokens"),
          round(col("covered").cast("double") / col("n_tokens"), 6)
            .as("coverage"),
          round(lit(1.0) - col("covered").cast("double") / col("n_tokens"), 6)
            .as("oov_rate"))
    }),

    "q129_ngram_novelty" -> ((s, dir) => {
      // Per-document n-gram novelty: the fraction of a document's word
      // trigram instances whose trigram occurs in NO other document —
      // the informativeness prior of dedup-aware sampling (a document
      // whose trigrams all recur elsewhere adds nothing the corpus
      // doesn't already say). Scale shape: one scan collapses to a
      // (doc, gram) partial agg; document frequency is a second
      // gram-keyed agg of that frame (distinct-doc counts come free
      // because the frame is already per-doc-distinct); the join back
      // is gram-keyed and candidate-bounded. No windows, no sorts —
      // ratios of exact counts, rounded once.
      // The gram string never leaves the scan: xxhash64(gram) is the
      // shuffle/join key (8-byte longs, not ~20-char strings — the q121
      // hash-gram lesson; doc-frequency counts are hash-collision-exact
      // for all practical purposes and the novelty ratio only needs
      // equality). The pinned (doc, gramHash) frame feeds both df and
      // the join back.
      val sh = tbl(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.plans.TextKernels.wordShinglesNative(col("text"), 3))
            .as("g"))
        .select(col("doc_id"), xxhash64(col("g")).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
        .cut()
      val df_ = sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
      sh.join(df_, Seq("g"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_shingles"),
          sum(when(col("df") === 1, col("cnt")).otherwise(lit(0L)))
            .as("novel"))
        .select(col("doc_id"), col("n_shingles"),
          round(col("novel").cast("double") / col("n_shingles"), 6)
            .as("novelty"))
    }),

    "q130_hash_split" -> ((s, dir) => {
      // Deterministic train/val/test assignment by content-stable hash:
      // split = band of md5(doc_id) — a document's split NEVER changes
      // when the corpus grows or shrinks (the property row_number-range
      // splits lack, and the reason every production pipeline splits by
      // hash). Pure projection: zero shuffles at any corpus size; the
      // band compare is on the hex prefix, identical ASCII ordering in
      // both engines ('0d'/256 ≈ 5% test, next ≈ 5% val, rest train).
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          substring(md5(col("doc_id").cast("string")), 1, 2).as("bucket"))
        .select(col("doc_id"), col("bucket"),
          when(col("bucket") < "0d", lit("test"))
            .when(col("bucket") < "1a", lit("val"))
            .otherwise(lit("train")).as("split"))
    }),

    "q131_gopher_rules" -> ((s, dir) => {
      // Gopher-style rule-based quality filter (Rae et al. 2021, §A1.1):
      // word-count bounds, mean word length window, symbol-to-word ratio
      // (# and ellipsis), alphabetic-word fraction, and a stopword-presence
      // check — the cheap first gate a curation pipeline runs before any
      // model-based scoring. One codegen'd projection pass: every signal
      // derives from the text column in a single scan, zero shuffles at
      // any corpus size. Determinism: ratios on exact integer counts,
      // rounded once; the keep predicate compares UNROUNDED values
      // identically in both engines.
      val toks = Text.tokens(col("text"))
      val nw = size(toks).cast("long")
      val nonWs = length(regexp_replace(col("text"), "\\s", "")).cast("double")
      val nHash = (length(col("text")) - length(expr("replace(text, '#', '')"))).cast("double")
      val nEll = ((length(col("text")) - length(expr("replace(text, '...', '')"))).cast("double") / 3.0)
      val nAlpha = size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("double")
      val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val stopHits = stops.map(w => array_contains(toks, w).cast("int")).reduce(_ + _)
      val meanLen = nonWs / nw
      val symRatio = (nHash + nEll) / nw
      val alphaRatio = nAlpha / nw
      tbl(s, dir, "documents").select(
        col("doc_id"), nw.as("n_words"),
        round(meanLen, 4).as("mean_word_len"),
        round(symRatio, 4).as("symbol_ratio"),
        round(alphaRatio, 4).as("alpha_ratio"),
        stopHits.as("stop_hits"),
        (nw.between(25, 100000) && meanLen.between(3.0, 10.0) &&
          symRatio <= 0.1 && alphaRatio >= 0.8 && stopHits >= 2).as("keep"))
    }),

    "q132_c4_filters" -> ((s, dir) => {
      // C4-style heuristic document filter (Raffel et al. 2020, §2.2):
      // drop docs containing code braces or boilerplate markers ("lorem
      // ipsum", "javascript"), require a minimum of terminal-punctuation
      // sentences and words. Same scan shape as q131: one projection
      // pass, zero shuffles; counts via length arithmetic (no regex in
      // the hot path).
      def cnt(ch: String) =
        (length(col("text")) - length(expr(s"replace(text, '$ch', '')"))).cast("long")
      val lowerT = lower(col("text"))
      val nw = size(Text.tokens(col("text"))).cast("long")
      val nTerm = cnt(".") + cnt("!") + cnt("?")
      val hasBrace = col("text").contains("{")
      val hasLorem = lowerT.contains("lorem ipsum")
      val hasJs = lowerT.contains("javascript")
      tbl(s, dir, "documents").select(
        col("doc_id"), nw.as("n_words"), nTerm.as("n_terminal"),
        hasBrace.as("has_brace"), hasLorem.as("has_lorem"), hasJs.as("has_javascript"),
        (!hasBrace && !hasLorem && nTerm >= 3 && nw >= 5).as("keep"))
    }),

    "q133_dsir_weights" -> ((s, dir) => {
      // DSIR importance weights (Xie et al. 2023): score every document by
      // the log-likelihood ratio of its tokens under a TARGET unigram LM
      // (here: the English slice) vs the RAW pool LM (the rest), add-one
      // smoothed over the shared vocabulary — the data-selection signal
      // used to upsample target-like documents. Scale shape: ONE corpus
      // scan feeds the pinned (doc, lang, pos, term) stream; both LMs and
      // the 1-row totals are vocab-/constant-sized partial aggs of it;
      // the per-term log-ratio table joins back BY TERM (broadcast while
      // the vocab fits). Determinism (r12 re-plan): per-term ratios on a
      // 6-dp grid are summed as INTEGER micro-units — order-independent
      // and exact, so the per-doc agg is a plain map-combinable sum (no
      // ordered fold, no collect_list) and the oracle needs no per-doc
      // lists (its r11 sf10 OOM was exactly those lists over ~500M
      // tokens). The emitted double is one exact division of the
      // integer sum, identical in both engines at any magnitude.
      val pos = tbl(s, dir, "documents")
        .select(col("doc_id"), col("lang"), posexplode(Text.tokens(col("text"))))
        .select(col("doc_id"), col("lang"), col("pos"), col("col").as("term"))
        .cut()
      val isT = col("lang") === "en"
      val tgt = pos.filter(isT).groupBy(col("term")).agg(count(lit(1)).as("tcnt"))
      val raw = pos.filter(!isT).groupBy(col("term")).agg(count(lit(1)).as("rcnt"))
      val totals = pos.agg(
        sum(isT.cast("long")).as("ttot"),
        sum((!isT).cast("long")).as("rtot"),
        countDistinct(col("term")).as("v"))
      val lt = pos.select(col("term")).distinct()
        .join(tgt, Seq("term"), "left").join(raw, Seq("term"), "left")
        .crossJoin(broadcast(totals))
        .select(col("term"), round(log(
          ((coalesce(col("tcnt"), lit(0L)) + 1).cast("double") / (col("ttot") + col("v"))) /
          ((coalesce(col("rcnt"), lit(0L)) + 1).cast("double") / (col("rtot") + col("v")))), 6).as("lt"))
      pos.join(lt, Seq("term"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          // lt sits within 1 ulp of its 6-dp grid point, so lt*1e6 is
          // within ~1e-9 of an integer — round() lands both engines on
          // the same BIGINT micro-unit; the sum is exact integer math.
          sum(round(col("lt") * lit(1000000.0)).cast("long")).as("lrm"))
        .select(col("doc_id"), col("n_tokens"),
          // one exact division of the integer sum (0/1e6 = +0.0, no
          // signed-zero channel; correctly-rounded identically in IEEE)
          (col("lrm").cast("double") / lit(1000000.0)).as("log_ratio"),
          (col("lrm") > 0).as("keep"))
    }),

    "q134_mix_temperature" -> ((s, dir) => {
      // Temperature-scaled source mixing (multilingual/T5-style α-sampling
      // with α = 0.5): per-source sampling weight ∝ √n_tokens, plus the
      // expected epochs over each source for a fixed token budget — the
      // mixing table a training run is configured from. Scale shape: one
      // scan-local (source, count) partial agg; everything after is
      // source-count-sized. Determinism: √n rounded to 6 dp per source
      // (sqrt is IEEE-exact in both engines), denominator summed in
      // source order via the ordered fold.
      val st = tbl(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_tokens"))
        .select(col("source"), col("n_tokens"),
          round(sqrt(col("n_tokens").cast("double")), 6).as("sw"))
        .cut()
      val tot = st.agg(
        aggregate(array_sort(collect_list(struct(col("source"), col("sw")))),
          lit(0.0), (a, x) => a + x.getField("sw")).as("tot"))
      st.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"),
          round(col("sw") / col("tot"), 6).as("weight"),
          round(col("sw") / col("tot") * lit(1000000.0) / col("n_tokens"), 4)
            .as("expected_epochs"))
    }),

    "q135_token_shards" -> ((s, dir) => {
      // Per-source token-budget sharding: contiguous doc runs (by id)
      // packed into ~2000-token training shards — the planning step that
      // turns a curated corpus into fixed-budget data files. The cumsum
      // window is partitioned BY SOURCE (never a global single-partition
      // window — the q119 lesson): each source's prefix sums shuffle and
      // sort independently, so the operator scales with the widest
      // source, not the corpus. All-integer arithmetic, no float drift.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr("cum_before div 2000").as("shard_id"),
          (col("cum_before") % 2000).as("shard_offset"))
    }),

    "q100_corpus_mix" -> ((s, dir) => {
      // Deterministic mix-to-target (static DoReMi shape): keep the
      // largest subset hitting 50/30/20 en/de/fr token proportions.
      // One tiny totals aggregate + one codegen'd hash filter.
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("lang"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
      graft.operators.Sampling.mixToTarget(
          docs, "lang", "doc_id", "n_tokens",
          Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    }),

    "q99_sliding_chunks" -> ((s, dir) =>
      // Sliding-window chunking (embedding/RAG prep): 40-token windows,
      // 10-token overlap. Shuffle-free explode (see Sampling scaladoc).
      graft.operators.Sampling.slidingChunks(
        tbl(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", size = 40, overlap = 10)),

    "q98_inverted_index" -> ((s, dir) => {
      // Inverted-index build (the search-engine half of a curation
      // pipeline): token explode -> one groupBy term -> sorted, capped
      // posting lists as JSON. df is the full distinct-doc count even
      // where the posting list is capped, so rare-vs-common term stats
      // survive the cap; collect_set keeps per-term state bounded by
      // distinct docs, and the cap bounds the OUTPUT, which is what
      // explodes at corpus scale.
      tbl(s, dir, "documents")
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"),
          sort_array(collect_set(col("doc_id"))).as("docs"))
        .filter(col("df") >= 50)
        .select(col("term"), col("df"),
          to_json(slice(col("docs"), 1, 20)).as("postings"))
    }),

    "q60_langid_ngram" -> ((s, dir) =>
      tbl(s, dir, "documents").select(
        col("doc_id"), col("lang").as("actual_lang"),
        graft.plans.TextKernels.langIdNative(col("text"), ngramProfiles)
          .as("pred_lang"))),
    "q61_winnowing" -> ((s, dir) => {
      // Native kernel; fp referenced twice (size + hash), so compute it
      // once per reference — still ~250x cheaper than the HOF form.
      val fp = graft.plans.TextKernels.winnowingNative(col("text"), 5, 4)
      tbl(s, dir, "documents").select(
        col("doc_id"), size(fp).as("n_fp"),
        Text.md5Hex(concat_ws(",", fp)).as("fp_hash"))
    }),
    "q66_bucketed_near_pairs" -> ((s, dir) => {
      // The SCALE-SAFE near-dup path (vs q40's bounded brute-force demo):
      // hyperplane-LSH buckets → bucket-local self-join. Candidate pairs
      // are O(sum of bucket² sizes), never all-pairs.
      val e = tbl(s, dir, "embeddings")
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      Similarity.nearDuplicatePairs(e, "vec_id", "embedding",
          nPlanes = 4, dim = dim, threshold = 0.3)
        .withColumn("cosine_sim", round(col("cosine_sim"), 4))
    }),
    "q109_jaccard_join" -> ((s, dir) =>
      // EXACT set-similarity self-join (PPJoin prefix filter + verify)
      // at J >= 4/5 over 3-gram shingle SETS (word sets are degenerate
      // in this corpus — tiny shared vocabulary makes nearly all pairs
      // similar; shingles discriminate). The oracle is the BRUTE-FORCE
      // all-pairs Jaccard — matching it proves the prefix filter
      // dropped no qualifying pair.
      graft.operators.Dedup.jaccardJoin(
        tbl(s, dir, "documents")
          // Spread BEFORE the shingle projection so it computes in
          // parallel (the projection runs below any later exchange).
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"),
            graft.plans.TextKernels.wordShinglesNative(col("text"), 3).as("toks")),
        "doc_id", "toks", tNum = 4, tDen = 5)),

    // ── Benchmark decontamination: train/eval n-gram overlap ────────────
    "q78_contamination" -> ((s, dir) => {
      // Distinct 3-gram shingles per doc, eval (doc_id < 50) joined to
      // train on the shingle key — the standard pretraining-vs-benchmark
      // overlap check. Candidate generation is an equi-join on shingles
      // (partition by shingle hash), never a doc×doc product.
      // The plan references the shingle table three times (eval side,
      // train side, df cap). Materialize it ONCE — repartition for
      // explode parallelism (single local file = one task otherwise),
      // a cut to pin the result (the Closure.scala pattern).
      // Probe-measured at sf0.1: recompute-per-reference 5.1 s,
      // materialized 2.2 s; at 100 TB recomputing the corpus shingle
      // scan three times is the difference between one pass and three.
      val sh = tbl(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"),
          explode(array_distinct(
            graft.plans.TextKernels.wordShinglesNative(col("text"), 3))).as("shingle"))
        .cut()
      val ev = sh.filter(col("doc_id") < 50)
        .select(col("doc_id").as("eval_id"), col("shingle"))
      val tr = sh.filter(col("doc_id") >= 50)
        .select(col("doc_id").as("train_id"), col("shingle"))
      // Doc-frequency cap: a shingle present in >64 train docs is corpus
      // boilerplate, not contamination signal — and at 100 TB it is the
      // skew killer (one hot trigram funnels every doc through one
      // reducer and inflates candidates quadratically). One bounded
      // groupBy caps the join's per-key fan-out at 64.
      val rare = tr.groupBy(col("shingle"))
        .agg(countDistinct(col("train_id")).as("df"))
        .filter(col("df") <= 64).select(col("shingle"))
      ev.join(tr, Seq("shingle"))
        .join(rare, Seq("shingle"), "left_semi")
        .groupBy(col("eval_id"))
        .agg(countDistinct(col("shingle")).as("n_shared_shingles"),
          countDistinct(col("train_id")).as("n_contaminating_docs"))
    }),

    // ── Corpus shaping: deterministic sampling + sequence packing ───────
    "q76_stratified_sample" -> ((s, dir) =>
      graft.operators.Sampling.stratifiedSample(
        tbl(s, dir, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id", Map("en" -> 0.5), defaultRate = 0.2)),
    "q77_sequence_packing" -> ((s, dir) =>
      graft.operators.Sampling.chunkAssignments(
        tbl(s, dir, "documents").select(col("doc_id"), col("lang"),
          size(Text.tokens(col("text"))).cast("long").as("n_tokens")),
        "lang", "doc_id", "n_tokens", budget = 2048)),
    "q56_doc_stats_view" -> ((s, dir) => {
      graft.api.SqlViews.register(s, dir)
      s.sql(
        """SELECT lang, count(*) AS n_docs, sum(n_tokens) AS total_tokens
           FROM document_stats GROUP BY lang""")
    }),
    "q62_sql_kernels" -> ((s, dir) => {
      // Custom Catalyst kernels exposed as SQL functions via
      // GraftFunctions/GraftExtensions; same oracle as the DataFrame form.
      graft.plans.GraftFunctions.register(s)
      graft.api.SqlViews.register(s, dir)
      s.sql("SELECT doc_id, graft_simhash16(text) AS simhash FROM documents")
    }),

    "q210_tfidf_topk" -> ((s, dir) => {
      // TF-IDF top-3 terms per document — the keyword-extraction face of
      // the q123 retrieval stack, finished by the NATIVE TopKPerKey
      // operator (partial pass bounds every map partition to k rows per
      // doc BEFORE the exchange — no full (doc,term) window sort).
      // Scale shape: tf IS the postings list (the artifact an index
      // build materializes anyway) — pinned once, feeding both the
      // vocab-sized df rollup and the scoring join; n_docs is one
      // broadcast row. Determinism: idf = ln(N/df) rounded to 6 dp
      // before the integer-tf multiply, product re-rounded (the
      // q87/q123 cross-engine ln rule); ties break on term asc.
      val docs = tbl(s, dir, "documents")
      val tf = docs
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .cut()
      val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(df_, Seq("term"))
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("term"), col("tf"),
          round(col("tf") * round(log(col("n_docs").cast("double") / col("df")), 6), 6)
            .as("tfidf"))
      org.apache.spark.sql.graft.TopKPerKey(scored, Seq("doc_id"),
        Seq(("tfidf", false), ("term", true)), k = 3)
    }),

    "q224_ks_two_sample" -> ((s, dir) => {
      // Two-sample Kolmogorov–Smirnov on document length (src0 vs src1):
      // the distribution-drift test a corpus monitor runs between two
      // snapshots. The ECDF gap is evaluated on the VALUE GRID (distinct
      // n_chars, domain-bounded — thousands of rows at any corpus size),
      // so the cumulative counts ride the n²-bounded triangular rank —
      // never a global per-document window. The max of per-grid-point
      // double gaps is order-free; D_crit is the α=0.05 large-sample
      // bound 1.358·√((n0+n1)/(n0·n1)).
      val d = tbl(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("n_chars"), col("source"))
      val grid = d.groupBy(col("n_chars")).agg(
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("c0"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("c1"))
        .cut()
      val cum = operators.ScalableWindow.boundedRankCum(grid,
        Seq(("n_chars", true)), "t", Seq(("c0", "cum0"), ("c1", "cum1")))
      val tot = grid.agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
      val dCrit = round(lit(1.358) *
        sqrt((col("n0") + col("n1")).cast("double") /
          (col("n0") * col("n1")).cast("double")), 6)
      cum.crossJoin(broadcast(tot))
        .select(col("n0"), col("n1"),
          abs(col("cum0").cast("double") / col("n0").cast("double") -
            col("cum1").cast("double") / col("n1").cast("double")).as("gap"))
        .groupBy(col("n0"), col("n1"))
        .agg(round(max(col("gap")), 6).as("ks_stat"))
        .select(col("n0"), col("n1"), col("ks_stat"), dCrit.as("d_crit"),
          (col("ks_stat") > dCrit).as("reject_h0"))
    }),

    "q227_mann_whitney_u" -> ((s, dir) => {
      // Mann–Whitney rank-sum test on document length (src2 vs src3) —
      // the nonparametric mean-shift companion to q224's KS. Ranks are
      // computed on the VALUE GRID with exact tie handling: doubling the
      // average-rank identity (2·R₁ = Σc₁·(2·cum_before + c + 1)) keeps
      // the rank sum an exact integer, and the tie correction Σ(c³−c)
      // is integer too — the only doubles are the final z sequence. The
      // grid rides the n²-bounded triangular rank, never a per-document
      // window.
      val d = tbl(s, dir, "documents")
        .filter(col("source").isin("src2", "src3"))
        .select(col("n_chars"), col("source"))
      val grid = d.groupBy(col("n_chars")).agg(
        sum(when(col("source") === "src2", 1L).otherwise(0L)).as("c1"),
        sum(when(col("source") === "src3", 1L).otherwise(0L)).as("c2"))
        .withColumn("c", col("c1") + col("c2"))
        .cut()
      val cum = operators.ScalableWindow.boundedRankCum(grid,
        Seq(("n_chars", true)), "t", Seq(("c", "cumc")))
      val tot = grid.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(col("c") * col("c") * col("c") - col("c")).as("ties"))
      val r1x2 = cum.select((col("c1") *
          (lit(2L) * (col("cumc") - col("c")) + col("c") + lit(1L))).as("rx"))
        .agg(sum(col("rx")).as("r1x2"))
      def dd(c: String): Column = col(c).cast("double")
      r1x2.crossJoin(broadcast(tot))
        .withColumn("u2", col("r1x2") - col("n1") * (col("n1") + lit(1L)))
        .withColumn("nn", (col("n1") + col("n2")).cast("double"))
        .select(col("n1"), col("n2"),
          (col("u2").cast("double") / lit(2.0)).as("u_stat"),
          round((col("u2").cast("double") / lit(2.0) -
            dd("n1") * dd("n2") / lit(2.0)) /
            sqrt(dd("n1") * dd("n2") / lit(12.0) *
              ((col("nn") + lit(1.0)) - dd("ties") /
                (col("nn") * (col("nn") - lit(1.0))))), 4).as("z_stat"))
    }),

    "q245_phrase_proximity" -> ((s, dir) => {
      // Positional phrase-proximity search: documents where "hash" and
      // "join" occur within 3 tokens — the posting-list intersection a
      // search engine runs for NEAR queries, on the engine's standard
      // whitespace-token contract. The positional explode is one corpus
      // scan; each term's postings are filtered BEFORE the doc-keyed
      // equi-join (posting-list-sized, never token×token); the distance
      // predicate rides the join.
      val toks = tbl(s, dir, "documents").select(col("doc_id"),
        posexplode(Text.tokens(col("text"))).as(Seq("pos", "tok")))
      val a = toks.filter(col("tok") === "hash")
        .select(col("doc_id"), col("pos").as("pa"))
      val b = toks.filter(col("tok") === "join")
        .select(col("doc_id"), col("pos").as("pb"))
      a.join(b, Seq("doc_id"))
        .filter(abs(col("pa") - col("pb")) <= 3)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_pairs"),
          min(abs(col("pa") - col("pb"))).cast("bigint").as("min_dist"))
    }),

    "q252_collocations_g2" -> ((s, dir) => {
      // Collocation strength by log-likelihood ratio (Dunning's G²) —
      // the significance-aware companion to q126's PMI: G² = 2·ΣO·ln(O/E)
      // over each bigram's 2×2 contingency table. Margins re-aggregate
      // the BIGRAM-TYPE table (never a second corpus scan) and ride
      // broadcast; every G² is a per-row scalar formula of that row's
      // exact integer counts — no folds anywhere, so ordering cannot
      // perturb it. Top-20 by (G² desc, bigram) is a
      // TakeOrderedAndProject tail.
      val toks = tbl(s, dir, "documents").select(col("doc_id"),
        posexplode(Text.tokens(col("text"))).as(Seq("pos", "tok")))
      val big = toks.as("x").join(toks.as("y"),
          col("x.doc_id") === col("y.doc_id") &&
            col("y.pos") === col("x.pos") + 1)
        .groupBy(col("x.tok").as("w1"), col("y.tok").as("w2"))
        .agg(count(lit(1)).as("o11")).cut()
      val c1 = big.groupBy(col("w1")).agg(sum(col("o11")).as("c1"))
      val c2 = big.groupBy(col("w2")).agg(sum(col("o11")).as("c2"))
      val nTot = big.agg(sum(col("o11")).as("nn"))
      def term(o: Column, e: Column): Column =
        when(o > 0, o.cast("double") * log(o.cast("double") / e)).otherwise(lit(0.0))
      val scored = big.filter(col("o11") >= 5)
        .join(broadcast(c1), Seq("w1")).join(broadcast(c2), Seq("w2"))
        .crossJoin(broadcast(nTot))
        .withColumn("o12", col("c1") - col("o11"))
        .withColumn("o21", col("c2") - col("o11"))
        .withColumn("o22", col("nn") - col("c1") - col("c2") + col("o11"))
      def d(c: String): Column = col(c).cast("double")
      val e11 = d("c1") * d("c2") / d("nn")
      val e12 = d("c1") * (d("nn") - d("c2")) / d("nn")
      val e21 = (d("nn") - d("c1")) * d("c2") / d("nn")
      val e22 = (d("nn") - d("c1")) * (d("nn") - d("c2")) / d("nn")
      scored.select(col("w1"), col("w2"), col("o11"),
          round(lit(2.0) * (term(col("o11"), e11) + term(col("o12"), e12) +
            term(col("o21"), e21) + term(col("o22"), e22)), 4).as("g2"))
        .orderBy(col("g2").desc, col("w1"), col("w2")).limit(20)
    }),

    "q253_rake_keywords" -> ((s, dir) => {
      // RAKE-style keyword scoring: phrases are maximal runs of
      // non-stopword tokens (the gaps-and-islands key pos − row_number,
      // partitioned PER DOCUMENT — never a global window), each word
      // scores degree/frequency where degree sums the lengths of the
      // phrases it appears in. Phrase assembly is doc-local; the word
      // table is vocabulary-bounded; top-15 is a top-k tail.
      val stop = Seq("a", "the", "of", "and", "to", "in")
      val toks = tbl(s, dir, "documents").select(col("doc_id"),
        posexplode(Text.tokens(col("text"))).as(Seq("pos", "tok")))
        .filter(!col("tok").isin(stop: _*) && col("tok") =!= "")
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val phr = toks.withColumn("grp", col("pos") - row_number().over(w))
      val plen = phr.groupBy(col("doc_id"), col("grp"))
        .agg(count(lit(1)).as("plen"))
      val occ = phr.join(plen, Seq("doc_id", "grp"))
      occ.groupBy(col("tok").as("word"))
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degree"))
        .select(col("word"), col("freq"), col("degree"),
          round(col("degree").cast("double") / col("freq").cast("double"), 4)
            .as("rake_score"))
        .orderBy(col("rake_score").desc, col("word")).limit(15)
    }),

    "q269_burrows_delta" -> ((s, dir) => {
      // Burrows's Delta stylometry between sources: z-score each
      // source's relative frequency of the 15 globally-commonest words
      // against the cross-source mean/std, Delta(s1,s2) = mean_w
      // |z₁−z₂|. Corpus-sized work is ONE (source, word) count; every
      // later stage lives on the (20 sources × 15 words) grid, where
      // float sums fold ordered (by source, then by word) with a 10-dp
      // fixed point so DuckDB's list_reduce replays them exactly.
      val toks = tbl(s, dir, "documents")
        .select(col("source"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
      val counts = toks.groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("c"))
        .cut()
      val totals = counts.groupBy(col("source")).agg(sum(col("c")).as("t"))
      val top = counts.groupBy(col("w")).agg(sum(col("c")).as("tc"))
        .orderBy(col("tc").desc, col("w")).limit(15).select(col("w"))
      val grid = totals.crossJoin(broadcast(top))
        .join(counts, Seq("source", "w"), "left")
        .select(col("source"), col("w"),
          (coalesce(col("c"), lit(0L)).cast("double") / col("t").cast("double"))
            .as("f"))
        .cut()
      def fold(src: Column, v: Column): Column =
        aggregate(array_sort(collect_list(struct(src, v.as("v")))), lit(0.0),
          (acc, e) => round(acc + e.getField("v"), 10))
      val stats = grid.groupBy(col("w")).agg(
        fold(col("source"), col("f")).as("sf"),
        fold(col("source"), col("f") * col("f")).as("sf2"),
        count(lit(1)).as("ns"))
        .withColumn("mu", col("sf") / col("ns").cast("double"))
        .withColumn("sigma",
          sqrt((col("sf2") - col("ns").cast("double") * (col("mu") * col("mu")))
            / (col("ns").cast("double") - lit(1.0))))
      val z = grid.join(broadcast(stats.select(col("w"), col("mu"), col("sigma"))),
          Seq("w"))
        .select(col("source"), col("w"),
          when(col("sigma") > 0, (col("f") - col("mu")) / col("sigma"))
            .otherwise(lit(0.0)).as("z"))
      z.as("a").join(z.as("b"),
          col("a.w") === col("b.w") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(round(
          aggregate(array_sort(collect_list(struct(col("a.w"),
              abs(col("a.z") - col("b.z")).as("dz")))), lit(0.0),
            (acc, e) => round(acc + e.getField("dz"), 10))
            / count(lit(1)).cast("double"), 6).as("delta"))
    }),

    "q271_textrank" -> ((s, dir) => {
      // TextRank keyword extraction: weighted PageRank over the
      // adjacent-word co-occurrence graph (window 2, words ≥ 4 chars,
      // undirected with count weights — Mihalcea & Tarau 2004). The
      // pair stream is a doc-keyed lead window (no join); the iteration
      // is the graph tier's PageRank with caller weights, normalized
      // ONCE by exact integer out-weight sums. Complements q253's RAKE
      // (degree/freq heuristic) with the eigenvector-centrality signal.
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val toks = tbl(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(trim(lower(col("text"))), "\\s+")).as(Seq("pos", "tok")))
      val pairs = toks
        .withColumn("nxt", lead(col("tok"), 1).over(w))
        .filter(col("nxt").isNotNull && length(col("tok")) >= 4 &&
          length(col("nxt")) >= 4 && col("tok") =!= col("nxt"))
        .select(least(col("tok"), col("nxt")).as("wa"),
          greatest(col("tok"), col("nxt")).as("wb"))
      val und = pairs.groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("cnt"))
      val edges = und.select(col("wa").as("src"), col("wb").as("dst"), col("cnt"))
        .union(und.select(col("wb").as("src"), col("wa").as("dst"), col("cnt")))
      val nodes = edges.select(col("src").as("word")).distinct()
      graph.PageRank.runWeighted(edges, "src", "dst", "cnt", nodes, "word",
          damping = 0.85, iters = 10)
        .select(col("node").as("word"), round(col("rank"), 8).as("textrank"))
        .orderBy(col("textrank").desc, col("word")).limit(15)
    }),

    "q326_flesch_reading" -> ((s, dir) => {
      // Flesch reading-ease per source: words = [a-z]+ runs, syllables ≈
      // [aeiouy]+ vowel groups (the classic heuristic), sentences =
      // [.!?]+ runs floored at 1/doc. All three are exact integer counts
      // off one codegen'd regex scan; the formula is the only float step.
      val d = tbl(s, dir, "documents")
        .select(col("source"),
          size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"),
          size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
            .as("y"),
          greatest(lit(1),
            size(expr("regexp_extract_all(text, '[.!?]+', 0)"))).as("se"))
        .filter(col("w") > 0)
      def dd(c: String): Column = col(c).cast("double")
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("tw"),
          sum(col("y")).as("ty"), sum(col("se")).as("ts"))
        .select(col("source"), col("n_docs"),
          round(lit(206.835) - lit(1.015) * (dd("tw") / dd("ts"))
            - lit(84.6) * (dd("ty") / dd("tw")), 4).as("fre"))
    }),

    "q343_vocab_richness" -> ((s, dir) => {
      // Chao1 richness estimate and Good's coverage per source over
      // word BIGRAMS (the unigram vocabulary is dense — every type
      // repeats — so the estimator's f1/f2 tail lives at the bigram
      // granularity): D observed types, f1 singletons, f2 doubletons →
      // Chao1 = D + f1²/(2f2) (NULL when f2 = 0 — Spark's ANSI double
      // divide raises on /0, and the estimator is undefined there
      // anyway), C = 1 − f1/N. All inputs exact integers.
      val tf = tbl(s, dir, "documents")
        .select(col("source"),
          // Native one-pass shingle kernel (r13): byte-identical to the
          // HOF form (FunctionsSpec parity), no interpreted lambda per gram.
          explode(graft.plans.TextKernels.wordShinglesNative(
            lower(col("text")), 2)).as("g"))
        .groupBy(col("source"), col("g")).agg(count(lit(1)).as("f"))
      def d(c: String): Column = col(c).cast("double")
      tf.groupBy(col("source"))
        .agg(count(lit(1)).as("d_types"), sum(col("f")).as("n_tokens"),
          sum(when(col("f") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("f") === 2, 1L).otherwise(0L)).as("f2"))
        .select(col("source"), col("d_types"), col("n_tokens"), col("f1"),
          col("f2"),
          when(col("f2") > 0, round(d("d_types") + d("f1") * d("f1")
            / (lit(2.0) * d("f2")), 2)).otherwise(lit(null).cast("double"))
            .as("chao1"),
          round(lit(1.0) - d("f1") / d("n_tokens"), 6).as("good_coverage"))
    }),

    "q344_good_turing" -> ((s, dir) => {
      // Good–Turing frequency re-estimation over the global BIGRAM
      // distribution (bigrams carry the low-frequency tail the
      // estimator needs — see q343): r* = (r+1)·N_{r+1}/N_r for
      // r = 1..5 — the language-model smoothing table. Two grid
      // collapses (bigram frequencies → frequency-of-frequencies),
      // then a 5-row self-join; every input an exact integer.
      val fof = tbl(s, dir, "documents")
        .select(explode(graft.plans.TextKernels.wordShinglesNative(
            lower(col("text")), 2)).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("f"))
        .groupBy(col("f")).agg(count(lit(1)).as("nr"))
        .cut()
      def d(c: Column): Column = c.cast("double")
      fof.as("a").join(fof.as("b"), col("a.f") + 1 === col("b.f"))
        .filter(col("a.f") <= 5)
        .select(col("a.f").as("r"), col("a.nr").as("n_r"),
          col("b.nr").as("n_r1"),
          round((d(col("a.f")) + lit(1.0)) * d(col("b.nr"))
            / d(col("a.nr")), 6).as("r_star"))
    }),

    "q349_kneser_ney" -> ((s, dir) => {
      // Interpolated Kneser–Ney bigram model (d = 0.75): top-3
      // continuations per context by P_KN(w|v) = max(c(vw)−d,0)/c(v)
      // + d·N1+(v·)/c(v) · N1+(·w)/N1+(··) — the production LM
      // smoothing next to q167's add-k bigram LM. Every count is an
      // exact integer on the bigram grid; P_KN is one closed-form
      // double, bit-agreed, so the per-context top-3 (native
      // TopKPerKey, ties on the word) matches the oracle's
      // row_number replay.
      val big = tbl(s, dir, "documents")
        .select(explode(graft.plans.TextKernels.wordShinglesNative(
            lower(col("text")), 2)).as("g"))
        .select(split(col("g"), " ").getItem(0).as("v"),
          split(col("g"), " ").getItem(1).as("w"))
        .groupBy(col("v"), col("w")).agg(count(lit(1)).as("cb"))
        .cut()
      val cv = big.groupBy(col("v"))
        .agg(sum(col("cb")).as("cvv"), count(lit(1)).as("n1v"))
      val contW = big.groupBy(col("w")).agg(count(lit(1)).as("n1w"))
      val totB = big.agg(count(lit(1)).as("nbb"))
      def d(c: String): Column = col(c).cast("double")
      val p = big.join(cv, Seq("v")).join(contW, Seq("w"))
        .crossJoin(broadcast(totB))
        .withColumn("pkn",
          greatest(d("cb") - lit(0.75), lit(0.0)) / d("cvv")
            + (lit(0.75) * d("n1v") / d("cvv"))
              * (d("n1w") / d("nbb")))
      org.apache.spark.sql.graft.TopKPerKey(p, Seq("v"),
          Seq(("pkn", false), ("w", true)), k = 3)
        .select(col("v"), col("w"), round(col("pkn"), 6).as("p_kn"))
    }),

    "q331_token_fertility" -> ((s, dir) => {
      // Tokenizer-fertility profile per language: characters per
      // whitespace token and tokens per document — the "how expensive is
      // this language under a byte-level tokenizer" planning table.
      // Exact integer sums off one scan (the token count reuses the
      // engine's whitespace contract).
      val d = tbl(s, dir, "documents")
        .select(col("lang"), col("n_chars"),
          size(Text.tokens(col("text"))).as("ntok"))
        .filter(col("ntok") > 0)
      def dd(c: String): Column = col(c).cast("double")
      d.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("tc"),
          sum(col("ntok")).as("tt"))
        .select(col("lang"), col("n_docs"),
          round(dd("tc") / dd("tt"), 6).as("chars_per_token"),
          round(dd("tt") / dd("n_docs"), 6).as("tokens_per_doc"))
    }),

    "q368_anagram_groups" -> ((s, dir) => {
      // Anagram-class collapse: the key is the string's SORTED character
      // multiset — the canonical-form trick every fuzzy-join tier here
      // uses (md5 class, simhash band, LSH bucket) in its purest form:
      // one groupBy on a derived key, NO pair join at all. Runs over
      // q355's fixed-width customer codes (the synthetic vocabularies
      // carry no natural-language anagrams, while 8-hex codes collide as
      // character multisets by the pigeonhole, so the operator's
      // grouping is actually exercised). Integer counts and
      // lexicographic renders only.
      val codes = tbl(s, dir, "customer")
        .select(substring(md5(concat(lit("ph_"),
          col("c_custkey").cast("string"))), 1, 8).as("w"))
        .distinct()
      codes
        .select(array_join(array_sort(split(col("w"), "")), "").as("sig"),
          col("w"))
        .groupBy(col("sig"))
        .agg(count(lit(1)).as("n_words"),
          array_join(array_sort(collect_set(col("w"))), "|").as("words"))
        .filter(col("n_words") >= 2)
    }),

    "q387_krippendorff_alpha" -> ((s, dir) => {
      // Krippendorff's α (nominal, two raters, no missing) between the
      // engine's TWO independent language-ID heuristics — the stopword
      // voter (q35) and the native char-ngram kernel (q60) — the
      // inter-annotator agreement a labeling pipeline reports where
      // Cohen's κ (q281/q305) assumes exactly two raters and
      // per-rater marginals; α uses the pooled coincidence matrix:
      // α = 1 − (N−1)·Σ_{c≠k} o_ck / (N² − Σ_c n_c²), every term an
      // exact integer (N = 2·units), so α is ONE double division.
      val toks = graft.functions.Text.tokens(col("text"))
      val labs = tbl(s, dir, "documents").select(
          graft.functions.Text.langIdByStopwords(toks, QueryDsl.langMarkers).as("a"),
          graft.plans.TextKernels.langIdNative(col("text"), QueryDsl.ngramProfiles)
            .as("b"))
        .cut()
      val coin = labs.select(col("a").as("c"), col("b").as("k"))
        .union(labs.select(col("b").as("c"), col("a").as("k")))
        .groupBy(col("c"), col("k")).agg(count(lit(1)).as("o"))
        .cut()
      val nc = coin.groupBy(col("c")).agg(sum(col("o")).as("n_c"))
      val tot = coin.agg(sum(col("o")).as("bign"),
        sum(when(col("c") =!= col("k"), col("o")).otherwise(0L)).as("o_off"))
      val sq = nc.agg(sum((col("n_c") * col("n_c")).cast("decimal(38,0)"))
        .as("sn2"))
      tot.crossJoin(broadcast(sq))
        .select((col("bign") / 2).cast("long").as("n_units"),
          (col("o_off") / 2).cast("long").as("n_disagree"),
          round(lit(1.0) - (col("bign") - 1).cast("double") *
            col("o_off").cast("double") /
            (col("bign").cast("double") * col("bign").cast("double") -
              col("sn2").cast("double")), 6).as("alpha"))
    }),

    "q375_bcubed_eval" -> ((s, dir) => {
      // B-cubed precision/recall/F1 of the simhash-bucket clustering
      // (top 6 bits → 64 buckets) against the language labels — the
      // third clustering-eval face (purity/NMI q284, silhouette q331)
      // and the one item-weighted metric of the family. Everything
      // reduces to the (cluster, label) contingency cells (≤ 64·|langs|
      // at any scale): P = Σ n_cl²/n_c / N, R = Σ n_cl²/n_l / N, the
      // per-cell terms folded in (cluster, label) order on the 9-dp
      // grid.
      val cells = tbl(s, dir, "documents")
        .select(shiftright(graft.plans.TextKernels.simhash16Native(col("text")),
          10).as("c"), col("lang").as("l"))
        .groupBy(col("c"), col("l")).agg(count(lit(1)).as("n_cl"))
        .cut()
      val nc = cells.groupBy(col("c")).agg(sum(col("n_cl")).as("n_c"))
      val nl = cells.groupBy(col("l")).agg(sum(col("n_cl")).as("n_l"))
      val tot = cells.agg(sum(col("n_cl")).as("n"))
      def fold(w: Column) =
        aggregate(array_sort(collect_list(struct(col("c"), col("l"), w.as("w")))),
          lit(0.0), (a, e) => a + e.getField("w"))
      val joined = cells.join(broadcast(nc), Seq("c"))
        .join(broadcast(nl), Seq("l")).crossJoin(broadcast(tot))
      val d = (cc: String) => col(cc).cast("double")
      joined
        .groupBy(col("n"))
        .agg(fold(round(d("n_cl") * d("n_cl") / d("n_c"), 9)).as("sp"),
          fold(round(d("n_cl") * d("n_cl") / d("n_l"), 9)).as("sr"))
        .select(col("n").as("n_docs"),
          round(col("sp") / d("n"), 6).as("bcubed_p"),
          round(col("sr") / d("n"), 6).as("bcubed_r"),
          round(lit(2.0) * (col("sp") / d("n")) * (col("sr") / d("n")) /
            (col("sp") / d("n") + col("sr") / d("n")), 6).as("bcubed_f1"))
    }),

    "q369_sparse_cosine_join" -> ((s, dir) => {
      // Sparse tf-idf cosine similarity join via the inverted index —
      // the document-analog of the supplier co-purchase join: doc pairs
      // meet ONLY through shared RARE terms (2 ≤ df ≤ 50, the DAAT
      // blocking contract: a term seen everywhere carries no pair
      // signal and would drive the per-term pair fanout quadratic), so
      // the shuffle is Σ df² over rare terms, never docs². Cosine is
      // over the rare-term projection; every per-pair dot and per-doc
      // norm folds its term partials in term order on the 9-dp grid
      // (the q123 float contract).
      val docs = tbl(s, dir, "documents")
      val tf = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .cut()
      val nDocs = docs.agg(count(lit(1)).as("nd"))
      val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= 50)
      val w = tf.join(dfT, Seq("term")).crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("term"),
          (col("tf").cast("double") *
            log(col("nd").cast("double") / col("df").cast("double"))).as("w"))
        .cut()
      val norms = w.select(col("doc_id"), col("term"),
          round(col("w") * col("w"), 9).as("w2"))
        .groupBy(col("doc_id"))
        .agg(sqrt(aggregate(array_sort(collect_list(struct(col("term"), col("w2")))),
          lit(0.0), (a, e) => a + e.getField("w2"))).as("norm"))
      val a = w.select(col("term"), col("doc_id").as("doc_a"), col("w").as("wa"))
      val b = w.select(col("term"), col("doc_id").as("doc_b"), col("w").as("wb"))
      val dots = a.join(b, Seq("term"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("term"),
          round(col("wa") * col("wb"), 9).as("p"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(aggregate(array_sort(collect_list(struct(col("term"), col("p")))),
          lit(0.0), (acc, e) => acc + e.getField("p")).as("dot"))
      dots
        .join(norms.select(col("doc_id").as("doc_a"), col("norm").as("na")), Seq("doc_a"))
        .join(norms.select(col("doc_id").as("doc_b"), col("norm").as("nb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round(col("dot") / (col("na") * col("nb")), 6).as("cosine"))
        .filter(col("cosine") >= 0.3)
    }),

    "q395_fleiss_kappa" -> ((s, dir) => {
      // Fleiss' κ for THREE deterministic raters over two categories —
      // the multi-rater agreement statistic beside Cohen's κ (q281/q305,
      // exactly two raters) and Krippendorff's α (q387, pooled
      // coincidences). The raters are three independent "substantial
      // document" screens (char count, token count, distinct-token
      // count, fixed integer thresholds); per item m = votes for
      // category 1, P_i = (m² + (3−m)² − 3)/6, κ = (P̄−P_e)/(1−P_e)
      // with P_e = p₁² + p₂². Every sum is an exact BIGINT over one
      // codegen'd scan; the finals are fixed double expressions both
      // engines evaluate identically.
      val toks = graft.functions.Text.tokens(col("text"))
      val m = (when(col("n_chars") >= 300, 1L).otherwise(0L) +
        when(size(toks) >= 55, 1L).otherwise(0L) +
        when(size(array_distinct(toks)) >= 27, 1L).otherwise(0L)).as("m")
      val a = tbl(s, dir, "documents").select(m)
        .agg(count(lit(1)).as("n_docs"), sum(col("m")).as("sm"),
          sum(col("m") * col("m") +
            (lit(3L) - col("m")) * (lit(3L) - col("m"))).as("sq"))
      val n = col("n_docs").cast("double")
      val pbar = (col("sq").cast("double") - lit(3.0) * n) / (lit(6.0) * n)
      val p1 = col("sm").cast("double") / (lit(3.0) * n)
      val pe = p1 * p1 + (lit(1.0) - p1) * (lit(1.0) - p1)
      a.select(col("n_docs"), round(pbar, 6).as("p_bar"),
        round(pe, 6).as("p_e"),
        round((pbar - pe) / (lit(1.0) - pe), 6).as("fleiss_kappa"))
    }),

    "q404_lexical_richness" -> ((s, dir) => {
      // The classical vocabulary-richness panel per source — Yule's K
      // (10⁴·(Σc²−N)/N², the repeat-rate index), Guiraud's R (V/√N),
      // Sichel's S (V₂/V) and Honoré's H (100·ln N/(1−V₁/V)) — the
      // length-robust complements of the raw TTR/hapax stats q151
      // reports and the Chao1 tail estimate q343 fits. One corpus scan
      // to (source, term) counts; Σc² rides decimal(38,0) (a hot
      // term's square would outgrow BIGINT at scale); H is NULL when
      // every type is a hapax (V₁ = V), CASE mirrored.
      val tf = tbl(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
      tf.groupBy(col("source"))
        .agg(sum(col("cnt")).as("n"), count(lit(1)).as("v"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("v1"),
          sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("v2"),
          sum(col("cnt").cast("decimal(38,0)") * col("cnt").cast("decimal(38,0)"))
            .as("sc2"))
        .select(col("source"), col("n").as("n_tokens"), col("v").as("n_types"),
          round(lit(10000.0) *
            (col("sc2").cast("double") - col("n").cast("double")) /
            (col("n").cast("double") * col("n").cast("double")), 4)
            .as("yules_k"),
          round(col("v").cast("double") / sqrt(col("n").cast("double")), 4)
            .as("guiraud_r"),
          round(col("v2").cast("double") / col("v").cast("double"), 6)
            .as("sichel_s"),
          when(col("v1") < col("v"),
            round(lit(100.0) * log(col("n").cast("double")) /
              (lit(1.0) - col("v1").cast("double") / col("v").cast("double")),
              4)).otherwise(lit(null).cast("double")).as("honore_h"))
    }),

    "q405_coleman_liau" -> ((s, dir) => {
      // Coleman–Liau readability per source under the declared
      // one-sentence-per-document convention (the synthetic corpus
      // carries no terminal punctuation, so each document is its one
      // sentence): CLI = 0.0588·L − 0.296·S − 15.8 with L = letters
      // per 100 words, S = sentences per 100 words — the char-count
      // sibling of Flesch (q326, which needs syllables). Letters strip
      // through one codegen'd regexp; every sum is exact.
      val d = tbl(s, dir, "documents").select(col("source"),
        length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long").as("l"),
        size(Text.tokens(col("text"))).cast("long").as("w"))
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("l")).as("sl"),
          sum(col("w")).as("sw"))
        .select(col("source"), col("n_docs"), col("sw").as("n_words"),
          round(col("sl").cast("double") / col("sw").cast("double"), 4)
            .as("avg_word_len"),
          round(lit(0.0588) *
            (lit(100.0) * col("sl").cast("double") / col("sw").cast("double")) -
            lit(0.296) *
            (lit(100.0) * col("n_docs").cast("double") / col("sw").cast("double")) -
            lit(15.8), 4).as("cli"))
    }),

    "q406_term_dispersion" -> ((s, dir) => {
      // Gries' deviation of proportions (DP) per frequent term: how
      // unevenly a term spreads across sources relative to the
      // sources' token-mass shares — 0 = perfectly proportional,
      // →1 = concentrated in one source; the dispersion complement of
      // the frequency-only Zipf/burstiness panel (q308/q309). The
      // dense term × source frame is vocabulary-bounded (tt ≥ 50 cap),
      // absent cells contribute |0 − s_i| via the coalesce, and the
      // 20 per-term |v−s| terms fold in source order on the 9-dp grid.
      val tf = tbl(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
        .cut()
      val tok = tf.groupBy(col("source")).agg(sum(col("cnt")).as("ntok"))
      val tot = tf.agg(sum(col("cnt")).as("tt"))
      val trm = tf.groupBy(col("term")).agg(sum(col("cnt")).as("ct"))
        .filter(col("ct") >= 50)
      trm.crossJoin(broadcast(tok))
        .join(tf, Seq("term", "source"), "left")
        .crossJoin(broadcast(tot))
        .select(col("term"), col("ct"), col("source"),
          round(abs(coalesce(col("cnt"), lit(0L)).cast("double") /
            col("ct").cast("double") -
            col("ntok").cast("double") / col("tt").cast("double")), 9).as("d"))
        .groupBy(col("term"), col("ct"))
        .agg(aggregate(array_sort(collect_list(struct(col("source"), col("d")))),
          lit(0.0), (a, e) => a + e.getField("d")).as("sd"))
        // unrounded (roundlint r11): Σ(9-dp d)/2 stays on a 5e-10 grid
        // that contains 6-dp half boundaries — boundary class
        .select(col("term"), col("ct").as("n_occurrences"),
          (col("sd") / lit(2.0)).as("dp"))
    }),

    "q414_v_measure" -> ((s, dir) => {
      // V-measure (homogeneity/completeness harmonic) of the simhash
      // buckets against the language labels — the entropy-based
      // external clustering eval beside purity/NMI (q284) and B-cubed
      // (q375), on the same bounded (cluster × label) contingency
      // cells: h = 1 − H(C|K)/H(C), c = 1 − H(K|C)/H(K). Entropy terms
      // round on the 9-dp grid and fold cell-ordered; the sums are
      // negated once at the end (one IEEE negate, never per-term).
      val cells = tbl(s, dir, "documents")
        .select(shiftright(graft.plans.TextKernels.simhash16Native(col("text")),
          10).as("c"), col("lang").as("l"))
        .groupBy(col("c"), col("l")).agg(count(lit(1)).as("n_cl"))
        .cut()
      val nc = cells.groupBy(col("c")).agg(sum(col("n_cl")).as("n_c"))
      val nl = cells.groupBy(col("l")).agg(sum(col("n_cl")).as("n_l"))
      val tot = cells.agg(sum(col("n_cl")).as("n"))
      def d(cn: String) = col(cn).cast("double")
      val joined = cells.join(broadcast(nc), Seq("c"))
        .join(broadcast(nl), Seq("l")).crossJoin(broadcast(tot))
      def foldCL(w: Column) =
        aggregate(array_sort(collect_list(struct(col("c"), col("l"), w.as("w")))),
          lit(0.0), (a, e) => a + e.getField("w"))
      val conds = joined.groupBy(col("n"))
        .agg(foldCL(round(d("n_cl") / d("n") * log(d("n_cl") / d("n_c")), 9))
            .as("fck"),
          foldCL(round(d("n_cl") / d("n") * log(d("n_cl") / d("n_l")), 9))
            .as("fkc"))
      val hc = nl.crossJoin(broadcast(tot)).agg(
        aggregate(array_sort(collect_list(struct(col("l"),
          round(d("n_l") / d("n") * log(d("n_l") / d("n")), 9).as("t")))),
          lit(0.0), (a, e) => a + e.getField("t")).as("fc"))
      val hk = nc.crossJoin(broadcast(tot)).agg(
        aggregate(array_sort(collect_list(struct(col("c"),
          round(d("n_c") / d("n") * log(d("n_c") / d("n")), 9).as("t")))),
          lit(0.0), (a, e) => a + e.getField("t")).as("fk"))
      val h = lit(1.0) - (-col("fck")) / (-col("fc"))
      val cm = lit(1.0) - (-col("fkc")) / (-col("fk"))
      conds.crossJoin(broadcast(hc)).crossJoin(broadcast(hk))
        .select(col("n").as("n_docs"), round(h, 6).as("homogeneity"),
          round(cm, 6).as("completeness"),
          round(lit(2.0) * h * cm / (h + cm), 6).as("v_measure"))
    }),

    "q415_umass_coherence" -> ((s, dir) => {
      // UMass topic coherence of each source's top-5 document-frequency
      // terms: Σ_{i<j} ln((D(wᵢ,wⱼ)+1)/D(wⱼ)) over rank-ordered pairs,
      // where D counts documents IN THE SOURCE containing the term(s)
      // — the intrinsic "do the salient terms actually co-occur"
      // check beside PMI collocations (q126) and salient terms (q87).
      // Top-5 is a source-partitioned window; the dense 10-pair grid
      // is catalog-bounded, zero co-occurrence survives via the LEFT
      // join (+1 smoothing), and the ≤10 terms fold rank-ordered.
      val dt = tbl(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          explode(array_distinct(Text.tokens(col("text")))).as("term"))
        .cut()
      val tf = dt.groupBy(col("source"), col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("df").desc, col("term").asc)
      val top = tf.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("source"), col("term"), col("rk"), col("df"))
        .cut()
      val pairs = top.select(col("source"), col("rk").as("ri"),
          col("term").as("wi"))
        .join(top.select(col("source"), col("rk").as("rj"),
          col("term").as("wj"), col("df").as("dfj")), Seq("source"))
        .filter(col("ri") < col("rj"))
      val a = dt.join(top.select(col("source"), col("term"),
          col("rk").as("ri")), Seq("source", "term"))
        .select(col("source"), col("doc_id"), col("ri"))
      val b = dt.join(top.select(col("source"), col("term"),
          col("rk").as("rj")), Seq("source", "term"))
        .select(col("source"), col("doc_id"), col("rj"))
      val codf = a.join(b, Seq("source", "doc_id"))
        .filter(col("ri") < col("rj"))
        .groupBy(col("source"), col("ri"), col("rj"))
        .agg(count(lit(1)).as("dij"))
      pairs.join(codf, Seq("source", "ri", "rj"), "left")
        .select(col("source"), col("ri"), col("rj"),
          round(log((coalesce(col("dij"), lit(0L)).cast("double") + lit(1.0)) /
            col("dfj").cast("double")), 9).as("t"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_pairs"),
          aggregate(array_sort(collect_list(struct(col("ri"), col("rj"),
            col("t")))), lit(0.0), (acc, e) => acc + e.getField("t"))
            .as("f"))
        // unrounded (roundlint r11): 9-dp term fold on a 6-dp output
        // grid — boundary class
        .select(col("source"), col("n_pairs"), col("f").as("coherence"))
    }),

    "q421_ess_token_weights" -> ((s, dir) => {
      // Effective sample size of token-proportional document sampling
      // per source: ESS = (Σw)²/Σw² with w = token count — the Kish
      // design-effect check a weighted sampler (q175) or a mix planner
      // (q134) runs before trusting its weights; ESS/n near 1 means
      // the weights are benign, near 1/n means one document dominates.
      // Both sums are exact integers (squares in decimal(38,0), the
      // q366 overflow discipline); ESS is one double expression.
      val d38 = "decimal(38,0)"
      val d = tbl(s, dir, "documents").select(col("source"),
        size(Text.tokens(col("text"))).cast("long").as("w"))
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("sw"),
          sum(col("w").cast(d38) * col("w").cast(d38)).as("sww"))
        .select(col("source"), col("n_docs"), col("sw").as("n_tokens"),
          round((col("sw").cast("double") * col("sw").cast("double")) /
            col("sww").cast("double"), 4).as("ess"),
          round((col("sw").cast("double") * col("sw").cast("double")) /
            col("sww").cast("double") / col("n_docs").cast("double"), 6)
            .as("ess_ratio"))
    }),

    "q432_chi2_terms" -> ((s, dir) => {
      // χ² feature selection: the most language-discriminative terms
      // via the 2×2 term-presence × language contingency —
      // χ² = N(ad−bc)²/(n_l(N−n_l)·df(N−df)), every cell an exact
      // integer, the ad−bc determinant in decimal(38,0) (q366
      // discipline). The dense term×lang grid is df-bounded
      // (20 ≤ df < N — an everywhere-term carries no signal and would
      // zero the denominator); top-3 per language by a
      // lang-partitioned window, tie-break on term.
      val dt = tbl(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          explode(array_distinct(Text.tokens(col("text")))).as("term"))
      val nDocs = tbl(s, dir, "documents").agg(count(lit(1)).as("nn"))
      val langN = tbl(s, dir, "documents").groupBy(col("lang"))
        .agg(count(lit(1)).as("nl"))
      val tl = dt.groupBy(col("term"), col("lang")).agg(count(lit(1)).as("a"))
        .cut()
      val tdf = tl.groupBy(col("term")).agg(sum(col("a")).as("df"))
      val d38 = "decimal(38,0)"
      val grid = tdf.crossJoin(broadcast(langN))
        .join(tl, Seq("term", "lang"), "left")
        .crossJoin(broadcast(nDocs))
        .filter(col("df") >= 20 && col("df") < col("nn"))
        .select(col("term"), col("lang"), col("nl"), col("df"), col("nn"),
          coalesce(col("a"), lit(0L)).as("a"))
      val b = col("nl") - col("a")
      val c = col("df") - col("a")
      val d = col("nn") - col("nl") - col("df") + col("a")
      val det = col("a").cast(d38) * d.cast(d38) - b.cast(d38) * c.cast(d38)
      val chi2 = col("nn").cast("double") *
        det.cast("double") * det.cast("double") /
        (col("nl").cast("double") * (col("nn") - col("nl")).cast("double") *
          col("df").cast("double") * (col("nn") - col("df")).cast("double"))
      val scored = grid.select(col("lang"), col("term"), col("a").as("n_in_lang"),
        chi2.as("chi2"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("chi2").desc, col("term").asc)
      scored.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("lang"), col("rk"), col("term"), col("n_in_lang"),
          round(col("chi2"), 4).as("chi2"))
    }),

    // ── Readability / intra-doc-structure tier (round 11) ───────────────

    "q475_readability_suite" -> ((s, dir) => {
      // The three classic readability indexes q326's Flesch face left
      // out, per source: Gunning fog (0.4·(W/S + 100·C/W)), SMOG
      // (1.043·√(C·30/S) + 3.1291), ARI (4.71·L/W + 0.5·W/S − 21.43) —
      // words/sentences/letters/complex-words are exact integer counts
      // (complex = ≥3 [aeiouy]+ vowel groups, the q326 syllable
      // heuristic applied per word), every index one fixed float
      // formula; √ is IEEE-exact, so the 4-dp rounds sit on
      // off-grid ratios (safe class).
      val words = tbl(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("text"),
          explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
            .as("w"))
        .select(col("source"), col("doc_id"),
          length(col("w")).as("wl"),
          (size(expr("regexp_extract_all(w, '[aeiouy]+', 0)")) >= 3)
            .cast("long").as("cx"))
      val perDoc = words.groupBy(col("source"), col("doc_id"))
        .agg(count(lit(1)).as("nw"), sum(col("wl")).as("nl"),
          sum(col("cx")).as("nc"))
      val sent = tbl(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          greatest(lit(1),
            size(expr("regexp_extract_all(text, '[.!?]+', 0)"))).as("ns"))
      def d(c: String): Column = col(c).cast("double")
      perDoc.join(sent, Seq("source", "doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("tw"),
          sum(col("nl")).as("tl"), sum(col("nc")).as("tc"),
          sum(col("ns")).as("ts"))
        .select(col("source"), col("n_docs"),
          round(lit(0.4) * (d("tw") / d("ts")
            + lit(100.0) * d("tc") / d("tw")), 4).as("gunning_fog"),
          round(lit(1.043) * sqrt(d("tc") * lit(30.0) / d("ts"))
            + lit(3.1291), 4).as("smog"),
          round(lit(4.71) * d("tl") / d("tw")
            + lit(0.5) * d("tw") / d("ts") - lit(21.43), 4).as("ari"))
    }),

    "q478_intra_doc_repeat" -> ((s, dir) => {
      // Within-document repetition detector: the max multiplicity of
      // any 8-token shingle INSIDE each doc — the loop/boilerplate
      // signal q143's char-3-gram ratio approximates, measured exactly
      // at phrase granularity (a doc whose top shingle repeats ≥3×
      // is degenerate-generation shaped). Shingles collapse per
      // (doc, gram) in one map-combinable pass — gram-bounded, never
      // doc²; the output is the per-source histogram of repeat levels.
      val toks = tbl(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          posexplode(graft.functions.Text.tokens(lower(col("text"))))
            .as(Seq("pos", "tok")))
      val grams = toks
        .withColumn("g8", concat_ws(" ",
          (0 until 8).map(k => lead(col("tok"), k).over(
            Window.partitionBy(col("doc_id")).orderBy(col("pos")))): _*))
        .filter(size(split(col("g8"), " ")) === 8)
      val rep = grams.groupBy(col("source"), col("doc_id"), col("g8"))
        .agg(count(lit(1)).as("m"))
        .groupBy(col("source"), col("doc_id"))
        .agg(max(col("m")).as("max_rep"))
      rep.groupBy(col("source"),
          least(col("max_rep"), lit(4L)).as("rep_level"))
        .agg(count(lit(1)).as("n_docs"))
        .select(col("source"), col("rep_level"), col("n_docs"))
    }),

    "q479_ttr_curve" -> ((s, dir) => {
      // Type-token-ratio curve at fixed prefix budgets (50/100/200
      // tokens) per source: TTR falls with length (Heaps), so
      // same-budget TTRs are the comparable lexical-diversity numbers
      // (q151's MATTR cousin on prefix windows). Positions come from
      // one posexplode; distinct types per (doc, budget) collapse
      // map-side; ratios of exact integers, averaged per source over
      // the doc-ordered fold.
      val toks = tbl(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          posexplode(graft.functions.Text.tokens(lower(col("text"))))
            .as(Seq("pos", "tok")))
        .cut()
      import s.implicits._
      val budgets = Seq(50, 100, 200).toDF("budget")
      val pref = toks.join(broadcast(budgets), col("pos") < col("budget"))
      val perDoc = pref.groupBy(col("source"), col("doc_id"), col("budget"))
        .agg(countDistinct(col("tok")).as("types"),
          count(lit(1)).as("toks"))
        .filter(col("toks") === col("budget"))
      def d(c: String): Column = col(c).cast("double")
      perDoc.groupBy(col("source"), col("budget"))
        .agg(count(lit(1)).as("n_docs"),
          (aggregate(array_sort(collect_list(struct(col("doc_id"),
            (d("types") / d("toks")).as("t")))), lit(0.0),
            (acc, x) => acc + x.getField("t")) / count(lit(1)))
            .as("mean_ttr"))
        .select(col("source"), col("budget"), col("n_docs"),
          col("mean_ttr"))
    }),

    "q480_bhattacharyya" -> ((s, dir) => {
      // Bhattacharyya coefficient/distance between each source's
      // document-length distribution and the corpus's, on the shared
      // 64-band integer grid (the q481 banding): BC = Σ√(p_j q_j),
      // BD = −ln BC. √ is IEEE-exact so the per-band terms are
      // identical doubles; they fold in band order; the one libm step
      // (ln) runs once on the final coefficient, guarded by the 6-dp
      // round.
      val d0 = tbl(s, dir, "documents").select(col("source"), col("n_chars"))
      val mx = d0.agg(max(col("n_chars")).as("mx"))
      val banded = d0.crossJoin(broadcast(mx))
        .select(col("source"),
          least(floor(col("n_chars") * lit(64) / (col("mx") + lit(1))),
            lit(63L)).cast("long").as("b"))
        .groupBy(col("source"), col("b")).agg(count(lit(1)).as("c"))
        .cut()
      val corp = banded.groupBy(col("b")).agg(sum(col("c")).as("cc"))
      val nsrc = banded.groupBy(col("source")).agg(sum(col("c")).as("ns"))
      val nall = banded.agg(sum(col("c")).as("na"))
      def d(c: String): Column = col(c).cast("double")
      val terms = banded.join(corp, Seq("b")).join(nsrc, Seq("source"))
        .crossJoin(broadcast(nall))
        .select(col("source"), col("ns"), col("b"),
          sqrt((d("c") / d("ns")) * (d("cc") / d("na"))).as("t"))
      terms.groupBy(col("source"), col("ns"))
        .agg(aggregate(array_sort(collect_list(struct(col("b"),
          col("t").as("t")))), lit(0.0),
          (acc, x) => acc + x.getField("t")).as("bc"))
        .select(col("source"), col("ns").as("n_docs"),
          col("bc").as("bhattacharyya_coef"),
          round(-log(col("bc")), 6).as("bhattacharyya_dist"))
    }),

    // ── Round-12 tier: collocation / agreement / novelty ────────────────

    "q491_pmi_bigrams" -> ((s, dir) => {
      // Top-20 adjacent-token collocations by pointwise mutual
      // information, PMI = ln((c_xy/N_bi)/((c_x/N_uni)(c_y/N_uni))) at
      // c_xy ≥ 5 — the collocation-extraction primitive under phrase
      // mining. One corpus scan feeds the (doc, pos, term) stream;
      // bigrams are the pos→pos+1 equi-join; unigram/bigram tables are
      // vocab-bounded; the top-20 is TakeOrderedAndProject on the
      // identical-IEEE pmi with (w1, w2) tiebreak.
      val pos = tbl(s, dir, "documents")
        .select(col("doc_id"), posexplode(Text.tokens(col("text"))))
        .select(col("doc_id"), col("pos"), col("col").as("term"))
        .cut()
      val uni = pos.groupBy(col("term")).agg(count(lit(1)).as("cu"))
      val bi = pos.as("a").join(pos.as("b"),
          col("a.doc_id") === col("b.doc_id")
            && col("a.pos") === col("b.pos") - 1)
        .groupBy(col("a.term").as("w1"), col("b.term").as("w2"))
        .agg(count(lit(1)).as("cxy"))
        .filter(col("cxy") >= 5)
      val tot = pos.agg(count(lit(1)).as("nu"))
      val nb = bi.agg(sum(col("cxy")).as("nbi"))
      def d(c: Column): Column = c.cast("double")
      bi.join(uni.select(col("term").as("w1"), col("cu").as("c1")), Seq("w1"))
        .join(uni.select(col("term").as("w2"), col("cu").as("c2")), Seq("w2"))
        .crossJoin(broadcast(tot)).crossJoin(broadcast(nb))
        .select(col("w1"), col("w2"), col("cxy"),
          // 6-dp round: the ln is the one libm step (JVM vs C stdlib
          // differ by an ulp — the q458 libm contract), and the SORT
          // runs on the rounded value so near-ties order identically.
          roundZ(log((d(col("cxy")) / d(col("nbi")))
            / ((d(col("c1")) / d(col("nu")))
              * (d(col("c2")) / d(col("nu"))))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(20)
    }),

    "q494_cohens_kappa" -> ((s, dir) => {
      // Cohen's κ agreement between two document classifiers — the
      // language tag (lang = 'en') and the q131 stopword heuristic
      // (≥ 2 English stopword hits): the standard chance-corrected
      // agreement gauge between a labeled column and a cheap heuristic.
      // One scan to the exact 2×2 integer table; κ one expression.
      val toks = Text.tokens(col("text"))
      val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val hits = stops.map(w => array_contains(toks, w).cast("int")).reduce(_ + _)
      val t = tbl(s, dir, "documents")
        .select((col("lang") === "en").as("a"), (hits >= 2).as("b"))
        .agg(count(lit(1)).as("n"),
          sum((col("a") && col("b")).cast("long")).as("n11"),
          sum((col("a") && !col("b")).cast("long")).as("n10"),
          sum((!col("a") && col("b")).cast("long")).as("n01"),
          sum((!col("a") && !col("b")).cast("long")).as("n00"))
      def d(c: String): Column = col(c).cast("double")
      t.select(col("n").as("n_docs"), col("n11"), col("n10"), col("n01"),
        col("n00"),
        (((d("n11") + d("n00")) / d("n")
          - ((d("n11") + d("n10")) * (d("n11") + d("n01"))
            + (d("n01") + d("n00")) * (d("n10") + d("n00")))
            / (d("n") * d("n")))
          / (lit(1.0)
            - ((d("n11") + d("n10")) * (d("n11") + d("n01"))
              + (d("n01") + d("n00")) * (d("n10") + d("n00")))
              / (d("n") * d("n")))).as("kappa"))
    }),

    "q496_novelty_rate" -> ((s, dir) => {
      // Per-block 3-gram novelty: docs in doc_id blocks of 100, each
      // block's distinct shingles split into first-seen-here vs already
      // seen in an earlier block — the corpus-growth gauge behind
      // dedup-aware data mixing (a block full of repeats adds nothing).
      // Every aggregate is map-combinable with per-key state bounded
      // by the key: the distinct (g, blk) pairs counted per block give
      // n_shingles, and each gram's first block (one min per gram)
      // counted per block gives n_novel. Both branches read the same
      // distinct pairs, so the planner reuses that one exchange and the
      // documents are scanned and shingled once. The native one-pass
      // shingle kernel is byte-identical to the lambda form by the
      // kernel parity contract (FunctionsSpec).
      val pairs = tbl(s, dir, "documents")
        .filter(size(Text.tokens(col("text"))) >= 3)
        .select(expr("cast(doc_id as bigint) div 100").as("blk"),
          explode(array_distinct(
            graft.plans.TextKernels.wordShinglesNative(col("text"), 3)))
            .as("g"))
        .distinct()
      val per = pairs.groupBy(col("blk")).agg(count(lit(1)).as("n_shingles"))
      val novel = pairs.groupBy(col("g")).agg(min(col("blk")).as("blk"))
        .groupBy(col("blk")).agg(count(lit(1)).as("n_novel"))
      per.join(novel, Seq("blk"), "left")
        .select(col("blk").as("block"), col("n_shingles"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          (coalesce(col("n_novel"), lit(0L)).cast("double")
            / col("n_shingles").cast("double")).as("novelty_rate"))
    }),

    "q497_mcnemar" -> ((s, dir) => {
      // McNemar's test on the SAME classifier pair as q494 — do the two
      // classifiers disagree symmetrically? Continuity-corrected
      // χ² = (|b−c|−1)²/(b+c) over the exact discordant counts; κ asks
      // "how much agreement", McNemar asks "is the disagreement
      // one-sided" (a biased heuristic shows up here first).
      val toks = Text.tokens(col("text"))
      val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val hits = stops.map(w => array_contains(toks, w).cast("int")).reduce(_ + _)
      val t = tbl(s, dir, "documents")
        .select((col("lang") === "en").as("a"), (hits >= 2).as("b"))
        .agg(sum((col("a") && !col("b")).cast("long")).as("b10"),
          sum((!col("a") && col("b")).cast("long")).as("c01"))
      def d(c: String): Column = col(c).cast("double")
      t.select(col("b10").as("n_a_only"), col("c01").as("n_b_only"),
        when(col("b10") + col("c01") > 0,
          (abs(d("b10") - d("c01")) - 1.0) * (abs(d("b10") - d("c01")) - 1.0)
            / (d("b10") + d("c01"))).otherwise(lit(0.0)).as("mcnemar_chi2"))
    }),
  )
}
