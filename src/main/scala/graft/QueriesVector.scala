package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin.CutOps
import graft.functions.{Ids, Redaction, Text, Vectors}
import graft.operators.{Dedup, Relational, Sampling, Similarity}
import QueryDsl._

/** Query registry, embeddings / ANN / graph / evaluation / multimodal tier.
  *
  * Entries moved verbatim from SparkEntry (r7 registry split); the
  * contract — name -> (session, sfDir) -> DataFrame, every entry
  * oracle-checked — is unchanged and pinned by RegistrySpec.
  */
private[graft] object QueriesVector {
  def map: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q74_media_features" -> ((s, dir) => {
      // Multimodal plumbing end-to-end: text payloads as opaque binary,
      // per-partition decoder (mapPartitions = the mapInPandas shape).
      // The oracle checks the full row/byte contract; the stub codec's
      // feature VALUES are engine-internal (wraparound hash arithmetic).
      import s.implicits._
      val media = tbl(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        col("text").cast("binary").as("payload"),
        lit("text/plain").as("mime"), lit(0).as("width"), lit(0).as("height"))
        .as[graft.multimodal.Multimodal.MediaRow]
      graft.multimodal.Multimodal.extractFeatures(media, dim = 4)
        .select(col("media_id"), col("mime"), col("n_bytes"),
          size(col("features")).as("n_features"))
    }),

    "q91_audio_decode" -> ((s, dir) => {
      // REAL audio codec on the verified surface (q81's pattern for
      // audio): per row, an 8-bit unsigned PCM WAV with samples
      // alternating 128±a is written via javax.sound and decoded back;
      // normalized math is exact for integer a over the power-of-two PCM
      // range, so rms = a/128 and zero_crossings = n-1 EXACTLY — pure
      // arithmetic on the DuckDB side.
      import s.implicits._
      val media = tbl(s, dir, "part").filter(col("p_partkey") < 24)
        .select(col("p_partkey").cast("long").as("id")).as[Long]
        .map { id =>
          val a = (id * 7 % 120 + 1).toInt
          val n = (50 + id % 10).toInt
          val pcm = new Array[Byte](n)
          var i = 0
          while (i < n) {
            pcm(i) = (if (i % 2 == 0) 128 + a else 128 - a).toByte
            i += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(
            ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          graft.multimodal.Multimodal.MediaRow(id, bos.toByteArray, "audio/wav", 0, 0)
        }
      graft.multimodal.AudioCodec.extractAudioFeatures(media)
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("rms"), col("zero_crossings"))
    }),
    "q81_image_decode" -> ((s, dir) => {
      // REAL image codec on the verified surface: solid-gray 8×8 PNGs are
      // encoded per row (gray = key*10 mod 256), decoded back through
      // ImageIO, and the luminance-grid features must recover the gray
      // value EXACTLY — an oracle can predict the round-trip with pure
      // arithmetic, no image library needed on the DuckDB side.
      import s.implicits._
      val media = tbl(s, dir, "part").filter(col("p_partkey") < 24)
        .select(col("p_partkey").cast("long").as("id"),
          (col("p_partkey") * 10 % 256).cast("int").as("gray"))
        .as[(Long, Int)]
        .map { case (id, g) =>
          val img = new java.awt.image.BufferedImage(
            8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val rgb = (g << 16) | (g << 8) | g
          var y = 0
          while (y < 8) { var x = 0; while (x < 8) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          graft.multimodal.Multimodal.MediaRow(id, bos.toByteArray, "image/png", 8, 8)
        }
      graft.multimodal.ImageCodec.extractImageFeatures(media, gridDim = 2)
        .select(col("media_id"), col("width"), col("height"),
          round(element_at(col("features"), 1) * 255, 0).cast("int")
            .as("gray_decoded"))
    }),

    "q95_video_frames" -> ((s, dir) => {
      // REAL per-frame video decode over the GVID frame container:
      // variable-length videos of solid-gray PNG frames
      // (gray = (id*10 + idx*40) mod 256), stride-2 sampling inside the
      // demux loop, ImageIO decode per sampled frame. The luminance grid
      // must recover each frame's gray EXACTLY, so the oracle is pure
      // arithmetic over (id, sampled idx) — the q81 pattern lifted to
      // one-row-per-frame.
      import s.implicits._
      val media = tbl(s, dir, "part").filter(col("p_partkey") < 24)
        .select(col("p_partkey").cast("long").as("id"))
        .as[Long]
        .map { id =>
          val frames = (0 until ((id % 4) + 2).toInt).map { idx =>
            val g = ((id * 10 + idx * 40) % 256).toInt
            val img = new java.awt.image.BufferedImage(
              8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val rgb = (g << 16) | (g << 8) | g
            var y = 0
            while (y < 8) { var x = 0; while (x < 8) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            bos.toByteArray
          }
          graft.multimodal.Multimodal.MediaRow(
            id, graft.multimodal.VideoCodec.encode(frames), "video/x-gvid", 8, 8)
        }
      graft.multimodal.VideoCodec.sampleFrameFeatures(media, every = 2, gridDim = 2)
        .select(col("media_id"), col("frame_idx"), col("n_frames"),
          col("width"), col("height"),
          round(element_at(col("features"), 1) * 255, 0).cast("int")
            .as("gray_decoded"))
    }),

    "q147_knn_label_agreement" -> ((s, dir) => {
      // Embedding-space quality probe: does each vector's (approximate)
      // nearest neighbor carry the same label? The standard sanity
      // report before an embedding column drives dedup or search.
      // Scale-honest kNN: neighbors come from the LSH bucket join
      // (candidate-bounded, never all-pairs); the per-vector argmax is
      // min(struct(-cos, id)) — map-combinable, no window on the pair
      // stream; label join-backs are id-keyed; the report is
      // label-count-sized. Determinism: both engines compute identical
      // IEEE cosines (the q66 contract); equal-cos ties break to the
      // lowest neighbor id via the struct order.
      val e = tbl(s, dir, "embeddings")
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      val pairs = Similarity.nearDuplicatePairs(e, "vec_id", "embedding",
        nPlanes = 4, dim = dim, threshold = 0.3)
      val sym = pairs
        .select(col("id_a").as("v"), col("id_b").as("nb"), col("cosine_sim"))
        .union(pairs
          .select(col("id_b").as("v"), col("id_a").as("nb"), col("cosine_sim")))
      val nn = sym.groupBy(col("v"))
        .agg(min(struct((-col("cosine_sim")).as("nc"), col("nb").as("nb")))
          .as("m"))
        .select(col("v"), col("m.nb").as("nb"))
      val lab = e.select(col("vec_id"), col("label"))
      val nnl = nn
        .join(lab.select(col("vec_id").as("v"), col("label")), Seq("v"))
        .join(lab.select(col("vec_id").as("nb"), col("label").as("nb_label")),
          Seq("nb"))
      val agg = nnl.groupBy(col("label"))
        .agg(count(lit(1)).as("n_matched"),
          sum(when(col("label") === col("nb_label"), 1L).otherwise(0L))
            .as("n_agree"))
      lab.groupBy(col("label")).agg(count(lit(1)).as("n_vectors"))
        .join(agg, Seq("label"), "left")
        .select(col("label"), col("n_vectors"),
          coalesce(col("n_matched"), lit(0L)).as("n_matched"),
          coalesce(col("n_agree"), lit(0L)).as("n_agree"),
          when(coalesce(col("n_matched"), lit(0L)) === 0,
            lit(null).cast("double"))
            .otherwise(round(col("n_agree").cast("double") / col("n_matched"), 6))
            .as("agree_rate"))
    }),

    "q148_hard_negatives" -> ((s, dir) => {
      // Contrastive-training data prep: for each vector, the top-2 most
      // similar neighbors that carry a DIFFERENT label (hard negatives).
      // Scale shape: candidates come from the LSH bucket join (bounded,
      // never all-pairs); per-vector top-k goes through the native
      // TopKPerKey physical operator, so each map partition is k-bounded
      // per key BEFORE the exchange — no window over the pair stream.
      // Determinism: selection runs on EXACT IEEE cosines (the q66
      // contract; rounding happens after top-k), ties break to the
      // lowest neighbor id via the (cos desc, nb asc) total order.
      val e = tbl(s, dir, "embeddings")
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      val pairs = Similarity.nearDuplicatePairs(e, "vec_id", "embedding",
        nPlanes = 4, dim = dim, threshold = 0.3)
      val lab = e.select(col("vec_id"), col("label"))
      val sym = pairs
        .select(col("id_a").as("v"), col("id_b").as("nb"),
          col("cosine_sim").as("cos"))
        .union(pairs.select(col("id_b").as("v"), col("id_a").as("nb"),
          col("cosine_sim").as("cos")))
      val cross = sym
        .join(lab.select(col("vec_id").as("v"), col("label")), Seq("v"))
        .join(lab.select(col("vec_id").as("nb"), col("label").as("nb_label")),
          Seq("nb"))
        .filter(col("label") =!= col("nb_label"))
        .select(col("v"), col("nb"), col("label"), col("nb_label"), col("cos"))
      org.apache.spark.sql.graft.TopKPerKey(cross,
        Seq("v"), Seq(("cos", false), ("nb", true)), k = 2)
        .select(col("v"), col("nb"), col("label"), col("nb_label"),
          round(col("cos"), 6).as("cos"))
    }),

    "q149_label_centroids" -> ((s, dir) => {
      // Inter-class embedding separation report: per-label centroid,
      // then pairwise cosine between centroids — the label-count-sized
      // matrix that says whether an embedding column can drive
      // label-aware dedup or search. The centroid mean uses the
      // position-ordered fold (vec_id order) so both engines fold the
      // same floats in the same order — the oracle-able form; the
      // order-free `avg` is the drop-in 100 TB knob with identical plan
      // shape (map-combinable partials, no per-group list). Everything
      // after the (label, dim) agg is centroid-table-sized; the pairwise
      // cosine reuses the exact q66 dot/norm contract.
      val e = tbl(s, dir, "embeddings")
      val ed = e.select(col("vec_id"), col("label"),
          posexplode(Vectors.toDoubleVec(col("embedding"))).as(Seq("dim", "x")))
      val cent = ed.groupBy(col("label"), col("dim"))
        .agg((aggregate(array_sort(collect_list(struct(col("vec_id"), col("x")))),
          lit(0.0), (a, r) => a + r.getField("x")) / count(lit(1))).as("c"))
      val cv = cent.groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          r => r.getField("c")).as("cv"))
      val a = cv.select(col("label").as("label_a"), col("cv").as("va"))
      val b = cv.select(col("label").as("label_b"), col("cv").as("vb"))
      a.crossJoin(b).filter(col("label_a") < col("label_b"))
        .select(col("label_a"), col("label_b"),
          round(Vectors.dot(col("va"), col("vb")) /
            (Vectors.l2Norm(col("va")) * Vectors.l2Norm(col("vb"))), 6)
            .as("centroid_cos"))
    }),

    "q159_gram_matrix" -> ((s, dir) =>
      // Distributed Gram matrix XᵀX over the embedding corpus — the
      // covariance/PCA precursor. The typed GramMatrix Aggregator folds
      // each partition into ONE d(d+1)/2-double buffer (map-side
      // combine), so shuffle volume is partitions×2080 doubles; the
      // posexplode+self-join alternative would shuffle corpus×d² rows.
      // 4-dp rounding absorbs summation-order drift vs the oracle's
      // flat self-join formulation.
      operators.Pca.gramUpper(tbl(s, dir, "embeddings"), "embedding", 64)
        .select(col("i"), col("j"), round(col("gram"), 4).as("gram"))),

    "q161_pca_power" -> ((s, dir) =>
      // Top principal component, split the way MLlib splits it: the
      // O(n·d²) Gram pass is DISTRIBUTED (q159's aggregator), the
      // O(d²·iters) eigensolve runs on the DRIVER over the collected
      // d×d matrix (bounded state, same contract as SemDeDup's k×dim
      // centroids). Fixed 10 power iterations from the deterministic
      // x₀=1/√d start make the result a pure function of the data —
      // the oracle replays the identical iterations as unrolled SQL.
      operators.Pca.topComponent(tbl(s, dir, "embeddings"), "embedding", 64, iters = 10)
        .select(col("component"), round(col("loading"), 4).as("loading"),
          round(col("eigenvalue"), 3).as("eigenvalue"))),

    "q163_pagerank" -> ((s, dir) => {
      // PageRank over the supplier co-purchase graph (distinct supplier
      // pairs sharing an order). Per iteration: ONE edge-scan hash join
      // keyed on src + one map-combinable sum keyed on dst — rank state
      // is node-sized, lineage re-pinned per round, only the node count
      // reaches the driver. 10 fixed damped iterations from the uniform
      // start replay exactly as the oracle's unrolled MATERIALIZED CTEs
      // (the q161 lesson: without MATERIALIZED, DuckDB re-expands the
      // edge build per iteration).
      val li = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val a = li.select(col("l_orderkey"), col("l_suppkey").as("src"))
      val b = li.select(col("l_orderkey"), col("l_suppkey").as("dst"))
      val edges = a.join(b, Seq("l_orderkey"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst")).distinct()
      val nodes = tbl(s, dir, "supplier").select(col("s_suppkey"))
      graph.PageRank.run(edges, "src", "dst", nodes, "s_suppkey",
          damping = 0.85, iters = 10)
        .select(col("node").as("s_suppkey"),
          round(col("rank"), 8).as("pagerank"))
    }),

    "q169_label_propagation" -> ((s, dir) => {
      // Community detection inside the supplier co-purchase graph via
      // deterministic synchronous label propagation (5 sweeps, min-label
      // tie-break) — splits q163's graph into densely-linked groups the
      // way near-dup families split a giant connected component. Pure
      // integer math → the oracle replays every sweep exactly.
      val li = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val a = li.select(col("l_orderkey"), col("l_suppkey").as("src"))
      val b = li.select(col("l_orderkey"), col("l_suppkey").as("dst"))
      val edges = a.join(b, Seq("l_orderkey"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst")).distinct()
      val nodes = tbl(s, dir, "supplier").select(col("s_suppkey"))
      graph.LabelPropagation.run(edges, "src", "dst", nodes, "s_suppkey",
          rounds = 5)
        .select(col("node").as("s_suppkey"), col("community"))
    }),

    "q171_triangle_count" -> ((s, dir) => {
      // Triangles + clustering coefficient over the ≥5-shared-orders
      // co-purchase graph (the raw graph is complete at small SF; the
      // weight threshold is what a curation pipeline applies before any
      // cohesion metric). The degree-ordered orientation inside
      // [[graph.Triangles]] bounds the wedge join at O(m^1.5) — the
      // reason this runs on a hub-skewed 100 TB graph at all.
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      val a = li.select(col("l_orderkey"), col("l_suppkey").as("sa"))
      val b = li.select(col("l_orderkey"), col("l_suppkey").as("sb"))
      val edges = a.join(b, Seq("l_orderkey"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("w"))
        .filter(col("w") >= 5)
        .select(col("sa"), col("sb"))
      val nodes = tbl(s, dir, "supplier").select(col("s_suppkey"))
      graph.Triangles.perNode(edges, "sa", "sb", nodes, "s_suppkey")
        .select(col("node").as("s_suppkey"), col("degree"),
          col("n_triangles"), col("clustering_coef"))
    }),

    "q174_rrf_fusion" -> ((s, dir) => {
      // Hybrid retrieval: q123's BM25 lexical scorer + q38's exact-cosine
      // contract, fused with reciprocal-rank fusion
      // rrf(d) = Σ_modality 1/(60 + rank) (Cormack et al. 2009) — the
      // standard way modern search blends keyword and embedding signals.
      // Each modality is cut to top-50 by TakeOrderedAndProject, then
      // ranked by the triangular self-join (the q153 rule — no window
      // ever, not even over 50 rows); the fusion is a 50∪50-row
      // full-outer join.
      val qTerms = Seq("spark", "merge", "window")
      val docs = tbl(s, dir, "documents")
      val toks = docs.select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      val dl = toks.select(col("doc_id"), size(col("toks")).as("dl"))
        .cut()
      val stats = dl.agg(avg(col("dl")).as("avgdl"), count(lit(1)).as("n_docs"))
      val tf = toks.select(col("doc_id"), explode(col("toks")).as("term"))
        .filter(col("term").isin(qTerms: _*))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .cut()
      val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val comp = round(
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 6)
      val bm25 = tf.join(broadcast(df_), Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          struct(col("term").as("term"), comp.as("comp")).as("tc"))
        .groupBy(col("doc_id"))
        .agg(aggregate(array_sort(collect_list(col("tc"))), lit(0.0),
          (acc, x) => acc + x.getField("comp")).as("sc"))
        .select(col("doc_id"), round(col("sc"), 4).as("bm25"))
      val lexRank = operators.ScalableWindow.boundedRankCum(
          bm25.orderBy(col("bm25").desc, col("doc_id")).limit(50),
          Seq(("bm25", false), ("doc_id", true)), "r_lex")
        .select(col("doc_id"), col("r_lex"))
      val e = tbl(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      val semRank = operators.ScalableWindow.boundedRankCum(
          e.select(col("vec_id").as("doc_id"),
            Vectors.cosineToConst(col("embedding"), qv).as("cos"))
          .orderBy(col("cos").desc, col("doc_id")).limit(50),
          Seq(("cos", false), ("doc_id", true)), "r_sem")
        .select(col("doc_id"), col("r_sem"))
      lexRank.join(semRank, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          round(coalesce(lit(1.0) / (lit(60L) + col("r_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60L) + col("r_sem")), lit(0.0)), 8)
            .as("rrf"),
          col("r_lex"), col("r_sem"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(20)
    }),

    "q179_link_prediction" -> ((s, dir) => {
      // Link prediction on the ≥20-shared-orders co-purchase graph:
      // common-neighbor count + Adamic–Adar (Σ 1/ln(deg z) over shared
      // neighbors) for NON-adjacent pairs — the classic "which edge
      // appears next" score. Wedge enumeration is the only corpus-shaped
      // join; scoring components live on a node-sized table (6-dp grid)
      // and sum per pair in neighbor order (the engine's ordered fold).
      // Top-20 is TakeOrderedAndProject. (At sf0.001 the 10-node graph
      // is complete — no non-adjacent pairs, an empty frontier, which
      // both engines agree on.)
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      val a = li.select(col("l_orderkey"), col("l_suppkey").as("sa"))
      val b = li.select(col("l_orderkey"), col("l_suppkey").as("sb"))
      val e = a.join(b, Seq("l_orderkey"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("w"))
        .filter(col("w") >= 20)
        .select(col("sa"), col("sb"))
        .cut()
      val und = e.union(e.select(col("sb").as("sa"), col("sa").as("sb")))
      val deg = und.groupBy(col("sa").as("node")).agg(count(lit(1)).as("deg"))
      val compz = deg.filter(col("deg") >= 2)
        .select(col("node").as("z"),
          round(lit(1.0) / log(col("deg").cast("double")), 6).as("comp"))
      val e1 = und.select(col("sa").as("u"), col("sb").as("z"))
      val e2 = und.select(col("sa").as("z"), col("sb").as("v"))
      val wedges = e1.join(e2, Seq("z")).filter(col("u") < col("v"))
      val cand = wedges.join(e,
        wedges("u") === e("sa") && wedges("v") === e("sb"), "left_anti")
      cand.join(compz, Seq("z"))
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("cn"),
          round(aggregate(array_sort(collect_list(struct(col("z"), col("comp")))),
            lit(0.0), (acc, x) => acc + x.getField("comp")), 4)
            .as("adamic_adar"))
        .select(col("u").as("s_a"), col("v").as("s_b"), col("cn"),
          col("adamic_adar"))
        .orderBy(col("adamic_adar").desc, col("s_a"), col("s_b")).limit(20)
    }),

    "q183_retrieval_eval" -> ((s, dir) => {
      // Ranking-quality evaluation: NDCG@10 and MRR for the exact-cosine
      // retriever, 8 label-relevance queries (vec_ids 0–7; rel = same
      // label). ONE corpus scan computes all 8 cosines as codegen'd
      // columns (stack → long format), the native TopKPerKey bounds each
      // query's candidates to 10 BEFORE any window, and the metric tail
      // is 80 rows. DCG components round to 6 dp and fold in rank order;
      // IDCG replays the same grid over sequence(1, m) in index order.
      import s.implicits._
      val e = tbl(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding"), col("label"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq,
          r.getInt(2))).sortBy(_._1)
      val cosCols = qs.flatMap { case (qid, qv, _) =>
        Seq(lit(qid), Vectors.cosineToConst(col("embedding"), qv)) }
      val withCos = e.select(Seq(col("vec_id"), col("label")) ++
        cosCols.zipWithIndex.map { case (c, i) => c.as(s"c$i") }: _*)
      val long = withCos.select(col("vec_id"), col("label"),
        expr(s"stack(${qs.size}, ${(0 until qs.size).map(i => s"c${2 * i}, c${2 * i + 1}").mkString(", ")}) AS (qid, cos)"))
      val top = org.apache.spark.sql.graft.TopKPerKey(long,
        Seq("qid"), Seq(("cos", false), ("vec_id", true)), k = 10)
      val qinfo = qs.map { case (qid, _, ql) => (qid, ql) }
        .toSeq.toDF("qid", "qlabel")
      val relCorpus = e.groupBy(col("label").as("qlabel"))
        .agg(count(lit(1)).as("n_label"))
      retrievalEvalFinish(top, qinfo, relCorpus)
    }),

    "q184_sssp" -> ((s, dir) => {
      // Bounded-hop weighted shortest paths from the three lowest
      // supplier keys over the ≥5-shared-orders co-purchase graph,
      // edge cost 1/shared-orders (strong ties are cheap). Six
      // Bellman–Ford rounds — "cheapest path using ≤6 edges" — each one
      // edge-scan join + one min-combine; the oracle unrolls the same
      // six relaxations as MATERIALIZED CTEs.
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      val a = li.select(col("l_orderkey"), col("l_suppkey").as("sa"))
      val b = li.select(col("l_orderkey"), col("l_suppkey").as("sb"))
      val e = a.join(b, Seq("l_orderkey"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 5)
        .select(col("sa"), col("sb"),
          round(lit(1.0) / col("c").cast("double"), 6).as("w"))
      val und = e.unionByName(
        e.select(col("sb").as("sa"), col("sa").as("sb"), col("w")))
      val sources = tbl(s, dir, "supplier")
        .filter(col("s_suppkey") <= 3).select(col("s_suppkey"))
      graph.ShortestPaths.boundedHops(und, "sa", "sb", "w",
          sources, "s_suppkey", rounds = 6)
        .select(col("node").as("s_suppkey"), round(col("dist"), 6).as("dist"))
    }),

    "q193_minhash_accuracy" -> ((s, dir) => {
      // Sketch-accuracy evaluation: MinHash Jaccard estimates (matching
      // signature components / k) vs EXACT trigram-shingle Jaccard over
      // the adjacent-id pair set — the calibration check you run before
      // trusting an LSH threshold. The engine's own q31 signatures are
      // reused; per-pair errors land on a 6-dp grid and fold in id
      // order; the report is one row.
      val docs = tbl(s, dir, "documents")
      val sig = Dedup.minhashSignatures(docs, "doc_id", "text",
          k = 8, bands = 2, shingleN = 3)
        .select(col("doc_id"), col("signature"))
      val sh = docs.select(col("doc_id"),
          array_distinct(
            graft.plans.TextKernels.wordShinglesNative(col("text"), 3)).as("g"))
        .filter(size(col("g")) > 0)
      val a = sh.join(sig, Seq("doc_id"))
        .select(col("doc_id").as("id_a"), col("g").as("ga"), col("signature").as("sa"))
      val b = sh.join(sig, Seq("doc_id"))
        .select(col("doc_id").as("id_b"), col("g").as("gb"), col("signature").as("sb"))
      val pairs = a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"),
          round(abs(
            aggregate(zip_with(col("sa"), col("sb"),
              (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _)
              .cast("double") / lit(8.0) -
            size(array_intersect(col("ga"), col("gb"))).cast("double") /
              size(array_union(col("ga"), col("gb"))).cast("double")), 6)
            .as("err"))
      pairs.agg(count(lit(1)).as("n_pairs"),
          aggregate(array_sort(collect_list(struct(col("id_a"), col("err")))),
            lit(0.0), (acc, e) => acc + e.getField("err")).as("sum_err"),
          max(col("err")).as("max_abs_err"))
        .select(col("n_pairs"),
          round(col("sum_err") / col("n_pairs").cast("double"), 6)
            .as("avg_abs_err"),
          col("max_abs_err"))
    }),

    "q196_lsh_pr_curve" -> ((s, dir) => {
      // LSH operating-point curve: precision/recall of the q31 MinHash
      // candidate set against EXACT Jaccard ground truth at three
      // thresholds — the evaluation that picks bands/rows before a
      // production dedup run. Composes BOTH scale lessons:
      //  - q173's EXACT-DUP COLLAPSE: Jaccard and band keys depend only
      //    on the text, so truth (exact PPJoin, loosest threshold once)
      //    and candidates are computed on md5-text equivalence classes
      //    and every pair count is a MULTIPLICITY-WEIGHTED sum
      //    (cnt_a·cnt_b cross-class, C(cnt,2) same-class with J = 1) —
      //    the first cut without this ran 15× superlinear at sf1;
      //  - tighter thresholds are integer re-filters of (inter, uni).
      // The oracle recomputes doc-level brute force, independently
      // proving both the prefix filter and the collapse exact.
      import s.implicits._
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val canon = docs.select(col("doc_id"), md5(col("text")).as("h"))
      val groups = canon.groupBy(col("h"))
        .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("cnt"))
        .cut()
      val repDocs = docs.join(groups, docs("doc_id") === groups("rep_id"))
        .select(col("rep_id").as("doc_id"), col("text"), col("cnt"))
        .cut()
      val shingled = repDocs.select(col("doc_id"),
          graft.plans.TextKernels.wordShinglesNative(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
      // Class multiplicities for shingle-eligible classes (≥3 tokens —
      // the same universe truth and candidates live in).
      val elig = shingled.select(col("doc_id"))
        .join(repDocs.select(col("doc_id"), col("cnt")), Seq("doc_id"))
      val withinW = elig.agg(
        coalesce(sum(expr("div(cnt * (cnt - 1), 2)")), lit(0L)).as("w"))
      val mult = repDocs.select(col("doc_id"), col("cnt"))
      val truth = Dedup.jaccardJoin(shingled, "doc_id", "sh", tNum = 3, tDen = 10)
        .join(mult.select(col("doc_id").as("id_a"), col("cnt").as("ca")), Seq("id_a"))
        .join(mult.select(col("doc_id").as("id_b"), col("cnt").as("cb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
          (col("ca") * col("cb")).as("w"))
        .cut()
      val cand = Dedup.minhashCandidatePairs(
          repDocs.select(col("doc_id"), col("text")), "doc_id", "text",
          k = 8, bands = 2, shingleN = 3)
        .join(mult.select(col("doc_id").as("id_a"), col("cnt").as("ca")), Seq("id_a"))
        .join(mult.select(col("doc_id").as("id_b"), col("cnt").as("cb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), (col("ca") * col("cb")).as("w"))
        .cut()
      val th = Seq((3, 10), (1, 2), (7, 10)).toDF("tn", "td")
      val truthCounts = th.crossJoin(truth)
        .filter(col("inter") * col("td") >= col("uni") * col("tn"))
        .groupBy(col("tn"), col("td")).agg(sum(col("w")).as("cross_truth"))
      val candTruth = cand.drop("w").join(truth, Seq("id_a", "id_b"))
      val hits = th.crossJoin(candTruth)
        .filter(col("inter") * col("td") >= col("uni") * col("tn"))
        .groupBy(col("tn"), col("td")).agg(sum(col("w")).as("cross_hits"))
      val nCand = cand.agg(coalesce(sum(col("w")), lit(0L)).as("cross_cand"))
      th.join(truthCounts, Seq("tn", "td"), "left")
        .join(hits, Seq("tn", "td"), "left")
        .crossJoin(broadcast(nCand))
        .crossJoin(broadcast(withinW.select(col("w").as("within"))))
        .select(col("tn"), col("td"),
          (coalesce(col("cross_truth"), lit(0L)) + col("within")).as("n_truth"),
          (col("cross_cand") + col("within")).as("n_cand"),
          (coalesce(col("cross_hits"), lit(0L)) + col("within")).as("hits"))
        .select(col("tn"), col("td"), col("n_truth"), col("n_cand"), col("hits"),
          round(col("hits").cast("double") / col("n_cand").cast("double"), 6)
            .as("prec"),
          round(col("hits").cast("double") / col("n_truth").cast("double"), 6)
            .as("recall"))
    }),

    "q122_semantic_dedup" -> ((s, dir) =>
      // SemDeDup over the embedding table: deterministic 2-iteration
      // Lloyd k-means (8 cells, seeds = lowest-id vectors, per-iteration
      // centroid means rounded to 6 dp so both engines land on the same
      // grid), then within-cell cosine >= 0.42 against a lower-id member
      // marks a semantic duplicate. See Dedup.semanticDedup for the
      // determinism contract and the 100 TB shuffle shape.
      Dedup.semanticDedup(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        nCells = 8, lloydIters = 2, simThreshold = 0.42)),

    // ── Similarity search (beyond-parity, on embeddings) ────────────────
    "q38_embed_topk" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      e.select(col("vec_id"),
          round(Vectors.cosineToConst(col("embedding"), q), 4).as("cosine_sim"))
        .orderBy(col("cosine_sim").desc, col("vec_id"))
        .limit(10)
    }),
    "q39_lsh_ann" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      val idx = Similarity.lshIndex(e, "vec_id", "embedding", nPlanes = 6, dim = q.size)
      Similarity.lshTopK(idx, "vec_id", "embedding", q, nPlanes = 6, k = 10)
        .withColumn("cosine_sim", round(col("cosine_sim"), 4))
    }),
    "q88_rerank" -> ((s, dir) => {
      // Two-stage retrieval: exact-cosine top-50 feeds the batched
      // cross-encoder stub (mapPartitions, per-partition model init),
      // top-10 by the blended score. The stub's md5 affinity makes the
      // reranked scores exactly oracle-checkable.
      import s.implicits._
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      val cands = e.select(col("vec_id").as("id"),
          Vectors.cosineToConst(col("embedding"), q).as("stage1_score"))
        .orderBy(col("stage1_score").desc, col("id")).limit(50)
        .as[graft.operators.Rerank.Candidate]
      graft.operators.Rerank.rerank(cands, queryId = 0L, batchSize = 16)
        .orderBy(col("rerank_score").desc, col("id")).limit(10)
        .select(col("id").as("vec_id"),
          round(col("stage1_score"), 4).as("cosine_sim"),
          round(col("rerank_score"), 4).as("rerank_score"))
    }),
    "q84_int8_ann" -> ((s, dir) => {
      // Scalar-quantized (int8) ANN: the persisted index is 4x smaller
      // than fp32, scoring is an exact integer dot de-scaled by two
      // per-vector scales — both cross-engine exact, so the oracle checks
      // the quantized scores themselves, not just the id set.
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      Similarity.int8TopK(e, "vec_id", "embedding", q, 10)
    }),
    "q40_near_pairs_demo" -> ((s, dir) => {
      // DEMO, NOT A SCALE PATH (hence the _demo suffix): deliberately
      // bounded (300 vectors) brute-force all-pairs contrast for the
      // bucketed plan in q66 — an inequality join is a nested-loop O(n²)
      // product. Kept oracle-checked but excluded from the bench.
      // Norms precomputed per row (linear) so each of the O(n^2) candidate
      // pairs costs a single codegen'd dot product.
      val e = tbl(s, dir, "embeddings").filter(col("vec_id") < 300)
        .select(col("vec_id"), Vectors.toDoubleVec(col("embedding")).as("v"))
        .withColumn("nrm", Vectors.l2Norm(col("v")))
      val a = e.select(col("vec_id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
      val b = e.select(col("vec_id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(Vectors.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 4)
            .as("cosine_sim"))
        .filter(col("cosine_sim") >= 0.35)
    }),

    "q108_triangles" -> ((s, dir) => {
      // Triangle enumeration over the near-dup graph (clusters of three
      // mutually-similar vectors). Edges are already oriented low->high
      // id, which IS the classic node-iterator degree/order trick: every
      // triangle a<b<c is found exactly once, and wedge fan-out at a hub
      // is bounded by its higher-id neighbors only — the skew control
      // that keeps triangle counting alive on power-law graphs.
      val e = tbl(s, dir, "embeddings")
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      val pairs = Similarity.nearDuplicatePairs(e, "vec_id", "embedding",
          nPlanes = 4, dim = dim, threshold = 0.3)
        .select(col("id_a"), col("id_b"))
        .cut() // referenced three times (q78 rule)
      val wedges = pairs
        .join(pairs.select(col("id_a").as("id_b"), col("id_b").as("id_c")), "id_b")
      wedges
        .join(pairs.select(col("id_a"), col("id_b").as("id_c")),
          Seq("id_a", "id_c"), "left_semi")
        .select(col("id_a").as("a"), col("id_b").as("b"), col("id_c").as("c"))
    }),

    "q67_ivf_search" -> ((s, dir) => {
      // IVF-Flat with deterministic centroids (first 16 vectors): assign
      // every vector to its nearest centroid cell (codegen'd dot products
      // + struct-least argmin), probe the 2 cells nearest the query, exact
      // cosine top-k inside them. Persist `indexed` partitionBy("cell")
      // for partition-pruned search at scale (IvfSpec asserts pruning).
      val e = tbl(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
      val model = operators.Ivf.buildWithCentroids(e, "vec_id", "embedding", cents)
      operators.Ivf.searchDetailed(model, "vec_id", "embedding", cents.head,
          nProbe = 2, topK = 10)
        .withColumn("cosine_sim", round(col("cosine_sim"), 4))
    }),
    "q82_pq_adc" -> ((s, dir) => {
      // Product quantization: 64-dim floats → 8 codes (deterministic
      // rank-order codebooks), ADC shortlist of 50 via an m×k lookup
      // table, exact cosine rerank to top-10. The compressed-domain
      // scan never touches the float vectors.
      val e = tbl(s, dir, "embeddings")
      val sample = e.filter(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
      val cbs = operators.Pq.codebooksFromSample(sample, 8)
      val model = operators.Pq.encode(e, "embedding", cbs)
      operators.Pq.search(model, "vec_id", "embedding", sample.head,
          rerank = 50, topK = 10)
        .withColumn("cosine_sim", round(col("cosine_sim"), 4))
    }),
    "q41_label_stats" -> ((s, dir) =>
      tbl(s, dir, "embeddings")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), min(size(col("embedding"))).as("min_dim"),
          max(size(col("embedding"))).as("max_dim"))),

    "q215_phash_neardup" -> ((s, dir) => {
      // Perceptual-hash near-dup over the REAL image decode path: 8×8
      // gradient PNGs (pixel(x,y) = (id·7 + 3x + 5y) mod 256) are
      // encoded per row, decoded back through ImageIO, aHashed with
      // PURE-INTEGER bit math (ImageCodec.aHash64 — the ×3 channel
      // factor cancels, so the oracle replays the bits from the pixel
      // formula alone), and the two 32-bit halves double as LSH BANDS:
      // candidates are pairs agreeing on ≥1 half (two equi-joins +
      // union, never all-pairs — the q32 simhash banding on the
      // multimodal tier), verified at Hamming ≤ 12 via bit_count(xor).
      // The demo id<48 bound mirrors q81/q95; at scale the band join is
      // the plan.
      import s.implicits._
      val media = tbl(s, dir, "part").filter(col("p_partkey") < 48)
        .select(col("p_partkey").cast("long").as("id")).as[Long]
        .map { id =>
          val img = new java.awt.image.BufferedImage(
            8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              val g = ((id * 7 + x * 3 + y * 5) % 256).toInt
              img.setRGB(x, y, (g << 16) | (g << 8) | g)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          graft.multimodal.Multimodal.MediaRow(id, bos.toByteArray, "image/png", 8, 8)
        }
      val h = graft.multimodal.ImageCodec.aHashes(media)
        .filter(col("decoded")).toDF().cut() // 48 rows, feeds both bands
      def band(onCol: String) = h.as("a").join(h.as("b"),
          col(s"a.$onCol") === col(s"b.$onCol") &&
            col("a.media_id") < col("b.media_id"))
        .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
          (bit_count(col("a.h_hi").bitwiseXOR(col("b.h_hi"))) +
            bit_count(col("a.h_lo").bitwiseXOR(col("b.h_lo")))).as("hamming"))
      band("h_hi").union(band("h_lo")).distinct()
        .filter(col("hamming") <= 12)
    }),

    "q437_audio_fp_neardup" -> ((s, dir) => {
      // Audio fingerprint near-dup over the REAL decode path — the
      // multimodal tier's audio analog of q215 (r9 verdict item 8):
      // per row an 8-bit unsigned PCM WAV square wave (half-period
      // p = 1 + (id/2) mod 7, phase id mod 3, amplitude 1 + 5·id mod
      // 100) is written via javax.sound, decoded back, and fingerprinted
      // by AudioCodec.frameCrossingFingerprint — 8 frames × 8-bit
      // zero-crossing counts packed into one long, PURE INTEGER (the
      // amplitude cancels: only sign changes count, so re-leveled
      // copies — the (2k, 2k+1) amplitude twins — fingerprint
      // IDENTICALLY). The 32-bit halves are the LSH bands (two
      // equi-joins + union, never all-pairs); the verify is the exact
      // per-frame L1 distance ≤ 2, bit-unpacked from the fingerprints
      // with the same shifts in both engines. Crossings sit where
      // p | (i + phase), so the oracle replays every frame count with
      // closed-form integer floor arithmetic — no audio library, the
      // q91/q215 discipline. The id < 48 bound mirrors q215; at scale
      // the band join is the plan.
      import s.implicits._
      val media = tbl(s, dir, "part").filter(col("p_partkey") < 48)
        .select(col("p_partkey").cast("long").as("id")).as[Long]
        .map { id =>
          val p = (1 + (id / 2) % 7).toInt
          val ph = (id % 3).toInt
          val a = (1 + (id * 5) % 100).toInt
          val n = 128
          val pcm = new Array[Byte](n)
          var i = 0
          while (i < n) {
            val up = ((i + ph) / p) % 2 == 0
            pcm(i) = (if (up) 128 + a else 128 - a).toByte
            i += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(
            ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          graft.multimodal.Multimodal.MediaRow(id, bos.toByteArray, "audio/wav", 0, 0)
        }
      val fp = graft.multimodal.AudioCodec.audioFingerprints(media)
        .filter(col("decoded")).toDF()
        .select(col("media_id"), col("fp"), col("fp_hi"), col("fp_lo"))
        .cut() // 48 rows, feeds both band joins
      def band(onCol: String) = fp.as("a").join(fp.as("b"),
          col(s"a.$onCol") === col(s"b.$onCol") &&
            col("a.media_id") < col("b.media_id"))
        .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
          col("a.fp").as("fa"), col("b.fp").as("fb"))
      val l1 = (0 until 8).map(f =>
        abs(shiftright(col("fa"), 8 * f).bitwiseAND(lit(255L)) -
          shiftright(col("fb"), 8 * f).bitwiseAND(lit(255L)))).reduce(_ + _)
      band("fp_hi").union(band("fp_lo")).distinct()
        .select(col("id_a"), col("id_b"), l1.as("l1"))
        .filter(col("l1") <= 2)
    }),

    // ── Graph-topology audit tier (q450–q452, round 10): closed-form
    // structure metrics on the q211 co-purchase graph — every one is
    // edge-sized integer sums + a handful of divisions, no iteration,
    // no libm, so the oracle replays them exactly. ────────────────────

    "q450_modularity" -> ((s, dir) => {
      // Newman modularity of the BRAND partition (a natural closed-form
      // community assignment — no iterative community detection in the
      // truth path): Q = Σ_c (m_c/m − (d_c/2m)²) over the ≥2-shared-
      // orders part co-purchase graph. m_c (intra-brand edges) and d_c
      // (total degree of brand-c nodes) are exact integer sums; the two
      // divisions per brand and the brand-ordered fold are the only
      // float steps.
      val edges = copurchaseEdges(s, dir).cut()
      val p = tbl(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      val lab = edges
        .join(p.select(col("p_partkey").as("pa"), col("p_brand").as("ba")), Seq("pa"))
        .join(p.select(col("p_partkey").as("pb"), col("p_brand").as("bb")), Seq("pb"))
      val m = lab.agg(count(lit(1)).as("m"))
      val intra = lab.filter(col("ba") === col("bb"))
        .groupBy(col("ba").as("brand")).agg(count(lit(1)).as("mc"))
      val degs = lab.select(col("ba").as("brand"))
        .union(lab.select(col("bb").as("brand")))
        .groupBy(col("brand")).agg(count(lit(1)).as("dc"))
      val per = degs.join(intra, Seq("brand"), "left")
        .select(col("brand"), col("dc"),
          coalesce(col("mc"), lit(0L)).as("mc"))
        .crossJoin(broadcast(m))
        .withColumn("term",
          col("mc").cast("double") / col("m").cast("double") -
            (col("dc").cast("double") / (lit(2.0) * col("m").cast("double"))) *
            (col("dc").cast("double") / (lit(2.0) * col("m").cast("double"))))
      per.agg(count(lit(1)).as("n_communities"),
          max(col("m")).as("n_edges"),
          round(aggregate(array_sort(collect_list(struct(col("brand"),
            col("term").as("t")))), lit(0.0),
            (acc, e) => acc + e.getField("t")), 6).as("modularity"))
    }),

    "q451_assortativity" -> ((s, dir) => {
      // Degree assortativity (Newman's r): the Pearson correlation of
      // endpoint degrees over edges, computed from exact integer
      // moments in DECIMAL(38,0) (degree products summed over edges
      // outgrow BIGINT at corpus scale), each direction of every edge
      // counted once — the standard undirected convention.
      val edges = copurchaseEdges(s, dir).cut()
      val deg = edges.select(col("pa").as("node"))
        .union(edges.select(col("pb").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val lab = edges
        .join(deg.select(col("node").as("pa"), col("deg").as("ja")), Seq("pa"))
        .join(deg.select(col("node").as("pb"), col("deg").as("jb")), Seq("pb"))
      // both orientations: (j,k) and (k,j)
      val ends = lab.select(col("ja").as("j"), col("jb").as("k"))
        .union(lab.select(col("jb").as("j"), col("ja").as("k")))
      val s38 = "decimal(38,0)"
      val sums = ends.agg(count(lit(1)).as("m2"),
        sum((col("j") * col("k")).cast(s38)).as("sjk"),
        sum(col("j").cast(s38)).as("sj"),
        sum((col("j") * col("j")).cast(s38)).as("sjj"))
      def d(c: Column) = c.cast("double")
      val me = d(col("m2"))
      val num = d(col("sjk")) / me - (d(col("sj")) / me) * (d(col("sj")) / me)
      val den = d(col("sjj")) / me - (d(col("sj")) / me) * (d(col("sj")) / me)
      sums.select(col("m2").cast("long").as("n_edge_ends"),
        round(when(den > 0, num / den), 6).as("assortativity"))
    }),

    "q452_rich_club" -> ((s, dir) => {
      // Rich-club coefficients φ(k) = 2·E_k / (N_k·(N_k−1)) for the
      // degree thresholds k ∈ {4, 8, 16, 32}: the edge density among
      // nodes of degree > k — whether the hubs form their own dense
      // club. All integer counts; one division per threshold; the
      // degenerate N_k ≤ 1 row is NULL by mirrored guard.
      import s.implicits._
      val edges = copurchaseEdges(s, dir).cut()
      val deg = edges.select(col("pa").as("node"))
        .union(edges.select(col("pb").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .cut()
      val ks = Seq(4L, 8L, 16L, 32L).toDF("k")
      val lab = edges
        .join(deg.select(col("node").as("pa"), col("deg").as("ja")), Seq("pa"))
        .join(deg.select(col("node").as("pb"), col("deg").as("jb")), Seq("pb"))
      val ek = lab.crossJoin(broadcast(ks))
        .filter(col("ja") > col("k") && col("jb") > col("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("ek"))
      val nk = deg.crossJoin(broadcast(ks))
        .filter(col("deg") > col("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("nk"))
      ks.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
        .select(col("k"),
          coalesce(col("nk"), lit(0L)).as("n_club"),
          coalesce(col("ek"), lit(0L)).as("club_edges"),
          round(when(coalesce(col("nk"), lit(0L)) > 1,
            lit(2.0) * coalesce(col("ek"), lit(0L)).cast("double") /
              (col("nk") * (col("nk") - 1)).cast("double")), 6).as("phi"))
    }),

    "q211_kcore" -> ((s, dir) => {
      // k-core decomposition (k=4, 4 synchronous peel sweeps) of the
      // ≥2-shared-orders PART co-purchase graph (the supplier graph is
      // complete at test SF — no fringe to peel; the part graph is
      // power-law-ish sparse: sf0.01 peels 3445→65 edges over the 4
      // sweeps): strip the low-degree fringe until only the
      // mutually-dense core remains — the cohesion filter applied before
      // q163/q169-style centrality or community math. Per sweep: one
      // map-combinable degree count + two edge-vs-survivor semi-joins,
      // all edge-sized; see [[graph.KCore]].
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .cut()
      // Capped wedge join with the rows-derived width cap (r11): √N
      // bounds any basket's pair output by the corpus row budget;
      // TPC-H baskets ≤ 7 ≪ √N, so output is bit-identical to uncapped.
      val edges = Relational.keyedPairs(li, "l_orderkey", "l_partkey",
          maxWidth = Some(Relational.scaledMaxWidth(li.count())))
        .groupBy(col("l_partkey_a").as("pa"), col("l_partkey_b").as("pb"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select(col("pa"), col("pb"))
      graph.KCore.peel(edges, "pa", "pb", k = 4, rounds = 4)
        .select(col("node").as("p_partkey"), col("deg").as("core_degree"))
    }),

    "q225_item_cf_topk" -> ((s, dir) => {
      // Item-item collaborative filtering: cosine similarity on binary
      // basket vectors (cij/√(ci·cj)) with the 3 nearest neighbors per
      // item selected by the NATIVE TopKPerKey operator — no window, no
      // global sort. The co-occurrence stream is bounded by basket width
      // (the q180 contract); per-item basket counts are item-sized and
      // ride broadcast; rounding to 6 dp before the (cosine desc, b asc)
      // total order makes the top-3 deterministic across engines.
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("item"))
        .distinct().cut()
      val ci = li.groupBy(col("item")).agg(count(lit(1)).as("c"))
      val co = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.item") =!= col("y.item"))
        .groupBy(col("x.item").as("a"), col("y.item").as("b"))
        .agg(count(lit(1)).as("cij"))
        .filter(col("cij") >= 2)
      val scored = co
        .join(broadcast(ci.select(col("item").as("a"), col("c").as("ca"))),
          Seq("a"))
        .join(broadcast(ci.select(col("item").as("b"), col("c").as("cb"))),
          Seq("b"))
        .select(col("a"), col("b"), col("cij"),
          round(col("cij").cast("double") /
            sqrt(col("ca").cast("double") * col("cb").cast("double")), 6)
            .as("cosine"))
      org.apache.spark.sql.graft.TopKPerKey(scored, Seq("a"),
        Seq(("cosine", false), ("b", true)), 3)
        .select(col("a"), col("b"), col("cij"), col("cosine"))
    }),

    "q234_jl_projection" -> ((s, dir) => {
      // Johnson–Lindenstrauss random projection 64→8 dims with the
      // deterministic ±1/√8 sign matrix of QueryDsl.jlSigns (md5 unit
      // hash — no RNG state; the oracle embeds the SAME matrix as list
      // literals). The projection itself is one codegen'd per-row fold —
      // the 100 TB shape. The distortion audit ‖pa−pb‖/‖va−vb‖ runs on
      // a BOUNDED 100-vector sample (4,950 pairs — an eval tail, the
      // q40-class documented bounded cartesian, not a corpus join);
      // per-index squared-difference folds and the pair-ordered mean
      // follow the q154 float contract.
      val emb = tbl(s, dir, "embeddings").filter(col("vec_id") < 100)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
      val projCols = (0 until 8).map { k =>
        val signs = array(jlSigns.map(row => lit(row(k))): _*)
        (aggregate(zip_with(col("v"), signs, (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x) / sqrt(lit(8.0))).as(s"p$k")
      }
      val proj = emb.select((col("vec_id") +: col("v") +: projCols): _*)
        .cut()
      val a = proj.toDF(proj.columns.map("a_" + _): _*)
      val b = proj.toDF(proj.columns.map("b_" + _): _*)
      val do2 = aggregate(zip_with(col("a_v"), col("b_v"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)
      val dp2 = (0 until 8).map(k =>
        (col(s"a_p$k") - col(s"b_p$k")) * (col(s"a_p$k") - col(s"b_p$k")))
        .reduce(_ + _)
      val pairs = a.join(b, col("a_vec_id") < col("b_vec_id"))
        .select(col("a_vec_id").as("ai"), col("b_vec_id").as("bi"),
          do2.as("do2"), dp2.as("dp2"))
        .filter(col("do2") > 0.0)
        .select(col("ai"), col("bi"),
          (sqrt(col("dp2")) / sqrt(col("do2"))).as("dist"))
      pairs.agg(count(lit(1)).as("n_pairs"),
          aggregate(array_sort(collect_list(struct(col("ai"), col("bi"),
            col("dist").as("dist")))), lit(0.0),
            (acc, e) => acc + e.getField("dist")).as("sd"),
          min(col("dist")).as("mind"), max(col("dist")).as("maxd"))
        .select(col("n_pairs"),
          round(col("sd") / col("n_pairs").cast("double"), 6)
            .as("mean_distortion"),
          round(col("mind"), 6).as("min_distortion"),
          round(col("maxd"), 6).as("max_distortion"))
    }),

    "q243_hits" -> ((s, dir) => {
      // HITS hubs & authorities over the DIRECTED customer→supplier
      // purchase graph (node ids prefixed so the two key spaces never
      // collide). Same execution contract as q163's PageRank — edge-scan
      // joins + node-sized pinned state per iteration, max-normalized
      // half-steps (max is order-free, so no float-fold in the norm),
      // 8-dp final rounding; the oracle replays all 5 iterations
      // unrolled.
      val o = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val li = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val edges = o.join(li, o("o_orderkey") === li("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey").cast("string")).as("src"),
          concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
      graph.Hits.run(edges, "src", "dst", iters = 5)
    }),

    "q248_assortativity" -> ((s, dir) => {
      // Degree assortativity of the q211 part co-purchase graph
      // (≥2 shared orders — the supplier graph is degree-regular at test
      // SF, the q211 lesson): Pearson correlation of endpoint degrees over
      // the directed edge list (each undirected edge counted both ways —
      // the standard estimator). Degrees are integers, so all five
      // moments are EXACT bigints over edge-sized tables; r is the fixed
      // q154 double sequence. Degree lookups ride broadcast (node-sized).
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val e = Relational.keyedPairs(li, "l_orderkey", "l_partkey")
        .groupBy(col("l_partkey_a").as("sa"), col("l_partkey_b").as("sb"))
        .agg(count(lit(1)).as("sh")).filter(col("sh") >= 2)
        .select(col("sa"), col("sb")).cut()
      val dir2 = e.union(e.select(col("sb").as("sa"), col("sa").as("sb")))
      val deg = dir2.groupBy(col("sa").as("node")).agg(count(lit(1)).as("d"))
      val samp = dir2
        .join(broadcast(deg.select(col("node").as("sa"), col("d").as("x"))),
          Seq("sa"))
        .join(broadcast(deg.select(col("node").as("sb"), col("d").as("y"))),
          Seq("sb"))
      val m = samp.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sx2"), sum(col("y") * col("y")).as("sy2"))
      def d(c: String): Column = col(c).cast("double")
      // n is even by construction (each undirected edge sampled twice),
      // so the double division is exact and the cast lossless.
      m.select((col("n").cast("double") / lit(2.0)).cast("bigint").as("n_edges"),
        round((d("n") * d("sxy") - d("sx") * d("sy")) /
          (sqrt(d("n") * d("sx2") - d("sx") * d("sx")) *
           sqrt(d("n") * d("sy2") - d("sy") * d("sy"))), 6).as("assortativity"))
    }),

    "q249_rich_club" -> ((s, dir) => {
      // Rich-club coefficient φ(k) = 2·E_k / (N_k·(N_k−1)) for k ∈
      // {2,4,8}: how densely the high-degree nodes connect to EACH
      // OTHER. One degree table (node-sized, broadcast onto the edge
      // list), then a 3-row k-grid cross joined over node- and
      // edge-sized conditional counts — all integers until the one φ
      // division.
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val e = Relational.keyedPairs(li, "l_orderkey", "l_partkey")
        .groupBy(col("l_partkey_a").as("sa"), col("l_partkey_b").as("sb"))
        .agg(count(lit(1)).as("sh")).filter(col("sh") >= 2)
        .select(col("sa"), col("sb")).cut()
      val deg = e.select(col("sa").as("node"))
        .union(e.select(col("sb").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d")).cut()
      val ks = s.range(0, 3).select(
        element_at(typedLit(Seq(2L, 4L, 8L)), col("id").cast("int") + 1).as("k"))
      val nk = ks.crossJoin(deg).filter(col("d") > col("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n_rich"))
      val ek = ks.crossJoin(
          e.join(broadcast(deg.select(col("node").as("sa"), col("d").as("da"))),
            Seq("sa"))
           .join(broadcast(deg.select(col("node").as("sb"), col("d").as("db"))),
            Seq("sb")))
        .filter(col("da") > col("k") && col("db") > col("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("e_rich"))
      ks.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
        .select(col("k"), coalesce(col("n_rich"), lit(0L)).as("n_rich"),
          coalesce(col("e_rich"), lit(0L)).as("e_rich"),
          when(coalesce(col("n_rich"), lit(0L)) >= 2,
            round((lit(2L) * coalesce(col("e_rich"), lit(0L))).cast("double") /
              (col("n_rich") * (col("n_rich") - 1)).cast("double"), 6))
            .as("phi"))
    }),

    "q250_modularity" -> ((s, dir) => {
      // Newman modularity of the BRAND partition on the part co-purchase
      // graph: Q_c = e_c/m − (d_c/2m)² per community. Edge endpoints
      // resolve to brands via one broadcast dim join; e_c, d_c, m are
      // exact integers; each contribution is a fixed double sequence
      // over them. Tells whether brand explains the co-purchase
      // structure (it shouldn't, on synthetic data).
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val e = Relational.keyedPairs(li, "l_orderkey", "l_partkey")
        .groupBy(col("l_partkey_a").as("sa"), col("l_partkey_b").as("sb"))
        .agg(count(lit(1)).as("sh")).filter(col("sh") >= 2)
        .select(col("sa"), col("sb")).cut()
      val com = tbl(s, dir, "part")
        .select(col("p_partkey").as("node"), col("p_brand").as("community"))
      val withC = e
        .join(broadcast(com.select(col("node").as("sa"), col("community").as("ca"))),
          Seq("sa"))
        .join(broadcast(com.select(col("node").as("sb"), col("community").as("cb"))),
          Seq("sb")).cut()
      val mTot = withC.agg(count(lit(1)).as("m"))
      val eIn = withC.filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_in"))
      val dSum = withC.select(col("ca").as("community"))
        .union(withC.select(col("cb").as("community")))
        .groupBy(col("community")).agg(count(lit(1)).as("d_sum"))
      def d(c: String): Column = col(c).cast("double")
      dSum.join(eIn, Seq("community"), "left").crossJoin(broadcast(mTot))
        .select(col("community"), coalesce(col("e_in"), lit(0L)).as("e_in"),
          col("d_sum"),
          round(coalesce(col("e_in"), lit(0L)).cast("double") / d("m") -
            (d("d_sum") / (lit(2.0) * d("m"))) *
            (d("d_sum") / (lit(2.0) * d("m"))), 6).as("q_contrib"))
    }),

    "q251_eccentricity" -> ((s, dir) => {
      // Bounded-hop eccentricity probe: unit-weight BFS from 3 fixed
      // probe parts over the q211 co-purchase graph, ecc = the farthest hop
      // count reached within 6 rounds, n_reached = the ball size — the
      // diameter/coverage diagnostic. One boundedHops run per probe
      // (probe count is the bound); distances are integers riding the
      // SSSP double lane, so the oracle replay is exact.
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val e = Relational.keyedPairs(li, "l_orderkey", "l_partkey")
        .groupBy(col("l_partkey_a").as("sa"), col("l_partkey_b").as("sb"))
        .agg(count(lit(1)).as("sh")).filter(col("sh") >= 2)
        .select(col("sa"), col("sb"), lit(1.0).as("w")).cut()
      val und = e.union(e.select(col("sb").as("sa"), col("sa").as("sb"),
        col("w")))
      // r12: ONE multi-source BFS keyed on (probe, node) instead of three
      // sequential 6-round runs — 18 pinned iterations → 6, same per-probe
      // relaxation math (probe keys never mix), same (probe, ecc,
      // n_reached) rows; oracle unchanged, re-proven at sf0.001/sf0.01.
      val src = s.range(1, 4).select(col("id").as("probe"), col("id").as("node"))
      graph.ShortestPaths.multiBoundedHops(und, "sa", "sb", "w", src, 6)
        .groupBy(col("probe"))
        .agg(max(col("dist")).cast("bigint").as("ecc"),
          count(lit(1)).as("n_reached"))
        .select(col("probe"), col("ecc"), col("n_reached"))
    }),

    "q279_image_quality" -> ((s, dir) => {
      // Image quality gate on the REAL ImageIO path: per-image exact
      // integer pixel stats (luminance mean/variance + total variation,
      // the cheap sharpness signal) over a mixed corpus of solid-gray
      // (id % 5 = 0 — the "blank" class, tv = 0) and gradient images
      // (the q215 pixel formula). The oracle replays decode→stats as
      // pure arithmetic because the PNG round-trip is lossless and
      // every statistic is an integer sum.
      import s.implicits._
      val media = tbl(s, dir, "part").filter(col("p_partkey") < 48)
        .select(col("p_partkey").cast("long").as("id")).as[Long]
        .map { id =>
          val img = new java.awt.image.BufferedImage(
            8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              val g = (if (id % 5 == 0) id * 10 % 256
                       else (id * 7 + x * 3 + y * 5) % 256).toInt
              img.setRGB(x, y, (g << 16) | (g << 8) | g)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          graft.multimodal.Multimodal.MediaRow(id, bos.toByteArray, "image/png", 8, 8)
        }
      val mean = col("sum_lum").cast("double") / col("n_px").cast("double")
      // Quality stats only exist for decodable payloads: an undecodable
      // row carries decoded=false with n_px=0, and dividing by it would
      // emit NaN rows the oracle cannot have. All generated PNGs decode;
      // the filter is the robustness contract for real corpora.
      graft.multimodal.ImageCodec.extractPixelStats(media)
        .filter(col("decoded"))
        .select(col("media_id"), col("n_px"),
          round(mean, 6).as("mean_lum"),
          round(col("sum_lum_sq").cast("double") / col("n_px").cast("double")
            - mean * mean, 6).as("var_lum"),
          col("tv"), (col("tv") === 0).as("is_flat"))
    }),

    "q263_gini_stump" -> ((s, dir) => {
      // Best decision stump on p_retailprice for the "large part" label
      // (p_size ≥ 26): weighted Gini impurity over a FIXED 19-point
      // threshold grid. One corpus pass — the grid rides a broadcast
      // cross join, so the shuffle is (threshold)-bounded conditional
      // counts, never corpus×grid rows re-sorted. All counts exact
      // integers; impurity is one closed-form double expression; the
      // argmin compares 6-dp-ROUNDED values (cross-engine safe) with
      // lower-threshold tie-break via min-on-rounded.
      val grid = broadcast(s.range(1000, 1901, 50).select(col("id").as("threshold")))
      val part = tbl(s, dir, "part").select(
        col("p_retailprice").cast(dec).as("price"),
        (col("p_size") >= 26).as("y"))
      val g = part.crossJoin(grid).groupBy(col("threshold")).agg(
        sum(when(col("price") <= col("threshold").cast(dec), 1L).otherwise(0L)).as("nl"),
        sum(when(col("price") <= col("threshold").cast(dec) && col("y"), 1L)
          .otherwise(0L)).as("pl"),
        sum(when(col("price") > col("threshold").cast(dec), 1L).otherwise(0L)).as("nr"),
        sum(when(col("price") > col("threshold").cast(dec) && col("y"), 1L)
          .otherwise(0L)).as("pr"))
      def d(c: String): Column = col(c).cast("double")
      // 0-row side contributes 0 (p undefined) — guard like the oracle.
      def side(n: String, p: String): Column =
        when(col(n) > 0,
          (d(n) / (d("nl") + d("nr"))) *
            (lit(2.0) * (d(p) / d(n)) * (lit(1.0) - d(p) / d(n))))
          .otherwise(lit(0.0))
      val scored = g.select(col("threshold"), col("nl").as("n_left"),
        col("nr").as("n_right"),
        round(side("nl", "pl") + side("nr", "pr"), 6).as("gini"))
        .cut()
      val best = scored.agg(min(col("gini")).as("gmin"))
      scored.crossJoin(broadcast(best))
        .select(col("threshold"), col("n_left"), col("n_right"), col("gini"),
          (col("gini") === col("gmin")).as("is_best"))
    }),

    "q329_kmeans_lloyd" -> ((s, dir) => {
      // k-means (k=4, 3 Lloyd iterations) over the embedding corpus with
      // FULLY deterministic state: seeds are the 4 smallest md5 unit
      // hashes (TakeOrderedAndProject — no RNG, no global window),
      // distances fold dimension-ordered (zip_with + aggregate, the
      // engine's bit-deterministic vector contract), centroid means fold
      // vec_id-ordered (the q149 discipline), argmin ties break on cid
      // via struct ordering. Per iteration the corpus work is ONE
      // broadcast-k cross join + one (cid,dim)-keyed mean — the textbook
      // distributed Lloyd shape; all driver-side state is k vectors.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), Vectors.toDoubleVec(col("embedding")).as("v"))
        .cut()
      val seeds = e.select(col("vec_id"), col("v"),
          graft.plans.TextKernels.unitHashNative(concat(lit("km_"),
            col("vec_id").cast("string"))).as("h"))
        .orderBy(col("h").asc, col("vec_id").asc).limit(4)
      val c0 = operators.ScalableWindow.boundedRankCum(seeds,
        Seq(("h", true), ("vec_id", true)), "cid")
        .select(col("cid"), col("v").as("cv"))
      def sqDist(v: Column, c: Column): Column =
        aggregate(zip_with(v, c, (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)
      def assign(cent: DataFrame): DataFrame =
        e.crossJoin(broadcast(cent))
          .select(col("vec_id"), col("cid"), sqDist(col("v"), col("cv"))
            .as("dist"))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("dist"), col("cid"))).as("m"))
          .select(col("vec_id"), col("m.cid").as("cid"),
            col("m.dist").as("dist"))
      def newCent(asg: DataFrame): DataFrame =
        asg.join(e, Seq("vec_id"))
          .select(col("cid"), col("vec_id"),
            posexplode(col("v")).as(Seq("dim", "x")))
          .groupBy(col("cid"), col("dim"))
          .agg((aggregate(array_sort(collect_list(struct(col("vec_id"),
              col("x")))), lit(0.0), (a, r) => a + r.getField("x"))
            / count(lit(1))).as("c"))
          .groupBy(col("cid"))
          .agg(transform(array_sort(collect_list(struct(col("dim"),
            col("c")))), r => r.getField("c")).as("cv"))
          .cut()
      val c3 = (1 to 3).foldLeft(c0)((c, _) => newCent(assign(c)))
      val fin = assign(c3)
      fin.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vecs"),
          aggregate(array_sort(collect_list(struct(col("vec_id"),
              round(col("dist"), 9).as("d9")))), lit(0.0),
            (a, r) => a + r.getField("d9")).as("inertia"))
        .select(col("cid"), col("n_vecs"),
          round(col("inertia"), 4).as("inertia"))
    }),

    "q330_silhouette" -> ((s, dir) => {
      // Simplified (centroid-based) silhouette per label: a = distance
      // to the own-label centroid, b = nearest other-label centroid;
      // s = (b−a)/max(a,b) — the linear-cost variant of the O(n²)
      // silhouette, the standard screen for "are these labels separable
      // in embedding space". Centroids reuse the q149 vec_id-ordered
      // fold; per-label means fold vec_id-ordered. One broadcast-
      // centroid cross join is the only corpus-shaped step.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          Vectors.toDoubleVec(col("embedding")).as("v"))
        .cut()
      val cent = e
        .select(col("vec_id"), col("label"),
          posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg((aggregate(array_sort(collect_list(struct(col("vec_id"),
            col("x")))), lit(0.0), (a, r) => a + r.getField("x"))
          / count(lit(1))).as("c"))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("dim"),
          col("c")))), r => r.getField("c")).as("cv"))
        .withColumnRenamed("label", "clabel")
      val dists = e.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("label"), col("clabel"),
          sqrt(aggregate(zip_with(col("v"), col("cv"),
            (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x))
            .as("dist"))
      val aDist = dists.filter(col("label") === col("clabel"))
        .select(col("vec_id"), col("label"), col("dist").as("a"))
      val bDist = dists.filter(col("label") =!= col("clabel"))
        .groupBy(col("vec_id")).agg(min(col("dist")).as("b"))
      aDist.join(bDist, Seq("vec_id"))
        .select(col("vec_id"), col("label"),
          ((col("b") - col("a")) / greatest(col("a"), col("b"))).as("sil"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          aggregate(array_sort(collect_list(struct(col("vec_id"),
              round(col("sil"), 9).as("s9")))), lit(0.0),
            (a, r) => a + r.getField("s9")).as("ssum"))
        .select(col("label"), col("n_vecs"),
          round(col("ssum") / col("n_vecs").cast("double"), 6)
            .as("mean_silhouette"))
    }),

    "q371_edge_truss_support" -> ((s, dir) => {
      // Per-edge triangle support over q171's thresholded co-purchase
      // graph — the k-truss building block (an edge survives the
      // 4-truss iff support ≥ 2). Same degree-ordered O(m^1.5) wedge
      // join as the per-node counter ([[graph.Triangles]]); the output
      // adds the support integer and the 4-truss verdict per edge.
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      val a = li.select(col("l_orderkey"), col("l_suppkey").as("sa"))
      val b = li.select(col("l_orderkey"), col("l_suppkey").as("sb"))
      val edges = a.join(b, Seq("l_orderkey"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("w"))
        .filter(col("w") >= 5)
        .select(col("sa"), col("sb"))
      graph.Triangles.perEdgeSupport(edges, "sa", "sb")
        .select(col("a").as("sa"), col("b").as("sb"), col("support"),
          (col("support") >= 2).as("in_4truss"))
    }),

    "q383_matryoshka_recall" -> ((s, dir) => {
      // Matryoshka truncation evaluation (Kusupati et al. 2022): how
      // much of the FULL-dim exact top-10 survives when the stored
      // embedding is truncated to its 32/16/8-dim prefix — the sizing
      // study behind every MRL index deployment. Each candidate list
      // is the q38 brute-force contract (one codegen'd scan →
      // TakeOrderedAndProject, 4-dp-rounded cosine, vec_id tie-break);
      // recall is a 10-row semi-join per dim. Query vector is the
      // bounded driver-side scalar the tier always uses.
      import graft.functions.Vectors
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      require(q.size == 64, s"embeddings are 64-dim by contract, got ${q.size}")
      def topk(d: Int) = e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(Vectors.cosineToConst(slice(col("embedding"), 1, d), q.take(d)), 4)
            .as("cs"))
        .orderBy(col("cs").desc, col("vec_id")).limit(10)
        .select(col("vec_id"))
      val full = topk(64).cut()
      Seq(64, 32, 16, 8).map { d =>
        topk(d).join(full, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_overlap"))
          .select(lit(d).as("dim"), col("n_overlap"),
            round(col("n_overlap").cast("double") / 10.0, 2).as("recall_at_10"))
      }.reduce(_.unionAll(_))
    }),

    "q372_ppr_seeded" -> ((s, dir) => {
      // Personalized PageRank from a 5-supplier seed set over the q163
      // co-purchase graph: the teleport lands on the seeds, so rank mass
      // measures proximity TO the seeds — the similar-item expansion a
      // recommender or a data-curation "find more like these" pass runs.
      // Same per-iteration shape as q163 (edge-scan join + map-combined
      // sum, node-sized pinned state); the oracle unrolls the identical
      // 10 damped iterations with the seed indicator inlined.
      val li = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val a = li.select(col("l_orderkey"), col("l_suppkey").as("src"))
      val b = li.select(col("l_orderkey"), col("l_suppkey").as("dst"))
      val edges = a.join(b, Seq("l_orderkey"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst")).distinct()
      val nodes = tbl(s, dir, "supplier").select(col("s_suppkey"))
      val seeds = nodes.filter(col("s_suppkey") <= 5)
      graph.PageRank.runPersonalized(edges, "src", "dst", nodes, "s_suppkey",
          seeds, "s_suppkey", damping = 0.85, iters = 10)
        .select(col("node").as("s_suppkey"), round(col("rank"), 8).as("ppr"))
    }),

    "q407_sign_quant_recall" -> ((s, dir) => {
      // 1-bit (sign) quantization evaluation: Hamming top-10 over the
      // 64×-compressed sign codes vs the full-precision exact cosine
      // top-10 (the q38 contract) — the cheapest point on the
      // quantization curve q84 (int8) and q383 (Matryoshka prefixes)
      // trace, and the binary-code screen an ANN index uses before a
      // float rerank. Hamming distances are exact integers (zip_with
      // |a−b| over 0/1 codes); both top-10s are TakeOrderedAndProject;
      // recall is a 10-row semi-join.
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      val qbits = q.map(x => if (x > 0.0) 1L else 0L)
      val bits = transform(col("embedding"),
        x => when(x.cast("double") > 0.0, 1L).otherwise(0L))
      val ham = aggregate(zip_with(bits, array(qbits.map(lit): _*),
        (a, b) => abs(a - b)), lit(0L), _ + _)
      val signTop = e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), ham.as("ham"))
        .orderBy(col("ham").asc, col("vec_id")).limit(10)
        .cut()
      val exact = e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(Vectors.cosineToConst(col("embedding"), q), 4).as("cs"))
        .orderBy(col("cs").desc, col("vec_id")).limit(10)
      val overlap = signTop.join(exact, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap"))
      signTop.agg(max(col("ham")).as("max_ham")).crossJoin(overlap)
        .select(col("n_overlap"),
          round(col("n_overlap").cast("double") / 10.0, 2).as("recall_at_10"),
          col("max_ham"))
    }),

    "q408_calinski_harabasz" -> ((s, dir) => {
      // Calinski–Harabasz (variance-ratio) index of the labeled
      // embedding clusters — the between/within dispersion complement
      // of silhouette (q330) and purity/NMI (q284). WCSS and BCSS
      // reduce to per-label folds: per-vector squared distances fold
      // vec_id-ordered on the 9-dp grid (the q330 float contract),
      // per-label terms fold label-ordered, and the index is one fixed
      // double expression. The only corpus-shaped step is the
      // broadcast-centroid join.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          Vectors.toDoubleVec(col("embedding")).as("v"))
        .cut()
      val ed = e.select(col("vec_id"), col("label"),
        posexplode(col("v")).as(Seq("dim", "x")))
      def centroid(keys: Seq[Column]) = ed.groupBy(keys :+ col("dim"): _*)
        .agg((aggregate(array_sort(collect_list(struct(col("vec_id"),
            col("x")))), lit(0.0), (a, r) => a + r.getField("x"))
          / count(lit(1))).as("c"))
      val cent = centroid(Seq(col("label")))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          r => r.getField("c")).as("cv"))
      val gcent = centroid(Seq.empty)
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          r => r.getField("c")).as("gv"))
      val nj = e.groupBy(col("label")).agg(count(lit(1)).as("nj"))
      def sq(a: Column, b: Column) =
        aggregate(zip_with(a, b, (p, q) => (p - q) * (p - q)), lit(0.0),
          (acc, x) => acc + x)
      val wj = e.join(broadcast(cent), Seq("label"))
        .select(col("label"), col("vec_id"),
          round(sq(col("v"), col("cv")), 9).as("d2"))
        .groupBy(col("label"))
        .agg(aggregate(array_sort(collect_list(struct(col("vec_id"),
          col("d2")))), lit(0.0), (a, r) => a + r.getField("d2")).as("w"))
      val bj = cent.join(nj, Seq("label")).crossJoin(broadcast(gcent))
        .select(col("label"),
          round(col("nj").cast("double") * sq(col("cv"), col("gv")), 9).as("b"))
      val tot = e.agg(count(lit(1)).as("n"), countDistinct(col("label")).as("k"))
      wj.join(bj, Seq("label"))
        .agg(aggregate(array_sort(collect_list(struct(col("label"), col("w")))),
          lit(0.0), (a, r) => a + r.getField("w")).as("wcss"),
          aggregate(array_sort(collect_list(struct(col("label"), col("b")))),
            lit(0.0), (a, r) => a + r.getField("b")).as("bcss"))
        .crossJoin(tot)
        // bcss/wcss unrounded (roundlint r11): 9-dp term fold sums on a
        // 4-dp output grid — boundary class; ch_index keeps its round
        // (a ratio of the two sums is off any grid)
        .select(col("n").as("n_vecs"), col("k").as("n_clusters"),
          col("bcss"), col("wcss"),
          round((col("bcss") / (col("k") - 1).cast("double")) /
            (col("wcss") / (col("n") - col("k")).cast("double")), 4)
            .as("ch_index"))
    }),

    "q409_davies_bouldin" -> ((s, dir) => {
      // Davies–Bouldin terms per labeled cluster: σ_j = mean distance
      // to the own centroid (vec_id-ordered 9-dp fold), pairwise
      // centroid separations on the k²-sized (label-bounded) frame,
      // db_term_j = max_{i≠j}(σ_i+σ_j)/d_ij — the third internal
      // cluster-validity face beside silhouette (q330) and CH (q408);
      // lower is better-separated.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          Vectors.toDoubleVec(col("embedding")).as("v"))
        .cut()
      val cent = e.select(col("vec_id"), col("label"),
          posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg((aggregate(array_sort(collect_list(struct(col("vec_id"),
            col("x")))), lit(0.0), (a, r) => a + r.getField("x"))
          / count(lit(1))).as("c"))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          r => r.getField("c")).as("cv"))
        .cut()
      def sq(a: Column, b: Column) =
        aggregate(zip_with(a, b, (p, q) => (p - q) * (p - q)), lit(0.0),
          (acc, x) => acc + x)
      val sig = e.join(broadcast(cent), Seq("label"))
        .select(col("label"), col("vec_id"),
          round(sqrt(sq(col("v"), col("cv"))), 9).as("d"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          (aggregate(array_sort(collect_list(struct(col("vec_id"), col("d")))),
            lit(0.0), (a, r) => a + r.getField("d")) / count(lit(1)))
            .as("sigma"))
      val cd = cent.select(col("label").as("li"), col("cv").as("cvi"))
        .join(cent.select(col("label").as("lj"), col("cv").as("cvj")),
          col("li") =!= col("lj"))
        .select(col("li"), col("lj"), sqrt(sq(col("cvi"), col("cvj"))).as("dc"))
      cd.join(sig.select(col("label").as("li"), col("sigma").as("si"),
          col("n_vecs")), Seq("li"))
        .join(sig.select(col("label").as("lj"), col("sigma").as("sj")), Seq("lj"))
        .select(col("li"), col("n_vecs"), col("si"),
          ((col("si") + col("sj")) / col("dc")).as("r"))
        .groupBy(col("li"), col("n_vecs"), col("si"))
        .agg(max(col("r")).as("dbm"))
        .select(col("li").as("label"), col("n_vecs"),
          round(col("si"), 6).as("sigma"), round(col("dbm"), 6).as("db_term"))
    }),

    "q430_mmr_diversity" -> ((s, dir) => {
      // Maximal Marginal Relevance top-5 over the exact cosine top-50
      // shortlist (λ = 0.7): each step picks argmax of
      // 0.7·rel − 0.3·max-sim-to-selected — the diversity re-ranker a
      // retrieval stack runs after ANN (q38/q88's rerank is
      // score-only). Five unrolled greedy steps on the 50-row
      // (shortlist-bounded) frame; rel and the 50² pairwise cosines
      // round at 4 dp (the q38 contract), ties break on vec_id, so
      // every argmax is deterministic in both engines.
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      val cand = e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(Vectors.cosineToConst(col("embedding"), q), 4).as("rel"),
          Vectors.toDoubleVec(col("embedding")).as("v"))
        .orderBy(col("rel").desc, col("vec_id")).limit(50)
        .cut()
      val sim = cand.select(col("vec_id").as("vi"), col("v").as("va"))
        .join(cand.select(col("vec_id").as("vj"), col("v").as("vb")),
          col("vi") =!= col("vj"))
        .select(col("vi"), col("vj"),
          round(Vectors.cosine(col("va"), col("vb")), 4).as("sim"))
        .cut()
      val rels = cand.select(col("vec_id"), col("rel"))
      val p1 = rels.orderBy(col("rel").desc, col("vec_id")).limit(1)
        .select(lit(1L).as("rank"), col("vec_id"), col("rel"),
          col("rel").as("score"))
        .cut()
      def step(sel: DataFrame, t: Int): DataFrame = {
        val selIds = sel.select(col("vec_id").as("vj"))
        val pick = rels.join(sel.select(col("vec_id")), Seq("vec_id"),
            "left_anti")
          .join(sim, col("vec_id") === col("vi"))
          .join(broadcast(selIds), Seq("vj"), "left_semi")
          .groupBy(col("vec_id"), col("rel"))
          .agg(max(col("sim")).as("ms"))
          .select(col("vec_id"), col("rel"),
            (lit(0.7) * col("rel") - lit(0.3) * col("ms")).as("score"))
          .orderBy(col("score").desc, col("vec_id")).limit(1)
          .select(lit(t.toLong).as("rank"), col("vec_id"), col("rel"),
            col("score"))
        sel.unionAll(pick).cut()
      }
      val sel5 = (2 to 5).foldLeft(p1)((acc, t) => step(acc, t))
      sel5.select(col("rank"), col("vec_id"), col("rel"),
        round(col("score"), 4).as("score"))
    }),

    "q431_centroid_drift" -> ((s, dir) => {
      // Embedding drift check per label: split each label's vectors
      // into even/odd vec_id halves, compare the half-centroids by
      // cosine and L2 — the "has this slice of the corpus moved"
      // monitor an embedding pipeline runs between snapshots (the
      // vector analog of the q127 KL drift). Centroids are the q330
      // vec_id-ordered dimension folds; the comparison is
      // dimension-ordered zip folds of identical doubles.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          pmod(col("vec_id"), lit(2)).as("half"),
          Vectors.toDoubleVec(col("embedding")).as("v"))
        .cut()
      val cent = e.select(col("vec_id"), col("label"), col("half"),
          posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("half"), col("dim"))
        .agg((aggregate(array_sort(collect_list(struct(col("vec_id"),
            col("x")))), lit(0.0), (a, r) => a + r.getField("x"))
          / count(lit(1))).as("c"), count(lit(1)).as("nv"))
        .groupBy(col("label"), col("half"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          r => r.getField("c")).as("cv"), first(col("nv")).as("n_vecs"))
      val ev0 = cent.filter(col("half") === 0)
        .select(col("label"), col("cv").as("c0"), col("n_vecs").as("n_even"))
      val ev1 = cent.filter(col("half") === 1)
        .select(col("label"), col("cv").as("c1"), col("n_vecs").as("n_odd"))
      ev0.join(ev1, Seq("label"))
        .select(col("label"), col("n_even"), col("n_odd"),
          round(Vectors.cosine(col("c0"), col("c1")), 6).as("centroid_cosine"),
          round(sqrt(aggregate(zip_with(col("c0"), col("c1"),
            (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x)), 6)
            .as("centroid_l2"))
    }),

    // ── Graph link-prediction / clusterability tier (round 11) ──────────

    "q469_adamic_adar" -> ((s, dir) => {
      // Adamic–Adar link prediction on the co-purchase graph: for every
      // non-adjacent pair sharing ≥1 neighbor, AA = Σ_z 1/ln(deg z)
      // over common neighbors — the degree-weighted upgrade of q179's
      // common-neighbors/Jaccard scores (a shared hub says less than a
      // shared specialist). The wedge stream rides the width-capped
      // edge list (scaledMaxWidth construction); 1/ln(deg) is the one
      // libm step, snapped to the 9-dp grid as an INTEGER nano-unit so
      // the per-pair sum is exact, order-independent, map-combinable
      // integer math (r12 probe re-plan: the old per-pair
      // array_sort(collect_list) fold materialized a list per candidate
      // pair — millions of lists at sf10); top-20 by (aa desc, a, b).
      val e0 = copurchaseEdges(s, dir).cut()
      val und = e0.select(col("pa").as("u"), col("pb").as("v"))
        .union(e0.select(col("pb").as("u"), col("pa").as("v")))
      val deg = und.groupBy(col("u")).agg(count(lit(1)).as("dg"))
      // dg >= 2: a degree-1 hub can't close a wedge anyway, and 1/ln(1)
      // would be an IEEE infinity — filter on the exact integer, never
      // on the float. deg is NODE-sized (grows with the corpus) — no
      // broadcast hint; AQE picks the strategy per scale (the r12 sf10
      // probe caught the forced broadcast re-shipping a ~20M-row build).
      val wz = und.join(deg, Seq("u"))
        .filter(col("dg") >= 2)
        .select(col("u").as("z"), col("v").as("n"),
          round(lit(1000000000.0) / log(col("dg").cast("double")))
            .cast("long").as("wn"))
      val cand = wz.as("a").join(wz.as("b"),
          col("a.z") === col("b.z") && col("a.n") < col("b.n"))
        .select(col("a.n").as("a"), col("b.n").as("b"), col("a.wn").as("wn"))
        .join(e0, col("a") === col("pa") && col("b") === col("pb"),
          "left_anti")
      val aa = cand.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n_common"), sum(col("wn")).as("aan"))
      // integer ordering == aa ordering (all terms positive)
      aa.orderBy(col("aan").desc, col("a"), col("b")).limit(20)
        .select(col("a"), col("b"), col("n_common"),
          (col("aan").cast("double") / lit(1000000000.0)).as("aa"))
    }),

    "q470_local_clustering" -> ((s, dir) => {
      // Local clustering coefficient per node on the co-purchase graph:
      // lcc(v) = 2·t(v)/(deg(v)·(deg(v)−1)) where t(v) = closed wedges
      // through v — the per-node sibling of q108's global triangle
      // count (which answers "how many", this answers "where is the
      // graph locally dense"). r12 probe re-plan (the 21×/100× find):
      // wedges enumerate over DEGREE-ORDERED out-neighborhoods — each
      // triangle is found exactly once at its minimum-(deg,id) vertex,
      // so the pair work is Σ C(outdeg,2) ≤ O(E^1.5) instead of
      // Σ C(deg,2), which squares the hub degrees as the co-purchase
      // graph densifies — then redistributed to all three corners.
      // Every count is an exact integer, lcc one division. Top-20 by
      // (lcc desc, node) among deg ≥ 2 nodes.
      val e0 = copurchaseEdges(s, dir).cut()
      val und = e0.select(col("pa").as("u"), col("pb").as("v"))
        .union(e0.select(col("pb").as("u"), col("pa").as("v")))
      val deg = und.groupBy(col("u")).agg(count(lit(1)).as("dg"))
        .cut()
      val lowFirst = col("da") < col("db") ||
        (col("da") === col("db") && col("pa") < col("pb"))
      val ed = e0
        .join(deg.select(col("u").as("pa"), col("dg").as("da")), Seq("pa"))
        .join(deg.select(col("u").as("pb"), col("dg").as("db")), Seq("pb"))
        .select(when(lowFirst, col("pa")).otherwise(col("pb")).as("src"),
          when(lowFirst, col("pb")).otherwise(col("pa")).as("dst"))
      val tri = ed.as("a").join(ed.as("b"),
          col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
        .select(col("a.src").as("ctr"), col("a.dst").as("x"),
          col("b.dst").as("y"))
        .join(e0, col("x") === col("pa") && col("y") === col("pb"),
          "left_semi")
      val perNode = tri
        .select(explode(array(col("ctr"), col("x"), col("y"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("tri"))
      deg.filter(col("dg") >= 2)
        .join(perNode, col("u") === col("w"), "left")
        .select(col("u").as("node"), col("dg").as("degree"),
          coalesce(col("tri"), lit(0L)).as("triangles"),
          (coalesce(col("tri"), lit(0L)).cast("double") * lit(2.0)
            / (col("dg") * (col("dg") - 1)).cast("double")).as("lcc"))
        .orderBy(col("lcc").desc, col("node")).limit(20)
    }),

    "q471_hopkins" -> ((s, dir) => {
      // Hopkins clusterability statistic over the embedding corpus:
      // H = Σu/(Σu+Σw) where u_i = NN distance of m=16 synthetic
      // uniform probes (per-dim min + unit-hash fraction × range —
      // data-scaled but literal-seeded, replayable in SQL), w_i = NN
      // distance of the m lowest-vec_id real vectors to any OTHER
      // vector. H → 1 clustered, ½ random. Each probe is one broadcast
      // row against a single n-linear scan (m·n distance evaluations,
      // never n²); min-distances are exact struct-mins; the two sums
      // fold in probe order.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), Vectors.toDoubleVec(col("embedding")).as("v"))
        .cut()
      val dim = e.select(size(col("v"))).head().getInt(0)
      val rng = e.select((0 until dim).map(i =>
        min(element_at(col("v"), i + 1)).as(s"mn$i")) ++
        (0 until dim).map(i =>
          max(element_at(col("v"), i + 1)).as(s"mx$i")): _*)
      import s.implicits._
      val probes = (0 until 16).map { j =>
        (j.toLong, (0 until dim).map(i => graft.plans.TextKernels.unitHash(
          org.apache.spark.unsafe.types.UTF8String
            .fromString(s"hop_${j}_$i"))))
      }.toDF("pid", "fr")
      val synth = probes.crossJoin(broadcast(rng))
        .select(col("pid"), array((0 until dim).map(i =>
          col(s"mn$i") + element_at(col("fr"), i + 1)
            * (col(s"mx$i") - col(s"mn$i"))): _*).as("sv"))
      def d2(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)
      val u = e.crossJoin(broadcast(synth))
        .groupBy(col("pid")).agg(min(d2(col("sv"), col("v"))).as("du"))
      val samp = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("sid"), col("v").as("svv"))
      val w = e.crossJoin(broadcast(samp))
        .filter(col("vec_id") =!= col("sid"))
        .groupBy(col("sid")).agg(min(d2(col("svv"), col("v"))).as("dw"))
      def fold(df: DataFrame, key: String, vc: String, nm: String) =
        df.agg(aggregate(array_sort(collect_list(struct(col(key),
          sqrt(col(vc)).as("t")))), lit(0.0),
          (acc, x) => acc + x.getField("t")).as(nm))
      fold(u, "pid", "du", "su").crossJoin(fold(w, "sid", "dw", "sw"))
        .select(lit(16L).as("m"),
          (col("su") / (col("su") + col("sw"))).as("hopkins"))
    }),

    "q482_source_dispersion" -> ((s, dir) => {
      // Semantic dispersion per embedding LABEL source-slice: mean
      // squared distance to the slice centroid via the moment identity
      // E|v−c|² = E|v|² − |c|² — no second pass over the data, both
      // moments fold per (label, dim) exactly as q330's centroids (the
      // within-slice diversity number a curation run reads next to the
      // q431 drift check). |v|² folds per vector in vec_id order;
      // centroids are dimension-ordered folds; the identity is pure
      // IEEE arithmetic of identical doubles.
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          Vectors.toDoubleVec(col("embedding")).as("v"))
        .cut()
      val nsq = e.select(col("label"), col("vec_id"),
        aggregate(col("v"), lit(0.0), (a, x) => a + x * x).as("n2"))
      val en2 = nsq.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          (aggregate(array_sort(collect_list(struct(col("vec_id"),
            col("n2").as("n2")))), lit(0.0),
            (acc, x) => acc + x.getField("n2"))
            / count(lit(1))).as("en2"))
      val cent = e.select(col("label"), col("vec_id"),
          posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg((aggregate(array_sort(collect_list(struct(col("vec_id"),
          col("x")))), lit(0.0), (a, r) => a + r.getField("x"))
          / count(lit(1))).as("c"))
      val cn2 = cent.groupBy(col("label"))
        .agg(aggregate(array_sort(collect_list(struct(col("dim"),
          (col("c") * col("c")).as("c2")))), lit(0.0),
          (acc, x) => acc + x.getField("c2")).as("cn2"))
      en2.join(cn2, Seq("label"))
        .select(col("label"), col("n_vecs"),
          (col("en2") - col("cn2")).as("dispersion"))
    }),
  )

  /** The ≥2-shared-orders part co-purchase edge list (pa < pb) — q211's
    * construction, shared by the q450–q452 topology-audit tier. Basket-
    * width-bounded pair stream (keyedPairs), never corpus².
    */
  private def copurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .cut()
    // Rows-derived width cap (r11, the scaledEps precedent): √N bounds
    // any single basket's pair output by the corpus row budget. TPC-H
    // baskets are ≤ 7 ≪ √N at every sf, so the edge list is
    // bit-identical to the uncapped build at the gate AND at the probe
    // decades — the cap is the policy for skewed real-world baskets.
    val cap = operators.Relational.scaledMaxWidth(li.count())
    operators.Relational.keyedPairs(li, "l_orderkey", "l_partkey",
        maxWidth = Some(cap))
      .groupBy(col("l_partkey_a").as("pa"), col("l_partkey_b").as("pb"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .select(col("pa"), col("pb"))
  }

  /** q183's metric tail — rank, DCG/IDCG on the 6-dp grid, MRR — over a
    * `top` table of (qid, vec_id, label, cos) shortlist rows. Shared
    * VERBATIM by the streaming retrieval monitor's rollup
    * ([[graft.streaming.StreamingRetrievalEval]]), so stream == batch is
    * pinned on one code path (the weightedJaccardFinish discipline).
    */
  private[graft] def retrievalEvalFinish(
      top: DataFrame, qinfo: DataFrame, relCorpus: DataFrame): DataFrame = {
    val ranked = top.join(broadcast(qinfo), Seq("qid"))
      .withColumn("rank", row_number()
        .over(Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id")))
        .cast("long"))
      .withColumn("rel", (col("label") === col("qlabel")).cast("int"))
      .withColumn("comp",
        round(col("rel").cast("double") /
          log2(col("rank").cast("double") + lit(1.0)), 6))
    val agg_ = ranked.groupBy(col("qid"), col("qlabel"))
      .agg(sum(col("rel")).cast("long").as("n_rel_top10"),
        aggregate(array_sort(collect_list(struct(col("rank"), col("comp")))),
          lit(0.0), (acc, x) => acc + x.getField("comp")).as("dcg"),
        min(when(col("rel") === 1, col("rank"))).as("first_rel"))
    agg_.join(broadcast(relCorpus), Seq("qlabel"))
      .withColumn("m", least(lit(10L), col("n_label")))
      .withColumn("idcg", aggregate(sequence(lit(1L), col("m")),
        lit(0.0), (acc, i) =>
          acc + round(lit(1.0) / log2(i.cast("double") + lit(1.0)), 6)))
      .select(col("qid"), col("n_rel_top10"),
        round(col("dcg") / col("idcg"), 6).as("ndcg10"),
        coalesce(round(lit(1.0) / col("first_rel").cast("double"), 6), lit(0.0))
          .as("mrr"))
  }
}
