package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.operators.{Dedup, Grouping, LanguageModel, Pack, Passages, Sampling, SetJoin, Similarity, Skew, Upsert}
import graft.functions.Text
import graft.pipeline.Pipeline
import graft.sources.{Tables, TestdataAdapter}
import graft.transform.Kpis
import graft.validate.{Rules, TableRules}
import graft.EntryFixtures._
import graft.EntryOracles._

/** The Ann slice of the SparkEntry registry — similarity search, embeddings, and ANN indexes.
  * Entries are verbatim from the pre-split SparkEntry (VERDICT r11 #8);
  * SparkEntry merges every slice into the driver-contract maps.
  */
private[graft] object AnnQueries {

  /** Stored-index root memo for ann_ivfpq_served (the curateStreamRoots
    * recipe): the index trains + commits ONCE per (session, sf dir) and
    * every later call serves from the stored artifacts. The memoized
    * value is a scratch path — no persisted frames, so no liveness check
    * — and entries drop with Caches.clear so a fresh-cost measurement
    * re-trains instead of serving a deleted scratch dir.
    */
  private[graft] val ivfPqIndexRoots =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()
  graft.util.Caches.onClear(() => ivfPqIndexRoots.clear())

  /** The binary tier's stored-code root memo — same recipe. */
  private[graft] val binaryIndexRoots =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()
  graft.util.Caches.onClear(() => binaryIndexRoots.clear())

  /** The SQ8 tier's stored bounds+codes root memo — same recipe. */
  private[graft] val sq8IndexRoots =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()
  graft.util.Caches.onClear(() => sq8IndexRoots.clear())

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    // k-NN graph recall (Similarity.knnGraph): every planted exact copy
    // shares its original's k-means cell by construction, and an
    // identical vector maximizes cosine — so the original MUST be the
    // copy's rank-1 neighbor regardless of clustering quality. The
    // structural invariant that puts the cluster-then-neighbor graph
    // under the DuckDB oracle (the dedup_semantic_recall stance).
    "knn_graph_recall" -> ((s, dir) => {
      val e = embDouble(s, dir).select(col("vec_id"), col("emb_d"))
      val planted = e.unionByName(e.filter(col("vec_id") < 50).select(
        (col("vec_id") + PlantedOffset).as("vec_id"), col("emb_d")))
      val g = graft.operators.Similarity.knnGraph(planted, k = 5,
        cId = "vec_id", cVec = "emb_d")
      val base = e.filter(col("vec_id") < 50).select(col("vec_id"))
      base.join(g,
        base("vec_id") + PlantedOffset === g("src") &&
          g("dst") === base("vec_id") && g("rank") === 1, "left_semi")
        .select(col("vec_id"), lit(true).as("found"))
    }),
    // FULLY-ORACLED general form (formerly rows-only, VERDICT r13 #3):
    // knnGraph clusters with kmeansCellsFixed, so the cells, the capped
    // per-cell cosine pairs, and the ranks all replay verbatim in DuckDB;
    // the recall/valid twins keep pinning the structural invariants.
    "knn_graph" -> ((s, dir) =>
      graft.operators.Similarity.knnGraph(
        embDouble(s, dir).select(col("vec_id"), col("emb_d")),
        k = 5, cId = "vec_id", cVec = "emb_d")),
    // JL random projection (Similarity.randomProjection): 64 -> 8 dims
    // under the seed-77 Gaussian planes; pure per-row map, long-form
    // output, IEEE-exact (products + left-assoc sums, no ln) — the
    // oracle replays all 8 folds term by term from the same PRNG.
    "emb_project" -> ((s, dir) =>
      graft.operators.Similarity.randomProjection(
        embDouble(s, dir).select(col("vec_id"), col("emb_d")),
        dim = 64, outDim = 8, seed = 77L, cId = "vec_id", cVec = "emb_d")),
    // Embedding-dimension ablation (Matryoshka-style truncation eval):
    // per query, top-10 overlap between the full-dimension cosine
    // ranking and the first-16-dims ranking — the "how many dims can we
    // drop" table. Both rankings are the oracle-verified
    // Similarity.bruteForceTopK; the overlap is an integer semi-join
    // count, recall one exact division.
    "ann_dim_ablation" -> ((s, dir) => {
      val e = embDouble(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec"))
      val full = Similarity.bruteForceTopK(q,
        e.select(col("vec_id"), col("emb_d").as("embedding")), k = 10)
      val trunc = Similarity.bruteForceTopK(
        q.select(col("q_id"), slice(col("q_vec"), 1, 16).as("q_vec")),
        e.select(col("vec_id"), slice(col("emb_d"), 1, 16).as("embedding")),
        k = 10)
      full.select("q_id", "vec_id")
        .join(trunc.select("q_id", "vec_id"),
          Seq("q_id", "vec_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("overlap"))
        .select(col("q_id"), col("overlap"),
          round(col("overlap").cast("double") / 10.0, 6).as("recall_at_10"))
    }),

    // SQ8 scalar-quantized ANN (Similarity.sq8TopK): per-dimension
    // min/max bounds → 8-bit codes → dequantized-lattice asymmetric
    // cosine through the brute-force two-stage top-k. Every step is
    // closed-form (extrema are order-free, unlike trained float
    // k-means), so the WHOLE index replays verbatim in DuckDB — the
    // only compressed-vector index in the suite with a full oracle.
    "ann_sq8_topk" -> ((s, dir) => {
      val e = embDouble(s, dir)
      Similarity.sq8TopK(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec")),
        e.select(col("vec_id"), col("emb_d").as("embedding")),
        dim = 64, k = 10)
    }),
    // ...and its recall twin vs the exact ranking (the ann_dim_ablation
    // shape): overlap@10 per query, BOTH rankings replayed in SQL.
    "ann_sq8_recall" -> ((s, dir) => {
      val e = embDouble(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec"))
      val corpus = e.select(col("vec_id"), col("emb_d").as("embedding"))
      val exact = Similarity.bruteForceTopK(q, corpus, k = 10)
      val sq8 = Similarity.sq8TopK(q, corpus, dim = 64, k = 10)
      exact.select("q_id", "vec_id")
        .join(sq8.select("q_id", "vec_id"), Seq("q_id", "vec_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("overlap"))
        .select(col("q_id"), col("overlap"),
          round(col("overlap").cast("double") / 10.0, 6).as("recall_at_10"))
    }),

    // the SQ8 tier SERVED from stored artifacts (VERDICT r16 #4): the
    // extrema + byte codes commit ONCE per corpus refresh; the serve
    // scan dequantizes the stored codes against the stored 1-row bounds
    // (broadcast join — no extrema job, no float-corpus re-encode) and
    // must answer ann_sq8_topk's oracle VERBATIM.
    "ann_sq8_served" -> ((s, dir) => {
      val e = embDouble(s, dir)
      val root = sq8IndexRoots.computeIfAbsent((s, dir), { _ =>
        val r = graft.util.Scratch.dir("graft_sq8_index")
        Similarity.sq8Commit(
          e.select(col("vec_id"), col("emb_d").as("embedding")), r, dim = 64)
        r
      })
      Similarity.sq8Serve(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec")),
        root, dim = 64, k = 10)
    }),

    // ---- similarity / ANN (§7.5) ----
    "sim_bruteforce_topk" -> ((s, dir) => {
      val e = embDouble(s, dir)
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec")),
        e.select(col("vec_id"), col("emb_d").as("embedding")),
        k = 10)
    }),
    // Hard-negative mining (Similarity.hardNegativesTopK): per query
    // vector, the top-10 most-similar DIFFERENT-label vectors — the
    // contrastive-training batch builder. Label inequality rides the
    // broadcast join condition; the two-stage top-k never windows the
    // corpus globally.
    "sim_hard_negatives" -> ((s, dir) => {
      val e = embDouble(s, dir)
      Similarity.hardNegativesTopK(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec"),
            col("label").as("q_label")),
        e.select(col("vec_id"), col("emb_d").as("embedding"), col("label")),
        k = 10)
    }),
    "ann_ivf_topk" -> ((s, dir) => {
      val e = embDouble(s, dir)
      Similarity.ivfTopK(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec")),
        e.select(col("vec_id"), col("label"), col("emb_d").as("embedding")),
        cellCol = "label", k = 10, nprobe = 2)
    }),
    // FULLY-ORACLED IVF-over-k-means (formerly rows-only, VERDICT r13
    // #3): training is Similarity.kmeansCellsFixed — scaled-long
    // coordinates, integer argmin assignment, integral-div means — so
    // DuckDB replays both Lloyd's iterations verbatim, then the probe and
    // cosine top-k ride the established ann_ivf_topk replay. The float
    // trainer stays pinned by ann_ivf_valid / ann_ivf_kmeans_quality.
    "ann_ivf_kmeans" -> ((s, dir) => {
      val e = embDouble(s, dir)
      val corpus = e.select(col("vec_id"), col("emb_d").as("embedding"))
      val cells = Similarity.kmeansCellsFixed(corpus, k = 8, iters = 2)
      Similarity.ivfTopK(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec")),
        corpus.join(cells, "vec_id"),
        cellCol = "cell", k = 10, nprobe = 2)
    }),
    // IVF-PQ composite (the FAISS IVFx,PQy production layout): coarse
    // integer k-means prunes, PQ codes over per-cell RESIDUALS compress,
    // per-(query, probed-cell) residual ADC tables score — all
    // fixed-point, so coarse training, residual codebooks, encoding,
    // probing, and scoring replay verbatim in DuckDB.
    "ann_ivfpq_topk" -> ((s, dir) => {
      val e = embDouble(s, dir)
      Similarity.ivfPqTopKFixed(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec")),
        e.select(col("vec_id"), col("emb_d")),
        dim = 64, k = 10, cVec = "emb_d")
    }),
    // PERSIST-AND-SERVE (VERDICT r15 #3): the SAME index trained ONCE,
    // committed to a ManifestStore root (atomic multi-table pointer
    // swap), then served — snapshot-isolated reads feeding only the
    // probe/ADC/score DAG. Answers the ann_ivfpq_topk oracle VERBATIM: a
    // stored index must be indistinguishable from a freshly-trained one.
    "ann_ivfpq_served" -> ((s, dir) => {
      val e = embDouble(s, dir)
      val root = ivfPqIndexRoots.computeIfAbsent((s, dir), { _ =>
        val r = graft.util.Scratch.dir("graft_ivfpq_index")
        Similarity.ivfPqCommit(e.select(col("vec_id"), col("emb_d")), r,
          dim = 64, cVec = "emb_d")
        r
      })
      Similarity.ivfPqServe(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec")),
        root, dim = 64, k = 10, cId = "vec_id")
    }),
    // Margin-based bitext mining (the LASER/CCMatrix parallel-corpus
    // miner): src = vec_id < 40, tgt = exact twins of vec_id < 20 (the
    // planted parallel pairs) + 40 decoys. Margins, neighborhood
    // averages, and the mutual argmax all replay verbatim; every planted
    // pair must be mined (its cosine-1 twin maximizes both argmaxes).
    "emb_bitext_mine" -> ((s, dir) => {
      val e = embDouble(s, dir)
      val src = e.filter(col("vec_id") < 40)
        .select(col("vec_id").as("src_id"), col("emb_d").as("src_vec"))
      val tgt = e.filter(col("vec_id") < 20)
        .unionByName(e.filter(col("vec_id") >= 40 && col("vec_id") < 80))
        .select((col("vec_id") + 1000L).as("tgt_id"), col("emb_d").as("tgt_vec"))
      Similarity.bitextMine(src, tgt, k = 4, threshold = 1.2)
    }),
    // Binary (sign-bit) quantization + Hamming scan + exact rescore (the
    // vector-store "binary quantization" tier): codes are one long per
    // vector, the scan is XOR+popcount, only rescore·k survivors pay a
    // cosine. Deterministic sign bits → fully oracled.
    "ann_binary_topk" -> ((s, dir) => {
      val e = embDouble(s, dir)
      Similarity.binaryTopK(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec")),
        e.select(col("vec_id"), col("emb_d")),
        dim = 64, k = 10, cVec = "emb_d")
    }),
    // the binary tier SERVED from stored codes (VERDICT r15 #3's other
    // half): the Hamming scan reads the committed 8-byte-per-vector code
    // table, survivors rerank against the primary store — and the stored
    // index must answer ann_binary_topk's oracle VERBATIM.
    "ann_binary_served" -> ((s, dir) => {
      val e = embDouble(s, dir)
      val corpus = e.select(col("vec_id"), col("emb_d"))
      val root = binaryIndexRoots.computeIfAbsent((s, dir), { _ =>
        val r = graft.util.Scratch.dir("graft_binary_index")
        Similarity.binaryCommit(corpus, r, dim = 64, cVec = "emb_d")
        r
      })
      Similarity.binaryServe(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec")),
        corpus, root, dim = 64, k = 10, cVec = "emb_d")
    }),
    // FULLY-ORACLED LSH top-k (formerly rows-only): the portable
    // Achlioptas ±1 hyperplane family — every plane sign is md5-derived,
    // so DuckDB rebuilds the planes, the buckets, the banded join, and
    // the exact-cosine top-k verbatim. The gaussian-PRNG family stays
    // pinned by ann_lsh_valid / ann_lsh_recall / multiprobe.
    "ann_lsh_topk" -> ((s, dir) => {
      val e = embDouble(s, dir)
      Similarity.lshTopKPortable(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec")),
        e.select(col("vec_id"), col("emb_d").as("embedding")),
        dim = 64, k = 10)
    }),
    // Derived-invariant twins for the rows-only top-k outputs (VERDICT
    // r09 #7): which neighbors the seeded structures retrieve is not
    // SQL-replayable, but rank contiguity, score monotonicity, neighbor
    // uniqueness, and corpus provenance are — all computed from the
    // actual result and hash-compared against literal truth per query.
    "ann_lsh_valid" -> ((s, dir) => {
      val e = embDouble(s, dir)
      topkValid(Similarity.lshTopK(
          e.filter(col("vec_id") < 5)
            .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec")),
          e.select(col("vec_id"), col("emb_d").as("embedding")),
          dim = 64, k = 10),
        "q_id", "vec_id", "sim", ascending = false, k = 10,
        e.select("vec_id"))
    }),
    "ann_pq_valid" -> ((s, dir) => {
      val e = embDouble(s, dir)
      topkValid(Similarity.pqTopK(
          e.filter(col("vec_id") < 5)
            .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec")),
          e.select(col("vec_id"), col("emb_d")),
          dim = 64, k = 10, cVec = "emb_d"),
        "q_id", "vec_id", "adc_dist", ascending = true, k = 10,
        e.select("vec_id"))
    }),
    "ann_ivf_valid" -> ((s, dir) => {
      val e = embDouble(s, dir)
      val corpus = e.select(col("vec_id"), col("emb_d").as("embedding"))
      val cells = Similarity.kmeansCells(corpus, k = 8, iters = 2)
      topkValid(Similarity.ivfTopK(
          e.filter(col("vec_id") < 5)
            .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec")),
          corpus.join(cells, "vec_id"),
          cellCol = "cell", k = 10, nprobe = 2),
        "q_id", "vec_id", "sim", ascending = false, k = 10,
        e.select("vec_id"))
    }),
    // ... and the kNN graph: per-source flags folded into one global row
    // (the source SET depends on the clustering, so per-source rows are
    // not a deterministic oracle shape; the conjunction is).
    "knn_graph_valid" -> ((s, dir) => {
      val e = embDouble(s, dir).select(col("vec_id"), col("emb_d"))
      val g = graft.operators.Similarity.knnGraph(e, k = 5,
        cId = "vec_id", cVec = "emb_d")
      val per = topkValid(g, "src", "dst", "sim", ascending = false, k = 5,
        e.select("vec_id"))
      def allOf(c: String) = coalesce(
        min(when(col(c), 1).otherwise(0)) === 1, lit(true)).as(s"all_$c")
      val folded = per.agg(allOf("ranks_ok"), allOf("scores_sorted"),
        allOf("neighbors_distinct"), allOf("neighbors_in_corpus"))
      val noSelf = g.agg(coalesce(
        min(when(col("src") =!= col("dst"), 1).otherwise(0)) === 1,
        lit(true)).as("no_self_loops"))
      folded.crossJoin(noSelf)
    }),
    // FULLY-ORACLED PQ top-k (formerly rows-only, VERDICT r13 #3): the
    // fixed-point PQ family — scaled-long subvectors, integer-trained
    // codebooks, integer ADC tables — replays training, encoding, and
    // scoring verbatim in DuckDB. The float PQ stays pinned by
    // ann_pq_valid / ann_pq_recall.
    "ann_pq_topk" -> ((s, dir) => {
      val e = embDouble(s, dir)
      Similarity.pqTopKFixed(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec")),
        e.select(col("vec_id"), col("emb_d")),
        dim = 64, k = 10, cVec = "emb_d")
    }),
    // PQ structural self-recall: a query drawn from the corpus encodes to
    // the codes that MINIMIZE each subspace's quantization distance, so
    // its ADC score Σ_j min_c d2(q_j, c) is termwise ≤ any other row's —
    // and IEEE rounding is monotone under the fixed-order fold — so the
    // self row always ties the global minimum EXACTLY (same doubles, same
    // order). Pins training/encoding/table consistency end-to-end even
    // though the trained centroids aren't SQL-replicable.
    "ann_pq_recall" -> ((s, dir) => {
      val e = embDouble(s, dir)
      val corpus = e.select(col("vec_id"), col("emb_d"))
      val cb = Similarity.pqCodebook(corpus, dim = 64, m = 4, cVec = "emb_d")
      val scored = Similarity.pqScores(
        corpus.filter(col("vec_id") < 50)
          .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec")),
        Similarity.pqCodes(corpus, cb, dim = 64, m = 4, cVec = "emb_d"),
        cb, dim = 64, m = 4)
      val mins = scored.groupBy(col("q_id")).agg(min(col("adc_dist")).as("min_adc"))
      val self = scored.filter(col("q_id") === col("vec_id"))
        .select(col("q_id"), col("adc_dist").as("self_adc"))
      mins.join(self, "q_id")
        .select(col("q_id"), (col("self_adc") === col("min_adc")).as("found"))
    }),
    // LSH self-recall (VERDICT r03 #1): each query vector is drawn from the
    // corpus, collides with itself in every hash table by construction, and
    // cosine(v, v) rounds to exactly 1.0 — so rank 1 must be the query
    // itself. Oracle-exact even though the hyperplanes are PRNG.
    "ann_lsh_recall" -> ((s, dir) => {
      val e = embDouble(s, dir)
      Similarity.lshTopK(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec")),
        e.select(col("vec_id"), col("emb_d").as("embedding")),
        dim = 64, k = 10)
        .filter(col("rank") === 1)
        .select(col("q_id"), col("vec_id"), col("sim"))
    }),
    // Multi-probe LSH (Similarity.lshTopKMultiProbe): the oracle pins the
    // two structural guarantees — every query still self-retrieves at
    // rank 1 / sim 1.0 (the base bucket always contains self), and
    // recall@10 against the exact brute-force top-10 DOMINATES the
    // single-probe run (the candidate set is a strict superset; anything
    // outranking a true top-k member is itself a true top-k member, so
    // hits cannot drop). Both recalls are computed distributively; only
    // the invariant booleans reach the output row.
    "ann_lsh_multiprobe_recall" -> ((s, dir) => {
      val e = embDouble(s, dir)
      val queries = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec"))
      val corpus = e.select(col("vec_id"), col("emb_d").as("embedding"))
      val exact = Similarity.bruteForceTopK(queries, corpus, k = 10)
        .select(col("q_id"), col("vec_id"))
      def hits(ann: DataFrame): DataFrame = ann
        .select(col("q_id"), col("vec_id"))
        .join(exact, Seq("q_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("__hits"))
      val single = Similarity.lshTopK(queries, corpus, dim = 64, k = 10)
      val multi = Similarity.lshTopKMultiProbe(queries, corpus, dim = 64, k = 10)
      val self = multi.filter(col("rank") === 1).agg(
        count(lit(1)).as("__nq"),
        min(when(col("vec_id") === col("q_id") && col("sim") === 1.0, 1)
          .otherwise(0)).as("__selfok"))
      self.crossJoin(hits(single).select(col("__hits").as("__hs")))
        .crossJoin(hits(multi).select(col("__hits").as("__hm")))
        .select(col("__nq").cast("int").as("n_queries"),
          (col("__selfok") === 1).as("self_rank1_all"),
          (col("__hm") >= col("__hs")).as("recall_dominates"))
    }),
    // MMR diversified rerank (Similarity.mmrRerank): the classic
    // Carbonell–Goldstein greedy — argmax λ·sim(q,d) − (1−λ)·max
    // sim-to-selected, seeded with the rank-1 candidate, ties to the
    // lower id. All arithmetic on 6-rounded cosines in fixed order, so
    // the oracle replays the whole greedy trajectory (4 unrolled steps).
    "sim_mmr_rerank" -> ((s, dir) => {
      val e = embDouble(s, dir)
      Similarity.mmrRerank(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec")),
        e.select(col("vec_id"), col("emb_d").as("embedding")),
        k = 5, nCandidates = 10)
    }),
    // IVF multi-probe recall dominance (VERDICT r13 #6, the
    // ann_lsh_multiprobe_recall stance): a query's top-4 probe cells are
    // a SUPERSET of its top-2 (same csim ordering, same tie-break), and
    // ranking a superset by the same score can only displace a true
    // top-k member with another true top-k member — so recall@10 vs the
    // exact brute-force top-10 cannot drop as nprobe grows. Both recalls
    // are computed distributively (semi-join counts); only the invariant
    // booleans reach the output row.
    "ann_ivf_multiprobe_recall" -> ((s, dir) => {
      val e = embDouble(s, dir)
      val queries = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("emb_d").as("q_vec"))
      val corpus = e.select(col("vec_id"), col("emb_d").as("embedding"))
      val cells = Similarity.kmeansCellsFixed(corpus, k = 8, iters = 2)
      val indexed = corpus.join(cells, "vec_id")
      val exact = Similarity.bruteForceTopK(queries, corpus, k = 10)
        .select(col("q_id"), col("vec_id"))
      def hits(ann: DataFrame): DataFrame = ann
        .select(col("q_id"), col("vec_id"))
        .join(exact, Seq("q_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("__hits"))
      val p2 = Similarity.ivfTopK(queries, indexed, cellCol = "cell",
        k = 10, nprobe = 2)
      val p4 = Similarity.ivfTopK(queries, indexed, cellCol = "cell",
        k = 10, nprobe = 4)
      val nq = p4.filter(col("rank") === 1).agg(count(lit(1)).as("__nq"))
      nq.crossJoin(hits(p2).select(col("__hits").as("__h2")))
        .crossJoin(hits(p4).select(col("__hits").as("__h4")))
        .select(col("__nq").cast("int").as("n_queries"),
          (col("__h4") >= col("__h2")).as("recall_dominates"))
    }),
    // k-means assignment-quality invariants (VERDICT r03 #1): every vector
    // assigned exactly once, every cell id in [0, k), and a planted
    // near-identical copy (tiny scale perturbation — cosine is
    // scale-invariant) lands in the same cell as its original. All counts
    // are oracle-derivable even though the trained centroids aren't.
    "ann_ivf_kmeans_quality" -> ((s, dir) => {
      val e = embDouble(s, dir)
      val base = e.select(col("vec_id"), col("emb_d").as("embedding"))
      val planted = base.filter(col("vec_id") < 50).select(
        (col("vec_id") + PlantedOffset).as("vec_id"),
        transform(col("embedding"), x => x * 1.0000001d).as("embedding"))
      val corpus = base.unionByName(planted)
      val cells = Similarity.kmeansCells(corpus, k = 8, iters = 2)
      val orig = cells.filter(col("vec_id") < PlantedOffset)
      val copies = cells.filter(col("vec_id") >= PlantedOffset).select(
        (col("vec_id") - PlantedOffset).as("vec_id"), col("cell").as("copy_cell"))
      val nVectors = corpus.agg(count(lit(1)).as("n_vectors"))
      val totals = cells.agg(count(lit(1)).as("n_assigned"),
        sum(when(col("cell") < 0 || col("cell") >= 8, 1L).otherwise(0L))
          .as("n_bad_cell"))
      val same = orig.join(copies, "vec_id").agg(
        count(lit(1)).as("n_planted"),
        sum(when(col("cell") === col("copy_cell"), 1L).otherwise(0L))
          .as("n_same_cell"))
      // single-row × single-row joins on a constant key (not a data-path
      // cross join — each side is one aggregate row)
      nVectors.withColumn("__j", lit(1))
        .join(totals.withColumn("__j", lit(1)), "__j")
        .join(same.withColumn("__j", lit(1)), "__j")
        .drop("__j")
    }))

  /** CTE chain replaying [[graft.operators.Similarity.kmeansCellsFixed]]
    * verbatim: scale-to-long coordinates, `iters` unrolled rounds of
    * integer argmin assignment (ties to the lower cell) and integral-div
    * centroid means. Expects an `e(vec_id, v DOUBLE[])` CTE in scope;
    * ends with a `cells(vec_id, cell)` CTE. Scale is 2^20 — floor of an
    * exact power-of-two multiply, so Spark and DuckDB see identical
    * longs.
    */
  private def sqlKmeansFixedCells(k: Int, iters: Int, dim: Int): String = {
    val d2 = s"list_sum(list_transform(generate_series(1, $dim), " +
      "i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i])))"
    val scaled =
      s"""scaled AS (SELECT vec_id,
           list_transform(v, x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS sv
         FROM e),
       c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, sv AS cv
              FROM (SELECT vec_id, sv FROM scaled ORDER BY vec_id LIMIT $k))"""
    val rounds = (1 to iters).map { t =>
      val assign =
        s"""a$t AS (SELECT vec_id, sv, cell FROM (
             SELECT s.vec_id, s.sv, c.cell,
               row_number() OVER (PARTITION BY s.vec_id
                 ORDER BY $d2, c.cell) AS rn
             FROM ${if (t == 1) "scaled" else s"a${t - 1}"} s
               CROSS JOIN c${t - 1} c) WHERE rn = 1)"""
      val refit = if (t == iters) "" else
        s""",
         c$t AS (SELECT cell, list(m ORDER BY pos) AS cv FROM (
             SELECT cell, i AS pos, SUM(sv[i]) // COUNT(*) AS m
             FROM a$t, generate_series(1, $dim) AS g(i)
             GROUP BY cell, i) GROUP BY cell)"""
      assign + refit
    }.mkString(",\n       ")
    s"""$scaled,
       $rounds,
       cells AS (SELECT vec_id, cell FROM a$iters)"""
  }

  /** The shared SQ8 corpus reconstruction: per-dimension extrema →
    * 8-bit code → dequantized lattice point, mirroring
    * Similarity.sq8Codes/sq8TopK operation for operation (same IEEE
    * order: (v−mn)·255 ÷ span, then mn + q·span ÷ 255).
    */
  /** The SQ8 top-k replay, shared VERBATIM by ann_sq8_topk (fresh
    * quantization) and ann_sq8_served (stored bounds + byte codes): the
    * two surfaces must be indistinguishable.
    */
  private lazy val sq8TopKOracleSql: String =
    s"""$sqlSq8Dequant,
       q AS (SELECT vec_id AS q_id, v AS q_vec FROM e WHERE vec_id < 5),
       s AS (SELECT q_id, dq.vec_id, ${sqlCosine("q_vec", "vh")} AS sim
             FROM dq CROSS JOIN q)
       SELECT q_id, vec_id, round(sim, 6) AS sim, CAST(rank AS INTEGER) AS rank
       FROM (SELECT q_id, vec_id, sim,
                    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
             FROM s)
       WHERE rank <= 10"""

  private val sqlSq8Dequant: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         b AS (SELECT i, MIN(v[i+1]) AS mn, MAX(v[i+1]) AS mx
               FROM e, unnest(range(0, 64)) AS ui(i) GROUP BY i),
         ba AS (SELECT list(mn ORDER BY i) AS mn, list(mx ORDER BY i) AS mx
                FROM b),
         dq AS (SELECT vec_id,
                  [CASE WHEN ba.mx[i+1] > ba.mn[i+1]
                        THEN ba.mn[i+1]
                             + round((v[i+1] - ba.mn[i+1]) * 255 / (ba.mx[i+1] - ba.mn[i+1]))
                               * (ba.mx[i+1] - ba.mn[i+1]) / 255
                        ELSE ba.mn[i+1] END
                   FOR i IN range(0, 64)] AS vh
                FROM e, ba)"""

  /** Full verbatim DuckDB replay of the IVF-PQ composite — the
    * ann_ivf_kmeans coarse-training unroll, integral-div coarse
    * centroids at the final assignment, exact long residuals, the
    * ann_pq_topk residual-PQ unroll, integer probe, and per-(query,
    * probed-cell) residual ADC. Shared VERBATIM by ann_ivfpq_topk
    * (train-in-query) and ann_ivfpq_served (stored index): the two
    * surfaces must be indistinguishable.
    */
  private lazy val ivfPqOracleSql: String = {
    val d2sub = "list_sum(list_transform(generate_series(1, 16), " +
      "i -> (s.sub[i] - c.cv[i]) * (s.sub[i] - c.cv[i])))"
    def assign(src: String, cb: String, out: String) =
        s"""$out AS (SELECT vec_id, subspace, sub, cell FROM (
             SELECT s.vec_id, s.subspace, s.sub, c.cell,
               row_number() OVER (PARTITION BY s.vec_id, s.subspace
                 ORDER BY $d2sub, c.cell) AS rn
             FROM $src s JOIN $cb c USING (subspace)) WHERE rn = 1)"""
      def refit(src: String, out: String) =
        s"""$out AS (SELECT subspace, cell, list(m ORDER BY pos) AS cv FROM (
             SELECT subspace, cell, i AS pos, SUM(sub[i]) // COUNT(*) AS m
             FROM $src, generate_series(1, 16) AS g(i)
             GROUP BY subspace, cell, i) GROUP BY subspace, cell)"""
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       ${sqlKmeansFixedCells(k = 8, iters = 2, dim = 64)},
       ccent AS (SELECT cell, list(m ORDER BY pos) AS cv FROM (
           SELECT cell, i AS pos, SUM(sv[i]) // COUNT(*) AS m
           FROM a2, generate_series(1, 64) AS g(i)
           GROUP BY cell, i) GROUP BY cell),
       res AS (SELECT a.vec_id, a.cell,
                 list_transform(generate_series(1, 64), i -> a.sv[i] - c.cv[i]) AS rv
               FROM a2 a JOIN ccent c USING (cell)),
       rsubs AS (SELECT vec_id, j AS subspace,
                   list_transform(generate_series(j * 16 + 1, j * 16 + 16), i -> rv[i]) AS sub
                 FROM res, unnest(range(0, 4)) AS uj(j)),
       sd AS (SELECT subspace,
                row_number() OVER (PARTITION BY subspace ORDER BY vec_id) - 1 AS cell,
                sub AS cv
              FROM rsubs
              WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 16)),
       ${assign("rsubs", "sd", "pa1")},
       ${refit("pa1", "pc1")},
       ${assign("rsubs", "pc1", "pa2")},
       ${refit("pa2", "pc2")},
       cbf AS (SELECT subspace,
                 row_number() OVER (PARTITION BY subspace ORDER BY cell) - 1 AS cell,
                 cv FROM pc2),
       ${assign("rsubs", "cbf", "enc")},
       qd AS (SELECT s.vec_id AS q_id, s.sv AS qv, c.cell, c.cv,
                list_sum(list_transform(generate_series(1, 64),
                  i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) AS d2
              FROM scaled s CROSS JOIN ccent c WHERE s.vec_id < 5),
       probes AS (SELECT q_id, cell,
                    list_transform(generate_series(1, 64), i -> qv[i] - cv[i]) AS qr
                  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                          ORDER BY d2, cell) AS pr FROM qd)
                  WHERE pr <= 2),
       qsubs AS (SELECT q_id, cell, j AS subspace,
                   list_transform(generate_series(j * 16 + 1, j * 16 + 16), i -> qr[i]) AS qsub
                 FROM probes, unnest(range(0, 4)) AS uj(j)),
       qadc AS (SELECT qs.q_id, qs.cell, c.subspace, c.cell AS code,
                  list_sum(list_transform(generate_series(1, 16),
                    i -> (qs.qsub[i] - c.cv[i]) * (qs.qsub[i] - c.cv[i]))) AS pd2
                FROM qsubs qs JOIN cbf c USING (subspace)),
       adc AS (SELECT p.q_id, en.vec_id, CAST(SUM(qa.pd2) AS BIGINT) AS adc_dist
               FROM enc en
               JOIN res r ON r.vec_id = en.vec_id
               JOIN probes p ON p.cell = r.cell
               JOIN qadc qa ON qa.q_id = p.q_id AND qa.cell = r.cell
                 AND qa.subspace = en.subspace AND qa.code = en.cell
               GROUP BY 1, 2)
       SELECT q_id, vec_id, adc_dist, CAST(rank AS INTEGER) AS rank
       FROM (SELECT q_id, vec_id, adc_dist,
               row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rank
             FROM adc)
       WHERE rank <= 10"""
  }


  /** The binary-quantization replay (sign-bit codes, Hamming scan,
    * exact-cosine rescore) — shared VERBATIM by ann_binary_topk and
    * ann_binary_served: a stored code table must be indistinguishable
    * from a fresh pack.
    */
  private lazy val binaryTopKOracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       ham AS (SELECT q.vec_id AS q_id, c.vec_id,
                 CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> CASE WHEN (q.v[i] > 0) != (c.v[i] > 0) THEN 1 ELSE 0 END)) AS INTEGER) AS hamming
               FROM e q CROSS JOIN e c WHERE q.vec_id < 5),
       cand AS (SELECT q_id, vec_id, hamming FROM
                 (SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY hamming, vec_id) AS hr FROM ham)
                WHERE hr <= 40),
       res AS (SELECT cand.q_id, cand.vec_id, cand.hamming,
                 ${sqlCosine("qv.v", "cv.v")} AS sim
               FROM cand JOIN e qv ON qv.vec_id = cand.q_id
                 JOIN e cv ON cv.vec_id = cand.vec_id)
       SELECT q_id, vec_id, hamming, round(sim, 6) AS sim,
              CAST(rank AS INTEGER) AS rank
       FROM (SELECT q_id, vec_id, hamming, sim,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY sim DESC, vec_id) AS rank FROM res)
       WHERE rank <= 10"""

  val oracleSql: Map[String, String] = Map(

    "knn_graph_recall" ->
      "SELECT vec_id, true AS found FROM embeddings WHERE vec_id < 50",
    // full verbatim replay of the fixed-point cluster-then-neighbor
    // graph: 3 unrolled integer k-means rounds (16 cells), the ≤10000
    // cell cap, per-cell cosine, rank ≤ 5
    "knn_graph" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       ${sqlKmeansFixedCells(k = 16, iters = 3, dim = 64)},
       kept AS (SELECT cell FROM cells GROUP BY cell HAVING COUNT(*) <= 10000),
       b AS (SELECT c.vec_id, c.cell, e.v
             FROM cells c JOIN e USING (vec_id) JOIN kept USING (cell)),
       p AS (SELECT a.vec_id AS src, b2.vec_id AS dst,
               ${sqlCosine("a.v", "b2.v")} AS sim
             FROM b a JOIN b b2 USING (cell)
             WHERE a.vec_id != b2.vec_id)
       SELECT src, dst, round(sim, 6) AS sim, CAST(rank AS INTEGER) AS rank
       FROM (SELECT src, dst, sim,
               row_number() OVER (PARTITION BY src
                 ORDER BY sim DESC, dst) AS rank FROM p)
       WHERE rank <= 5""",
    // full verbatim replay of IVF over the fixed-point k-means: 2
    // unrolled integer training rounds (8 cells), then the established
    // ann_ivf_topk probe replay over the trained cells
    "ann_ivf_kmeans" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       ${sqlKmeansFixedCells(k = 8, iters = 2, dim = 64)},
       q AS (SELECT vec_id AS q_id, v AS q_vec FROM e WHERE vec_id < 5),
       ec AS (SELECT e.vec_id, cells.cell, e.v FROM e JOIN cells USING (vec_id)),
       ex AS (SELECT cell, unnest(v) AS x,
                unnest(generate_series(1, len(v))) AS pos FROM ec),
       cpos AS (SELECT cell, pos,
                CAST(SUM(CAST(x AS DECIMAL(27,15))) AS DOUBLE) / COUNT(x) AS m
                FROM ex GROUP BY 1, 2),
       cent AS (SELECT cell, list(m ORDER BY pos) AS centroid FROM cpos GROUP BY 1),
       cs AS (SELECT q_id, q_vec, cell, ${sqlCosine("q_vec", "centroid")} AS csim
              FROM q CROSS JOIN cent),
       probes AS (SELECT q_id, q_vec, cell FROM
                   (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, cell) AS pr FROM cs)
                  WHERE pr <= 2),
       sc AS (SELECT p.q_id, ec.vec_id, ${sqlCosine("p.q_vec", "ec.v")} AS sim
              FROM ec JOIN probes p ON ec.cell = p.cell)
       SELECT q_id, vec_id, round(sim, 6) AS sim, CAST(rank AS INTEGER) AS rank
       FROM (SELECT q_id, vec_id, sim,
                    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
             FROM sc)
       WHERE rank <= 10""",
    // full verbatim replay of the fixed-point PQ: scaled 16-dim
    // subvectors, 2 unrolled integer training rounds per subspace (16
    // cells), contiguous re-indexing, integer argmin encoding, integer
    // ADC tables, ascending top-10
    "ann_pq_topk" -> {
      val d2sub = "list_sum(list_transform(generate_series(1, 16), " +
        "i -> (s.sub[i] - c.cv[i]) * (s.sub[i] - c.cv[i])))"
      def assign(src: String, cb: String, out: String) =
        s"""$out AS (SELECT vec_id, subspace, sub, cell FROM (
             SELECT s.vec_id, s.subspace, s.sub, c.cell,
               row_number() OVER (PARTITION BY s.vec_id, s.subspace
                 ORDER BY $d2sub, c.cell) AS rn
             FROM $src s JOIN $cb c USING (subspace)) WHERE rn = 1)"""
      def refit(src: String, out: String) =
        s"""$out AS (SELECT subspace, cell, list(m ORDER BY pos) AS cv FROM (
             SELECT subspace, cell, i AS pos, SUM(sub[i]) // COUNT(*) AS m
             FROM $src, generate_series(1, 16) AS g(i)
             GROUP BY subspace, cell, i) GROUP BY subspace, cell)"""
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       subs AS (SELECT vec_id, j AS subspace,
                  list_transform(generate_series(j * 16 + 1, j * 16 + 16),
                    i -> CAST(floor(v[i] * 1048576.0) AS BIGINT)) AS sub
                FROM e, unnest(range(0, 4)) AS uj(j)),
       sd AS (SELECT subspace,
                row_number() OVER (PARTITION BY subspace ORDER BY vec_id) - 1 AS cell,
                sub AS cv
              FROM subs
              WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 16)),
       ${assign("subs", "sd", "pa1")},
       ${refit("pa1", "pc1")},
       ${assign("subs", "pc1", "pa2")},
       ${refit("pa2", "pc2")},
       cbf AS (SELECT subspace,
                 row_number() OVER (PARTITION BY subspace ORDER BY cell) - 1 AS cell,
                 cv
               FROM pc2),
       ${assign("subs", "cbf", "enc")},
       q AS (SELECT vec_id AS q_id, subspace, sub FROM subs WHERE vec_id < 5),
       qd AS (SELECT q.q_id, c.subspace, c.cell,
                list_sum(list_transform(generate_series(1, 16),
                  i -> (q.sub[i] - c.cv[i]) * (q.sub[i] - c.cv[i]))) AS pd2
              FROM q JOIN cbf c USING (subspace)),
       adc AS (SELECT qd.q_id, enc.vec_id,
                 CAST(SUM(qd.pd2) AS BIGINT) AS adc_dist
               FROM enc JOIN qd
                 ON qd.subspace = enc.subspace AND qd.cell = enc.cell
               GROUP BY 1, 2)
       SELECT q_id, vec_id, adc_dist, CAST(rank AS INTEGER) AS rank
       FROM (SELECT q_id, vec_id, adc_dist,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY adc_dist, vec_id) AS rank FROM adc)
       WHERE rank <= 10"""
    },
    // the full miner replayed: raw-cosine top-4 legs, decimal-exact
    // neighborhood averages over the rounded sims, margin ratio, mutual
    // argmax with id tie-breaks, threshold
    "emb_bitext_mine" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       s AS (SELECT vec_id AS src_id, v FROM e WHERE vec_id < 40),
       t AS (SELECT vec_id + 1000 AS tgt_id, v FROM e WHERE vec_id < 20
             UNION ALL
             SELECT vec_id + 1000 AS tgt_id, v FROM e WHERE vec_id >= 40 AND vec_id < 80),
       cs AS (SELECT s.src_id, t.tgt_id, ${sqlCosine("s.v", "t.v")} AS c
              FROM s CROSS JOIN t),
       f AS (SELECT src_id, tgt_id, round(c, 6) AS sim FROM (
               SELECT src_id, tgt_id, c, row_number() OVER (
                 PARTITION BY src_id ORDER BY c DESC, tgt_id) AS rn FROM cs)
             WHERE rn <= 4),
       b AS (SELECT src_id, tgt_id, round(c, 6) AS sim FROM (
               SELECT src_id, tgt_id, c, row_number() OVER (
                 PARTITION BY tgt_id ORDER BY c DESC, src_id) AS rn FROM cs)
             WHERE rn <= 4),
       af AS (SELECT src_id, CAST(SUM(CAST(sim AS DECIMAL(16,6))) AS DOUBLE)
                / COUNT(*) AS av FROM f GROUP BY 1),
       ab AS (SELECT tgt_id, CAST(SUM(CAST(sim AS DECIMAL(16,6))) AS DOUBLE)
                / COUNT(*) AS av FROM b GROUP BY 1),
       cand AS (SELECT src_id, tgt_id FROM f UNION SELECT src_id, tgt_id FROM b),
       m AS (SELECT c.src_id, c.tgt_id, round(cs.c, 6) AS sim,
               round(round(cs.c, 6) / ((af.av + ab.av) / 2.0), 6) AS margin
             FROM cand c
             JOIN cs ON cs.src_id = c.src_id AND cs.tgt_id = c.tgt_id
             JOIN af ON af.src_id = c.src_id
             JOIN ab ON ab.tgt_id = c.tgt_id),
       r AS (SELECT *,
               row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rs,
               row_number() OVER (PARTITION BY tgt_id ORDER BY margin DESC, src_id) AS rt
             FROM m)
       SELECT src_id, tgt_id, sim, margin FROM r
       WHERE rs = 1 AND rt = 1 AND margin >= 1.2""",
    // sign-bit Hamming needs no packed form in SQL: the distance is the
    // count of dimensions whose signs differ (provably bit_count(xor) of
    // the packed codes); the rescore replays the exact cosine
    "ann_binary_topk" -> binaryTopKOracleSql,
    // the served twin answers the SAME oracle — stored codes must be
    // indistinguishable from a fresh pack
    "ann_binary_served" -> binaryTopKOracleSql,
    // full verbatim replay of the IVF-PQ composite: the ann_ivf_kmeans
    // coarse-training unroll, integral-div coarse centroids at the final
    // assignment, exact long residuals, the ann_pq_topk residual-PQ
    // unroll, integer probe, and per-(query, probed-cell) residual ADC
    "ann_ivfpq_topk" -> ivfPqOracleSql,
    // the served twin answers the SAME oracle — a stored index must be
    // indistinguishable from a freshly-trained one
    "ann_ivfpq_served" -> ivfPqOracleSql,
    // JL projection: the identical plane literals (same PRNG, same seed)
    // folded in the identical ascending order from 0.0 — term-by-term
    // IEEE parity, no tolerance needed
    "emb_project" -> {
      val planes = graft.operators.Similarity.projectionPlanes(64, 8, 77L)
      val scale = 1.0 / math.sqrt(8.0)
      // every operand CAST to DOUBLE: DuckDB parses long decimal literals
      // as DECIMAL, and DECIMAL op FLOAT promotes to FLOAT32 — which
      // would run the whole fold in single precision
      planes.zipWithIndex.map { case (p, i) =>
        val fold = p.zipWithIndex
          .map { case (c, j) =>
            s"CAST(embedding[${j + 1}] AS DOUBLE) * CAST($c AS DOUBLE)" }
          .mkString("CAST(0.0 AS DOUBLE) + ", " + ", "")
        s"SELECT vec_id, $i AS pos, round(($fold) * CAST($scale AS DOUBLE), 6) AS value FROM embeddings"
      }.mkString("\nUNION ALL\n")
    },
    "ann_lsh_recall" ->
      """SELECT vec_id AS q_id, vec_id, CAST(1.0 AS DOUBLE) AS sim
         FROM embeddings WHERE vec_id < 5""",
    // the structural guarantees only: self-retrieval and recall dominance
    "ann_lsh_multiprobe_recall" ->
      """SELECT CAST(50 AS INTEGER) AS n_queries, true AS self_rank1_all,
                true AS recall_dominates""",
    // probed cells are nonempty by construction, so every query ranks at
    // least one candidate; dominance is the superset argument above
    "ann_ivf_multiprobe_recall" ->
      "SELECT CAST(50 AS INTEGER) AS n_queries, true AS recall_dominates",
    // the greedy MMR trajectory unrolled: candidate top-10 per query,
    // complete pairwise candidate cosines, then 4 selection steps each
    // the same λ-balanced argmax the operator runs
    "sim_mmr_rerank" -> {
      def step(t: Int) =
        s"""rem$t AS (SELECT c.q_id, c.vec_id, c.sim FROM cand c
             LEFT JOIN sel${t - 1} s ON s.q_id = c.q_id AND s.vec_id = c.vec_id
             WHERE s.vec_id IS NULL),
         mp$t AS (SELECT p.q_id, p.a AS vec_id, MAX(p.ps) AS mps
             FROM pairs p JOIN sel${t - 1} s ON s.q_id = p.q_id AND s.vec_id = p.b
             GROUP BY 1, 2),
         pick$t AS (SELECT q_id, vec_id, $t AS mmr_rank FROM (
             SELECT r.q_id, r.vec_id,
               row_number() OVER (PARTITION BY r.q_id
                 ORDER BY CAST(0.5 AS DOUBLE) * r.sim
                   - CAST(0.5 AS DOUBLE) * m.mps DESC, r.vec_id) AS rn
             FROM rem$t r JOIN mp$t m
               ON m.q_id = r.q_id AND m.vec_id = r.vec_id)
             WHERE rn = 1),
         sel$t AS (SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM pick$t)"""
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS q_id, v AS q_vec FROM e WHERE vec_id < 5),
         sc AS (SELECT q_id, e.vec_id, ${sqlCosine("q_vec", "v")} AS sim0
                FROM e CROSS JOIN q),
         cand AS (SELECT q_id, vec_id, round(sim0, 6) AS sim, rank FROM (
             SELECT q_id, vec_id, sim0,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY sim0 DESC, vec_id) AS rank FROM sc)
             WHERE rank <= 10),
         pairs AS (SELECT c1.q_id, c1.vec_id AS a, c2.vec_id AS b,
             round(${sqlCosine("e1.v", "e2.v")}, 6) AS ps
           FROM cand c1 JOIN cand c2
             ON c1.q_id = c2.q_id AND c1.vec_id != c2.vec_id
           JOIN e e1 ON e1.vec_id = c1.vec_id
           JOIN e e2 ON e2.vec_id = c2.vec_id),
         sel1 AS (SELECT q_id, vec_id, 1 AS mmr_rank FROM cand WHERE rank = 1),
         ${(2 to 5).map(step).mkString(",\n         ")}
         SELECT q_id, vec_id, CAST(mmr_rank AS INT) AS mmr_rank FROM sel5"""
    },
    "ann_pq_recall" ->
      "SELECT vec_id AS q_id, true AS found FROM embeddings WHERE vec_id < 50",
    "ann_ivf_kmeans_quality" ->
      """SELECT CAST(COUNT(*) + 50 AS BIGINT) AS n_vectors,
                CAST(COUNT(*) + 50 AS BIGINT) AS n_assigned,
                CAST(0 AS BIGINT) AS n_bad_cell,
                CAST(50 AS BIGINT) AS n_planted,
                CAST(50 AS BIGINT) AS n_same_cell
         FROM embeddings""",
    // Dimension ablation: both rankings replayed, overlap joined
    "ann_dim_ablation" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT vec_id AS q_id, v AS q_vec FROM e WHERE vec_id < 5),
       sf AS (SELECT q_id, e.vec_id, ${sqlCosine("q_vec", "v")} AS sim
              FROM e CROSS JOIN q),
       rf AS (SELECT q_id, vec_id FROM
              (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
                 ORDER BY sim DESC, vec_id) AS rank FROM sf)
              WHERE rank <= 10),
       et AS (SELECT vec_id, v[1:16] AS v FROM e),
       qt AS (SELECT q_id, q_vec[1:16] AS q_vec FROM q),
       st AS (SELECT q_id, et.vec_id, ${sqlCosine("q_vec", "v")} AS sim
              FROM et CROSS JOIN qt),
       rt AS (SELECT q_id, vec_id FROM
              (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
                 ORDER BY sim DESC, vec_id) AS rank FROM st)
              WHERE rank <= 10)
       SELECT q_id, CAST(count(*) AS BIGINT) AS overlap,
         round(CAST(count(*) AS DOUBLE) / 10.0, 6) AS recall_at_10
       FROM rf JOIN rt USING (q_id, vec_id) GROUP BY q_id""",

    // portable LSH top-k replayed end to end: ±1 plane signs from md5,
    // per-plane dots as the SAME left fold as the native DotProduct,
    // disjoint sign bits summed into buckets, banded join, cosine top-k
    "ann_lsh_topk" -> {
      val sign =
        "(CASE WHEN CAST(('0x' || substr(md5('lsh:' || t || ':' || i || ':' || j), 1, 1)) AS BIGINT) & 1 = 1 " +
          "THEN 1.0 ELSE -1.0 END)"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         pd AS (SELECT vec_id, t, i,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(0, 63),
                 j -> $sign * v[CAST(j + 1 AS INTEGER)])),
               (acc, x) -> acc + x) AS d
           FROM e, unnest(range(0, 4)) AS ut(t), unnest(range(0, 8)) AS ui(i)),
         bk AS (SELECT vec_id, t,
             CAST(SUM(CASE WHEN d > 0 THEN 1 << i ELSE 0 END) AS BIGINT) AS bucket
           FROM pd GROUP BY 1, 2),
         cand AS (SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id
                  FROM bk qb JOIN bk cb ON qb.t = cb.t AND qb.bucket = cb.bucket
                  WHERE qb.vec_id < 5),
         s AS (SELECT c.q_id, c.vec_id, ${sqlCosine("a.v", "b.v")} AS sim
               FROM cand c JOIN e a ON a.vec_id = c.q_id
                 JOIN e b ON b.vec_id = c.vec_id)
         SELECT q_id, vec_id, round(sim, 6) AS sim, CAST(rank AS INTEGER) AS rank
         FROM (SELECT q_id, vec_id, sim,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY sim DESC, vec_id) AS rank
               FROM s)
         WHERE rank <= 10"""
    },
    "sim_bruteforce_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS q_id, v AS q_vec FROM e WHERE vec_id < 5),
         s AS (SELECT q_id, e.vec_id, ${sqlCosine("q_vec", "v")} AS sim FROM e CROSS JOIN q)
         SELECT q_id, vec_id, round(sim, 6) AS sim, CAST(rank AS INTEGER) AS rank
         FROM (SELECT q_id, vec_id, sim,
                      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
               FROM s)
         WHERE rank <= 10""",
    // SQ8: bounds → codes → dequantized lattice → asymmetric cosine,
    // every arithmetic step replayed (round matches Spark's HALF_UP on
    // the identical IEEE intermediates; q ∈ [0,255] by construction)
    "ann_sq8_topk" -> sq8TopKOracleSql,
    // the served twin answers the SAME oracle — stored bounds + byte
    // codes must be indistinguishable from a fresh quantization
    "ann_sq8_served" -> sq8TopKOracleSql,
    // both rankings replayed, overlap joined (the ann_dim_ablation shape)
    "ann_sq8_recall" ->
      s"""$sqlSq8Dequant,
         q AS (SELECT vec_id AS q_id, v AS q_vec FROM e WHERE vec_id < 5),
         sx AS (SELECT q_id, e.vec_id, ${sqlCosine("q_vec", "v")} AS sim
                FROM e CROSS JOIN q),
         rx AS (SELECT q_id, vec_id FROM
                (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
                   ORDER BY sim DESC, vec_id) AS rank FROM sx)
                WHERE rank <= 10),
         sq AS (SELECT q_id, dq.vec_id, ${sqlCosine("q_vec", "vh")} AS sim
                FROM dq CROSS JOIN q),
         rq AS (SELECT q_id, vec_id FROM
                (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
                   ORDER BY sim DESC, vec_id) AS rank FROM sq)
                WHERE rank <= 10)
         SELECT rx.q_id, CAST(COUNT(*) AS BIGINT) AS overlap,
                round(COUNT(*) / 10.0, 6) AS recall_at_10
         FROM rx JOIN rq ON rx.q_id = rq.q_id AND rx.vec_id = rq.vec_id
         GROUP BY 1""",
    "sim_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS q_id, label AS q_label, v AS q_vec FROM e WHERE vec_id < 5),
         s AS (SELECT q_id, e.vec_id, ${sqlCosine("q_vec", "v")} AS sim
               FROM e CROSS JOIN q WHERE e.label != q.q_label)
         SELECT q_id, vec_id, round(sim, 6) AS sim, CAST(rank AS INTEGER) AS rank
         FROM (SELECT q_id, vec_id, sim,
                      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
               FROM s)
         WHERE rank <= 10""",
    "ann_ivf_topk" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS q_id, v AS q_vec FROM e WHERE vec_id < 5),
         ex AS (SELECT label, unnest(v) AS x, unnest(generate_series(1, len(v))) AS pos FROM e),
         cpos AS (SELECT label AS cell, pos,
                  CAST(SUM(CAST(x AS DECIMAL(27,15))) AS DOUBLE) / COUNT(x) AS m
                  FROM ex GROUP BY 1, 2),
         cent AS (SELECT cell, list(m ORDER BY pos) AS centroid FROM cpos GROUP BY 1),
         cs AS (SELECT q_id, q_vec, cell, ${sqlCosine("q_vec", "centroid")} AS csim
                FROM q CROSS JOIN cent),
         probes AS (SELECT q_id, q_vec, cell FROM
                     (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, cell) AS pr FROM cs)
                    WHERE pr <= 2),
         sc AS (SELECT p.q_id, e.vec_id, ${sqlCosine("p.q_vec", "e.v")} AS sim
                FROM e JOIN probes p ON e.label = p.cell)
         SELECT q_id, vec_id, round(sim, 6) AS sim, CAST(rank AS INTEGER) AS rank
         FROM (SELECT q_id, vec_id, sim,
                      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
               FROM sc)
         WHERE rank <= 10""",
    // derived-invariant twins (VERDICT r09 #7): literal structural truth
    // for the seeded-hash outputs whose row sets DuckDB cannot replay
    "ann_lsh_valid" ->
      """SELECT vec_id AS q_id, true AS ranks_ok, true AS scores_sorted,
                true AS neighbors_distinct, true AS neighbors_in_corpus
         FROM embeddings WHERE vec_id < 5""",
    "ann_pq_valid" ->
      """SELECT vec_id AS q_id, true AS ranks_ok, true AS scores_sorted,
                true AS neighbors_distinct, true AS neighbors_in_corpus
         FROM embeddings WHERE vec_id < 5""",
    "ann_ivf_valid" ->
      """SELECT vec_id AS q_id, true AS ranks_ok, true AS scores_sorted,
                true AS neighbors_distinct, true AS neighbors_in_corpus
         FROM embeddings WHERE vec_id < 5""",
    "knn_graph_valid" ->
      """SELECT true AS all_ranks_ok, true AS all_scores_sorted,
                true AS all_neighbors_distinct, true AS all_neighbors_in_corpus,
                true AS no_self_loops""")
}
