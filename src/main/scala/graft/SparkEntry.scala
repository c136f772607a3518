package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.operators.{Dedup, Grouping, LanguageModel, Pack, Passages, Sampling, SetJoin, Similarity, Skew, Upsert}
import graft.functions.Text
import graft.pipeline.Pipeline
import graft.sources.{Tables, TestdataAdapter}
import graft.transform.Kpis
import graft.validate.{Rules, TableRules}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (plus the LLM-data-pipeline
  * extensions, §7.5) is exposed as a named query over the driver testdata
  * (FIXTURES.md §B mapping), with a DuckDB oracle twin in `oracleSql` where
  * SQL-expressible. Column names/aliases match between the Spark result and
  * the oracle; double aggregates go through exact decimal sums
  * (graft.transform.Kpis.moneySum) or IEEE-deterministic division +
  * round(…, 6), so both engines produce bit-identical values. Queries whose
  * math is not DuckDB-replicable (xxhash64-based signatures, PRNG
  * hyperplanes, uuid) have no oracle entry → the driver records the weaker
  * rows-only check.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("a1_category_kpis")(spark, "/root/testdata/sf0.001")

  /** The driver-contract query map, merged from the per-family registry
    * slices (VERDICT r11 #8 — one navigable file per operator family;
    * names stay globally unique, which RegistrySpec pins).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.RelationalQueries.queries ++
    registry.SourceEventQueries.queries ++
    registry.StreamingQueries.queries ++
    registry.TextQueries.queries ++
    registry.DedupQueries.queries ++
    registry.AnnQueries.queries ++
    registry.MultimodalQueries.queries ++
    registry.PipelineQueries.queries


  /** Queries whose registered plan answers from a per-(session, sfDir)
    * operator memo after its first computation — a drained stream's
    * artifact dirs or a driver-held merge list — so their benched numbers
    * measure a memo read (spark.catalog.clearCache does not touch these
    * memos; only Caches.clear does). Bench reports a paired
    * `fresh_cost_s` for each, measured once after a full Caches.clear,
    * so the committed record carries the operator's real cost next to
    * the read cost (VERDICT r10 #6).
    *
    * ONE representative per distinct memo (VERDICT r11 #9 — every memo
    * covered, no redundant rebuilds): curateStreamRoots → st_curate
    * (st_curate_report reads the same drained root), jointKpiRoots →
    * st_jointm_daily (st_jointm_category, st_joint_category and
    * st_joint_daily read the same root),
    * bpe256Cache → t_bpe_train256 (…_shape reads the same merge list),
    * ivfPqIndexRoots → ann_ivfpq_served (the stored-index path memo —
    * the timed tail measures the SERVE cost by design, fresh_cost_s
    * carries train+commit), binaryIndexRoots → ann_binary_served,
    * sq8IndexRoots → ann_sq8_served. pipeline_curate and the Similarity
    * centroid/PQ memos are NOT here: they liveness-check their persisted
    * frames and re-execute uncached after clearCache, so their benched
    * tail numbers are already fresh.
    */
  val memoizedHeadline: Seq[String] = Seq("st_curate", "st_jointm_daily",
    "t_bpe_train256", "ann_ivfpq_served", "ann_binary_served",
    "ann_sq8_served")

  /** The benchmark set (Bench.scala): the flagship KPIs plus the heaviest
    * representative of each new operator family.
    */
  val headline: Seq[String] = Seq(
    "a1_category_kpis", "a2_daily_kpis", "a2_daily_kpis_scalable",
    "j2_upsert", "j7_salted_join", "j8_asof", "j9_interval", "g_complete_groups",
    "dedup_exact", "dedup_near", "dedup_simhash", "t_text_stats",
    "sim_bruteforce_topk", "ann_ivf_topk", "e_daily_value", "e_sessionize",
    "a6_cube", "a8_approx_distinct", "w_running_total", "pipeline_corpus_prep",
    // round 6: the scale-safe rank family and the manifest snapshot sink
    "w_ntile_boundaries", "a7_percentiles_scalable",
    "s_partitioned_upsert_snapshot",
    // round 7: fuzzy join, BM25 retrieval, decontamination, repetition
    // filters, PII redaction, sequence packing, mixture sampling, z-order
    "dedup_fuzzy_recall", "t_bm25_topk", "t_contamination",
    "t_repetition", "t_pii_redact", "pipeline_packing", "pipeline_mixture",
    "s_zorder",
    // round 7b: dimension history + temporal enrich, entity resolution,
    // fixed-point PageRank, data skipping, leakage-safe split
    "e_scd2_history", "j10_temporal_enrich", "er_entities", "g_pagerank",
    "s_data_skipping", "pipeline_split",
    // round 7c: retrieval index, boilerplate, robust stats, resample
    "t_inverted_index", "t_boilerplate", "a14_robust_outliers", "e_resample",
    // round 7d: SemDeDup cells, daily-ingest incremental dedup, PQ ANN,
    // containment (subsumption) dedup, equi-depth histogram
    "dedup_semantic_recall", "dedup_incremental_recall", "ann_pq_recall",
    "dedup_contained_recall", "a16_equidepth",
    // round 7e: LM scoring and the exact set-similarity join
    "t_lm_buckets", "dedup_ssjoin_exact",
    // round 7f: bigram backoff LM, PMI associations, bloom-prefiltered
    // registry dedup, cell-blocked k-NN graph, BPE training loop,
    // JL projection
    "t_lm_bigram", "t_pmi_cooc", "dedup_bloom_registry", "knn_graph",
    "t_bpe_train", "emb_project", "mm_phash_dups",
    // round 7g: the end-to-end curation DAG, the EWMA fold, k-core,
    // exact KS drift
    "pipeline_curate", "e_ewma", "g_kcore", "a21_ks_drift",
    // round 8: duplicated-passage dedup, the trainable quality
    // classifier (t_quality_train times the full 15-iteration GD loop),
    // the forward as-of join, and TF-IDF cosine retrieval
    "dedup_passages", "dedup_passage_clean", "dedup_passage_incremental",
    "t_quality_train", "j11_asof_next", "t_tfidf_topk",
    "pipeline_tokenize_pack",
    // round 10: the streaming end-to-end curation DAG (3-trigger replay,
    // per-trigger global refit + atomic artifact commit)
    "st_curate",
    // round 10b: the line-grain curation family + NFC normalization —
    // all four are shuffle-free single projections (PlanAuditSpec pins
    // zero exchanges), so they double as a map-throughput benchmark
    "t_normalize", "t_c4_lines", "t_line_dedup", "t_gopher_report",
    // round 11: the URL front door, the unigram tokenizer family + its
    // packer, semantic decontamination, the tokenizer fertility table
    "t_url_filter", "t_unigram_seed", "t_unigram_segment",
    "pipeline_unigram_pack", "t_decontam_semantic", "t_tokenizer_fertility",
    // round 11b: the crawl-archive front door (WET record parse, HTML
    // strip — both shuffle-free map passes) and the shard/budget tail
    // (ntileExact shuffle-shard, prefix-sum token budget, per-source
    // adaptive quality gate)
    "src_wet_parse", "t_html_strip", "pipeline_shard_shuffle",
    "pipeline_token_budget", "t_adaptive_quality",
    "pipeline_shard_rendezvous", "t_entropy_quality",
    "t_filter_funnel", "t_corpus_zipf",
    "pipeline_select_and_shard", "s_file_binpack",
    // round 11c: corpus observability + release gating — vocabulary
    // drift between cohorts, Matryoshka-style dimension-ablation recall,
    // k-anonymity release gate
    "t_df_drift", "ann_dim_ablation", "v_k_anonymity",
    // round 12: the byte-domain crawl front door (multi-member .wet.gz
    // inflate + octet-counted framing) and the real image path (PNG
    // decode through all five filters, exact box resize, phash on real
    // resized pixels)
    "src_wet_parse_gz", "src_wet_bytes", "mm_decode_png", "mm_resize_real",
    "mm_phash_resized",
    // round 12b: byte-level BPE (zero-OOV tokenizer family)
    "t_bpe_bytes", "t_bpe_bytes_segment", "t_bpe_bytes_encode",
    // round 12c: WARC response records — HTTP status/content-type gate
    // ahead of the strip
    "src_warc_parse", "t_warc_strip",
    // round 12d: gz streaming ingest with post-drain compaction under
    // the oracle, and the real audio decimation chain
    "st_wet_ingest_gz", "mm_resample_wav",
    // round 12e: real animated-GIF demux (full GIF-LZW) + the frame
    // sampler through the image chain
    "mm_decode_gif", "mm_frames_real",
    // round 12f: WordPiece — the third tokenizer family (greedy
    // longest-match + [UNK] path) — and the l-diversity release gate
    "t_wordpiece_vocab", "t_wordpiece_segment", "v_l_diversity",
    // round 12g: the crawl discovery channel — robots politeness gate,
    // sitemap parse, and their composition
    "src_robots_gate", "src_sitemap_parse", "pipeline_frontier",
    "pipeline_fetch_plan",
    // round 12h: block-diagonal attention masks for packed sequences,
    // and the recrawl freshness decision
    "pipeline_pack_masks", "pipeline_recrawl",
    // round 12i: sentence segmentation and the streaming frontier
    "t_sentences", "st_frontier",
    // round 13: baseline JPEG decode (the dominant crawled-image format)
    // + phash on real decoded JPEG pixels, and the rational 44.1→16 kHz
    // audio resampler
    "mm_decode_jpeg", "mm_phash_jpeg", "mm_resample_rational",
    // round 13b: likelihood-scored WordPiece training (the published
    // merge loop, replacing the frequency seed as the trained artifact)
    "t_wordpiece_train",
    // round 13c: authority-weighted fetch planning (rank × staleness)
    "pipeline_fetch_priority",
    // round 13d: the crawl-to-corpus DAG as ONE lineage (batch) and with
    // the streamed exactly-once front door (9-trigger gz drain + fold)
    "pipeline_crawl_corpus", "st_crawl_corpus",
    // round 13e: fully-oracled portable-hash near-dup pairs
    "dedup_near_valid",
    // round 13f: streaming ANN index maintenance (refit cadence + frozen
    // assignment, served by the batch ivfTopK)
    "st_ann_topk",
    // round 13g: classic DCT pHash and the anti-aliased audio chain
    "mm_phash_dct", "mm_resample_filtered",
    // round 13h: the streamed frontier composed into the authority
    // scheduler
    "st_fetch_priority",
    // round 14: fixed-point ANN training (oracled IVF k-means + PQ +
    // kNN graph), IVF multi-probe dominance, trained NB language ID,
    // and the multi-epoch crawl loop
    "ann_ivf_kmeans", "ann_pq_topk", "ann_ivf_multiprobe_recall",
    "t_lang_id_trained", "st_recrawl_loop",
    // round 14b: progressive JPEG decode (SOF2 — the dominant web
    // encoding of the dominant crawled-image format)
    "mm_decode_jpeg_prog",
    // round 14c: hybrid retrieval — BM25 + vector legs fused by
    // reciprocal-rank fusion
    "t_hybrid_rrf",
    // round 14d: MMR diversified rerank and the trained language ID
    "sim_mmr_rerank",
    // round 14e: near-dup leakage-safe split and streamed NB serving
    "pipeline_split_neardup", "st_lang_id",
    // round 14f: Adam7 interlaced PNG decode
    "mm_decode_png_adam7",
    // round 14g: sentence-budget context chunking (the RAG packer)
    "t_chunks_sentences",
    // round 14h: deterministic image augmentation through the real codec
    "mm_augment",
    // round 14i: 8-bit PCM WAV decode (the archival-audio format)
    "mm_decode_wav8",
    // round 14j: G.711 companded telephony audio (µ-law and A-law WAVs)
    "mm_decode_mulaw", "mm_decode_alaw",
    // round 14k: the video modality — MJPEG/AVI demux through the real
    // JPEG decoder, and the every-kth frame sampler
    "mm_decode_avi", "mm_video_sample",
    // round 14l: SQ8 scalar-quantized ANN — the fully-oracled
    // compressed-vector index (closed-form bounds, unlike trained PQ)
    "ann_sq8_topk", "ann_sq8_recall",
    // round 14m: content-defined chunking — offset-immune chunk
    // boundaries (pure map) and cross-doc shared-chunk dedup
    "dedup_cdc_chunks", "dedup_cdc_shared",
    // round 14n: exact-substring dedup coverage (the ExactSubstr filter,
    // L-gram formulation with a window interval merge)
    "dedup_substring_spans",
    // round 14o: integer-exact audio autocorrelation (the periodicity
    // feature), lag 0 = energy
    "mm_audio_autocorr",
    // round 14p: completing the codec matrix — interlaced GIF (the
    // 4-pass schedule), indexed-color PNG (PLTE, bpp-1 filters), and
    // IEEE-float32 WAV (fmt 3)
    "mm_decode_gif_interlaced", "mm_decode_png_palette", "mm_decode_wavf",
    // round 14q: video near-dup end to end (demux → frame sample →
    // decode → phash → banding; the re-upload detection chain)
    "mm_video_phash_dups",
    // round 14r: the removal step of exact-substring dedup, the UTF-8
    // crawl-hygiene audit, and integer histogram equalization
    "dedup_substring_clean", "src_utf8_audit", "mm_histogram_eq",
    // round 14s: streaming CDC-chunk registry (ingest-side dedup
    // accounting against the md5 registry of every prior batch)
    "st_cdc_dedup",
    // round 14t: HTTP chunked transfer decoding (the other crawl body
    // framing) and integer bilinear ×2 upscale
    "src_http_dechunk", "mm_resize_up2",
    // round 15: the C4 banned-phrase page gate (token-grain broadcast
    // n-gram match, no regex scan over pages), JPEG APP1/EXIF metadata
    // (the no-decode curation signal), and density-adaptive LSH banding
    "t_c4_blocklist", "mm_exif", "dedup_near_adaptive", "mm_exif_rotate",
    // round 15b: the IVF-PQ composite index (residual quantization) and
    // sign-bit binary quantization with exact rescore
    "ann_ivfpq_topk", "ann_binary_topk",
    // round 15c: margin-based bitext mining (the parallel-corpus miner)
    "emb_bitext_mine",
    // round 16: the crash-tolerant EXIF pass (per-record malformed flag
    // over a corpus with planted corrupt + fill-byte-padded records) and
    // the stored-index IVF-PQ serving tier (train-once-commit, serve
    // from stored artifacts)
    "mm_exif_tolerant", "ann_ivfpq_served",
    // round 16b: the fixed-point spectrogram (integer Chebyshev twiddles,
    // per-frame scaled-long DFT energy — the ASR-prep spectral signal)
    // and the triangular filterbank pooled over its bins
    "mm_audio_spectral", "mm_audio_filterbank",
    // round 16c: .warc.zst ingest through the from-scratch RFC 8878
    // zstd decoder (FSE + Huffman + sequences + XXH64), plus its
    // streaming .wet.zst twin with frame-grain truncation tolerance
    "src_warc_parse_zst", "st_wet_ingest_zst", "src_warc_parse_zstdict",
    // round 16d: the binary ANN tier served from stored sign-bit codes
    "ann_binary_served",
    // round 17: the SQ8 tier served from stored bounds + byte codes,
    // and the MFCC-class cepstra (fixed-point log2 ladder + integer DCT
    // over the filterbank bands — the last leg of the ASR front end)
    "ann_sq8_served", "mm_audio_cepstra",
    // round 17b: delta features over the cepstra (MFCC+Δ) and the
    // engine-written store-mode .warc.zst round trip (the write half)
    "mm_audio_delta", "src_warc_write_zst")

  // ---- DuckDB oracle twins ----


  /** DuckDB oracle twins, merged from the same slices as [[queries]]. */
  def oracleSql: Map[String, String] =
    registry.RelationalQueries.oracleSql ++
    registry.SourceEventQueries.oracleSql ++
    registry.StreamingQueries.oracleSql ++
    registry.TextQueries.oracleSql ++
    registry.DedupQueries.oracleSql ++
    registry.AnnQueries.oracleSql ++
    registry.MultimodalQueries.oracleSql ++
    registry.PipelineQueries.oracleSql
}
