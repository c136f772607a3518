package graft

/** Plan-shape regression tests: the scale properties the round verdicts
  * audited by hand (no cartesians, broadcastable dims broadcast, two-stage
  * top-k, single-exchange window operators) asserted against the REAL
  * registered queries on the sf0.001 testdata, so a refactor that silently
  * degrades a plan fails CI instead of the next plan audit.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def assertNoCartesian(p: String, name: String): Unit = {
    assert(!p.contains("CartesianProduct"), s"$name plans a CartesianProduct")
    // the ONLY sanctioned nested-loop is ivf's tiny query×centroid cross
    assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans a BNLJ")
  }

  test("driver contract: entry() returns rows (the smoke check the driver runs)") {
    assert(SparkEntry.entry(spark).count() > 0L)
  }

  test("st_joint_* and st_jointm_* read one drained root, equal to the batch KPIs") {
    EntryFixtures.jointKpiRoots.clear()
    def rows(name: String) = SparkEntry.queries(name)(spark, dir).collect().toSet
    val (cat, day) = (rows("st_joint_category"), rows("st_joint_daily"))
    assert(cat.nonEmpty && day.nonEmpty)
    assert(rows("st_jointm_category") == cat)
    assert(rows("st_jointm_daily") == day)
    val joined = EntryFixtures.enriched(spark, dir)
    assert(cat == graft.transform.Kpis.categoryKpis(joined).collect().toSet)
    assert(day == graft.transform.Kpis.dailyKpis(joined).collect().toSet)
    // all four names were served by ONE drain of the joint writer
    assert(EntryFixtures.jointKpiRoots.size == 1,
      s"memo holds ${EntryFixtures.jointKpiRoots}")
  }

  test("w_global_topk: TakeOrderedAndProject, never a global range sort") {
    val p = plan("w_global_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("rangepartitioning"), s"global sort in:\n$p")
  }

  test("flagship a1: dims broadcast, no cartesian") {
    val p = plan("a1_category_kpis")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
    assertNoCartesian(p, "a1")
  }

  test("a1 scan is column-pruned to the join/agg columns") {
    val p = plan("a1_category_kpis")
    // the lineitem scan must not read quantity/tax/etc — spot-check one
    // column the query never touches
    assert(!p.contains("l_tax"), s"unpruned lineitem scan in:\n$p")
    assert(!p.contains("o_totalprice"), s"unpruned orders scan in:\n$p")
  }

  test("j8_asof: exactly one shuffle (the key partition), then the window") {
    val p = plan("j8_asof")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges in:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"no window operator in:\n$p")
    assertNoCartesian(p, "j8_asof")
  }

  test("j9_interval: bucketized equi-join, no nested loop on the range predicate") {
    assertNoCartesian(plan("j9_interval"), "j9_interval")
  }

  test("e_scd2_history: both window passes share one key exchange, no single partition") {
    val p = plan("e_scd2_history")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges in:\n$p")
    assert(!p.contains("SinglePartition"), s"scd2 funnels to one partition:\n$p")
  }

  test("j10_temporal_enrich: equi-keys carry the interval join — no nested loop") {
    val p = plan("j10_temporal_enrich")
    assertNoCartesian(p, "j10_temporal_enrich")
    assert(!p.contains("SinglePartition"), s"enrich funnels to one partition:\n$p")
  }

  test("er_entities / g_pagerank / e_funnel / e_cohorts: no cartesians, no single partition") {
    Seq("er_entities", "g_pagerank", "e_funnel", "e_cohorts").foreach { q =>
      val p = plan(q)
      assertNoCartesian(p, q)
      assert(!p.contains("Exchange SinglePartition"), s"$q funnels to one partition:\n$p")
    }
  }

  test("dedup_near: banded self-join only — no cartesian, no nested loop") {
    assertNoCartesian(plan("dedup_near"), "dedup_near")
  }

  test("round-14 retrieval/split/chunking ops: no cartesian, no nested loop") {
    // the split's expansion and closure, the chunker, the NB scorer, and
    // the codec pass are pure equi-join/aggregation plans
    for (q <- Seq("pipeline_split_neardup", "t_chunks_sentences",
        "t_lang_id_trained", "mm_augment")) {
      assertNoCartesian(plan(q), q)
    }
    // the retrieval pair carry the SANCTIONED broadcast nested-loop
    // crosses (BM25's 1-row scalar stats; the broadcast query side of
    // the brute-force leg) — a data-path CartesianProduct is still
    // forbidden, and mmr's pairwise-candidate join must key on q_id
    for (q <- Seq("t_hybrid_rrf", "sim_mmr_rerank")) {
      assert(!plan(q).contains("CartesianProduct"), s"$q plans a CartesianProduct")
    }
    graft.operators.Dedup.clearCaches()
  }

  test("round-15 ops: no cartesian, no nested loop") {
    // the blocklist gate's phrase join is a broadcast equi-join on
    // (length, gram); the EXIF walk is a pure map; the adaptive near-dup
    // keeps the banded equi-join shape at every ladder rung
    for (q <- Seq("t_c4_blocklist", "mm_exif", "dedup_near_adaptive")) {
      assertNoCartesian(plan(q), q)
    }
    // the ANN pair carry the SANCTIONED broadcast nested-loop crosses
    // (IVF-PQ's nlist-row centroid probe; binary's broadcast query
    // codes) — a data-path CartesianProduct is still forbidden
    for (q <- Seq("ann_ivfpq_topk", "ann_binary_topk")) {
      assert(!plan(q).contains("CartesianProduct"), s"$q plans a CartesianProduct")
    }
    graft.operators.Dedup.clearCaches()
  }

  test("round-16 ops: no cartesian; the filterbank pools through ONE " +
    "broadcast weight join; zst ingest stays a pure per-file map") {
    // mm_audio_filterbank: spectral rows join the literal weight table
    // broadcast (≤ bins·bands rows), then one hash aggregation — the
    // only exchange below the agg is the broadcast, never a shuffle of
    // spectral rows by bin
    val fb = plan("mm_audio_filterbank")
    assertNoCartesian(fb, "mm_audio_filterbank")
    assert(fb.contains("BroadcastHashJoin") || fb.contains("BroadcastExchange"),
      s"the weight table must broadcast:\n$fb")
    // the zst archive parse: decode + record split are per-file maps —
    // no join anywhere (the only exchange is the fixture's groupBy)
    val zst = plan("src_warc_parse_zst")
    assertNoCartesian(zst, "src_warc_parse_zst")
    assert(!zst.contains("SortMergeJoin") && !zst.contains("BroadcastHashJoin"),
      s"archive parsing must not join:\n$zst")
    // the served ANN index keeps the sanctioned broadcast-only crosses
    assert(!plan("ann_ivfpq_served").contains("CartesianProduct"),
      "ann_ivfpq_served plans a CartesianProduct")
    for (q <- Seq("mm_exif_tolerant", "mm_audio_spectral"))
      assertNoCartesian(plan(q), q)
    graft.operators.Dedup.clearCaches()
  }

  test("g_kcore: the survivor frame is checkpoint-backed (constant per-round plan)") {
    // the peeling loop must rebase each generation on its materialized
    // RDD (localCheckpoint) — a persist-chained loop re-analyzes an
    // N-deep join tree on round N (the r13 g_kcore drift); the final
    // frame reading a LogicalRDD proves the rebase happened
    val df = SparkEntry.queries("g_kcore")(spark, dir)
    val hasRdd = df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr
    }.isDefined
    assert(hasRdd, "kCore generations must rebase on checkpointed RDDs")
    graft.operators.Dedup.clearCaches()
  }

  test("semantic + incremental dedup: cell/band equi-joins only — no cartesian") {
    // semantic's k-means assignment is the sanctioned vector×centroid
    // broadcast cross (k rows broadcast, like ivf's probe); the pair
    // generation itself must stay an equi-join — no CartesianProduct
    // anywhere, and no nested loop in the incremental (pure MinHash) leg
    val ps = plan("dedup_semantic_recall")
    assert(!ps.contains("CartesianProduct"), s"semantic plans a cartesian:\n$ps")
    graft.operators.Dedup.clearCaches()
    assertNoCartesian(plan("dedup_incremental_recall"), "dedup_incremental_recall")
    graft.operators.Dedup.clearCaches()
  }

  test("t_bpe_pairs / a15_skew_report: top slice is a TakeOrdered, never a global sort") {
    for (q <- Seq("t_bpe_pairs", "a15_skew_report")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q top slice not TakeOrdered:\n$p")
      assert(!p.contains("rangepartitioning"), s"$q plans a global sort:\n$p")
    }
  }

  test("dedup_fuzzy_recall: delete-variant equi-join, no cartesian, no nested loop") {
    assertNoCartesian(plan("dedup_fuzzy_recall"), "dedup_fuzzy_recall")
  }

  test("packing/mixture/zorder/histogram: distributed throughout — no single-partition stage") {
    for (q <- Seq("pipeline_packing", "pipeline_mixture", "s_zorder",
        "a11_histogram")) {
      val p = plan(q)
      assert(!p.contains("SinglePartition"), s"$q funnels to one partition:\n$p")
      assertNoCartesian(p, q)
    }
  }

  test("ann_ivf_topk: two-stage top-k (WindowGroupLimit before the final rank)") {
    assert(plan("ann_ivf_topk").contains("WindowGroupLimit"))
  }

  test("ann_ivf_topk: centroid aggregation materialized once, probes read the cache") {
    // VERDICT r04 #3: un-persisted, the full corpus aggregation behind
    // centroids() re-planned inside the probes broadcast subtree. Now the
    // nlist-row frame is cached eagerly, so the plan shows an
    // InMemoryTableScan and only the two legitimate parquet scans
    // (queries side + pruned corpus side) — the centroid aggregation
    // subtree appears zero times in the query plan itself.
    val p = plan("ann_ivf_topk")
    assert(p.contains("InMemoryTableScan"), s"centroids not cached in:\n$p")
    // the InMemoryRelation node renders its cached DEFINITION (which
    // contains the centroid corpus scan but executes zero times here) —
    // count scans only in the live plan above it
    val imrAt = p.indexOf("InMemoryRelation")
    val live = if (imrAt < 0) p else p.substring(0, imrAt)
    val scans = "Scan parquet".r.findAllIn(live).length
    assert(scans == 2, s"expected 2 live parquet scans, got $scans in:\n$p")
    graft.operators.Dedup.clearCaches(blocking = true)
  }

  test("a10_outliers: broadcast stats join, TakeOrdered — no global sort of facts") {
    val p = plan("a10_outliers")
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered in:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"stats not broadcast in:\n$p")
    assert(!p.contains("rangepartitioning"), s"global sort in:\n$p")
  }

  test("w_ntile_deciles: the single-partition window sorts aggregates, not facts") {
    // the NTILE window is inherently global, but it must sit ABOVE the
    // per-customer aggregation (the exchange below the window is the
    // single-partition one; the facts shuffle only for the groupBy)
    val p = plan("w_ntile_deciles")
    assert(p.contains("Window"), s"no window in:\n$p")
    assert(p.contains("Exchange SinglePartition"), s"expected the ntile single-partition exchange in:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"facts should shuffle once (the groupBy) in:\n$p")
  }

  test("w_ntile_boundaries: same deciles with NO single-partition exchange (VERDICT r05 #2)") {
    val p = plan("w_ntile_boundaries")
    assert(!p.contains("Exchange SinglePartition"),
      s"the scale-safe ntile must never funnel to one partition:\n$p")
    assert(p.contains("Exchange rangepartitioning"),
      s"expected the range exchange that replaces the global sort in:\n$p")
    // the per-partition ranking window keyed by partition id
    assert(p.contains("Window"), s"no window in:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"partition offsets must broadcast, not shuffle, in:\n$p")
    assertNoCartesian(p, "w_ntile_boundaries")
  }

  test("a7_percentiles_scalable: spillable sorts, no whole-group ObjectHashAggregate buffers") {
    val p = plan("a7_percentiles_scalable")
    assert(!p.contains("ObjectHashAggregate"),
      s"the scale-safe percentiles must not buffer groups in memory:\n$p")
    assert(p.contains("Exchange rangepartitioning"),
      s"expected the range exchange in:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no global funnel allowed in:\n$p")
    assertNoCartesian(p, "a7_percentiles_scalable")
  }

  test("a9_sample_hash: one shuffle for the per-group window") {
    val p = plan("a9_sample_hash")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges in:\n$p")
  }

  test("g_complete_groups: each input scanned once") {
    val p = plan("g_complete_groups")
    val scans = "Scan parquet".r.findAllIn(p).length
    // lineitem + part + orders + completed-orders = 4 scans, not the 3x
    // repeated subtree of the pre-r4 formulation (which planned 8+)
    assert(scans == 4, s"expected 4 scans, got $scans in:\n$p")
  }

  test("line-curation family + normalization: zero exchanges — pure map over the scan") {
    // the 100 TB story for these four IS the absence of any shuffle:
    // a single projection per document, embarrassingly parallel
    Seq("t_normalize", "t_c4_lines", "t_line_dedup", "t_gopher_report")
      .foreach { name =>
        val p = plan(name)
        assert(!p.contains("Exchange"), s"$name plans a shuffle:\n$p")
        assert(!p.contains("Join"), s"$name plans a join:\n$p")
        val scans = "Scan parquet".r.findAllIn(p).length
        assert(scans == 1, s"$name: expected 1 scan, got $scans in:\n$p")
      }
  }

  test("pipeline_corpus_prep: single-pass dedup — 2 scans (the union), no join") {
    val p = plan("pipeline_corpus_prep")
    val scans = "Scan parquet".r.findAllIn(p).length
    // documents + planted-copy branch = 2; the groupBy+semi-join-back
    // formulation planned the union subtree twice (6 scans)
    assert(scans == 2, s"expected 2 scans, got $scans in:\n$p")
    assert(!p.contains("Join"), s"dedup should be a window, not a join:\n$p")
    // map-side partial top-1 per digest before the exchange
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$p")
  }

  test("runtime bloom-filter pruning engages on a selective shuffle join (100 TB lever)") {
    // At cluster scale a selective dim filter should prune the fact-side
    // shuffle via Spark's runtime bloom filter (InjectRuntimeFilter). The
    // lever is config-on by default; this locks that our plans stay
    // eligible for it (equi-join + selective creation side) when the join
    // is too big to broadcast. Thresholds are forced only because sf0.001
    // inputs are far below the production defaults.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    ).map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val o = spark.read.parquet(s"$dir/orders.parquet")
        .filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F")
      val l = spark.read.parquet(s"$dir/lineitem.parquet")
      val p = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"runtime bloom filter not injected:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("w_running_total / w_day_over_day: partitioned window, never a global sort") {
    for (q <- Seq("w_running_total", "w_day_over_day")) {
      val p = plan(q)
      assert(!p.contains("rangepartitioning"), s"$q global-sorts:\n$p")
      assert(p.contains("Window"), s"$q lost its window operator:\n$p")
    }
  }

  test("t_lm_score / t_dsir_weights: counts-table equi-joins, 1-row stats broadcast only") {
    for (q <- Seq("t_lm_score", "t_dsir_weights")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a CartesianProduct")
      // the single sanctioned BNLJ is the broadcast of the 1-row (N, V)
      // stats frame — everything else must be hash equi-joins
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
      assert(bnlj <= 1, s"$q plans $bnlj nested-loop joins:\n$p")
      // NOTE: one Exchange SinglePartition IS expected here — the final
      // merge of the 1-row (N, V) scalar aggregate (its partials run
      // distributed; what funnels is ≤ shuffle.partitions partial rows,
      // metadata). The data-bearing joins/aggs must stay hash-partitioned.
      assert(p.contains("BroadcastHashJoin"), s"$q lost its hash joins:\n$p")
    }
  }

  test("dedup_ssjoin_exact: prefix equi-join only — no cartesian, no nested loop") {
    val p = plan("dedup_ssjoin_exact")
    assertNoCartesian(p, "dedup_ssjoin_exact")
    assert(!p.contains("Exchange SinglePartition"),
      s"ssjoin funnels to one partition:\n$p")
  }

  test("w_percent_rank: data rides the range exchange; single-partition stages are count-metadata only") {
    val p = plan("w_percent_rank")
    assert(p.contains("rangepartitioning"), s"lost the range exchange:\n$p")
    assert(!p.contains("CartesianProduct"), "percent_rank plans a CartesianProduct")
    // the two sanctioned SinglePartition stages run over per-partition
    // COUNT rows (prefix-offset window + the 1-row N aggregate) — never
    // the data itself
    val sp = "Exchange SinglePartition".r.findAllIn(p).length
    assert(sp <= 2, s"$sp single-partition exchanges (expected <= 2):\n$p")
  }

  test("g_triangles: wedge + closing equi-joins only — no cartesian") {
    val p = plan("g_triangles")
    assertNoCartesian(p, "g_triangles")
    assert(!p.contains("Exchange SinglePartition"),
      s"g_triangles funnels to one partition:\n$p")
  }

  test("a17_weighted_sample: two-stage top-k, never a global range sort") {
    val p = plan("a17_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered in:\n$p")
    assert(!p.contains("rangepartitioning"), s"a17 global-sorts:\n$p")
  }

  test("t_pmi_cooc: doc-keyed pair equi-join + TakeOrdered — no cartesian, no global sort") {
    val p = plan("t_pmi_cooc")
    assert(!p.contains("CartesianProduct"), s"t_pmi_cooc plans a CartesianProduct")
    // the single sanctioned BNLJ is the 1-row n_docs broadcast cross
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1, s"t_pmi_cooc plans $bnlj nested-loop joins:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered in:\n$p")
    assert(!p.contains("rangepartitioning"), s"t_pmi_cooc global-sorts:\n$p")
  }

  test("t_lm_bigram: counts-table equi-joins, 1-row stats broadcast only") {
    val p = plan("t_lm_bigram")
    assert(!p.contains("CartesianProduct"), s"t_lm_bigram plans a CartesianProduct")
    // the single sanctioned BNLJ is the 1-row (N, V) stats broadcast —
    // the t_lm_score stance; everything else must be hash equi-joins
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1, s"t_lm_bigram plans $bnlj nested-loop joins:\n$p")
    assert(!p.contains("rangepartitioning"), s"t_lm_bigram global-sorts:\n$p")
  }

  test("dedup_bloom_registry: the bloom probe filters the fresh scan BEFORE the exchange") {
    val p = plan("dedup_bloom_registry")
    assertNoCartesian(p, "dedup_bloom_registry")
    // the probe is a scan-local predicate: might_contain must appear in
    // the plan (a Filter above the fresh scan), upstream of the semi-join
    assert(p.contains("might_contain"), s"no bloom probe in:\n$p")
    assert(p.contains("LeftSemi"), s"no exact verify semi-join in:\n$p")
  }

  test("knn_graph: cell equi-join, cell-bounded window — no cartesian, no single partition") {
    val p = plan("knn_graph")
    assert(!p.contains("CartesianProduct"), s"knn_graph plans a CartesianProduct")
    // BNLJs here are kmeansCells' sanctioned corpus × nlist-row centroid
    // crosses (the ivfTopK stance); the NEIGHBOR join itself must be the
    // cell sort-merge/hash equi-join — pinned by requiring no
    // single-partition stage and the two-stage per-src top-k
    assert(!p.contains("Exchange SinglePartition"),
      s"knn_graph funnels to one partition:\n$p")
    assert(p.contains("WindowGroupLimit"), s"knn_graph lost the rank pushdown:\n$p")
  }

  test("upsertEvolve: ONE full-outer key join, no cartesian, no single partition") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val t = spark.range(1000).select(col("id").as("k"),
      (col("id") * 2).as("v"))
    val u = spark.range(500).select((col("id") * 3).as("k"),
      (col("id") * 5).as("v"), lit("n").as("extra"))
    val p = graft.operators.Upsert.upsertEvolve(t, u, Seq("k"))
      .queryExecution.executedPlan.toString
    assertNoCartesian(p, "upsertEvolve")
    assert("FullOuter".r.findAllIn(p).length == 1,
      s"evolution must stay one keyed MERGE join:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"upsertEvolve funnels to one partition:\n$p")
  }

  test("t_decontam_semantic: bench broadcast to the scan, partial argmax before the exchange") {
    val p = plan("t_decontam_semantic")
    // the corpus×bench product is the sanctioned broadcast form — the
    // tiny bench suite rides to every scan partition; a CartesianProduct
    // (both sides shuffled) would be the scale bug
    assert(p.contains("BroadcastNestedLoopJoin"), s"bench not broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"), s"decontam plans a cartesian:\n$p")
    // max-of-struct argmax must combine map-side: partial_max before the
    // vec_id exchange, so the shuffle carries one candidate per vector
    assert(p.contains("partial_max"), s"no map-side partial argmax in:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"decontam funnels to one partition:\n$p")
  }

  test("t_html_strip: zero exchanges — pure map over the scan") {
    val p = plan("t_html_strip")
    assert(!p.contains("Exchange"), s"t_html_strip plans a shuffle:\n$p")
    assert(!p.contains("Join"), s"t_html_strip plans a join:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"t_html_strip: expected 1 scan, got $scans in:\n$p")
  }

  test("src_wet_parse: fixture groupBy is the only exchange; the parse is a map") {
    val p = plan("src_wet_parse")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange (blob build), got $exchanges in:\n$p")
    assert(!p.contains("Join"), s"wet parse plans a join:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"wet parse funnels to one partition:\n$p")
  }

  test("shard/budget tail: rank machinery — no single-partition window, no cartesian") {
    // ntileExact / packSequences range-repartition + per-partition
    // windows; a plain ntile()/row_number() OVER a global ORDER BY would
    // show Exchange SinglePartition — the 100 TB bug these two exist to
    // avoid
    Seq("pipeline_shard_shuffle", "pipeline_token_budget").foreach { q =>
      val p = plan(q)
      assertNoCartesian(p, q)
      assert(!p.contains("Exchange SinglePartition"),
        s"$q funnels to one partition:\n$p")
      assert(p.contains("rangepartitioning"),
        s"$q lost its range repartition:\n$p")
    }
  }

  test("pipeline_select_and_shard / s_file_binpack: prefix-sum machinery end to end") {
    Seq("pipeline_select_and_shard", "s_file_binpack").foreach { q =>
      val p = plan(q)
      assertNoCartesian(p, q)
      assert(!p.contains("Exchange SinglePartition"),
        s"$q funnels to one partition:\n$p")
      assert(p.contains("rangepartitioning"),
        s"$q lost its range repartition:\n$p")
    }
  }

  test("t_adaptive_quality: one exchange (the source partition), parallel windows") {
    val p = plan("t_adaptive_quality")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges in:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"adaptive gate funnels to one partition:\n$p")
    assert(!p.contains("Join"), s"adaptive gate plans a join:\n$p")
  }

  test("t_tokenizer_fertility: one scan, one exchange, map-side partial sums") {
    val p = plan("t_tokenizer_fertility")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 scan, got $scans in:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges in:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"no map-side partial aggregation in:\n$p")
    assert(!p.contains("Join"), s"fertility report plans a join:\n$p")
  }

  test("src_robots_gate: rules broadcast, verdict aggregated — no window, no cartesian") {
    val p = plan("src_robots_gate")
    assert(p.contains("BroadcastHashJoin"), s"rules side not broadcast in:\n$p")
    assertNoCartesian(p, "src_robots_gate")
    assert(!p.contains("Window"), s"robots gate plans a corpus window:\n$p")
  }

  test("pipeline_fetch_plan: the slotting window partitions BY DOMAIN, never one partition") {
    val p = plan("pipeline_fetch_plan")
    assert(p.contains("Window"), s"no slotting window in:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"fetch plan funnels to one partition:\n$p")
    assertNoCartesian(p, "pipeline_fetch_plan")
  }

  test("pipeline_pack_masks: boundary collect stays distributed — no single partition") {
    val p = plan("pipeline_pack_masks")
    assert(!p.contains("Exchange SinglePartition"),
      s"mask collect funnels to one partition:\n$p")
    assert(!p.contains("CartesianProduct"), s"mask plan has a cartesian:\n$p")
  }

  test("pipeline_fetch_priority: rank join + domain window — no cartesian, no single partition") {
    val p = plan("pipeline_fetch_priority")
    assert(p.contains("BroadcastHashJoin"), s"delays/probes not broadcast in:\n$p")
    assert(p.contains("Window"), s"no priority window in:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"priority plan funnels to one partition:\n$p")
    assertNoCartesian(p, "pipeline_fetch_priority")
  }

  test("ann_lsh_topk (portable): bucket equi-join only — no cartesian") {
    val p = plan("ann_lsh_topk")
    assertNoCartesian(p, "ann_lsh_topk")
  }

  test("t_fingerprint (portable): zero exchanges — pure map over the scan") {
    val p = plan("t_fingerprint")
    assert(!p.contains("Exchange"), s"fingerprint plans a shuffle:\n$p")
    assert(!p.contains("Join"), s"fingerprint plans a join:\n$p")
  }

  test("crawl corpus front half: rules broadcast, no cartesian anywhere") {
    val recs = EntryFixtures.crawlRecords(spark, dir)
    val p = EntryFixtures.crawlCorpusFromRecords(spark, dir, recs)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"robots rules not broadcast in:\n$p")
    assertNoCartesian(p, "crawl corpus front half")
  }

  test("ann_sq8_topk: query side broadcast, two-stage top-k, no cartesian") {
    val p = plan("ann_sq8_topk")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"queries not broadcast in:\n$p") // tiny query side rides a broadcast
    assert(!p.contains("CartesianProduct"), s"sq8 plans a cartesian:\n$p")
    // the two-stage top-k: a per-partition window precedes the global one
    assert("Window".r.findAllIn(p).length >= 2, s"missing two-stage top-k in:\n$p")
  }

  test("round-17: mm_audio_cepstra rides two literal-table broadcasts — " +
    "no cartesian, no single-partition stage, no per-row lambda beyond " +
    "the decode map") {
    val p = plan("mm_audio_cepstra")
    // the log2 ladder is the SANCTIONED broadcast nested-loop range join
    // against the 63-row literal table (the ann_ivfpq/ann_binary probe
    // stance) — a data-path CartesianProduct is still forbidden
    assert(!p.contains("CartesianProduct"),
      s"mm_audio_cepstra plans a CartesianProduct:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("BroadcastHashJoin"),
      s"ladder range join and DCT twiddle join must broadcast:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"cepstra funnels to one partition:\n$p")
    graft.operators.Dedup.clearCaches()
  }

  test("round-17: mm_audio_delta keys every join on the feature grain; " +
    "the engine-written zst archive stays a pure per-file map") {
    // the delta's partner lookup is an equi-join on (clip, channel,
    // coef, clamped frame) — never a cartesian, never a global funnel
    // (the upstream cepstra ladder's sanctioned broadcast nested-loop
    // rides inside this plan, so only CartesianProduct is forbidden)
    val d = plan("mm_audio_delta")
    assert(!d.contains("CartesianProduct"),
      s"mm_audio_delta plans a CartesianProduct:\n$d")
    assert(!d.contains("Exchange SinglePartition"),
      s"delta funnels to one partition:\n$d")
    // write → read: encode + decode + record split are per-file maps —
    // no join anywhere (the src_warc_parse_zst stance)
    val wz = plan("src_warc_write_zst")
    assertNoCartesian(wz, "src_warc_write_zst")
    assert(!wz.contains("SortMergeJoin") && !wz.contains("BroadcastHashJoin"),
      s"archive write/read must not join:\n$wz")
    graft.operators.Dedup.clearCaches()
  }

  test("round-17: ann_sq8_served scans stored artifacts — no cartesian, " +
    "no extrema re-derivation") {
    val p = plan("ann_sq8_served")
    assert(!p.contains("CartesianProduct"), s"sq8 serve plans a cartesian:\n$p")
    assert(p.contains("parquet"), s"serve must scan the stored code table:\n$p")
    // the extrema pass (posexplode + min/max aggregation) belongs to
    // commit, never serve: no Generate node may appear in the serve plan
    assert(!p.contains("Generate"), s"serve plan re-derives bounds:\n$p")
    graft.operators.Dedup.clearCaches()
  }

  test("dedup_cdc_shared: chunking is a pure map — the digest agg is the only data exchange") {
    val p = plan("dedup_cdc_shared")
    assertNoCartesian(p, "dedup_cdc_shared")
    assert(!p.contains("Exchange SinglePartition"),
      s"cdc funnels to one partition:\n$p")
    // no window, no join: map (chunk) → hash-agg on digests
    assert(!p.contains("SortMergeJoin"), s"unexpected join in:\n$p")
  }

  test("dedup_substring_spans: digest semi-join + per-doc window — no cartesian, no single partition") {
    val p = plan("dedup_substring_spans")
    assertNoCartesian(p, "dedup_substring_spans")
    assert(!p.contains("Exchange SinglePartition"),
      s"span merge funnels to one partition:\n$p")
    assert(p.contains("LeftSemi"), s"dup-digest filter is not a semi-join:\n$p")
    assert(p.contains("Window"), s"no interval-merge window in:\n$p")
  }

  test("mm_decode_avi / mm_audio_autocorr: zero data exchanges — pure demux/decode maps") {
    Seq("mm_decode_avi", "mm_audio_autocorr").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q plans a data shuffle:\n$p")
      assert(!p.contains("Join"), s"$q plans a join:\n$p")
    }
  }
}
