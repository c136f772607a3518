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

/** Spark-side fixtures and memoized helpers shared by the per-family
  * query registries under `graft.registry` (VERDICT r11 #8: SparkEntry
  * split into navigable slices; this object is the code that used to sit
  * above SparkEntry.queries, verbatim).
  */
private[graft] object EntryFixtures {
  /** The enrichment join shared by the KPI queries (reference
    * transform.py:311-323).
    */
  private[graft] def enriched(s: SparkSession, dir: String): DataFrame =
    Kpis.enrich(
      TestdataAdapter.orders(s, dir),
      TestdataAdapter.orderItems(s, dir),
      TestdataAdapter.products(s, dir))

  // ---- validation rule configs for the testdata tables (SURVEY §2.7;
  // per-table business rules mirror validate.py:31-47,220-243) ----

  private[graft] val cfgOrders = TableRules(
    table = "orders",
    expectedColumns = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority"),
    uniqueKey = Seq("o_orderkey"),
    requiredColumns = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"),
    statusColumn = Some("o_orderstatus"),
    validStatuses = Seq("P", "O", "F"),
    nonNegativeColumns = Seq("o_totalprice"),
    integralColumns = Seq("o_orderkey"))

  private[graft] val cfgLineitem = TableRules(
    table = "lineitem",
    expectedColumns = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate"),
    uniqueKey = Seq("l_orderkey", "l_linenumber"),
    requiredColumns = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
    statusColumn = Some("l_returnflag"),
    validStatuses = Seq("N", "A", "R"),
    nonNegativeColumns = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
    integralColumns = Seq("l_linenumber"))

  /** Deterministically injected violations over orders (for
    * v_rules_violations): bad status every 10th key, negative price every
    * 7th, null user every 13th, duplicated rows every 11th.
    */
  private[graft] def mutatedOrders(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.orders(s, dir)
      .withColumn("o_custkey",
        when(col("o_orderkey") % 13 === 0, lit(null).cast("long"))
          .otherwise(col("o_custkey")))
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 10 === 0, lit("X")).otherwise(col("o_orderstatus")))
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 7 === 0, -col("o_totalprice"))
          .otherwise(col("o_totalprice")))
    m.unionByName(m.filter(col("o_orderkey") % 11 === 0))
  }

  /** Planted-corpus building blocks — every planted-truth oracle derives
    * its ground truth from these (an id at `base + offset` is a copy of the
    * id at `base`, by construction). ONE definition of the offsets and the
    * mutation marker: the recall oracles hardcode the same arithmetic, so a
    * drifting copy of the construction would silently break them.
    */
  private[graft] val PlantedOffset = 1000000L   // primary planted copy
  private[graft] val PlantedOffset2 = 2000000L  // secondary copy (fingerprint)
  private[graft] val PlantedMarker = " graft dup marker"

  /** A verbatim copy of `docs` with ids shifted by `offset`. */
  private[graft] def exactCopy(docs: DataFrame, offset: Long): DataFrame =
    docs.select((col("doc_id") + offset).as("doc_id"), col("text"))

  /** Integer token/vocabulary counts per document (whitespace tokens of
    * the lowercased text — the sqlTokens convention): the all-integer
    * quality signal the shard/budget/adaptive-gate queries rank on, so
    * their total orders never involve float comparison.
    */
  private[graft] def docTokenVocab(docs: DataFrame): DataFrame = {
    val toks = filter(split(trim(lower(col("text"))), "\\s+"),
      t => length(t) > 0)
    docs.select(col("doc_id"), col("source"),
      size(toks).cast("long").as("n_toks"),
      size(array_distinct(toks)).cast("long").as("n_vocab"))
  }

  /** The planted linearly-separable quality corpus: every doc keeps its
    * REAL text plus a class marker token (qpos for odd ids, qneg for
    * even) repeated proportionally to the document's own length — at
    * least 3 times, and at least a quarter of the word count — plus the
    * matching 0/1 label. The proportional repeat (ADVICE r08) keeps the
    * marker a constant FRACTION of the hashed-tf feature mass (~1/5)
    * instead of a 3/len signal that fades on longer documents, so the
    * oracle pins converged classification, not a corpus-specific
    * convergence margin. Separable by construction, so a converged
    * classifier must reproduce the labels exactly (the t_quality_train /
    * st_quality_score oracle).
    */
  private[graft] def qualityLabeled(s: SparkSession, dir: String): DataFrame = {
    // reps counts via Text.tokens — the SAME tokenization Classify.features
    // hashes (ADVICE r09: a whitespace split diverges on punctuation-heavy
    // docs, eroding the documented constant marker fraction)
    val reps = greatest(lit(3),
      (size(Text.tokens(lower(col("text")))) / 4).cast("int"))
    Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 2 === 1, repeat(lit(" qpos"), reps))
          .otherwise(repeat(lit(" qneg"), reps))).as("text"),
      (col("doc_id") % 2).cast("int").as("label"))
  }

  /** documents ∪ a planted partial-overlap twin per donor doc (< 40, ≥ 16
    * tokens): the twin copies the donor's FIRST 11 tokens and pads with 5
    * repeats of a doc-unique filler token. Under 6-token windows, exactly
    * the donor-prefix windows (positions 1-6) are shared cross-doc; every
    * filler-touching window is unique to the twin. The planted corpus for
    * the duplicated-passage queries.
    */
  private[graft] def passageCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select("doc_id", "text")
    val donors = base
      .select(col("doc_id"), Text.tokens(col("text")).as("__t"))
      .filter(col("doc_id") < 40 && size(col("__t")) >= 16)
    val planted = donors.select(
      (col("doc_id") + PlantedOffset).as("doc_id"),
      concat_ws(" ",
        concat(slice(col("__t"), 1, 11),
          array_repeat(
            format_string("uniq%d", col("doc_id") + PlantedOffset),
            5))).as("text"))
    base.unionByName(planted)
  }

  /** A suffix-mutated (near-duplicate) copy of `docs`, ids shifted. */
  private[graft] def mutatedCopy(docs: DataFrame, offset: Long): DataFrame =
    docs.select((col("doc_id") + offset).as("doc_id"),
      concat(col("text"), lit(PlantedMarker)).as("text"))

  /** documents ∪ a near-duplicate copy (suffix-mutated, shifted ids) — the
    * planted-duplicates corpus for the near-dup queries (package-visible:
    * the registry's dedup, pipeline and streaming queries share it).
    */
  private[graft] def docsWithPlantedDups(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    docs.unionByName(mutatedCopy(docs, PlantedOffset))
  }

  /** embeddings with the float vector cast to double — keeps the Spark fold
    * and the DuckDB list_dot_product in the same precision.
    */
  /** The shared end-to-end curation run behind pipeline_curate /
    * pipeline_curate_report: planted exact-dup family (every 5th doc
    * copied at PlantedOffset — the dedup stage must remove them), en-only
    * language keep, perplexity cut at 30.5, a 3000-BPE-token mixture over
    * four sources, 256-token sequences.
    */
  // memoized per (session, dir): pipeline_curate and its report would
  // otherwise each re-run the whole 6-stage DAG and double the retained
  // cache footprint (code-review r7g) — the frames are lazy plans over
  // session-lived persisted intermediates, safe to share. The memo DROPS
  // with Caches.clear(): the shared frames' persist markers die there, and
  // a memo that outlives them re-executes the stage fan-out uncached every
  // time (measured 2× on pipeline_curate under the bench's clear-per-run
  // protocol, round 8) — same lifetime coupling as Similarity's centroid
  // cache.
  private[graft] val curationCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      graft.pipeline.CurationResult]()
  graft.util.Caches.onClear(() => curationCache.clear())

  private[graft] def curationOf(s: SparkSession, dir: String): graft.pipeline.CurationResult =
    curationCache.compute((s, dir), (_, prev) =>
      // liveness check: spark.catalog.clearCache() (the bench protocol)
      // strips the memoized run's persist entries without going through
      // Caches.clear — serving the stale memo then re-executes the stage
      // fan-out uncached on every reference. kept is one of the run's two
      // persisted frames; NONE means the memo is dead.
      if (prev != null && prev.kept.storageLevel !=
        org.apache.spark.storage.StorageLevel.NONE) prev
      else curationRun(s, dir))

  /** The crawl-to-corpus FRONT HALF as one lineage (VERDICT r12 #2):
    * planted HTML pages behind the documents' URI scheme → robots
    * longest-match gate (inline example.com ruleset: Disallow /d/1 with
    * an Allow /d/13 carve-back — prefix semantics knock out the 1xx id
    * family) → real multi-member .wet.gz planting → byte-domain parse —
    * ending in the WET record frame the ingest store holds.
    */
  private[graft] def crawlRecords(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fetched = crawlFetchedPages(s, dir)
    graft.operators.Crawl.wetParseBytes(
      graft.operators.Crawl.plantWetBytes(fetched, "doc_id", "html",
        gzipRecords = true), gz = true)
  }

  /** The robots-allowed planted pages `(doc_id, html)`. */
  private[graft] def crawlFetchedPages(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select("doc_id", "source", "text")
    val pages = graft.operators.Crawl.plantHtml(docs, "doc_id", "text")
    val rules = graft.operators.Crawl.robotsParse(
      Seq(("example.com",
        "User-agent: *\nDisallow: /d/1\nAllow: /d/13\nCrawl-delay: 2\n"))
        .toDF("domain", "robots_txt"))
    val allowed = graft.operators.Crawl.robotsGate(
        pages.select(col("doc_id"),
          concat(lit("https://example.com/d/"), col("doc_id")).as("url")),
        rules, idCol = "doc_id", urlCol = "url")
      .filter(col("allowed")).select("doc_id")
    pages.join(allowed, Seq("doc_id"))
  }

  /** The crawl corpus BACK HALF shared by the batch lineage and the
    * streaming twin: WET records → five-stage htmlStrip → source join →
    * content mirrors (every 5th page duplicated at +PlantedOffset — the
    * different-URL-same-content mirror case exact dedup must catch).
    */
  private[graft] def crawlCorpusFromRecords(s: SparkSession, dir: String,
                                            recs: DataFrame): DataFrame = {
    val stripped = graft.operators.Crawl.htmlStrip(
      recs.select(col("doc_id"), col("body")), "doc_id", "body")
    val withSource = stripped
      .join(Tables.documents(s, dir).select("doc_id", "source"), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("strip_text").as("text"))
    withSource.unionByName(withSource.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + PlantedOffset).as("doc_id"), col("source"),
        col("text")))
  }

  /** The whole crawl-to-corpus DAG curated and packed — the
    * pipeline_curate parameters over the crawl-derived corpus.
    */
  private[graft] def crawlCurationRun(s: SparkSession, dir: String,
                                      recs: DataFrame): graft.pipeline.CurationResult =
    graft.pipeline.Pipeline.curate(crawlCorpusFromRecords(s, dir, recs),
      "doc_id", "text", "source",
      // the crawl strip text scores ~2x the raw documents' perplexity
      // (title lines + entity tail tokens); 61.5 sits at its median, so
      // the gate drops a real tail at every SF instead of everything
      langKeep = Seq("en"), pplCutoff = 61.5, budget = 3000L,
      weights = Seq("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1),
      seqBudget = 256L)

  private[graft] def curationRun(s: SparkSession, dir: String): graft.pipeline.CurationResult = {
    val docs = Tables.documents(s, dir).select("doc_id", "source", "text")
    val corpus = docs.unionByName(docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + PlantedOffset).as("doc_id"),
        col("source"), col("text")))
    graft.pipeline.Pipeline.curate(corpus, "doc_id", "text", "source",
      langKeep = Seq("en"), pplCutoff = 30.5, budget = 3000L,
      weights = Seq("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1),
      seqBudget = 256L)
  }

  /** One drained CurateStream run per (session, sfDir): st_curate and
    * st_curate_report read the published artifacts of the SAME drained
    * stream instead of each paying a 3-trigger replay of the identical
    * DAG (the jointKpiRoots recipe). The memoized value is the stream's
    * work dir (paths on disk, no persisted frames — no liveness check
    * needed); entries drop with Caches.clear so a bench clear-per-run
    * protocol re-drains rather than serving a deleted scratch dir.
    */
  private[graft] val curateStreamRoots =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()
  graft.util.Caches.onClear(() => curateStreamRoots.clear())

  /** Replay the pipeline_curate corpus (planted every-5th exact dups at
    * +PlantedOffset) as three ascending-doc_id ingest days through the
    * full streaming curation DAG ([[graft.streaming.CurateStream]]) and
    * return the drained work dir. Ascending day splits make cross-batch
    * first-seen-wins equal the batch DAG's min-id canonical rule, so the
    * published artifacts answer pipeline_curate's oracle VERBATIM.
    */
  private[graft] def curateStreamRoot(s: SparkSession, dir: String): String =
    curateStreamRoots.computeIfAbsent((s, dir), { _ =>
      import org.apache.spark.sql.streaming.Trigger
      val docs = Tables.documents(s, dir).select("doc_id", "source", "text")
      val corpus = docs.unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + PlantedOffset).as("doc_id"),
            col("source"), col("text")))
        .select(col("doc_id"), col("source").as("domain"), col("text"))
      val days = Seq(
        corpus.filter(col("doc_id") < 200),
        corpus.filter(col("doc_id") >= 200 && col("doc_id") < PlantedOffset),
        corpus.filter(col("doc_id") >= PlantedOffset))
      val stage = tmpDir("graft_stcur_in")
      days.zipWithIndex.foreach { case (d, i) =>
        val sub = s"$stage/d$i"
        d.coalesce(1).write.mode("overwrite").parquet(sub)
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(java.nio.file.Paths.get(sub))
          .iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(f => java.nio.file.Files.setLastModifiedTime(f,
            java.nio.file.attribute.FileTime
              .fromMillis(1700000000000L + i * 600000L)))
      }
      val (work, cp) = (tmpDir("graft_stcur_work"), tmpDir("graft_stcur_cp"))
      val cfg = graft.streaming.CurateConfig(langKeep = Seq("en"),
        pplCutoff = 30.5, budget = 3000L,
        weights = Seq("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1),
        seqBudget = 256L)
      val schema = s.read.parquet(s"$stage/d0").schema
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$stage/d*")
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch(graft.streaming.CurateStream.curateBatch(work, cfg) _)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      work
    })

  /** One 256-merge BPE training run per (session, sfDir), shared by the
    * prefix-replay and shape queries. bpeTrainMerges returns a
    * driver-list-backed frame (the merge decisions ARE driver metadata),
    * so the memo holds no persisted plans and needs no liveness check;
    * entries drop with Caches.clear like every operator memo.
    */
  private[graft] val bpe256Cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  graft.util.Caches.onClear(() => bpe256Cache.clear())

  /** Spark-side twin of [[sqlBpeRichRel]]: the vocabulary-rich deep-BPE
    * training corpus (documents text + two doc_id-derived numeric words).
    */
  // doc_id reduced mod 1e9 BEFORE the Knuth multiply: scaled-up corpora
  // (ScaleUp's key-offset copies) carry doc_ids large enough that the
  // raw product overflows a long under ANSI mode (found at sf1)
  private[graft] def bpeRichCorpus(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(concat(col("text"), lit(" "),
      (((col("doc_id") % 1000000000L) * 2654435761L) % 1000000000L)
        .cast("string"), lit(" "),
      ((((col("doc_id") % 100000L) + 7L) * 40503L) % 100000L)
        .cast("string")).as("text"))

  private[graft] def bpe256(s: SparkSession, dir: String): DataFrame =
    bpe256Cache.computeIfAbsent((s, dir), _ =>
      Text.bpeTrainMerges(bpeRichCorpus(s, dir), "text", nMerges = 256))

  /** Spark-side twin of [[sqlBpeBytesRel]]: documents text plus one
    * non-ASCII word per document — the byte-BPE fixture corpus.
    */
  private[graft] def bpeBytesCorpus(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(concat(col("text"), lit(" über"),
      (col("doc_id") % 7L).cast("string")).as("text"))

  private[graft] def embDouble(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).withColumn("emb_d",
      transform(col("embedding"), x => x.cast("double")))

  /** The FIXED prime-log piece table behind t_unigram_segment: every
    * lowercase letter/digit plus six common bigrams, each scored
    * log(prime) with a distinct prime. Distinct paths multiply distinct
    * prime sets, so path scores are tie-free by unique factorization
    * (bigram primes sit away from their char-prime products — "er"'s 673
    * vs 11·61 = 671 is the closest pair, a 0.3% log gap, far above float
    * noise). ONE source of truth: the Scala map and the SQL VALUES list
    * below both derive from this sequence, so they cannot diverge.
    */
  private[graft] val unigramPrimes: Seq[(String, Int)] = {
    val letterPrimes = Seq(2, 3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41,
      43, 47, 53, 59, 61, 67, 71, 73, 79, 83, 89, 97, 101)
    val digitPrimes = Seq(103, 107, 109, 113, 127, 131, 137, 139, 149, 151)
    ('a' to 'z').map(_.toString).zip(letterPrimes) ++
      ('0' to '9').map(_.toString).zip(digitPrimes) ++
      Seq("th" -> 1361, "he" -> 211, "in" -> 991, "er" -> 673,
        "an" -> 89, "re" -> 677)
  }

  private[graft] lazy val unigramFixedTable: Map[String, Double] =
    unigramPrimes.map { case (p, n) => p -> math.log(n.toDouble) }.toMap

  private[graft] def unigramTrainValid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val emIters = 3
    val m = graft.operators.Unigram.train(docs, "text", vocabSize = 96,
      maxPieceLen = 6, seedSize = 256, emIters = emIters)
    val corpusChars = graft.operators.Unigram.wordCounts(docs, "text")
      .select(explode(split(col("word"), "")).as("c"))
      .filter(length(col("c")) === 1)
      .distinct().as[String].collect().toSet
    val singles = m.logp.keySet.filter(_.length == 1)
    val pre = m.llTrace.take(emIters)
    val nonDec = pre.zip(pre.tail).forall { case (a, b) =>
      b >= a - 1e-6 * math.abs(a) }
    val covered = corpusChars.subsetOf(singles)
    val bounded = m.logp.size <= math.max(96, singles.size)
    val mass = m.logp.values.map(math.exp).sum
    Seq((m.llTrace.length.toLong, nonDec, covered, bounded,
      math.abs(mass - 1.0) < 1e-6))
      .toDF("ll_len", "ll_nondecreasing", "singles_covered",
        "vocab_bounded", "probs_normalized")
  }

  /** Structural validity of a top-k result (VERDICT r09 #7 — the
    * derived-invariant oracle for seeded-hash outputs DuckDB cannot
    * replay): per query, ranks must be exactly 1..n with n ≤ k, the
    * score must be monotone along rank, and neighbors must be distinct
    * and drawn from the corpus id set. Every flag is computed from the
    * ACTUAL result; the oracle states the literal truth per query id —
    * a duplicated rank, an out-of-order score, or a fabricated neighbor
    * anywhere breaks the hash compare.
    */
  private[graft] def topkValid(r: DataFrame, qCol: String, nCol: String,
                        scoreCol: String, ascending: Boolean, k: Int,
                        corpusIds: DataFrame): DataFrame = {
    // distinct: a duplicated corpus id would MULTIPLY result rows through
    // the flag join and corrupt every count-based flag below
    val flagged = r.join(
      corpusIds.toDF(nCol).distinct().withColumn("__in", lit(true)),
      Seq(nCol), "left")
    val pairs = sort_array(collect_list(struct(col("rank"),
      col(scoreCol).cast("double").as("s"))))
    val cmp = (cur: org.apache.spark.sql.Column, prev: org.apache.spark.sql.Column) =>
      if (ascending) cur >= prev else cur <= prev
    val mono = aggregate(pairs,
      struct(lit(true).as("ok"), lit(null).cast("double").as("prev")),
      (acc, x) => struct(
        (acc.getField("ok") && (acc.getField("prev").isNull ||
          cmp(x.getField("s"), acc.getField("prev")))).as("ok"),
        x.getField("s").as("prev")),
      acc => acc.getField("ok"))
    flagged.groupBy(col(qCol).as("q_id")).agg(
      (min(col("rank")) === 1 && max(col("rank")) === count(lit(1)) &&
        countDistinct(col("rank")) === count(lit(1)) &&
        count(lit(1)) <= k).as("ranks_ok"),
      mono.as("scores_sorted"),
      (countDistinct(col(nCol)) === count(lit(1))).as("neighbors_distinct"),
      (min(when(col("__in"), lit(1)).otherwise(lit(0))) === 1)
        .as("neighbors_in_corpus"))
  }

  /** [[topkValid]]'s twin for near-dup PAIR outputs: one aggregate row
    * asserting id_a < id_b everywhere, pair uniqueness, the verify score
    * inside its legal range, and both ids drawn from the input corpus.
    * Robust to an empty pair set (vacuous truth) — the recall twins are
    * what pin non-emptiness.
    */
  private[graft] def pairsValid(pairs0: DataFrame, scoreCol: String, lo: Double,
                         hi: Double, corpusIds: DataFrame): DataFrame = {
    // two legs (the flag aggregation and the stray-id anti-join) consume
    // the pair frame — un-persisted, the ENTIRE upstream near-dup DAG
    // (signatures, banding, candidate join, verify, expansion) executes
    // twice (measured ~1s of the dedup_near_valid bench time, r15).
    // Pairs are output-bounded and tiny; session-lived via Caches.
    val pairs = graft.util.Caches.retain(
      pairs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val flags = pairs.agg(
      coalesce(min(when(col("id_a") < col("id_b"), 1).otherwise(0)) === 1,
        lit(true)).as("pairs_ordered"),
      coalesce(count_distinct(struct(col("id_a"), col("id_b"))) === count(lit(1)),
        lit(true)).as("pairs_distinct"),
      coalesce(min(col(scoreCol).cast("double")) >= lo &&
        max(col(scoreCol).cast("double")) <= hi, lit(true)).as("scores_in_range"))
    val stray = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .join(corpusIds.toDF("doc_id"), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("__n_stray"))
    flags.crossJoin(stray)
      .select(col("pairs_ordered"), col("pairs_distinct"),
        col("scores_in_range"), (col("__n_stray") === 0L).as("ids_in_corpus"))
  }

  /** Scratch dir for the roundtrip queries (self-cleaning, shared impl). */
  private[graft] def tmpDir(prefix: String): String = graft.util.Scratch.dir(prefix)

  /** Stage one-file-per-trigger fixture dirs `f<i>` from a
    * `(file_id, …)` frame, with ascending mtimes so file→batch order is
    * deterministic under maxFilesPerTrigger=1. The frame is persisted
    * around the write loop: each per-file `filter(file_id === i)` sits
    * ABOVE the plant's `mapGroups`, so without the persist every write
    * job re-executed the whole plant subtree — for the .wet.gz/.wet.zst
    * fixtures that meant re-compressing the entire corpus once per
    * staged file, 9× the plant cost per query (guide §1/§2: the staging
    * loop was ~2× the one-pass plant cost at sf0.1, measured by timing
    * the staging loop against one plant pass in round 17,
    * OPTIMIZATION_r17.md). One pass computes all slices; the 9 writes
    * then read the (few-row) cached frame.
    */
  private[graft] def stageByFileId(blobs: DataFrame, stage: String,
                                   ids: Seq[Long]): Unit = {
    import scala.jdk.CollectionConverters._
    val b = blobs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      ids.foreach { i =>
        val sub = s"$stage/f$i"
        b.filter(col("file_id") === i).coalesce(1)
          .write.mode("overwrite").parquet(sub)
        // Files.list streams hold a directory handle until closed (ADVICE
        // r17: the unclosed iterator leaked one handle per staged file)
        val listing = java.nio.file.Files.list(java.nio.file.Paths.get(sub))
        try listing.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(f => java.nio.file.Files.setLastModifiedTime(f,
            java.nio.file.attribute.FileTime
              .fromMillis(1700000000000L + i * 600000L)))
        finally listing.close()
      }
    } finally b.unpersist()
  }

  /** One drained JointKpis run per (session, sfDir) — st_joint_* and
    * st_jointm_* read their table from the SAME committed root instead
    * of each paying a full stage + AvailableNow drain of the identical
    * one-query-two-tables pipeline (code-review r6). The memo is the
    * keyed-cache pattern of Similarity's centroid cache; entries drop
    * with Caches.clear.
    */
  private[graft] val jointKpiRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  graft.util.Caches.onClear(() => jointKpiRoots.clear())

  /** Stage the enriched projection to parquet, drain
    * [[graft.streaming.JointKpis.writerManifested]] over it with
    * AvailableNow, return the committed root.
    */
  private[graft] def drainJointRoot(s: SparkSession, dir: String): String = {
    import org.apache.spark.sql.streaming.Trigger
    val stage = tmpDir("graft_stjm_in")
    enriched(s, dir).select(col("order_id"), col("user_id"),
        col("product_id"), col("category"), col("sale_price"),
        col("is_returned"), col("order_date"))
      .write.mode("overwrite").parquet(stage)
    val (root, cp) = (tmpDir("graft_stjm_root"), tmpDir("graft_stjm_cp"))
    val stream = s.readStream.schema(s.read.parquet(stage).schema).parquet(stage)
    val q = graft.streaming.JointKpis.writerManifested(stream, root, cp)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    root
  }

  private[graft] def jointKpiRoot(s: SparkSession, dir: String): String =
    jointKpiRoots.computeIfAbsent(s.hashCode() + "|" + dir,
      _ => drainJointRoot(s, dir))

  /** Shared TF/DF frames behind t_term_stats and t_keywords (ONE
    * definition, mirrored by [[sqlTermStatsCtes]] on the oracle side, so
    * the tokenization/tf-cut/df math cannot drift between the queries).
    */
  private[graft] def termStats(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(Text.tokens(lower(col("text")))).as("term"))
    val tf = toks.filter(col("doc_id") < 50)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = toks.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(df, "term").select("doc_id", "term", "tf", "df")
  }

  /** One entry per implemented operator from SURVEY.md §2 / §7.5. */
}
