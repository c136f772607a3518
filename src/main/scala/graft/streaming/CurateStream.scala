package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Dedup, LanguageModel, Pack, Sampling}
import graft.state.{ManifestStore, SnapshotStore}
import graft.state.ManifestStore.TableCommit

/** Knobs of one curation run — the argument block of
  * [[graft.pipeline.Pipeline.curate]] as a value, so the streaming and
  * batch forms of the DAG are parameterized identically.
  */
final case class CurateConfig(langKeep: Seq[String], pplCutoff: Double,
                              budget: Long, weights: Seq[(String, Double)],
                              seqBudget: Long)

/** STREAMING end-to-end corpus curation — the whole
  * [[graft.pipeline.Pipeline.curate]] DAG (exact dedup → quality gate →
  * language filter → self-trained perplexity gate → mixture quota fill →
  * sequence packing) applied per micro-batch, the reference's
  * event-driven-arrival architecture (stepfunction.json:3-200,
  * glue_job.py:150-162: objects land, the full pipeline runs) over the
  * corpus domain.
  *
  * The DAG splits at its natural state boundary:
  *
  *  - **Per-trigger stages** (dedup, quality, language) are first-seen /
  *    row-local decisions: each arriving batch intra-batch-canonicalizes
  *    ([[Dedup.keepCanonical]]), anti-joins its content digests against
  *    the sha REGISTRY of every prior batch (the
  *    [[PassageStream]] registry recipe — digests shuffle, never bodies),
  *    then runs the SAME [[Text.analyzed]] gate the batch DAG runs.
  *    Because micro-batches arrive in ascending id order, first-seen-wins
  *    across batches IS the batch DAG's min-id canonical rule, so the
  *    cumulative gated store equals the batch pipeline's `langed` frame
  *    on the union of all drained batches — stage parity by
  *    construction, not by re-implementation.
  *  - **Whole-corpus stages** (perplexity gate — the LM trains on the
  *    gated corpus itself — mixture quotas, packing) are global
  *    artifacts: [[refit]] recomputes them from the drained cumulative
  *    state each trigger and commits them atomically
  *    ([[ManifestStore.commit]]: packed layout + global report publish
  *    under ONE pointer rename, versioned by batch id — readers get
  *    snapshot isolation and time travel within the store's retention
  *    horizon for free). This is
  *    update-mode semantics for a training-run artifact: after EVERY
  *    trigger the published layout equals what the batch DAG would emit
  *    on the data seen so far (the property CurateStreamSpec pins
  *    per-prefix).
  *
  * Idempotence: gated/registry/report are per-batch partition dirs
  * overwritten by batch id, and the registry read excludes the current
  * batch's partition, so an at-least-once redelivery recomputes byte-equal
  * state; [[refit]] is deterministic given that state, so the sink skips
  * it for a batch id the artifact store already committed — the skip
  * leaves exactly what a republish would.
  *
  * Scale contract: per-trigger cost of the gate is O(batch) — one
  * digest anti-join against the registry (8-byte-ish sha keys,
  * columnar-pruned) plus codegen'd row-local annotation. [[refit]] is
  * O(cumulative gated corpus) per invocation — the right default while
  * the gated corpus is artifact-sized (a mixture/packing layout IS a
  * training-run artifact); a deployment whose gated archive outgrows
  * per-trigger refit runs the gate every trigger and [[refit]] on a
  * cadence (it is a standalone call for exactly that reason), the
  * incremental-vs-global split the daily-ingest dedup family documents.
  */
object CurateStream {

  /** What the gate WRITES to `registry/batch=N`: the content digests this
    * batch saw first. Pinned by every registry read (ADVICE r09 stance:
    * write-path changes fail loudly, never as null columns).
    */
  private[streaming] val ShaRegistrySchema = "content_sha STRING, batch LONG"

  /** What the gate WRITES to `gated/batch=N`: the post-language-filter
    * survivors with their BPE-ish token counts.
    */
  private[streaming] val GatedSchema =
    "doc_id LONG, domain STRING, text STRING, bpe_tokens LONG, batch LONG"

  /** [[GatedSchema]] minus the dir-derived partition column — the schema
    * of the FILES, for reads that enumerate leaf dirs explicitly.
    */
  private[streaming] val GatedDataSchema =
    "doc_id LONG, domain STRING, text STRING, bpe_tokens LONG"

  /** What the gate WRITES to `report/batch=N`: this batch's funnel counts
    * for the per-trigger stages (0_input/1_dedup/2_quality/3_lang) —
    * additive across batches because those stages decide row-locally.
    */
  private[streaming] val ReportSchema =
    "stage STRING, n_docs LONG, n_bpe_tokens LONG, batch LONG"

  // the ONE funnel-row aggregation, shared with the batch DAG — verbatim
  // report parity depends on both emitting exactly this shape
  private def stageRow(name: String, df: DataFrame, tok: Column): DataFrame =
    graft.pipeline.Pipeline.stageRow(name, df, tok)

  /** foreachBatch gate: intra-batch canonical dedup, cross-batch digest
    * anti-join, quality + language filter; append survivors to
    * `gated/batch=N`, first-seen digests to `registry/batch=N`, and this
    * batch's funnel counts to `report/batch=N` (all overwrite-by-batch).
    * Batch contract: columns `doc_id LONG, domain STRING, text STRING`,
    * batches arriving in ascending doc_id order (the first-seen = min-id
    * equivalence above).
    */
  def gateAndRegister(workDir: String, langKeep: Seq[String])
                     (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val regRoot = new Path(s"$workDir/registry")
    val fs = regRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    batch.persist()
    try {
      val intra = Dedup.keepCanonical(batch, "doc_id", "text")
        .withColumn("__sha", sha2(col("text"), 256))
      val seen =
        if (fs.exists(regRoot))
          spark.read.schema(ShaRegistrySchema)
            .option("ignoreMissingFiles", "true")
            .parquet(regRoot.toString)
            .filter(col("batch") =!= batchId)
            .select(col("content_sha").as("__sha"))
        else spark.range(0).select(col("id").cast("string").as("__sha"))
      // several consumers below (registry write, annotation, two stage
      // counts) — persist the deduped survivors once
      val ded = intra.join(seen, Seq("__sha"), "left_anti").persist()
      try {
        val ann = Text.analyzed(ded.drop("__sha"), "text")
        val quality = ann.filter(col("quality_ok"))
        val langed = quality.filter(col("lang_pred").isin(langKeep: _*))
          .persist()
        try {
          langed.select("doc_id", "domain", "text", "bpe_tokens")
            .write.mode("overwrite").parquet(s"$workDir/gated/batch=$batchId")
          ded.select(col("__sha").as("content_sha")).distinct()
            .write.mode("overwrite").parquet(s"$workDir/registry/batch=$batchId")
          Seq(stageRow("0_input", batch, Text.bpeTokenCount(col("text"))),
              stageRow("1_dedup", ded, Text.bpeTokenCount(col("text"))),
              stageRow("2_quality", quality, col("bpe_tokens")),
              stageRow("3_lang", langed, col("bpe_tokens")))
            .reduce(_ unionByName _)
            .write.mode("overwrite").parquet(s"$workDir/report/batch=$batchId")
        } finally langed.unpersist()
      } finally ded.unpersist()
    } finally batch.unpersist()
  }

  /** The cumulative gated corpus across all drained batches.
    *
    * The read ENUMERATES the per-batch partition dirs instead of scanning
    * the root glob: Spark's CacheManager matches file-source plans by
    * path, so a root-path read re-persisted inside a downstream operator
    * (quotaSample's range-partitioned prefix frame) on a LATER trigger
    * would silently serve the earlier trigger's cached listing — refit #2
    * computing the mixture over refit #0's gated state (observed: the
    * mixture underfilling every quota ~3×). Distinct dir lists per
    * trigger make the plans distinct, so each refit caches and reads its
    * own era.
    */
  def readGated(spark: SparkSession, workDir: String): DataFrame =
    // live-dir enumeration excludes dirs a published compaction blob
    // absorbed (the [[Compaction]] marker contract) — they may linger if
    // the post-rename deletes were interrupted, and reading them would
    // double-count their rows
    Compaction.readLive(spark, s"$workDir/gated", GatedDataSchema)
      .select("doc_id", "domain", "text", "bpe_tokens")

  /** Recompute the whole-corpus stages from the drained cumulative state
    * and publish them atomically as version `batchId`: train the unigram
    * LM on the gated corpus, gate on rounded perplexity, fill the
    * mixture quotas, pack the training layout, and commit
    * `packed` + `report_global` (the 4_ppl/5_mixture funnel rows) under
    * one pointer rename. Deterministic given the gated store; `batchId`
    * must be ahead of the artifact's live version (the store's replay
    * gate), which [[curateBatch]] checks before it calls this.
    */
  def refit(spark: SparkSession, workDir: String, cfg: CurateConfig,
            batchId: Long): Unit = {
    val cum = readGated(spark, workDir)
    val scored = LanguageModel.unigramScore(cum, cum, "doc_id", "text")
    val kept = cum.join(
        scored.filter(col("ppl") <= cfg.pplCutoff).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .persist()
    try {
      val mixed = Sampling.quotaSample(
        kept.select(col("doc_id"), col("domain"), col("bpe_tokens")),
        "doc_id", "domain", "bpe_tokens",
        Sampling.mixtureQuotas(cfg.budget, cfg.weights)).persist()
      try {
        val packed = Pack.packSequences(
          mixed.select(col("doc_id"), col("bpe_tokens").as("n_tokens")),
          "doc_id", "n_tokens", cfg.seqBudget, Seq(col("doc_id")))
        val globalReport =
          Seq(stageRow("4_ppl", kept, col("bpe_tokens")),
              stageRow("5_mixture", mixed, col("bpe_tokens")))
            .reduce(_ unionByName _)
        ManifestStore.commit(spark, new Path(s"$workDir/artifact"), batchId,
          Seq(TableCommit("packed", packed),
            TableCommit("report_global", globalReport)),
          ManifestStore.ReplacePartitions)
      } finally mixed.unpersist()
    } finally kept.unpersist()
  }

  /** The complete per-trigger DAG as one foreachBatch sink: gate the
    * batch, then republish the global artifacts from cumulative state —
    * after every trigger the published layout answers the batch DAG's
    * result on the data seen so far. A redelivered batch whose artifacts
    * already committed (the store's live version ≥ `batchId`) re-runs the
    * gate only.
    *
    * `refitEvery` is the REFIT CADENCE knob (VERDICT r11 #6 — the
    * escape hatch for a gated archive that outgrows per-trigger refit):
    * the O(batch) gate runs EVERY trigger, the O(cumulative) [[refit]]
    * only on every `refitEvery`-th batch id (1 = every trigger, the
    * update-mode default). A drain whose last batch missed the cadence
    * finishes with one standalone `refit(spark, workDir, cfg,
    * lastBatchId)` call — refit is deterministic given the gated store,
    * so the cadenced run's final artifact equals the per-trigger run's
    * (the parity CurateStreamSpec pins).
    */
  def curateBatch(workDir: String, cfg: CurateConfig, refitEvery: Int = 1)
                 (batch: DataFrame, batchId: Long): Unit = {
    require(refitEvery >= 1, s"refitEvery must be >= 1, got $refitEvery")
    val spark = batch.sparkSession
    gateAndRegister(workDir, cfg.langKeep)(batch, batchId)
    val artifact = new Path(s"$workDir/artifact")
    def committed = SnapshotStore.currentVersion(
      artifact.getFileSystem(spark.sparkContext.hadoopConfiguration), artifact)
      .exists(_ >= batchId)
    if (batchId % refitEvery == refitEvery - 1 && !committed)
      refit(spark, workDir, cfg, batchId)
  }

  /** Compact the per-trigger partition dirs of a LONG-RUNNING stream —
    * registry digests (distinct-merged) and gated survivors (disjoint
    * union) below `upToBatch` fold into one blob each under fresh
    * reserved NEGATIVE batch ids, then the absorbed partitions delete.
    * Same crash-safety-by-ordering, redelivery-boundary, and
    * between-triggers scheduling contract as
    * [[PassageStream.compactRegistry]] (write the blob before deleting
    * anything; only compact batches the checkpoint committed past; a
    * negative id never equals a live batch id, so the current-batch
    * exclusion filter keeps working and [[readGated]]'s dir enumeration
    * still sees every row exactly once).
    */
  def compact(spark: SparkSession, workDir: String, upToBatch: Long): Unit = {
    Compaction.compactDir(spark, s"$workDir/registry", "content_sha STRING",
      upToBatch, Compaction.distinctFold(Seq("content_sha")))
    // gated rows across LIVE batches are disjoint by construction (the
    // digest registry admits each text once) — a plain union; duplicates
    // can only come from un-deleted absorbed dirs, which the marker
    // excludes from every read
    Compaction.compactDir(spark, s"$workDir/gated", GatedDataSchema, upToBatch)
  }

  /** The currently-published packed training layout (snapshot-isolated;
    * `versionAsOf` = a retained trigger's batch id for time travel).
    */
  def readPacked(spark: SparkSession, workDir: String,
                 versionAsOf: Option[Long] = None): DataFrame =
    ManifestStore.readTable(spark, s"$workDir/artifact", "packed", versionAsOf)

  /** The end-to-end funnel report of the drained stream: per-trigger
    * stage counts summed across batches (stages 0-3 are additive
    * row-local decisions) plus the published whole-corpus rows (4-5) —
    * answers [[graft.pipeline.Pipeline.curate]]'s report verbatim.
    */
  def readReport(spark: SparkSession, workDir: String): DataFrame = {
    val root = new Path(s"$workDir/report")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // missing-root guard (readGated's stance): without it a pre-first-
    // trigger read dies on an unhelpful raw path error instead of
    // ManifestStore's clear "no committed snapshot" message below
    val perBatch =
      if (!fs.exists(root))
        spark.range(0).select(lit("").as("stage"), lit(0L).as("n_docs"),
          lit(0L).as("n_bpe_tokens"))
      else spark.read.schema(ReportSchema)
        .option("ignoreMissingFiles", "true")
        .parquet(root.toString)
        .groupBy("stage")
        .agg(sum(col("n_docs")).cast("long").as("n_docs"),
          sum(col("n_bpe_tokens")).cast("long").as("n_bpe_tokens"))
    val global = ManifestStore.readTable(spark, s"$workDir/artifact", "report_global")
    perBatch.unionByName(global)
  }
}
