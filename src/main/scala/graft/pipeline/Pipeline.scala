package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.sinks.{KvSink, KvWriter}
import graft.transform.Kpis
import graft.validate.{Rules, TableRules}

/** Outcome of one pipeline run: the validation report (the gate's collected
  * rows as a local relation — reading it again runs no Spark job), the gate
  * verdict, and (when the gate passed) the two KPI frames. Mirrors the
  * Step Function's terminal states (reference
  * src/stepfunctions/stepfunction.json:3-200: ValidateData →
  * CheckValidationStatus → TransformData → Succeed/Fail) as a typed value
  * instead of SNS notifications.
  */
case class PipelineResult(report: DataFrame, passed: Boolean,
                          categoryKpis: Option[DataFrame],
                          dailyKpis: Option[DataFrame])

/** Orchestration-as-code — the reference's Step Function DAG
  * (stepfunction.json:3-200) as sequential driver code over one
  * SparkSession. Transformation is a lazy Catalyst plan in the same
  * process; the only materializations are the gate (one collected action:
  * one scan per validated table, see [[graft.validate.Rules]]) and
  * whatever sinks the caller drains into.
  *
  * The reference's Choice state only checks that the validation *task ran*
  * (stepfunction.json:81-91; the container always exits 0,
  * validate.py:334-342) — here the gate checks the actual validation
  * outcome, per SURVEY.md §3.2's fix-don't-replicate list.
  */
object Pipeline {

  /** Validate → gate → transform. `persistJoin` caches the enrichment join
    * before the two-KPI fan-out (the reference re-scans and re-joins per
    * consumer, transform.py:329-365 — SURVEY.md §4 "Caching / reuse");
    * leave it off for single-consumer callers. The persist backs the
    * returned lazy KPI frames, so it is registered in [[graft.util.Caches]]:
    * `Caches.clear()` releases it once they are consumed.
    *
    * `onResult` is the notification terminal: it fires with the final
    * result on BOTH branches — the analogue of the Step Function's SNS
    * notify states on the success and failure paths
    * (stepfunction.json:156-199), as a hook instead of a message bus.
    * Default no-op; wire alerting/metrics there.
    */
  def run(spark: SparkSession, orders: DataFrame, items: DataFrame,
          products: DataFrame, ruleSet: Seq[(DataFrame, TableRules)],
          persistJoin: Boolean = true,
          onResult: PipelineResult => Unit = _ => ()): PipelineResult = {
    val report = Rules.report(spark, ruleSet)
    val result =
      if (!Rules.passed(report)) PipelineResult(report, passed = false, None, None)
      else {
        val joined0 = Kpis.enrich(orders, items, products)
        val joined =
          if (persistJoin)
            graft.util.Caches.retain(joined0.persist(StorageLevel.MEMORY_AND_DISK))
          else joined0
        PipelineResult(report, passed = true,
          Some(Kpis.categoryKpis(joined)), Some(Kpis.dailyKpis(joined)))
      }
    onResult(result)
    result
  }

  /** The sink leg (TransformData's outputs, transform.py:326-404): upsert
    * the KPI frames into parquet tables keyed like the reference's Delta
    * MERGE, and push them through the KV sink (the DynamoDB analogue).
    * No-op when the gate failed.
    */
  def sink(result: PipelineResult, categoryDir: String, dailyDir: String,
           kv: Option[KvWriter] = None): Unit =
    for {
      cat <- result.categoryKpis
      day <- result.dailyKpis
    } {
      graft.streaming.StreamingPipeline.upsertBatch(categoryDir,
        Seq("category", "order_date"))(cat, 0L)
      graft.streaming.StreamingPipeline.upsertBatch(dailyDir,
        Seq("order_date"))(day, 0L)
      kv.foreach { w =>
        KvSink.write(cat, w)
        KvSink.write(day, w)
      }
    }

  /** End-to-end corpus curation: every LLM-data stage of the suite wired
    * into ONE deterministic DAG — exact dedup → quality gate → language
    * filter → self-trained perplexity gate → domain-mixture quota fill →
    * sequence packing — with a per-stage funnel report. This is the
    * "switch the corpus pipeline to this library" call: each stage is the
    * already-oracled operator (Dedup.keepCanonical, Text.analyzed,
    * LanguageModel.unigramScore, Sampling.quotaSample,
    * Pack.packSequences), composed here rather than re-implemented, so
    * the whole DAG replays in the DuckDB oracle stage by stage.
    *
    * Scale shape: the expensive annotation frame and the post-gate
    * corpus persist once each (session-lived, Caches-registered) because
    * the packed layout and the report both read them; everything else is
    * the component operators' documented shapes. The perplexity gate
    * compares the ROUNDED score, so the cut is engine-stable at any
    * cutoff.
    */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             domainCol: String, langKeep: Seq[String], pplCutoff: Double,
             budget: Long, weights: Seq[(String, Double)],
             seqBudget: Long): CurationResult = {
    import org.apache.spark.sql.functions._
    import graft.functions.Text
    import graft.operators.{Dedup, LanguageModel, Pack, Sampling}
    val base = docs.select(col(idCol), col(domainCol), col(textCol))
    val ded = Dedup.keepCanonical(base, idCol, textCol)
    val ann = graft.util.Caches.retain(
      Text.analyzed(ded, textCol).persist(StorageLevel.MEMORY_AND_DISK))
    val quality = ann.filter(col("quality_ok"))
    val langed = quality.filter(col("lang_pred").isin(langKeep: _*))
    val scored = LanguageModel.unigramScore(langed, langed, idCol, textCol)
    val kept = graft.util.Caches.retain(
      langed.join(scored.filter(col("ppl") <= pplCutoff).select(col(idCol)),
          Seq(idCol), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK))
    val mixed = Sampling.quotaSample(
      kept.select(col(idCol), col(domainCol), col("bpe_tokens")),
      idCol, domainCol, "bpe_tokens",
      Sampling.mixtureQuotas(budget, weights))
    val packed = Pack.packSequences(
      mixed.select(col(idCol), col("bpe_tokens").as("n_tokens")),
      idCol, "n_tokens", seqBudget, Seq(col(idCol)))
    val report = Seq(
      stageRow("0_input", base, Text.bpeTokenCount(col(textCol))),
      stageRow("1_dedup", ded, Text.bpeTokenCount(col(textCol))),
      stageRow("2_quality", quality, col("bpe_tokens")),
      stageRow("3_lang", langed, col("bpe_tokens")),
      stageRow("4_ppl", kept, col("bpe_tokens")),
      stageRow("5_mixture", mixed, col("bpe_tokens"))
    ).reduce(_ unionByName _)
    CurationResult(kept, mixed, packed, report)
  }

  /** One funnel-report row: `(stage, n_docs, n_bpe_tokens)`. Shared by the
    * batch DAG above and [[graft.streaming.CurateStream]]'s per-trigger /
    * refit reports — st_curate_report's verbatim parity with the batch
    * report depends on both emitting THIS exact aggregation, so there is
    * exactly one copy.
    */
  private[graft] def stageRow(name: String, df: DataFrame,
                              tok: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions._
    df.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(tok.cast("long")), lit(0L)).as("n_bpe_tokens"))
      .select(lit(name).as("stage"), col("n_docs"), col("n_bpe_tokens"))
  }
}

/** The frames [[Pipeline.curate]] hands back: the gated corpus, the
  * mixture-sampled slice, the packed training layout, and the per-stage
  * funnel report.
  */
case class CurationResult(kept: DataFrame, mixed: DataFrame,
                          packed: DataFrame, report: DataFrame)
