package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The streaming curation DAG: after EVERY trigger the published
  * artifacts equal the batch [[graft.pipeline.Pipeline.curate]] on the
  * data seen so far (the update-mode contract), the cross-batch digest
  * registry enforces first-seen-wins, and a redelivered trigger leaves
  * byte-equal state (its committed artifacts are not re-staged).
  */
class CurateStreamSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = CurateConfig(langKeep = Seq("en"), pplCutoff = 1e6,
    budget = 10000L, weights = Seq("a" -> 0.6, "b" -> 0.4), seqBudget = 16L)

  // three ascending-id ingest days: an intra-batch dup (2 of 1), a
  // cross-batch dup (10 of 1, 20 of 3), a quality reject (4), a language
  // reject (11)
  private val day0 = Seq(
    (1L, "a", "the quick brown fox jumps over the lazy dog"),
    (2L, "a", "the quick brown fox jumps over the lazy dog"),
    (3L, "b", "a small stream of words with the usual and common tokens"),
    (4L, "b", "!!!! ???? ...."))
  private val day1 = Seq(
    (10L, "a", "the quick brown fox jumps over the lazy dog"),
    (11L, "b", "der hund und die katze sind nicht ein gutes team"),
    (12L, "a", "fresh words that the corpus has not seen with many of the tokens"))
  private val day2 = Seq(
    (20L, "b", "a small stream of words with the usual and common tokens"),
    (21L, "a", "closing day text where the tokens keep being mostly the same ones"))

  private def df(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("doc_id", "domain", "text")

  private def packedSet(workDir: String): Set[(Long, Long, Long, Long, Long, Long)] =
    CurateStream.readPacked(spark, workDir)
      .select("doc_id", "n_tokens", "start_token", "seq_first", "seq_last",
        "offset_in_seq")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet

  private def reportSet(workDir: String): Set[(String, Long, Long)] =
    CurateStream.readReport(spark, workDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("per-trigger artifacts equal the batch DAG on the prefix") {
    val work = graft.util.Scratch.dir("graft_stcur_spec")
    val days = Seq(day0, day1, day2)
    days.indices.foreach { i =>
      CurateStream.curateBatch(work, cfg)(df(days(i)), i.toLong)
      val prefix = df(days.take(i + 1).flatten)
      val want = graft.pipeline.Pipeline.curate(prefix, "doc_id", "text",
        "domain", cfg.langKeep, cfg.pplCutoff, cfg.budget, cfg.weights,
        cfg.seqBudget)
      val wantPacked = want.packed
        .select("doc_id", "n_tokens", "start_token", "seq_first", "seq_last",
          "offset_in_seq")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      assert(packedSet(work) == wantPacked, s"packed parity after trigger $i")
      val wantReport = want.report.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(reportSet(work) == wantReport, s"report parity after trigger $i")
    }
  }

  test("cross-batch registry: first-seen wins, later copies strip") {
    val work = graft.util.Scratch.dir("graft_stcur_spec")
    Seq(day0, day1, day2).zipWithIndex.foreach { case (d, i) =>
      CurateStream.curateBatch(work, cfg)(df(d), i.toLong)
    }
    val gated = CurateStream.readGated(spark, work)
      .select("doc_id").as[Long].collect().toSet
    // 2 (intra-batch dup), 10 and 20 (cross-batch dups), 4 (quality),
    // 11 (language) are gone; canonical ids survive
    assert(gated == Set(1L, 3L, 12L, 21L))
  }

  test("compaction folds registry+gated blobs; dedup and artifacts unchanged") {
    val work = graft.util.Scratch.dir("graft_stcur_spec")
    CurateStream.curateBatch(work, cfg)(df(day0), 0L)
    CurateStream.curateBatch(work, cfg)(df(day1), 1L)
    val (p1, r1) = (packedSet(work), reportSet(work))
    // checkpoint committed past batch 1 → both per-trigger dirs fold
    CurateStream.compact(spark, work, upToBatch = 2L)
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def batchDirs(sub: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$work/$sub"))
        .map(_.getPath.getName).filter(_.startsWith("batch=")).toSeq
    assert(batchDirs("registry") == Seq("batch=-1"))
    assert(batchDirs("gated") == Seq("batch=-1"))
    // published artifacts unaffected by the relayout
    assert(packedSet(work) == p1)
    assert(reportSet(work) == r1)
    // a post-compaction trigger still strips cross-batch dups (doc 20
    // duplicates batch-0's doc 3, now living in the blob) and the final
    // state equals the full batch DAG
    CurateStream.curateBatch(work, cfg)(df(day2), 2L)
    val gated = CurateStream.readGated(spark, work)
      .select("doc_id").as[Long].collect().toSet
    assert(gated == Set(1L, 3L, 12L, 21L))
    val want = graft.pipeline.Pipeline.curate(df(day0 ++ day1 ++ day2),
      "doc_id", "text", "domain", cfg.langKeep, cfg.pplCutoff, cfg.budget,
      cfg.weights, cfg.seqBudget)
    val wantPacked = want.packed
      .select("doc_id", "n_tokens", "start_token", "seq_first", "seq_last",
        "offset_in_seq")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(packedSet(work) == wantPacked)
  }

  test("a crash between blob publish and absorbed-dir deletes never double-counts") {
    val work = graft.util.Scratch.dir("graft_stcur_spec")
    CurateStream.curateBatch(work, cfg)(df(day0), 0L)
    CurateStream.curateBatch(work, cfg)(df(day1), 1L)
    val gatedBefore = CurateStream.readGated(spark, work)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // snapshot an absorbed partition, compact, then RESTORE it — the
    // state a crash mid-deletes leaves behind
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val g0 = new org.apache.hadoop.fs.Path(s"$work/gated/batch=0")
    val bak = new org.apache.hadoop.fs.Path(s"$work/g0_bak")
    org.apache.hadoop.fs.FileUtil.copy(fs, g0, fs, bak, false,
      spark.sparkContext.hadoopConfiguration)
    CurateStream.compact(spark, work, upToBatch = 2L)
    org.apache.hadoop.fs.FileUtil.copy(fs, bak, fs, g0, false,
      spark.sparkContext.hadoopConfiguration)
    // the blob's _absorbed marker makes every reader ignore the leftover
    assert(CurateStream.readGated(spark, work)
      .select("doc_id").as[Long].collect().sorted.toSeq == gatedBefore,
      "leftover absorbed dir must not double-count")
    // the stream continues correctly, and the next compaction folds the
    // leftover away instead of merging its rows twice
    CurateStream.curateBatch(work, cfg)(df(day2), 2L)
    CurateStream.compact(spark, work, upToBatch = 3L)
    val gated = CurateStream.readGated(spark, work)
      .select("doc_id").as[Long].collect().toSeq
    assert(gated.sorted == Seq(1L, 3L, 12L, 21L),
      s"post-recovery gated store wrong: $gated")
  }

  test("an empty trigger republishes unchanged artifacts and breaks nothing") {
    val work = graft.util.Scratch.dir("graft_stcur_spec")
    CurateStream.curateBatch(work, cfg)(df(day0), 0L)
    val (p0, r0) = (packedSet(work), reportSet(work))
    // a zero-row micro-batch mid-stream: the gate writes empty partitions,
    // the refit recomputes from unchanged cumulative state
    CurateStream.curateBatch(work, cfg)(df(Seq.empty), 1L)
    assert(packedSet(work) == p0)
    // report gains nothing: the empty batch's stage counts are all zero
    assert(reportSet(work) == r0)
    // and the stream continues normally afterwards
    CurateStream.curateBatch(work, cfg)(df(day1), 2L)
    val gated = CurateStream.readGated(spark, work)
      .select("doc_id").as[Long].collect().toSet
    assert(gated == Set(1L, 3L, 12L))
  }

  test("refitEvery > 1: gate every trigger, refit on cadence; final refit matches per-trigger run") {
    val perTrigger = graft.util.Scratch.dir("graft_stcur_spec")
    val cadenced = graft.util.Scratch.dir("graft_stcur_spec")
    val days = Seq(day0, day1, day2)
    days.indices.foreach { i =>
      CurateStream.curateBatch(perTrigger, cfg)(df(days(i)), i.toLong)
      CurateStream.curateBatch(cadenced, cfg, refitEvery = 2)(df(days(i)), i.toLong)
    }
    // the gate ran every trigger on both sides — identical gated state
    assert(CurateStream.readGated(spark, cadenced)
      .select("doc_id").as[Long].collect().toSet ==
      CurateStream.readGated(spark, perTrigger)
        .select("doc_id").as[Long].collect().toSet)
    // only batch 1 hit the cadence (1 % 2 == 1): the published artifact
    // is the batch-1-prefix refit, not batch 2's
    assert(CurateStream.readPacked(spark, cadenced, versionAsOf = Some(1L))
      .count() > 0)
    intercept[Exception](
      CurateStream.readPacked(spark, cadenced, versionAsOf = Some(2L)).count())
    // drain: one standalone final refit — deterministic given the gated
    // store, so the artifact equals the per-trigger run's final publish
    CurateStream.refit(spark, cadenced, cfg, 2L)
    assert(packedSet(cadenced) == packedSet(perTrigger))
    assert(reportSet(cadenced) == reportSet(perTrigger))
  }

  test("redelivered trigger republishes byte-equal state") {
    val work = graft.util.Scratch.dir("graft_stcur_spec")
    CurateStream.curateBatch(work, cfg)(df(day0), 0L)
    CurateStream.curateBatch(work, cfg)(df(day1), 1L)
    val (p1, r1) = (packedSet(work), reportSet(work))
    val gated1 = CurateStream.readGated(spark, work)
      .select("doc_id").as[Long].collect().toSet
    // at-least-once: the last trigger redelivers — the registry read must
    // exclude the batch's own partition (or every row would strip as
    // already-seen) and the republished artifacts must be identical
    CurateStream.curateBatch(work, cfg)(df(day1), 1L)
    assert(packedSet(work) == p1)
    assert(reportSet(work) == r1)
    assert(CurateStream.readGated(spark, work)
      .select("doc_id").as[Long].collect().toSet == gated1)
  }

  test("replaying a committed batch leaves the artifact root unchanged") {
    val work = graft.util.Scratch.dir("graft_stcur_spec")
    CurateStream.curateBatch(work, cfg)(df(day0), 0L)
    CurateStream.curateBatch(work, cfg)(df(day1), 1L)
    // every file under the artifact root, with its size and mtime
    def listing(): Set[(String, Long, Long)] = {
      val root = java.nio.file.Paths.get(work, "artifact")
      val files = java.nio.file.Files.walk(root)
      try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => (root.relativize(f).toString, java.nio.file.Files.size(f),
          java.nio.file.Files.getLastModifiedTime(f).toMillis)).toSet
      finally files.close()
    }
    val before = listing()
    CurateStream.curateBatch(work, cfg)(df(day1), 1L)
    CurateStream.curateBatch(work, cfg, refitEvery = 2)(df(day1), 1L)
    assert(listing() == before)
  }
}
