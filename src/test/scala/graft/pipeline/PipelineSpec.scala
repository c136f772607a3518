package graft.pipeline

import graft.SparkSpec
import graft.validate.TableRules

/** §7.1 orchestration: validate → gate → transform. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = TableRules(
    table = "orders",
    expectedColumns = Seq("order_id", "user_id", "status", "created_at"),
    uniqueKey = Seq("order_id"),
    requiredColumns = Seq("order_id", "user_id"),
    statusColumn = Some("status"),
    validStatuses = Seq("pending", "shipped"))

  private val ts = java.sql.Timestamp.valueOf("2024-03-05 10:00:00")
  private def orders(status: String) =
    Seq(("o1", "u1", status, ts), ("o2", "u2", "shipped", ts))
      .toDF("order_id", "user_id", "status", "created_at")
  private val items = Seq(("o1", "p1", 10.0, false), ("o1", "p2", 30.0, true),
    ("o2", "p1", 20.0, false)).toDF("order_id", "product_id", "sale_price", "is_returned")
  private val products = Seq(("p1", "toys", "n1", "b1", 9.0), ("p2", "books", "n2", "b2", 29.0))
    .toDF("id", "category", "name", "brand", "retail_price")

  test("clean input passes the gate and produces both KPI frames") {
    val res = Pipeline.run(spark, orders("pending"), items, products,
      Seq((orders("pending"), cfg)), persistJoin = false)
    assert(res.passed)
    val cat = res.categoryKpis.get.collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(cat == Map("toys" -> 30.0, "books" -> 30.0))
    val daily = res.dailyKpis.get.collect()
    assert(daily.length == 1 && daily(0).getLong(1) == 2L) // 2 distinct orders
  }

  test("a validation violation fails the gate and skips the transform") {
    val res = Pipeline.run(spark, orders("BOGUS"), items, products,
      Seq((orders("BOGUS"), cfg)), persistJoin = false)
    assert(!res.passed)
    assert(res.categoryKpis.isEmpty && res.dailyKpis.isEmpty)
    assert(res.report.filter($"violation_count" > 0).count() == 1L)
  }

  test("the result's report holds the collected rows: re-reading it runs no job") {
    val res = Pipeline.run(spark, orders("BOGUS"), items, products,
      Seq((orders("BOGUS"), cfg)), persistJoin = false)
    val first = res.report.collect().toSeq
    val (again, jobs) = graft.JobAudit.jobsDuring(spark) {
      (res.report.collect().toSeq, res.report.filter($"violation_count" > 0).collect())
    }
    assert(again._1 == first && again._2.length == 1)
    assert(jobs.isEmpty, s"re-reading the report ran jobs: $jobs")
  }

  test("the onResult notify hook fires on the pass branch and on the gate-fail branch") {
    var seen = List.empty[Boolean]
    val ok = Pipeline.run(spark, orders("pending"), items, products,
      Seq((orders("pending"), cfg)), persistJoin = false,
      onResult = r => seen ::= r.passed)
    val bad = Pipeline.run(spark, orders("BOGUS"), items, products,
      Seq((orders("BOGUS"), cfg)), persistJoin = false,
      onResult = r => seen ::= r.passed)
    assert(ok.passed && !bad.passed)
    assert(seen.reverse == List(true, false)) // hook saw both terminal states
  }

  test("the persisted enrichment join is registered with Caches: clear releases every run's") {
    graft.util.Caches.clear(blocking = true)
    // track the SPECIFIC RDD ids the runs add (global sizes race the async
    // ContextCleaner, see DedupSpec)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    (1 to 3).foreach { i =>
      val o = Seq(("o1", s"u$i", "pending", ts), ("o2", "u2", "shipped", ts))
        .toDF("order_id", "user_id", "status", "created_at")
      val res = Pipeline.run(spark, o, items, products, Seq((o, cfg)))
      res.categoryKpis.get.collect()
      res.dailyKpis.get.collect()
    }
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size >= 3, s"each run's join should be materialized: $added")
    graft.util.Caches.clear(blocking = true)
    val remaining = spark.sparkContext.getPersistentRDDs.keySet
    assert(added.forall(id => !remaining.contains(id)),
      s"run caches survived Caches.clear: ${added.intersect(remaining)}")
  }

  test("curate: every stage of the funnel cuts what it should") {
    import org.apache.spark.sql.functions._
    val en = "the and is in it of to for on this table row data value key"
    val docs = Seq(
      (1L, "a", en + " alpha"),          // survives everything
      (2L, "a", en + " alpha"),          // exact dup of 1 -> dedup cut
      (3L, "a", "x"),                    // 1 token -> quality cut
      (4L, "a", "in der die das und ist nicht ein eine mit von zu den dem"),
      // ^ German run with ONE English stopword ("in") so the
      //   English-centric stopword-ratio quality gate passes, then
      //   h_de >> h_en -> lang_pred=de -> lang cut
      (5L, "b", en + " beta gamma delta epsilon zeta")
      // ^ five tokens unseen elsewhere -> worst perplexity candidate
    ).toDF("doc_id", "source", "text")
    val res = Pipeline.curate(docs, "doc_id", "text", "source",
      langKeep = Seq("en"), pplCutoff = 1e9, // keep all: ppl gate open
      budget = 1000L, weights = Seq("a" -> 1.0), seqBudget = 8L)
    val report = res.report.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report("0_input") == 5L)
    assert(report("1_dedup") == 4L)   // doc 2 gone
    assert(report("2_quality") == 3L) // doc 3 gone
    assert(report("3_lang") == 2L)    // doc 4 gone
    assert(report("4_ppl") == 2L)     // open gate keeps 1 and 5
    assert(report("5_mixture") == 1L) // source b unlisted -> only doc 1
    val packed = res.packed.select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(packed == Seq(1L))
    graft.operators.Dedup.clearCaches()
  }

  test("curate: the perplexity gate actually cuts when closed") {
    import org.apache.spark.sql.functions._
    val common = "the and is in it of to for on this table row data value"
    val docs = (0L until 20L).map(i => (i, "a", common + s" w$i")).toDF(
      "doc_id", "source", "text")
    // cutoff below any achievable ppl -> everything dies at stage 4
    val res = Pipeline.curate(docs, "doc_id", "text", "source",
      langKeep = Seq("en"), pplCutoff = 1.0,
      budget = 1000L, weights = Seq("a" -> 1.0), seqBudget = 8L)
    val report = res.report.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report("3_lang") == 20L && report("4_ppl") == 0L)
    assert(res.packed.count() == 0L)
    graft.operators.Dedup.clearCaches()
  }
}
