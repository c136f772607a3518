package graft.validate

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkSpec

/** §2.7 rule engine on crafted violation frames (FIXTURES.md §A corpus:
  * each frame triggers exactly the rules it plants).
  */
class RulesSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = TableRules(
    table = "orders",
    expectedColumns = Seq("order_id", "user_id", "status", "total"),
    uniqueKey = Seq("order_id"),
    requiredColumns = Seq("order_id", "user_id"),
    statusColumn = Some("status"),
    validStatuses = Seq("pending", "shipped"),
    nonNegativeColumns = Seq("total"),
    integralColumns = Seq("order_id"))

  private def counts(df: org.apache.spark.sql.DataFrame): Map[(String, String), Long] =
    df.collect().map(r => (r.getString(1), r.getString(2)) -> r.getLong(3)).toMap

  private def results(df: org.apache.spark.sql.DataFrame): Seq[RuleResult] =
    df.as[RuleResult].collect().toSeq

  /** One table's rows, asserted equal through the lazy `evaluate` and the
    * collected `report`.
    */
  private def evaluated(df: org.apache.spark.sql.DataFrame, c: TableRules): Seq[RuleResult] = {
    val lazyRows = results(Rules.evaluate(spark, df, c))
    assert(results(Rules.report(spark, Seq(df -> c))) == lazyRows)
    lazyRows
  }

  private def clean = Seq(
    (1L, "u1", "pending", 10.0),
    (2L, "u2", "shipped", 20.0)
  ).toDF("order_id", "user_id", "status", "total")

  test("clean frame: every rule reports 0 and the gate passes") {
    val report = Rules.evaluate(spark, clean, cfg)
    val c = counts(report)
    assert(c.values.forall(_ == 0L), s"expected all-zero, got $c")
    assert(Rules.passed(report))
  }

  test("null in a required column is counted per column") {
    val bad = Seq(
      (Some(1L), Option.empty[String], "pending", 10.0),
      (Some(2L), Some("u2"), "shipped", 20.0),
      (Some(3L), Option.empty[String], "pending", 30.0)
    ).toDF("order_id", "user_id", "status", "total")
    val c = counts(Rules.evaluate(spark, bad, cfg))
    assert(c((Rules.NullRequired, "user_id")) == 2L)
    assert(c((Rules.NullRequired, "order_id")) == 0L)
  }

  test("duplicate keys: number of keys occurring more than once") {
    val bad = Seq((1L, "a", "pending", 1.0), (1L, "b", "pending", 1.0),
      (1L, "c", "pending", 1.0), (2L, "d", "shipped", 2.0),
      (2L, "e", "shipped", 2.0), (3L, "f", "pending", 3.0))
      .toDF("order_id", "user_id", "status", "total")
    val c = counts(Rules.evaluate(spark, bad, cfg))
    assert(c((Rules.DuplicateKey, "order_id")) == 2L) // keys 1 and 2
  }

  test("invalid status counts non-member, non-null values only") {
    val bad = Seq((1L, "a", "pending", 1.0), (2L, "b", "BOGUS", 2.0),
      (3L, "c", "weird", 3.0)).toDF("order_id", "user_id", "status", "total")
    val c = counts(Rules.evaluate(spark, bad, cfg))
    assert(c((Rules.InvalidStatus, "status")) == 2L)
  }

  test("negative values are counted; the gate fails") {
    val bad = Seq((1L, "a", "pending", -1.0), (2L, "b", "shipped", 2.0))
      .toDF("order_id", "user_id", "status", "total")
    val report = Rules.evaluate(spark, bad, cfg)
    assert(counts(report)((Rules.NegativeValue, "total")) == 1L)
    assert(!Rules.passed(report))
  }

  test("empty table: EmptyRelation fires and content rules report 0, not null (VERDICT r02 #2)") {
    val schema = StructType(Seq(
      StructField("order_id", LongType), StructField("user_id", StringType),
      StructField("status", StringType), StructField("total", DoubleType)))
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val report = Rules.evaluate(spark, empty, cfg)
    val c = counts(report)
    assert(c((Rules.EmptyRelation, "*")) == 1L)
    // the regression: these were NULL before the coalesce fix
    assert(c((Rules.NullRequired, "user_id")) == 0L)
    assert(c((Rules.NegativeValue, "total")) == 0L)
    assert(report.filter($"violation_count".isNull).isEmpty,
      "no rule may report a NULL count")
    assert(!Rules.passed(report))
  }

  test("a repeated null key counts as one duplicate") {
    val bad = Seq((None, "a", "pending", 1.0), (None, "b", "pending", 1.0),
      (None, "c", "pending", 1.0), (Some(1L), "d", "shipped", 2.0))
      .toDF("order_id", "user_id", "status", "total")
    val rows = evaluated(bad, cfg)
    assert(rows.contains(RuleResult("orders", Rules.DuplicateKey, "order_id", 1L)))
    assert(rows.contains(RuleResult("orders", Rules.NullRequired, "order_id", 3L)))
  }

  test("an empty keyed table: 0 for every counting rule, 1 for empty_relation") {
    val schema = StructType(Seq(
      StructField("order_id", LongType), StructField("user_id", StringType),
      StructField("status", StringType), StructField("total", DoubleType)))
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(evaluated(empty, cfg) == Seq(
      RuleResult("orders", Rules.NullRequired, "order_id", 0L),
      RuleResult("orders", Rules.NullRequired, "user_id", 0L),
      RuleResult("orders", Rules.InvalidStatus, "status", 0L),
      RuleResult("orders", Rules.NegativeValue, "total", 0L),
      RuleResult("orders", Rules.EmptyRelation, "*", 1L),
      RuleResult("orders", Rules.DuplicateKey, "order_id", 0L),
      RuleResult("orders", Rules.NonIntegralType, "order_id", 0L)))
  }

  test("no duplicate_key row without a key or with the key column missing") {
    val rows = Seq(1L, 1L).map(k => (k, "u", "pending", 1.0))
      .toDF("order_id", "user_id", "status", "total")
    val noKey = evaluated(rows, cfg.copy(uniqueKey = Nil))
    assert(!noKey.exists(_.rule == Rules.DuplicateKey), noKey)
    assert(noKey.contains(RuleResult("orders", Rules.EmptyRelation, "*", 0L)))
    val missingKey = evaluated(rows.drop("order_id"), cfg)
    assert(!missingKey.exists(_.rule == Rules.DuplicateKey), missingKey)
    assert(missingKey.contains(RuleResult("orders", Rules.MissingColumn, "order_id", 1L)))
  }

  test("a three-table report: each table's evaluate rows, in table order") {
    val items = Seq(("o1", 1L, -2.0), ("o1", 1L, 3.0), ("o2", 2L, 1.0))
      .toDF("order_id", "line", "price")
    val itemsCfg = TableRules("items", Seq("order_id", "line", "price", "qty"),
      uniqueKey = Seq("order_id", "line"), requiredColumns = Seq("order_id"),
      nonNegativeColumns = Seq("price"), integralColumns = Seq("line"))
    val events = Seq("view", "buy").toDF("kind")
    val eventsCfg = TableRules("events", Seq("kind"), uniqueKey = Nil,
      requiredColumns = Seq("kind"), statusColumn = Some("kind"),
      validStatuses = Seq("view"))
    val tables = Seq(clean -> cfg, items -> itemsCfg, events -> eventsCfg)
    val report = results(Rules.report(spark, tables))
    assert(report == tables.flatMap { case (df, c) => results(Rules.evaluate(spark, df, c)) })
    // per table: content rules, empty_relation, duplicate_key, schema rules
    assert(report.filter(_.table_name == "items") == Seq(
      RuleResult("items", Rules.NullRequired, "order_id", 0L),
      RuleResult("items", Rules.NegativeValue, "price", 1L),
      RuleResult("items", Rules.EmptyRelation, "*", 0L),
      RuleResult("items", Rules.DuplicateKey, "order_id,line", 1L),
      RuleResult("items", Rules.MissingColumn, "qty", 1L),
      RuleResult("items", Rules.NonIntegralType, "line", 0L)))
    assert(report.filter(_.table_name == "events") == Seq(
      RuleResult("events", Rules.NullRequired, "kind", 0L),
      RuleResult("events", Rules.InvalidStatus, "kind", 1L),
      RuleResult("events", Rules.EmptyRelation, "*", 0L)))
  }

  test("a two-table gate call over parquet runs at most 3 jobs; passed on its report runs none") {
    val dir = graft.util.Scratch.dir("graft_gate_jobs")
    clean.write.parquet(s"$dir/orders")
    Seq(("o1", 1L, 2.0), ("o2", 1L, 3.0)).toDF("order_id", "line", "price")
      .write.parquet(s"$dir/items")
    // schema inference runs its own job at read time, outside the audit
    val orders = spark.read.parquet(s"$dir/orders")
    val items = spark.read.parquet(s"$dir/items")
    val itemsCfg = TableRules("items", Seq("order_id", "line", "price"),
      uniqueKey = Seq("order_id", "line"), requiredColumns = Seq("order_id"),
      nonNegativeColumns = Seq("price"))
    val (report, gateJobs) = graft.JobAudit.jobsDuring(spark) {
      Rules.report(spark, Seq(orders -> cfg, items -> itemsCfg))
    }
    // one shuffle per keyed table plus the one collecting action
    assert(gateJobs.size <= 3, s"${gateJobs.size} jobs: ${gateJobs.mkString("\n")}")
    val (ok, passJobs) = graft.JobAudit.jobsDuring(spark)(Rules.passed(report))
    assert(ok)
    assert(passJobs.isEmpty, s"passed ran jobs: $passJobs")
  }

  test("missing expected column is reported; extra columns are tolerated") {
    val noTotal = Seq((1L, "a", "pending", "extra"))
      .toDF("order_id", "user_id", "status", "unexpected")
    val rows = Rules.headerResults(noTotal, cfg)
    assert(rows == Seq(RuleResult("orders", Rules.MissingColumn, "total", 1L)))
  }

  test("duplicate column names are reported") {
    val dup = Seq((1, 2)).toDF("a", "a")
    val rows = Rules.headerResults(dup, cfg.copy(expectedColumns = Seq("a")))
    assert(rows.contains(RuleResult("orders", Rules.DuplicateColumn, "a", 1L)))
  }

  test("groupReport: per-group violation counts and pass/fail status") {
    val df = Seq(
      ("g1", Some("u1"), "pending", 1.0),   // clean
      ("g1", Some("u2"), "shipped", 2.0),   // clean
      ("g2", None, "pending", 3.0),         // null user
      ("g2", Some("u4"), "BOGUS", -4.0)     // bad status + negative
    ).toDF("grp", "user_id", "status", "total")
      .withColumn("order_id", org.apache.spark.sql.functions.lit(1L))
    val out = Rules.groupReport(df, cfg, "grp")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out("g1") == (0L, "VALIDATION_PASSED"))
    assert(out("g2") == (3L, "VALIDATION_FAILED"))
  }

  test("non-integral declared-integral column is flagged") {
    val bad = Seq(("1", "a", "pending", 1.0))
      .toDF("order_id", "user_id", "status", "total") // order_id is string
    val rows = Rules.typeResults(bad, cfg)
    assert(rows == Seq(RuleResult("orders", Rules.NonIntegralType, "order_id", 1L)))
    val good = Rules.typeResults(clean, cfg)
    assert(good == Seq(RuleResult("orders", Rules.NonIntegralType, "order_id", 0L)))
  }
}
