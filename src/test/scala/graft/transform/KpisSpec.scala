package graft.transform

import graft.SparkSpec
import graft.sources.TestdataAdapter

/** The scalable (pre-aggregated) A2 plan must produce the exact rows of
  * the classic countDistinct plan on real data.
  */
class KpisSpec extends SparkSpec {

  test("dailyKpisScalable equals dailyKpis row-for-row on testdata") {
    val dir = "/root/testdata/sf0.001"
    val joined = Kpis.enrich(
      TestdataAdapter.orders(spark, dir),
      TestdataAdapter.orderItems(spark, dir),
      TestdataAdapter.products(spark, dir))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4), r.getLong(5))).toSet
    val classic = rows(Kpis.dailyKpis(joined))
    val scalable = rows(Kpis.dailyKpisScalable(joined))
    assert(classic.nonEmpty)
    assert(scalable == classic)
  }

  test("dailyKpisStreaming equals dailyKpis on testdata (HLL++ sparse-exact at daily cardinalities)") {
    val dir = "/root/testdata/sf0.001"
    val joined = Kpis.enrich(
      TestdataAdapter.orders(spark, dir),
      TestdataAdapter.orderItems(spark, dir),
      TestdataAdapter.products(spark, dir))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4), r.getLong(5))).toSet
    // at rsd=0.01 the sketch stays in exact sparse mode for the ~handful of
    // orders a day has, so the streaming formula's batch execution must be
    // row-identical, not merely close
    assert(rows(Kpis.dailyKpisStreaming(joined)) == rows(Kpis.dailyKpis(joined)))
  }

  /** The daily rows of the joint stateful operator's batch execution. */
  private def jointDaily(joined: org.apache.spark.sql.DataFrame) =
    graft.streaming.JointKpis.stream(joined).toDF()
      .filter(org.apache.spark.sql.functions.col("table") === "daily")
      .select("order_date", "total_orders", "total_revenue",
        "total_items_sold", "return_rate", "unique_customers")

  test("JointKpis daily rows (batch execution) equal dailyKpis bit-for-bit") {
    val dir = "/root/testdata/sf0.001"
    val joined = Kpis.enrich(
      TestdataAdapter.orders(spark, dir),
      TestdataAdapter.orderItems(spark, dir),
      TestdataAdapter.products(spark, dir))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4), r.getLong(5))).toSet
    // integer-cents state + one final division must reproduce the decimal
    // sum + cast exactly — this is what lets st_daily_kpis_exact share
    // a2_daily_kpis' DuckDB oracle verbatim
    assert(rows(jointDaily(joined)) == rows(Kpis.dailyKpis(joined)))
  }

  test("JointKpis rows carry the batch null semantics instead of crashing (code-review r5)") {
    import spark.implicits._
    val d = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    val d3 = java.sql.Date.valueOf("2024-01-03")
    val joined = Seq(
      (Some("o1"), Some(1L), Some(10L), Some("toys"), Some(10.0), Some(true), d),
      (Some("o1"), Some(1L), None, None, None, None, d), // null category/price/product/flag
      (None, None, Some(11L), Some("toys"), Some(5.0), Some(false), d), // null order & user id
      (Some("o2"), Some(2L), Some(12L), Some("books"), None, Some(false), d2), // ALL prices null on d2
      (None, Some(3L), Some(13L), None, Some(2.0), Some(true), d3) // ALL order ids null on d3
    ).toDF("order_id", "user_id", "product_id", "category", "sale_price",
      "is_returned", "order_date")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getDate(0).toString, r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), // d2's revenue is NULL
        r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)), // d3's rate is NULL
        r.getLong(5))).toSet
    val streamed = rows(jointDaily(joined))
    assert(streamed == rows(Kpis.dailyKpis(joined)))
    assert(streamed.exists(t => t._1 == "2024-01-02" && t._3.isEmpty),
      "an all-null-price day must emit NULL revenue, not 0.0")
    assert(streamed.exists(t => t._1 == "2024-01-03" && t._5.isEmpty),
      "a zero-distinct-order day must emit NULL return_rate like the batch " +
        "Divide, not NaN/Infinity (ADVICE r5)")
    // the category rows of the same operator: a null category is its own
    // group and an all-null-price category has NULL revenue and average
    def catRows(df: org.apache.spark.sql.DataFrame) =
      df.select("category", "order_date", "daily_revenue", "avg_order_value",
        "avg_return_rate").collect().toSet
    val cats = catRows(graft.streaming.JointKpis.stream(joined).toDF()
      .filter($"table" === "category"))
    assert(cats == catRows(Kpis.categoryKpis(joined)))
    assert(cats.exists(r => r.isNullAt(0)), "the null category was dropped")
  }
}
