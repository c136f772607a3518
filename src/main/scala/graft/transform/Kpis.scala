package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The flagship analytics query — reference
  * containers/transformation/transform.py:260-407 re-expressed as one lazy
  * Catalyst plan: 3-way inner join → projection → two hash-aggregation
  * subtrees (category/day KPIs and day KPIs).
  *
  * Scale notes (SURVEY.md §4): products is dimension-sized → Catalyst
  * broadcasts it (we hint explicitly); orders⋈items is an equi-join that AQE
  * plans as broadcast or sort-merge depending on runtime sizes; both KPI
  * aggregations are partial+final `HashAggregateExec` pairs, so the map-side
  * combine happens before the shuffle. The joined frame feeds multiple
  * consumers — callers fanning out should `persist` it (the reference
  * re-scans and re-joins three times, transform.py:329-365; see SURVEY.md §4
  * "Caching / reuse").
  */
object Kpis {

  /** Money arithmetic: sum exact decimals, surface doubles.
    *
    * Summing raw doubles is order-dependent (parallel aggregation ⇒
    * nondeterministic last-ulp), which breaks both the DuckDB-oracle hash
    * compare and re-run reproducibility at scale. Casting to DECIMAL(18,2)
    * first (exact for the 2-decimal money values; reference stores KPIs as
    * Decimal too, transform.py:382-384) makes the sum exact and associative,
    * then one final cast back to double is deterministic IEEE.
    */
  def moneySum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Deterministic mean: exact decimal sum / count, divided in double. */
  def moneyAvg(c: Column): Column = moneySum(c) / count(c)

  /** count-if — reference `sum(when(returned_at.isNotNull,1).otherwise(0))`
    * (transform.py:351,363); the flag column here is already boolean.
    */
  def countIf(pred: Column): Column = sum(when(pred, 1L).otherwise(0L))

  /** J1 + P1: 3-way inner equi-join and projection with a derived
    * `order_date` day column — reference transform.py:305-323.
    *
    * Inputs are reference-shaped frames (order_id / product_id / sale_price /
    * is_returned / category — see graft.sources.TestdataAdapter). `products`
    * is broadcast-hinted: it is the dimension table (200·sf rows vs 6000·sf
    * fact rows; at 100 TB the fact:dim ratio only grows).
    */
  def enrich(orders: DataFrame, items: DataFrame, products: DataFrame): DataFrame = {
    val o = orders.as("o")
    val oi = items.as("oi")
    val p = products.as("p")
    o.withColumn("order_date", to_date(col("created_at")))
      .join(oi, col("o.order_id") === col("oi.order_id"), "inner")
      .join(broadcast(p), col("oi.product_id") === col("p.id"), "inner")
      .select(
        col("o.order_id").as("order_id"),
        col("o.user_id").as("user_id"),
        col("oi.product_id").as("product_id"),
        col("p.category").as("category"),
        col("p.name").as("product_name"),
        col("oi.sale_price").as("sale_price"),
        col("oi.is_returned").as("is_returned"),
        col("o.status").as("status"),
        col("order_date")
      )
  }

  /** A1: category-level daily KPIs — reference transform.py:348-352.
    *
    * `avg_order_value` is avg(sale_price) per *item*, not per order — the
    * reference's math (transform.py:350), kept verbatim as the oracle
    * semantics (SURVEY.md §3.3).
    *
    * The partial aggregate runs directly on (category, order_date) above
    * the broadcast dimension join. Pre-aggregating per (product_id,
    * order_date) BELOW the join (the item→category map is N:1, so the
    * decimal partial sums commute) was measured and lost: direct wins
    * ~1.8× (r6, sf0.1, quiet box, 3 interleaved rounds: MINs 0.40 s vs
    * 0.77 s). (product_id, date) is a strictly finer grouping, so the
    * pre-agg shuffles more groups and pays a second exchange, while the
    * broadcast join is ~free per row.
    */
  def categoryKpis(joined: DataFrame): DataFrame =
    joined.groupBy(col("category"), col("order_date")).agg(
      moneySum(col("sale_price")).as("daily_revenue"),
      moneyAvg(col("sale_price")).as("avg_order_value"),
      (countIf(col("is_returned")).cast("double") / count(lit(1))).as("avg_return_rate")
    )

  /** A2: order-level daily KPIs — reference transform.py:359-365. Exact
    * `countDistinct` (the KV store receives exact integers,
    * transform.py:395-399), NOT approx_count_distinct.
    */
  def dailyKpis(joined: DataFrame): DataFrame =
    joined.groupBy(col("order_date")).agg(
      countDistinct(col("order_id")).as("total_orders"),
      moneySum(col("sale_price")).as("total_revenue"),
      count(col("product_id")).as("total_items_sold"),
      // try_divide: a day whose EVERY order id is null has zero distinct
      // orders; under ANSI a plain Divide would abort the whole job on that
      // one group — emit NULL instead (same shape as total_revenue's
      // all-null-sum NULL, and the same NULL the DuckDB oracle's division
      // produces; ADVICE r5)
      try_divide(countIf(col("is_returned")).cast("double"),
        countDistinct(col("order_id"))).as("return_rate"),
      countDistinct(col("user_id")).as("unique_customers")
    )

  /** A2, streaming form (VERDICT r04 #1 — the last reference-parity gap:
    * the reference upserts BOTH KPI tables per trigger batch,
    * transform.py:348-352 AND 359-365 → two KV tables,
    * transform.py:376-404, but the streaming layer shipped only category
    * KPIs). Exact `countDistinct` cannot run as a cumulative streaming
    * aggregation (the distinct expansion isn't incrementally mergeable per
    * key), so the two distinct counts become `approx_count_distinct`
    * (HyperLogLog++): its sketch IS mergeable, keeps per-day state bounded
    * (~KBs per day key at rsd 0.01, independent of order volume), and is
    * exact in sparse mode at daily-order cardinalities. All other columns
    * are the exact decimal-summed math shared with [[dailyKpis]].
    */
  def dailyKpisStreaming(joined: DataFrame, rsd: Double = 0.01): DataFrame =
    joined.groupBy(col("order_date")).agg(
      approx_count_distinct(col("order_id"), rsd).as("total_orders"),
      moneySum(col("sale_price")).as("total_revenue"),
      count(col("product_id")).as("total_items_sold"),
      // try_divide mirrors dailyKpis: an all-null-order-id day emits NULL,
      // not an ANSI divide-by-zero abort (ADVICE r5)
      try_divide(countIf(col("is_returned")).cast("double"),
        approx_count_distinct(col("order_id"), rsd)).as("return_rate"),
      approx_count_distinct(col("user_id"), rsd).as("unique_customers"))

  /** A2 at scale: the same exact numbers as [[dailyKpis]] without the
    * Expand ×3 that two `countDistinct`s cost (Catalyst triples the
    * pre-shuffle rows — the one watch-listed plan hazard at 100 TB,
    * VERDICT r02 plan audit).
    *
    * Phase 1 pre-aggregates per (order_date, order_id) with map-side
    * combine — the fan-out introduced by the item join collapses back to
    * one row per order BEFORE the big shuffle; `user_id` rides along
    * because an order has exactly one user (reference orders schema:
    * user_id is a column of orders). Phase 2 runs over one-row-per-order
    * input, so its single remaining distinct (users) expands tiny data,
    * not the full join output.
    */
  def dailyKpisScalable(joined: DataFrame): DataFrame = {
    val perOrder = joined.groupBy(col("order_date"), col("order_id")).agg(
      sum(col("sale_price").cast(DecimalType(18, 2))).as("rev"),
      count(col("product_id")).as("items"),
      countIf(col("is_returned")).as("ret"),
      max(col("user_id")).as("user_id"))
    perOrder.groupBy(col("order_date")).agg(
      count(lit(1)).as("total_orders"),
      sum(col("rev")).cast("double").as("total_revenue"),
      sum(col("items")).as("total_items_sold"),
      (sum(col("ret")).cast("double") / count(lit(1))).as("return_rate"),
      countDistinct(col("user_id")).as("unique_customers"))
  }
}
