package perfbench

import java.io.File

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Grouping
import graft.streaming.{Completeness, JointKpis, PartEvent, StreamingPipeline}
import graft.transform.Kpis
import graft.validate.Rules

/** History staged as arrival-ordered files: raw tables, the enriched rows
  * the KPI query drains, and the part events the completeness query drains.
  */
final case class History(raw: String, enriched: String, events: String,
                         enrichedRows: Long, eventCount: Long)

/** `backfill`: seeded history staged before the clock, drained with
  * `Trigger.AvailableNow` through the joint KPI query and then the
  * completeness query, each from a fresh checkpoint and store; then one
  * analyst client queries the committed store and runs the batch pipeline
  * over the history ([[Analytics]]).
  */
object Backfill {
  val Files = 8
  val FilesPerTrigger = 4
  /** Share of orders whose items (and, independently, whose products)
    * land 1-3 files after the order's own file.
    */
  val LateShare = 0.1
  /** The drain phase takes about this share of the window (at least one
    * round); the analyst phase the rest, and at least `AnalystMinOps` ops:
    * 40 keep the analyst tail at p75 (10 ops beyond it), among the clean
    * `Pipeline.run` latencies.
    */
  val DrainShare = 0.45
  val AnalystMinOps = 40

  def size(smoke: Boolean): (Int, GenConfig) =
    if (smoke) (3000, GenConfig(products = 500, missingProducts = 5, users = 500, days = 20))
    else (Config.BackfillOrders, GenConfig(days = Config.BackfillDays))

  /** Uploads with a planted violation each, landed beside the history for
    * the analyst's gate to reject.
    */
  val Quarantined = 1

  /** Generate the history on one thread and land it as parquet files:
    * raw tables and part events in arrival order, and the quarantined
    * uploads (the benchmark's harness work, once a run). Returns the raw
    * dir, the events dir, the event count, and the rows of each history
    * file followed by those of each quarantined upload.
    */
  def generate(g: Gen, orders: Int, root: String): (String, String, Long, Seq[Long]) = {
    val raw = s"$root/raw"
    val from = g.today - g.cfg.days
    val block = (orders + Files - 1) / Files
    val eventSchema = org.apache.spark.sql.Encoders.product[PartEvent].schema
    val events = Array.fill(Files)(scala.collection.mutable.ArrayBuffer.empty[Row])
    // rows per history file, then per quarantined upload
    val rows = Array.fill(Files + Quarantined)(0L)
    val base = System.currentTimeMillis() - 3600 * 1000L
    def put(dir: String, f: Int, schema: org.apache.spark.sql.types.StructType, rows: Seq[Row]) = {
      val file = new File(f"$dir/f$f%03d-0.parquet")
      file.getParentFile.mkdirs()
      ParquetOut.write(file.getPath, schema, rows)
      file.setLastModified(base + f * 1000L)
    }
    for (f <- 0 until Files) {
      val os = (f.toLong * block until math.min(orders.toLong, (f + 1L) * block)).map { i =>
        val ord = g.order(i, from, g.cfg.days)
        val r = new java.util.SplittableRandom(Gen.mix(g.seed ^ 0x5EEDL, i))
        def at() = if (r.nextDouble() < LateShare) math.min(Files - 1, f + 1 + r.nextInt(3)) else f
        // an order's items land together, as do its products (one file
        // per table, as the reference lands them); each may land late
        val (itemsAt, productsAt) = (at(), at())
        val oid = ord.row.getString(0)
        events(f) += Row(oid, Completeness.KindOrder, null)
        ord.productIds.foreach { pid =>
          events(itemsAt) += Row(oid, Completeness.KindItem, pid)
          // a product missing from the products table never arrives as a part
          if (pid < g.productId(g.cfg.products))
            events(productsAt) += Row(oid, Completeness.KindProduct, pid)
        }
        ord
      }
      put(s"$raw/orders", f, Gen.schema("orders"), os.map(_.row))
      put(s"$raw/order_items", f, Gen.schema("order_items"), os.flatMap(_.items))
      rows(f) = os.size + os.map(_.items.size).sum
    }
    (0 until Files).foreach(f => put(s"$root/events", f, eventSchema, events(f).toSeq))
    new File(s"$raw/products").mkdirs()
    ParquetOut.write(s"$raw/products/products.parquet", Gen.schema("products"), g.products)
    for (q <- 0 until Quarantined) {
      val v = Violation(q % Violation.maxId)
      val os = (0 until Arrivals.UploadOrders).map(j =>
        g.order(2000000000L + q * Arrivals.UploadOrders + j, from, g.cfg.days,
          if (j == 7) Some(v) else None))
      new File(s"$root/quarantine").mkdirs()
      ParquetOut.write(s"$root/quarantine/orders-q$q.parquet", Gen.schema("orders"), os.map(_.row))
      ParquetOut.write(s"$root/quarantine/order_items-q$q.parquet", Gen.schema("order_items"),
        os.flatMap(_.items))
      rows(Files + q) = os.size + os.map(_.items.size).sum
    }
    (raw, s"$root/events", events.map(_.size.toLong).sum, rows.toSeq)
  }

  /** The engine's set-up: validate the raw history through the gate,
    * enrich it and stage the enriched rows in arrival-ordered files.
    */
  def stage(ctx: Ctx, raw: String, events: String, eventCount: Long, orders: Int,
            root: String): History = {
    val spark = ctx.spark
    val o = ctx.readParquet(Gen.schema("orders"), Seq(s"$raw/orders"))
    val it = ctx.readParquet(Gen.schema("order_items"), Seq(s"$raw/order_items"))
    val p = ctx.readParquet(Gen.schema("products"), Seq(s"$raw/products"))
    val ok = Rules.passed(Rules.report(spark, Seq(o -> Gen.rules("orders"),
      it -> Gen.rules("order_items"), p -> Gen.rules("products"))))
    require(ok, "the history carries no planted violations, yet the gate rejected it")
    val block = (orders + Files - 1) / Files
    val fileOf = (substring(col("order_id"), 2, 9).cast("long") / block).cast("int")
    val enrichedDir = s"$root/enriched"
    ctx.landByFile(Kpis.enrich(o, Gen.withReturnFlag(it), p).withColumn("_file", fileOf),
      enrichedDir, Files)
    History(raw, enrichedDir, events, spark.read.parquet(enrichedDir).count(), eventCount)
  }

  /** One drain round: rows and trigger seconds of each query, its wall
    * seconds, and where it committed.
    */
  final case class Round(kpiRows: Long, kpiBusy: Double, events: Long, eventBusy: Double,
                         wallSecs: Double, store: String, groups: String, traced: Boolean)

  def drain(ctx: Ctx, h: History, root: String, traced: Boolean): Round = {
    val spark = ctx.spark
    import spark.implicits._
    val store = s"$root/store"
    val groups = s"$root/groups"
    val enrichedSchema = spark.read.parquet(h.enriched).schema
    val t0 = System.nanoTime()
    val q1 = Trace.span("op.drain_kpis") {
      val src = spark.readStream.schema(enrichedSchema)
        .option("maxFilesPerTrigger", FilesPerTrigger).parquet(h.enriched)
      val q = JointKpis.writerManifested(src, store, s"$root/cp_kpis")
        .queryName("jointkpis").trigger(Trigger.AvailableNow()).start()
      ctx.stores.put(q.runId, store)
      q.awaitTermination()
      ctx.progress.await(q)
      q
    }
    val q2 = Trace.span("op.drain_completeness") {
      val src = spark.readStream.schema(spark.read.parquet(h.events).schema)
        .option("maxFilesPerTrigger", FilesPerTrigger).parquet(h.events).as[PartEvent]
      val q = Completeness.stream(src).toDF().writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$root/cp_groups")
        .foreachBatch(StreamingPipeline.upsertBatch(groups, Seq("orderId")) _)
        .queryName("completeness").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      ctx.progress.await(q)
      q
    }
    val t2 = System.nanoTime()
    if (traced) Trace.add("completeness.emitted", spark.read.parquet(s"$groups/data").count().toDouble)
    val (kpiRows, kpiBusy) = ctx.busy(q1.runId)
    val (events, eventBusy) = ctx.busy(q2.runId)
    Round(kpiRows, kpiBusy, events, eventBusy, (t2 - t0) / 1e9, store, groups, traced)
  }

  def checkRound(ctx: Ctx, h: History, r: Round): Unit = {
    val spark = ctx.spark
    ctx.check("backfill.kpi_rows_drained")(r.kpiRows == h.enrichedRows)
    ctx.check("backfill.events_drained")(r.events == h.eventCount)
    val enriched = spark.read.parquet(h.enriched)
    ctx.check("backfill.category_table")(Ctx.sameRows(
      JointKpis.categoryTableManifested(spark, r.store), Kpis.categoryKpis(enriched),
      Ctx.CategoryCols))
    ctx.check("backfill.daily_table")(Ctx.sameRows(
      JointKpis.dailyTableManifested(spark, r.store), Kpis.dailyKpis(enriched),
      Ctx.DailyCols))
    ctx.check("backfill.completed_groups") {
      val o = spark.read.parquet(s"${h.raw}/orders")
      val it = spark.read.parquet(s"${h.raw}/order_items")
      val p = spark.read.parquet(s"${h.raw}/products")
      val expected = Grouping.completeGroups(o, "order_id", it, "order_id", "product_id",
        p, "id", o.select(col("order_id")).limit(0))
      val streamed = spark.read.parquet(s"${r.groups}/data").select(col("orderId").as("order_id"))
      Ctx.sameRows(streamed, expected, Seq("order_id"))
    }
  }

  def run(ctx: Ctx): Unit = {
    val (orders, cfg) = size(ctx.smoke)
    val g = new Gen(ctx.seed, cfg)
    val root = ctx.dir("history")
    val (raw, events, eventCount, fileRows) = generate(g, orders, root)
    ctx.phase("generate")
    val setups = (0 until Config.SetupReps).map { k =>
      val dir = ctx.dir(s"staged$k")
      val t0 = System.nanoTime()
      val h = stage(ctx, raw, events, eventCount, orders, dir)
      ((System.nanoTime() - t0) / 1e9, h, dir)
    }
    setups.dropRight(1).foreach(s => ctx.deleteTree(new File(s._3)))
    val h = setups.last._2
    ctx.e2e("setup_s") = (Stats.median(setups.map(_._1)), "s")
    ctx.record("setup_reps_s") = setups.map(_._1)
    ctx.phase("setup")
    ctx.record("history") = Map("orders" -> orders, "enriched_rows" -> h.enrichedRows,
      "events" -> h.eventCount, "days" -> cfg.days, "files" -> Files,
      "files_per_trigger" -> FilesPerTrigger, "late_share" -> LateShare)

    // drain phase: rounds alternate untraced/traced in a traced run. Another
    // round starts only if it should end within DrainShare of the window.
    val start = System.nanoTime()
    val drainEnd = start + (ctx.seconds * DrainShare * 1e9).toLong
    val minRounds = if (ctx.traced) 2 else 1
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Round]
    def roundNs = (rounds.map(_.wallSecs).sum / rounds.size * 1e9).toLong
    while (rounds.size < minRounds || System.nanoTime() + roundNs < drainEnd) {
      val k = rounds.size
      val traced = ctx.traced && k % 2 == 1
      if (traced) ctx.traceOn() else Trace.on = false
      rounds.lastOption.foreach(r => ctx.deleteTree(new File(r.store).getParentFile))
      rounds += drain(ctx, h, ctx.dir(s"round$k"), traced)
      Trace.on = false
    }
    val last = rounds.last
    ctx.record("state_store_partitions") =
      Arrivals.statePartitions(new File(new File(last.store).getParentFile, "cp_kpis").getPath)

    // analyst phase: the rest of the window, and at least AnalystMinOps ops
    val analystS = math.max(ctx.seconds * (1 - DrainShare), ctx.seconds - (System.nanoTime() - start) / 1e9)
    val lake = Analytics.Lake(
      slices = Analytics.Slice("f000", Seq(s"$raw/orders/f000-0.parquet"),
        Seq(s"$raw/order_items/f000-0.parquet"), fileRows(0), planted = false) +:
        (0 until Quarantined).map(q => Analytics.Slice(s"q$q",
          Seq(s"$root/quarantine/orders-q$q.parquet"),
          Seq(s"$root/quarantine/order_items-q$q.parquet"), fileRows(Files + q), planted = true)),
      products = s"$raw/products", store = last.store, enriched = h.enriched,
      days = (g.today - cfg.days) until g.today,
      categories = (0 until Gen.Categories).map(g.categoryOf))
    // a traced run splits the ops between its untraced and traced phases
    val minOps = if (ctx.smoke) 10 else if (ctx.traced) AnalystMinOps / 2 else AnalystMinOps
    val ops = Analytics.loop(ctx, lake, analystS, minOps)
    ctx.phase("window")

    checkRound(ctx, h, last)
    Analytics.check(ctx, lake, ops)
    // rates per second of trigger time, summed over the phase's rounds
    def rates(rs: Seq[Round]) =
      (rs.map(_.kpiRows).sum / rs.map(_.kpiBusy).sum, rs.map(_.events).sum / rs.map(_.eventBusy).sum)
    val (kpiRate, evRate) = rates(rounds.filterNot(_.traced).toSeq)
    ctx.e2e("kpi_rows_per_s") = (kpiRate, "rows/s")
    ctx.record("kpi_drain_rows_per_s") = kpiRate
    ctx.record("completeness_events_per_s") = evRate
    Analytics.report(ctx, ops)
    ctx.record("rounds") = rounds.map(r => Map("kpi_busy_s" -> r.kpiBusy,
      "events_busy_s" -> r.eventBusy, "wall_s" -> r.wallSecs, "traced" -> r.traced)).toSeq
    if (ctx.traced) {
      val (tk, te) = rates(rounds.filter(_.traced).toSeq)
      ctx.overhead("kpi_rows_per_s") = tk - kpiRate
      ctx.layer("completeness.events_per_s") = (te, "events/s")
    }
  }
}
