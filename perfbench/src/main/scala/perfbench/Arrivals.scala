package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.JointKpis
import graft.transform.Kpis
import graft.validate.Rules

/** `arrivals`: an open loop. Upload k (orders with their items) is due at
  * `t0 + k * PeriodMs` whether or not earlier ones are done. A single
  * generator thread writes its raw files at the due time and starts a job
  * for it, as the reference starts one job per upload event: the job
  * validates the upload, enriches it against the products dimension and
  * lands it with one atomic rename. A ProcessingTime joint KPI query
  * commits it. Freshness runs from the due time to the end of the trigger
  * whose commit first includes the upload.
  */
object Arrivals {
  val UploadOrders = 300
  /** One upload a second; an upload's job takes ~0.8 s on a 4-core box,
    * so jobs overlap little unless the box slows (see the README).
    */
  val PeriodMs = 1000L
  /** Uploads per run at least: 30 committed (one is planted) put the tail
    * at p66.7, ten samples beyond it.
    */
  val MinUploads = 31
  /** Triggers fire on a 2.7 s grid, each committing two or three uploads
    * in well under the interval, so they leave idle time and the KPI rate per
    * trigger-second falls when triggers get slower. The period does not
    * divide the interval: due times fall at every phase of the grid alike,
    * and an upload that lands later waits for a later trigger on average.
    */
  val TriggerMs = 2700L
  /** Every `ViolationEvery`-th upload carries one planted rule violation. */
  val ViolationEvery = 32
  /** "Today" moves one day per this many uploads. */
  val UploadsPerDay = 20

  final case class Upload(k: Int, dueMs: Long, orders: Seq[Order],
                          violation: Option[Violation.Value]) {
    def file: String = f"u$k%05d.parquet"
  }
  final case class Landed(u: Upload, accepted: Boolean)

  def cfg(smoke: Boolean): GenConfig =
    if (smoke) GenConfig(products = 500, missingProducts = 5, users = 500) else GenConfig()

  def violationOf(seed: Long, k: Int): Option[Violation.Value] =
    if (k > 0 && k % ViolationEvery == ViolationEvery / 2)
      Some(Violation(((Gen.mix(seed, k) >>> 1) % Violation.maxId).toInt))
    else None

  def makeUpload(g: Gen, k: Int, dueMs: Long): Upload = {
    val v = violationOf(g.seed, k)
    val day = g.today + k / UploadsPerDay
    val orders = (0 until UploadOrders).map(j =>
      g.order(1000000000L + k.toLong * UploadOrders + j,
        day - Gen.RecentDays + 1, Gen.RecentDays, if (j == 7) v else None))
    Upload(k, dueMs, orders, v)
  }

  /** The generator's side of an upload: its two raw files, each written
    * aside and moved into place with one atomic rename.
    */
  def writeRaw(ctx: Ctx, u: Upload, raw: String): Unit = Trace.span("gen.write") {
    for ((table, rows) <- Seq("orders" -> u.orders.map(_.row),
        "order_items" -> u.orders.flatMap(_.items))) {
      val tmp = new File(s"$raw/_staging/$table-${u.file}")
      tmp.getParentFile.mkdirs()
      ParquetOut.write(tmp.getPath, Gen.schema(table), rows)
      val dest = new File(s"$raw/$table/${u.file}")
      dest.getParentFile.mkdirs()
      java.nio.file.Files.move(tmp.toPath, dest.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Read, validate, enrich and land one upload; false when the gate
    * rejects it.
    */
  def landUpload(ctx: Ctx, u: Upload, products: DataFrame, raw: String, landing: String): Boolean =
    Trace.span("op.upload") {
      val spark = ctx.spark
      val (o, it) = Trace.span("sources.read")(
        (ctx.readParquet(Gen.schema("orders"), Seq(s"$raw/orders/${u.file}")),
          ctx.readParquet(Gen.schema("order_items"), Seq(s"$raw/order_items/${u.file}"))))
      Trace.add("validate.calls", 1)
      Trace.add("validate.rows", u.orders.size + u.orders.map(_.items.size).sum)
      val ok = Trace.span("validate.gate") {
        Rules.passed(Rules.report(spark, Seq(o -> Gen.rules("orders"),
          it -> Gen.rules("order_items"))))
      }
      if (ok) {
        val enriched = Trace.span("transform.enrich")(Kpis.enrich(o, Gen.withReturnFlag(it), products))
        Trace.span("sources.land")(ctx.land(enriched, landing, u.file))
      }
      ok
    }

  /** Upload file name → the batch id whose file-source log entry first
    * lists it, read from the query checkpoint (`sources/0`, including
    * compacted logs). Exact: the log is what the engine planned each batch
    * from.
    */
  def batchOf(checkpoint: String): Map[String, Long] = {
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    val files = Option(new File(checkpoint, "sources/0").listFiles).getOrElse(Array.empty[File])
      .filter(f => !f.getName.startsWith(".") && !f.getName.endsWith(".tmp"))
    files.iterator.flatMap { f =>
      val s = Source.fromFile(f)
      try s.getLines().toList finally s.close()
    }.flatMap(line => entry.findFirstMatchIn(line).map(m =>
      m.group(1).split('/').last -> m.group(2).toLong))
      .toSeq.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
  }

  /** Freshness seconds per committed upload: due time to the end of its
    * batch's trigger. Uploads without a committed batch are absent.
    */
  def freshness(uploads: Seq[Upload], batchOf: Map[String, Long],
                batchEndMs: Map[Long, Long]): Map[Int, Double] =
    uploads.flatMap { u =>
      batchOf.get(u.file).flatMap(batchEndMs.get).map(end => u.k -> (end - u.dueMs) / 1000.0)
    }.toMap

  /** Partition count frozen into a checkpoint at its first batch. */
  def statePartitions(checkpoint: String): String = {
    val f = new File(checkpoint, "offsets/0")
    if (!f.exists) "n/a"
    else {
      val s = Source.fromFile(f)
      try """"spark.sql.shuffle.partitions":"(\d+)"""".r.findFirstMatchIn(s.mkString)
        .map(_.group(1)).getOrElse("n/a")
      finally s.close()
    }
  }

  final class Setup(val root: String, val query: StreamingQuery, val products: DataFrame) {
    def raw = s"$root/raw"
    def landing = s"$root/landing"
    def store = s"$root/store"
    def checkpoint = s"$root/cp"
  }

  /** The engine's set-up: validate the products dimension, land a warm-up
    * upload, start the joint KPI query and wait for its first trigger,
    * which commits the warm-up upload at once.
    */
  def startPipeline(ctx: Ctx, productsDir: String, root: String, warmup: Upload): Setup = {
    val spark = ctx.spark
    val products = ctx.readParquet(Gen.schema("products"), Seq(productsDir))
    require(Rules.passed(Rules.report(spark, Seq(products -> Gen.rules("products")))),
      "generated products failed validation")
    writeRaw(ctx, warmup, s"$root/raw")
    require(landUpload(ctx, warmup, products, s"$root/raw", s"$root/landing"),
      "the warm-up upload was rejected")
    val schema = spark.read.parquet(s"$root/landing").schema
    val q = JointKpis.writerManifested(spark.readStream.schema(schema).parquet(s"$root/landing"),
        s"$root/store", s"$root/cp")
      .queryName("jointkpis").trigger(Trigger.ProcessingTime(TriggerMs)).start()
    ctx.stores.put(q.runId, s"$root/store")
    val s = new Setup(root, q, products)
    awaitCommitted(ctx, s, Seq(warmup.file), 60000L)
    s
  }

  /** Wait until every file in `files` is in a batch whose trigger has
    * reported progress; returns the files still uncommitted at the timeout.
    */
  def awaitCommitted(ctx: Ctx, s: Setup, files: Seq[String], timeoutMs: Long): Seq[String] = {
    val end = System.currentTimeMillis() + timeoutMs
    def pending() = {
      val done = ctx.progress.of("jointkpis").filter(_.runId == s.query.runId).map(_.batchId).toSet
      val b = batchOf(s.checkpoint)
      files.filterNot(f => b.get(f).exists(done))
    }
    var p = pending()
    while (p.nonEmpty && System.currentTimeMillis() < end && s.query.isActive) {
      Thread.sleep(50)
      p = pending()
    }
    p
  }

  def run(ctx: Ctx): Unit = {
    val g = new Gen(ctx.seed, cfg(ctx.smoke))
    val warmup = makeUpload(g, 0, System.currentTimeMillis())
    val productsDir = s"${ctx.work}/products"
    new File(productsDir).mkdirs()
    ParquetOut.write(s"$productsDir/products.parquet", Gen.schema("products"), g.products)
    ctx.phase("generate")
    val setups = (0 until Config.SetupReps).map { k =>
      val t0 = System.nanoTime()
      val s = startPipeline(ctx, productsDir, ctx.dir(s"arrivals$k"), warmup)
      val secs = (System.nanoTime() - t0) / 1e9
      if (k < Config.SetupReps - 1) { s.query.stop(); ctx.deleteTree(new File(s.root)) }
      (secs, s)
    }
    val s = setups.last._2
    ctx.phase("setup")
    ctx.e2e("setup_s") = (Stats.median(setups.map(_._1)), "s")
    ctx.record("setup_reps_s") = setups.map(_._1)

    val n = math.max(if (ctx.smoke) 2 else MinUploads, (ctx.seconds * 1000 / PeriodMs).toInt)
    val lateMs = mutable.ArrayBuffer.empty[Long]
    val landedQ = new ConcurrentLinkedQueue[Landed]
    val t0 = System.currentTimeMillis() + 200
    val halfMs = t0 + n / 2 * PeriodMs
    // the generator runs on this thread; each upload is gated and landed by
    // a job of its own, started when the upload is due
    val jobs = (1 to n).map { k =>
      val due = t0 + (k - 1) * PeriodMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      if (ctx.traced && due >= halfMs && !Trace.on) ctx.traceOn()
      lateMs += System.currentTimeMillis() - due
      val u = Trace.span("gen.upload")(makeUpload(g, k, due))
      writeRaw(ctx, u, s.raw)
      val job = new Thread(() => ctx.op(landUpload(ctx, u, s.products, s.raw, s.landing))
        .foreach(ok => landedQ.add(Landed(u, ok))), s"perfbench-upload-$k")
      job.start()
      job
    }
    jobs.foreach(_.join())
    val landed = landedQ.asScala.toSeq.sortBy(_.u.k)
    ctx.record("landing_s") = (System.currentTimeMillis() - t0) / 1000.0
    ctx.phase("window")
    val acceptedFiles = landed.filter(_.accepted).map(_.u.file)
    val missing = awaitCommitted(ctx, s, acceptedFiles, 30000L)
    Trace.on = false
    s.query.stop()
    ctx.record("state_store_partitions") = statePartitions(s.checkpoint)
    ctx.phase("drain")

    val batchEnd = ctx.progress.of("jointkpis").filter(_.runId == s.query.runId)
      .map(p => p.batchId -> Trace.Progress.endMs(p)).toMap
    val fresh = freshness(landed.filter(_.accepted).map(_.u), batchOf(s.checkpoint), batchEnd)
    // an upload not committed by the end of the run is a failed op
    ctx.attempted += missing.size; ctx.failed += missing.size
    ctx.check("arrivals.gate_verdicts")(landed.forall(l => l.accepted == l.u.violation.isEmpty) &&
      landed.size == n)
    ctx.check("arrivals.all_committed")(missing.isEmpty)
    val accepted = warmup +: landed.filter(_.accepted).map(_.u)
    val o = ctx.readParquet(Gen.schema("orders"), accepted.map(u => s"${s.raw}/orders/${u.file}"))
    val it = ctx.readParquet(Gen.schema("order_items"),
      accepted.map(u => s"${s.raw}/order_items/${u.file}"))
    val enriched = Kpis.enrich(o, Gen.withReturnFlag(it), s.products)
    val spark = ctx.spark
    ctx.check("arrivals.category_table")(Ctx.sameRows(
      JointKpis.categoryTableManifested(spark, s.store), Kpis.categoryKpis(enriched),
      Ctx.CategoryCols))
    ctx.check("arrivals.daily_table")(Ctx.sameRows(
      JointKpis.dailyTableManifested(spark, s.store), Kpis.dailyKpis(enriched),
      Ctx.DailyCols))

    def summary(samples: Seq[Double]) = {
      val (p, v) = Stats.tail(samples)
      (Stats.median(samples), v, p, samples.size)
    }
    val byK = landed.map(l => l.u.k -> l.u.dueMs).toMap
    val untraced = fresh.filter(f => !ctx.traced || byK(f._1) < halfMs).values.toSeq
    val (p50, tailV, tailP, count) = summary(untraced)
    ctx.e2e("latency_p50_s") = (p50, "s")
    ctx.e2e("latency_tail_s") = (tailV, "s")
    val (rows, busyS) = ctx.busy(s.query.runId, t0, if (ctx.traced) Some(false) else None)
    // a phase whose uploads all went into triggers of the other phase (a
    // smoke-size traced run) has no rate of its own: 0
    def rate(rows: Long, secs: Double) = if (secs > 0) rows / secs else 0.0
    ctx.e2e("kpi_rows_per_s") = (rate(rows, busyS), "rows/s")
    ctx.record("freshness") = Map("freshness_p50_s" -> p50, "freshness_tail_s" -> tailV,
      "tail_percentile" -> tailP, "samples" -> count,
      "rejected_uploads" -> landed.count(!_.accepted), "uploads" -> n,
      "upload_orders" -> UploadOrders, "period_ms" -> PeriodMs, "trigger_ms" -> TriggerMs,
      "generator_late_max_s" -> lateMs.max / 1000.0)
    ctx.layer("store.manifest_fanin") = (Layers.manifestFanin(ctx, s.store).toDouble, "count")
    ctx.layer("gen.late_max_s") = (lateMs.max / 1000.0, "s")
    ctx.layer("gen.uploads") = (n.toDouble, "count")
    if (ctx.traced) {
      val traced = fresh.filter(f => byK(f._1) >= halfMs).values.toSeq
      val (tp50, ttail, _, _) = summary(traced)
      ctx.overhead("latency_p50_s") = tp50 - p50
      ctx.overhead("latency_tail_s") = ttail - tailV
      val (tr, tb) = ctx.busy(s.query.runId, t0, Some(true))
      ctx.overhead("kpi_rows_per_s") = rate(tr, tb) - rate(rows, busyS)
    }
  }
}
