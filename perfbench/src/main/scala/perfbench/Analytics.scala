package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.pipeline.Pipeline
import graft.streaming.JointKpis
import graft.transform.Kpis
import graft.validate.Rules

/** The analyst phase of `backfill`: one closed-loop client over a landed
  * lake and the joint KPI store committed from it. Ops cycle through
  * `Pipeline.run` over one slice of the lake (validate, gate, enrich, both
  * KPI tables, materialised) and date-range and category reads of the
  * committed store. No streaming query runs meanwhile.
  */
object Analytics {
  /** One op cycle, an even mix of the three op kinds: R = Pipeline.run,
    * D = daily date-range read, C = category read. Every `PlantedEvery`-th
    * R targets a slice with a planted violation, which the gate must
    * reject. A clean R reads three sources and computes both KPI tables, so
    * it is the slowest op: with clean Rs 29% of ops, the tail (p75 and
    * above) falls among their latencies and the median among the store
    * reads.
    */
  val Cycle = "RDC"
  val PlantedEvery = 8

  /** Raw orders and items files the analyst can run the pipeline over,
    * with their row count.
    */
  final case class Slice(name: String, orders: Seq[String], items: Seq[String], rows: Long,
                         planted: Boolean)

  /** `enriched` holds the rows the store was committed from; `days` the
    * epoch days the lake spans.
    */
  final case class Lake(slices: IndexedSeq[Slice], products: String, store: String,
                        enriched: String, days: Range, categories: IndexedSeq[String])

  /** One op's outcome: its kind, its parameter, latency, and the rows it
    * returned (`None` when the gate rejected a run).
    */
  final case class Op(kind: Char, param: String, seconds: Double, traced: Boolean,
                      rows: Option[(Seq[String], Seq[String])])

  def read(ctx: Ctx, lake: Lake, s: Slice): (DataFrame, DataFrame, DataFrame) =
    Trace.span("sources.read") {
      (ctx.readParquet(Gen.schema("orders"), s.orders),
        ctx.readParquet(Gen.schema("order_items"), s.items),
        ctx.readParquet(Gen.schema("products"), Seq(lake.products)))
    }

  def ruleSet(o: DataFrame, it: DataFrame, p: DataFrame) =
    Seq(o -> Gen.rules("orders"), it -> Gen.rules("order_items"), p -> Gen.rules("products"))

  def pipelineRun(ctx: Ctx, lake: Lake, s: Slice): Option[(Seq[String], Seq[String])] =
    Trace.span("op.pipeline_run") {
      val (o, it, p) = read(ctx, lake, s)
      Trace.add("validate.calls", 1)
      Trace.add("validate.rows", s.rows.toDouble)
      val res = Trace.span("validate.gate") {
        Pipeline.run(ctx.spark, o, Gen.withReturnFlag(it), p, ruleSet(o, it, p))
      }
      if (!res.passed) None
      else Trace.span("transform.kpis") {
        val out = (Ctx.rows(res.categoryKpis.get, Ctx.CategoryCols),
          Ctx.rows(res.dailyKpis.get, Ctx.DailyCols))
        Trace.add("transform.rows_out", out._1.size + out._2.size)
        Some(out)
      }
    }

  def readDaily(ctx: Ctx, lake: Lake, d1: Int, d2: Int): Seq[String] =
    Trace.span("op.read_daily") {
      val t = Trace.span("store.read")(JointKpis.dailyTableManifested(ctx.spark, lake.store))
      Trace.span("store.scan")(Ctx.rows(t.filter(col("order_date").between(
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d1)),
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d2)))), Ctx.DailyCols))
    }

  def readCategory(ctx: Ctx, lake: Lake, c: String): Seq[String] =
    Trace.span("op.read_category") {
      val t = Trace.span("store.read")(JointKpis.categoryTableManifested(ctx.spark, lake.store))
      Trace.span("store.scan")(Ctx.rows(t.filter(col("category") === c), Ctx.CategoryCols))
    }

  /** Run the closed loop for at least `minSeconds` and `minOps` ops, so
    * the tail percentile of the run is always the same one. A traced run
    * does that twice: untraced, then traced.
    */
  def loop(ctx: Ctx, lake: Lake, minSeconds: Double, minOps: Int): Seq[Op] = {
    val r = new SplittableRandom(Gen.mix(ctx.seed, 0xA11L))
    val clean = lake.slices.filterNot(_.planted)
    val planted = lake.slices.filter(_.planted)
    val ops = mutable.ArrayBuffer.empty[Op]
    var runs = 0
    var phaseStart = System.nanoTime()
    var phaseOps = 0
    var traced = false
    def phaseDone = phaseOps >= minOps && System.nanoTime() - phaseStart >= minSeconds * 1e9
    while (!(phaseDone && (traced || !ctx.traced))) {
      if (phaseDone) {
        traced = true
        phaseStart = System.nanoTime()
        phaseOps = 0
        ctx.traceOn()
        ctx.layer("store.manifest_fanin") = (Layers.manifestFanin(ctx, lake.store).toDouble, "count")
      }
      phaseOps += 1
      val kind = Cycle(ops.size % Cycle.length)
      val (param, body): (String, () => Option[(Seq[String], Seq[String])]) = kind match {
        case 'R' =>
          runs += 1
          // one clean slice: every clean run does the same work, and the
          // after-run check computes its expected result once
          val s = if (runs % PlantedEvery == 0) planted(runs / PlantedEvery % planted.size)
            else clean.head
          (s.name, () => pipelineRun(ctx, lake, s))
        case 'D' =>
          val d1 = lake.days.start + r.nextInt(lake.days.size)
          val d2 = d1 + 6 + r.nextInt(15)
          (s"$d1-$d2", () => Some((readDaily(ctx, lake, d1, d2), Nil)))
        case _ =>
          val c = lake.categories(r.nextInt(lake.categories.size))
          (c, () => Some((readCategory(ctx, lake, c), Nil)))
      }
      val t0 = System.nanoTime()
      ctx.op(body()).foreach { out =>
        ops += Op(kind, param, (System.nanoTime() - t0) / 1e9, traced, out)
      }
      ctx.spark.catalog.clearCache()
    }
    Trace.on = false
    ops.toSeq
  }

  /** Reads against the batch KPIs of the committed rows; runs against the
    * same batch calls over their slice, and the gate verdict against the
    * planted violations.
    */
  def check(ctx: Ctx, lake: Lake, ops: Seq[Op]): Unit = {
    val spark = ctx.spark
    val enriched = spark.read.parquet(lake.enriched)
    val expCat = Kpis.categoryKpis(enriched).select(Ctx.CategoryCols.map(col): _*).collect().toSeq
    val expDay = Kpis.dailyKpis(enriched).select(Ctx.DailyCols.map(col): _*).collect().toSeq
    def fmt(rows: Seq[Row]) = rows.map(Ctx.fmt).sorted
    val expected = mutable.Map.empty[String, Option[(Seq[String], Seq[String])]]
    val byName = lake.slices.map(s => s.name -> s).toMap
    ops.foreach { op =>
      ctx.check(s"analytics.${kindName(op.kind)}") {
        op.kind match {
          case 'D' =>
            val Array(d1, d2) = op.param.split('-').map(_.toInt)
            op.rows.map(_._1) == Some(fmt(expDay.filter { row =>
              val d = row.getDate(0).toLocalDate.toEpochDay
              d >= d1 && d <= d2
            }))
          case 'C' => op.rows.map(_._1) == Some(fmt(expCat.filter(_.getString(0) == op.param)))
          case _ =>
            val s = byName(op.param)
            val exp = expected.getOrElseUpdate(s.name, {
              val (o, it, p) = read(ctx, lake, s)
              if (!Rules.passed(Rules.report(spark, ruleSet(o, it, p)))) None
              else {
                val e = Kpis.enrich(o, Gen.withReturnFlag(it), p)
                Some((Ctx.rows(Kpis.categoryKpis(e), Ctx.CategoryCols),
                  Ctx.rows(Kpis.dailyKpis(e), Ctx.DailyCols)))
              }
            })
            op.rows == exp && exp.isEmpty == s.planted
        }
      }
    }
  }

  /** The analyst's latency_p50_s and latency_tail_s (recorded as
    * query_p50_s and query_tail_s) from the untraced ops; in a traced run
    * also the traced-minus-untraced overhead.
    */
  def report(ctx: Ctx, ops: Seq[Op]): Unit = {
    def summary(xs: Seq[Double]) = { val (p, v) = Stats.tail(xs); (Stats.median(xs), v, p) }
    val untraced = ops.filterNot(_.traced)
    val (p50, tailV, tailP) = summary(untraced.map(_.seconds))
    ctx.e2e("latency_p50_s") = (p50, "s")
    ctx.e2e("latency_tail_s") = (tailV, "s")
    ctx.record("queries") = Map("query_p50_s" -> p50, "query_tail_s" -> tailV,
      "tail_percentile" -> tailP, "samples" -> untraced.size,
      "by_kind" -> untraced.groupBy(_.kind).map { case (k, os) =>
        kindName(k) -> Map("count" -> os.size, "p50_s" -> Stats.median(os.map(_.seconds))) },
      "rejected_runs" -> ops.count(o => o.kind == 'R' && o.rows.isEmpty))
    if (ctx.traced) {
      val (tp50, ttail, _) = summary(ops.filter(_.traced).map(_.seconds))
      ctx.overhead("latency_p50_s") = tp50 - p50
      ctx.overhead("latency_tail_s") = ttail - tailV
    }
  }

  def kindName(k: Char): String = k match {
    case 'R' => "pipeline_run"; case 'D' => "daily_range_read"; case _ => "category_read"
  }
}
