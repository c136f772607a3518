package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.state.{ManifestStore, SnapshotStore}

/** The traced run's per-layer numbers, from the benchmark's spans, its
  * SparkListener and its StreamingQueryListener. Every name is reported
  * on every workload; a layer the workload does not exercise reads 0.
  */
object Layers {
  import Trace.Progress.dur

  /** Per-layer metric names with their units, in report order. */
  val Names: Seq[(String, String)] = Seq(
    "gen.late_max_s" -> "s", "gen.uploads" -> "count",
    "sources.list_ms" -> "ms", "sources.read_s" -> "s",
    "validate.calls" -> "count", "validate.s" -> "s", "validate.rows" -> "count",
    "transform.enrich_s" -> "s", "transform.kpis_s" -> "s", "transform.rows_out" -> "count",
    "jointkpis.triggers" -> "count", "jointkpis.trigger_ms" -> "ms",
    "jointkpis.add_batch_ms" -> "ms", "jointkpis.planning_ms" -> "ms",
    "jointkpis.wal_ms" -> "ms", "jointkpis.state_rows" -> "count",
    "jointkpis.state_mb" -> "MiB", "jointkpis.state_commit_ms" -> "ms",
    "completeness.triggers" -> "count", "completeness.add_batch_ms" -> "ms",
    "completeness.state_rows" -> "count", "completeness.state_mb" -> "MiB",
    "completeness.emitted_per_event" -> "ratio", "completeness.events_per_s" -> "events/s",
    "store.commits" -> "count", "store.dirs_per_commit" -> "count",
    "store.files_written" -> "count", "store.bytes_written" -> "bytes",
    "store.manifest_fanin" -> "count", "store.read_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MiB", "spark.shuffle_read_mb" -> "MiB",
    "spark.spill_mb" -> "MiB")

  /** Layers whose self time is reported, as `self.<layer>_s`. */
  val SelfLayers: Seq[String] =
    Seq("op", "gen", "sources", "validate", "transform", "jointkpis", "completeness", "store")

  /** End-to-end metrics whose traced-minus-untraced difference is
    * reported, as `overhead.<metric>`.
    */
  val OverheadOf: Seq[(String, String)] =
    Seq("latency_p50_s" -> "s", "latency_tail_s" -> "s", "kpi_rows_per_s" -> "rows/s")

  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** A query's traced triggers that did work. */
  private def triggers(ctx: Ctx, name: String): Seq[StreamingQueryProgress] =
    ctx.progress.traced(name).filter(_.numInputRows > 0)

  /** Store listing for one committed version: partition dirs, files and
    * bytes under `v_<batchId>`.
    */
  def versionListing(store: String, batchId: Long): (Int, Int, Long) = {
    val v = new File(SnapshotStore.versionDir(new Path(store), batchId).toUri.getPath)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val dirs = Option(v.listFiles).toSeq.flatten.filter(_.isDirectory)
      .flatMap(t => Option(t.listFiles).toSeq.flatten.filter(d => d.isDirectory && d.getName.contains("=")))
    val files = walk(v).filterNot(f => f.getName.startsWith(".") || f.getName.endsWith(".crc"))
    (dirs.size, files.size, files.map(_.length).sum)
  }

  /** Distinct versions the current manifests of a joint KPI store point
    * into (the reader's fan-in), max over its tables.
    */
  def manifestFanin(ctx: Ctx, store: String): Int = {
    val root = new Path(store)
    val fs = root.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
    SnapshotStore.currentVersion(fs, root).map { v =>
      Seq("category", "daily").map(t => ManifestStore.readManifest(fs, root, v, t).values.toSet.size).max
    }.getOrElse(0)
  }

  def report(ctx: Ctx): Unit = {
    // a trigger span's parent is the innermost op span containing it
    val base = Trace.allSpans
    val ops = base.filter(_.name.startsWith("op."))
    val slackNs = 2000000L
    val spans = base ++ ctx.progressSpans.asScala.map { s =>
      ops.filter(o => o.startNs - slackNs <= s.startNs && s.endNs <= o.endNs + slackNs)
        .sortBy(o => o.endNs - o.startNs).headOption.fold(s)(o => s.copy(parent = o.id))
    }
    def spanS(prefix: String) = spans.filter(_.name.startsWith(prefix)).map(_.seconds).sum
    val L = ctx.layer
    def put(k: String, v: Double) = L(k) = (v, Names.toMap.getOrElse(k, "count"))

    val allTraced = ctx.progress.events.toArray.toSeq.collect {
      case (p: StreamingQueryProgress, true) if p.numInputRows > 0 => p
    }
    put("sources.list_ms", mean(allTraced.map(p => (dur(p, "latestOffset") + dur(p, "getBatch")).toDouble)))
    put("sources.read_s", spanS("sources.read"))
    put("validate.calls", Trace.counter("validate.calls"))
    put("validate.s", spanS("validate."))
    put("validate.rows", Trace.counter("validate.rows"))
    put("transform.enrich_s", spanS("transform.enrich"))
    put("transform.kpis_s", spanS("transform.kpis"))
    put("transform.rows_out", Trace.counter("transform.rows_out"))

    val jk = triggers(ctx, "jointkpis")
    def stateOp(ps: Seq[StreamingQueryProgress]) = ps.lastOption.flatMap(_.stateOperators.headOption)
    put("jointkpis.triggers", jk.size)
    put("jointkpis.trigger_ms", mean(jk.map(dur(_, "triggerExecution").toDouble)))
    put("jointkpis.add_batch_ms", mean(jk.map(dur(_, "addBatch").toDouble)))
    put("jointkpis.planning_ms", mean(jk.map(dur(_, "queryPlanning").toDouble)))
    put("jointkpis.wal_ms", mean(jk.map(p => (dur(p, "walCommit") + dur(p, "commitOffsets")).toDouble)))
    put("jointkpis.state_rows", stateOp(jk).map(_.numRowsTotal.toDouble).getOrElse(0.0))
    put("jointkpis.state_mb", stateOp(jk).map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0))
    put("jointkpis.state_commit_ms", mean(jk.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble)))

    val cp = triggers(ctx, "completeness")
    put("completeness.triggers", cp.size)
    put("completeness.add_batch_ms", mean(cp.map(dur(_, "addBatch").toDouble)))
    put("completeness.state_rows", stateOp(cp).map(_.numRowsTotal.toDouble).getOrElse(0.0))
    put("completeness.state_mb", stateOp(cp).map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0))
    val events = cp.map(_.numInputRows).sum
    put("completeness.emitted_per_event",
      if (events == 0) 0.0 else Trace.counter("completeness.emitted") / events)
    put("completeness.events_per_s", L.get("completeness.events_per_s").fold(0.0)(_._1))

    // store: one listing of each committed version the traced triggers wrote
    val listings = ctx.storeListings.asScala.toSeq
    put("store.commits", listings.size)
    put("store.dirs_per_commit", mean(listings.map(_._1.toDouble)))
    put("store.files_written", listings.map(_._2).sum)
    put("store.bytes_written", listings.map(_._3.toDouble).sum)
    put("store.manifest_fanin", L.get("store.manifest_fanin").fold(0.0)(_._1))
    put("store.read_s", spanS("store."))

    val sc = ctx.sparkCounters
    put("spark.jobs", sc.jobs.get)
    put("spark.stages", sc.stages.get)
    put("spark.tasks", sc.tasks.get)
    put("spark.executor_run_s", sc.runMs.sum / 1000)
    put("spark.executor_cpu_s", sc.cpuNs.sum / 1e9)
    put("spark.gc_s", sc.gcMs.sum / 1000)
    put("spark.shuffle_write_mb", sc.shuffleW.sum / 1048576)
    put("spark.shuffle_read_mb", sc.shuffleR.sum / 1048576)
    put("spark.spill_mb", sc.spill.sum / 1048576)

    val self = Trace.selfByLayer(spans)
    SelfLayers.foreach(l => L(s"self.${l}_s") = (self.getOrElse(l, 0.0), "s"))
    OverheadOf.foreach { case (m, u) => L(s"overhead.$m") = (ctx.overhead.getOrElse(m, 0.0), u) }
    Names.foreach { case (k, u) => if (!L.contains(k)) L(k) = (0.0, u) }
    val ordered = (Names.map(_._1) ++ SelfLayers.map(l => s"self.${l}_s") ++
      OverheadOf.map(o => s"overhead.${o._1}")).map(k => k -> L(k))
    L.clear()
    L ++= ordered
  }
}
