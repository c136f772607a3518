package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One run's shared state: session, work dir, listeners, outcome tallies
  * and the metrics it reports. The session is built on another thread
  * while the workload generates its inputs, which need no Spark.
  */
final class Ctx(session: Future[SparkSession], val work: File, val seed: Long,
                val seconds: Double, val traced: Boolean, val smoke: Boolean) {
  val sparkCounters = new Trace.SparkCounters
  /** Joint KPI store root per query run, for the store listings. */
  val stores = new ConcurrentHashMap[java.util.UUID, String]
  /** (partition dirs, files, bytes) of each version a traced trigger committed. */
  val storeListings = new ConcurrentLinkedQueue[(Int, Int, Long)]
  /** Traced triggers as spans named `<query>.trigger`. */
  val progressSpans = new ConcurrentLinkedQueue[Span]
  val progress = new Trace.Progress((p, traced) =>
    if (traced && p.numInputRows > 0) {
      Option(stores.get(p.runId)).foreach(st =>
        storeListings.add(Layers.versionListing(st, p.batchId)))
      progressSpans.add(Span(Trace.nextId(), 0, s"${p.name}.trigger",
        msToNs(Trace.Progress.startMs(p)), msToNs(Trace.Progress.endMs(p))))
    })

  /** Epoch-ms ↔ nanoTime bridge, for spans made from progress events. */
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def msToNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  /** The session, with the benchmark's listeners registered before its
    * first use.
    */
  lazy val spark: SparkSession = {
    val s = Await.result(session, Duration.Inf)
    s.streams.addListener(progress)
    if (traced) s.sparkContext.addSparkListener(sparkCounters)
    s
  }

  var attempted = 0L
  var failed = 0L
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Traced-phase minus untraced-phase value of each end-to-end metric. */
  val overhead = mutable.LinkedHashMap.empty[String, Double]
  val record = mutable.LinkedHashMap.empty[String, Any]

  def op[A](body: => A): Option[A] = {
    synchronized(attempted += 1)
    try Some(body)
    catch {
      case e: Exception =>
        synchronized(failed += 1)
        System.err.println(s"[perfbench] op failed: $e")
        None
    }
  }

  /** An output check: one attempted op, failed on mismatch or error. */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val r = try ok catch {
      case e: Exception => System.err.println(s"[perfbench] check $name threw: $e"); false
    }
    if (!r) { failed += 1; System.err.println(s"[perfbench] check failed: $name") }
    checks(name) = checks.getOrElse(name, true) && r
  }

  /** Input rows and trigger seconds of one query run's triggers that read
    * data and started at or after `sinceMs`; `traced` picks one phase.
    */
  def busy(runId: java.util.UUID, sinceMs: Long = 0L,
           traced: Option[Boolean] = None): (Long, Double) = {
    val ps = progress.events.asScala.toSeq.collect {
      case (p, t) if p.runId == runId && p.numInputRows > 0 && traced.forall(_ == t) &&
        Trace.Progress.startMs(p) >= sinceMs => p
    }
    (ps.map(_.numInputRows).sum, ps.map(Trace.Progress.dur(_, "triggerExecution")).sum / 1000.0)
  }

  /** Seconds since the run started at which each named phase ended. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  private val startNs = System.nanoTime()
  def phase(name: String): Unit = phases(name) = (System.nanoTime() - startNs) / 1e9

  /** Start the traced phase (traced runs only). */
  def traceOn(): Unit = {
    progress.tracedSinceMs = System.currentTimeMillis()
    Trace.on = true
  }

  def dir(name: String): String = {
    val d = new File(work, name)
    d.mkdirs()
    d.getPath
  }

  /** Write `df` as exactly one parquet file and move it into `destDir`
    * under `name` with one atomic rename, so a file-source stream never
    * lists a partial file.
    */
  def land(df: DataFrame, destDir: String, name: String): Unit = {
    val staging = new File(work, s"_staging/$name")
    df.coalesce(1).write.mode("overwrite").parquet(staging.getPath)
    val part = staging.listFiles.find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    new File(destDir).mkdirs()
    Files.move(part.toPath, new File(destDir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
    deleteTree(staging)
  }

  /** Land `df` as one parquet file per value of its int column `_file`
    * (0 until `files`), flattened into `dir` with modification times in
    * `_file` order: a file source drains them oldest first.
    */
  def landByFile(df: DataFrame, dir: String, files: Int): Unit = {
    val tmp = new File(s"$dir.tmp")
    Trace.span("sources.land") {
      df.repartition(org.apache.spark.sql.functions.col("_file"))
        .write.partitionBy("_file").parquet(tmp.getPath)
    }
    new File(dir).mkdirs()
    val base = System.currentTimeMillis() - 3600 * 1000L
    for (f <- 0 until files) {
      val parts = Option(new File(tmp, s"_file=$f").listFiles).getOrElse(Array.empty[File])
        .filter(_.getName.endsWith(".parquet"))
      parts.zipWithIndex.foreach { case (part, k) =>
        val dest = new File(dir, f"f$f%03d-$k.parquet")
        Files.move(part.toPath, dest.toPath)
        dest.setLastModified(base + f * 1000L + k)
      }
    }
    deleteTree(tmp)
  }

  def readParquet(schema: org.apache.spark.sql.types.StructType, paths: Seq[String]): DataFrame =
    spark.read.schema(schema).parquet(paths: _*)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object Ctx {
  /** Rows of `df` with columns in `cols` order, sorted, for exact
    * comparison (doubles compare bit-for-bit: the engine's KPI math is
    * IEEE-deterministic by design).
    */
  def rows(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(org.apache.spark.sql.functions.col): _*).collect().map(fmt).sorted.toSeq

  def fmt(r: Row): String = r.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|")

  def sameRows(a: DataFrame, b: DataFrame, cols: Seq[String]): Boolean = {
    val (x, y) = (rows(a, cols), rows(b, cols))
    if (x != y) System.err.println(s"[perfbench] mismatch: ${x.size} vs ${y.size} rows; " +
      s"first diff ${x.diff(y).headOption} / ${y.diff(x).headOption}")
    x == y
  }

  val CategoryCols = Seq("category", "order_date", "daily_revenue", "avg_order_value",
    "avg_return_rate")
  val DailyCols = Seq("order_date", "total_orders", "total_revenue", "total_items_sold",
    "return_rate", "unique_customers")
}
