package perfbench

import java.io.File

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.io.Source

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** Sizes and rates every workload reads. Sized for a 4-core box. */
object Config {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
  val BackfillOrders = 8000
  val BackfillDays = 30
}

/** Entry point: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> [--smoke]`. Prints a metric table, one `record:` JSON line
  * with the environment and details, and the result JSON as the last line.
  */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "arrivals" -> Arrivals.run,
    "backfill" -> Backfill.run)

  private def loadavg(): String =
    try { val s = Source.fromFile("/proc/loadavg"); try s.mkString.trim finally s.close() }
    catch { case _: Exception => "unavailable" }

  /** Peak resident set of this JVM in MiB (VmHWM). */
  def peakRssMb(): Double = {
    val s = Source.fromFile("/proc/self/status")
    try s.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload (have ${Workloads.keys.mkString(", ")})"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val smoke = args.contains("--smoke")
    val work = new File(opts("work"))
    val loadBefore = loadavg()
    val cores = Runtime.getRuntime.availableProcessors()
    val n = math.min(4, cores)
    val t0 = System.nanoTime()
    val session = Future {
      val s = SparkSession.builder()
        .master(s"local[$n]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", n)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
        .config("spark.sql.streaming.numRecentProgressUpdates", 1000)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      (s, (System.nanoTime() - t0) / 1e9)
    }(ExecutionContext.global)
    val ctx = new Ctx(session.map(_._1)(ExecutionContext.global), work, seed, seconds, traced, smoke)
    run(ctx)
    Trace.on = false
    if (traced) Layers.report(ctx)
    ctx.e2e("peak_rss_mb") = (peakRssMb(), "MiB")
    ctx.e2e("ok_share") = (1.0 - ctx.failed.toDouble / math.max(1L, ctx.attempted), "share")

    val spark = ctx.spark
    val sessionS = Await.result(session, Duration.Inf)._2
    val conf = spark.conf
    ctx.record("env") = Map(
      "cores" -> cores, "master" -> s"local[$n]",
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "state_store_partitions" -> ctx.record.getOrElse("state_store_partitions", "n/a"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "state_store_provider" -> conf.get("spark.sql.streaming.stateStore.providerClass"),
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadavg(),
      "session_start_s" -> sessionS)
    ctx.record.remove("state_store_partitions")
    ctx.phase("end")
    ctx.record("phases_s") = ctx.phases.toSeq
    ctx.record("checks") = ctx.checks.toMap
    ctx.record("failed_share") = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    ctx.record("overhead") = ctx.overhead.toMap
    val correct = ctx.failed == 0 && ctx.checks.nonEmpty && ctx.checks.values.forall(identity)
    val metrics = if (traced) ctx.layer else ctx.e2e
    metrics.foreach { case (k, (v, u)) => println(f"$k%-32s $v%16.6f $u") }
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    def named(ms: Iterable[(String, (Double, String))]) =
      ms.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
    println("record: " + json.writeValueAsString(ctx.record.toMap ++ Map("workload" -> workload,
      "seed" -> seed, "trace" -> traced, "end_to_end" -> named(ctx.e2e))))
    println(json.writeValueAsString(Map("correct" -> correct, "attempted" -> ctx.attempted,
      "failed" -> ctx.failed, "metrics" -> named(metrics))))
    System.out.flush()
    spark.stop()
  }
}
