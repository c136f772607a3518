package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.Files

import scala.collection.mutable

/** The benchmark's unit checks, no Spark session needed:
  * `java -cp <bench-tests>:<classpath> perfbench.SelfTest [scratch-dir]`.
  * Prints every failed check and exits 1 if there was one.
  */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]

  private def expect(what: String)(ok: Boolean): Unit =
    if (!ok) failures += what

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  /** The tail is the highest percentile with at least ten samples beyond
    * it.
    */
  def tailRule(): Unit = {
    val xs40 = (1 to 40).map(_.toDouble)
    expect("40 samples: tail is p75")(near(Stats.tail(xs40)._1, 75.0))
    expect("40 samples: 10 beyond p75")(Stats.beyond(40, 75) == 10)
    expect("40 samples: p75 value")(near(Stats.tail(xs40)._2, Stats.quantile(xs40, 75)))
    expect("40 samples: ten values above the tail")(xs40.count(_ > Stats.tail(xs40)._2) == 10)
    val xs30 = (1 to 30).map(_.toDouble)
    expect("30 samples: tail is p66.7")(near(Stats.tail(xs30)._1, 200.0 / 3))
    expect("30 samples: ten values above the tail")(xs30.count(_ > Stats.tail(xs30)._2) == 10)
    expect("30 samples: 10 beyond the tail")(Stats.beyond(30, Stats.tail(xs30)._1) == 10)
    expect("19 samples: tail falls to p50")(Stats.tail((1 to 19).map(_.toDouble))._1 == 50.0)
    expect("100 samples: tail is p90")(near(Stats.tail((1 to 100).map(_.toDouble))._1, 90.0))
    expect("1000 samples: tail is p99")(near(Stats.tail((1 to 1000).map(_.toDouble))._1, 99.0))
    expect("beyond counts samples strictly past the rank")(Stats.beyond(21, 50) == 10)
    expect("median of 1..5")(near(Stats.median(Seq(5.0, 1, 3, 2, 4)), 3.0))
    expect("quantile interpolates")(near(Stats.quantile(Seq(0.0, 10.0), 25), 2.5))
  }

  /** Self time: a span's duration minus the union of its children's
    * intervals, clipped to the span; grandchildren count for their own
    * parent only.
    */
  def selfTime(): Unit = {
    val spans = Seq(
      Span(1, 0, "op.run", 0, 100),
      Span(2, 1, "validate.gate", 10, 30),
      Span(3, 1, "transform.kpis", 20, 50), // overlaps 2: counted once
      Span(4, 1, "store.read", 90, 120), // clipped to the parent's end
      Span(5, 3, "store.scan", 25, 45), // grandchild of 1
      Span(6, 0, "gen.upload", 200, 210))
    val self = Trace.selfNs(spans)
    expect("parent self = 100 - (10..50 + 90..100)")(self(1) == 50)
    expect("child with a child: 30 - 20")(self(3) == 10)
    expect("leaf keeps its duration")(self(2) == 20 && self(5) == 20)
    expect("root without children")(self(6) == 10)
    val byLayer = Trace.selfByLayer(spans)
    expect("per-layer sums")(near(byLayer("op"), 50e-9) && near(byLayer("store"), 50e-9) &&
      near(byLayer("transform"), 10e-9))
    expect("covered merges overlaps")(Trace.covered(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
  }

  /** Uploads map to the batch whose file-source log entry first lists them,
    * across plain and compacted log files; freshness runs from the due time
    * to that batch's trigger end.
    */
  def uploadBatchMapping(dir: File): Unit = {
    val log = new File(dir, "cp/sources/0")
    log.mkdirs()
    def entry(name: String, batch: Long) =
      s"""{"path":"file:///lake/landing/$name","timestamp":1700000000000,"batchId":$batch}"""
    def write(f: String, lines: Seq[String]): Unit = {
      val w = new PrintWriter(new File(log, f))
      try w.print(("v1" +: lines).mkString("\n")) finally w.close()
    }
    write("0", Seq(entry("u00000.parquet", 0)))
    write("1", Seq(entry("u00001.parquet", 1), entry("u00002.parquet", 1)))
    // a compacted log repeats earlier entries under their own batch ids
    write("9.compact", Seq(entry("u00001.parquet", 1), entry("u00003.parquet", 9)))
    write(".9.compact.crc", Seq("garbage"))
    val b = Arrivals.batchOf(new File(dir, "cp").getPath)
    expect("exact batch per upload")(b == Map("u00000.parquet" -> 0L, "u00001.parquet" -> 1L,
      "u00002.parquet" -> 1L, "u00003.parquet" -> 9L))
    val ups = Seq(0, 1, 3, 4).map(k => Arrivals.Upload(k, 1000L * k, Nil, None))
    val fresh = Arrivals.freshness(ups, b, Map(0L -> 2500L, 1L -> 4000L, 9L -> 9000L))
    expect("freshness from due time to trigger end")(fresh == Map(0 -> 2.5, 1 -> 3.0, 3 -> 6.0))
    expect("an unlisted upload has no sample")(!fresh.contains(4))
  }

  def main(args: Array[String]): Unit = {
    val dir = Files.createTempDirectory(new File(args.headOption.getOrElse(".")).toPath, "selftest").toFile
    tailRule()
    selfTime()
    uploadBatchMapping(dir)
    def delete(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(delete))
      f.delete()
    }
    delete(dir)
    failures.foreach(f => println(s"FAIL $f"))
    println(if (failures.isEmpty) "selftest: all checks passed" else s"selftest: ${failures.size} failed")
    if (failures.nonEmpty) sys.exit(1)
  }
}
