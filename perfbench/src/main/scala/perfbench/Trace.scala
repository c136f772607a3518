package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A closed span: `parent` is 0 for a root. Times are `System.nanoTime`. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The benchmark's in-memory tracer. Spans wrap the benchmark's calls into
  * each engine layer; the span name's prefix up to the first '.' is the
  * layer. Nothing is recorded while `on` is false, so the untraced phase
  * pays one volatile read per call.
  */
object Trace {
  @volatile var on = false

  private val ids = new AtomicInteger
  private val spans = new ConcurrentLinkedQueue[Span]
  private val counters = new ConcurrentHashMap[String, DoubleAdder]
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0), name, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def add(name: String, v: Double): Unit =
    if (on) counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def nextId(): Int = ids.incrementAndGet()
  def counter(name: String): Double =
    Option(counters.get(name)).map(_.sum).getOrElse(0.0)

  /** Seconds covered by the union of `[start, end)` intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  /** Self time per span: its duration minus the part of its interval its
    * child spans cover (children clipped to the parent, overlaps counted
    * once).
    */
  def selfNs(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val inside = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))).filter(i => i._2 > i._1)
      s.id -> ((s.endNs - s.startNs) - (if (inside.isEmpty) 0L else covered(inside)))
    }.toMap
  }

  /** Self seconds summed per layer. */
  def selfByLayer(all: Seq[Span]): Map[String, Double] = {
    val self = selfNs(all)
    all.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e9 }
  }

  /** Task-level Spark work, summed while tracing is on. */
  final class SparkCounters extends SparkListener {
    val jobs, stages, tasks = new AtomicInteger
    val runMs, cpuNs, gcMs, shuffleW, shuffleR, spill = new DoubleAdder
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (on) jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (on) stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (on && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.incrementAndGet()
        runMs.add(m.executorRunTime.toDouble)
        cpuNs.add(m.executorCpuTime.toDouble)
        gcMs.add(m.jvmGCTime.toDouble)
        shuffleW.add(m.shuffleWriteMetrics.bytesWritten.toDouble)
        shuffleR.add(m.shuffleReadMetrics.totalBytesRead.toDouble)
        spill.add((m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
  }

  /** Every progress event of every query, with the wall-clock instant it
    * was received and whether tracing was on when its trigger started.
    * Always installed: the arrivals workload maps uploads to the trigger
    * that committed them from these events.
    */
  final class Progress(onEvent: (StreamingQueryProgress, Boolean) => Unit = (_, _) => ())
      extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[(StreamingQueryProgress, Boolean)]
    @volatile var tracedSinceMs = Long.MaxValue
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val traced = Progress.startMs(p) >= tracedSinceMs
      events.add((p, traced))
      onEvent(p, traced)
    }
    def of(name: String): Seq[StreamingQueryProgress] =
      events.asScala.collect { case (p, _) if p.name == name => p }.toSeq
    def traced(name: String): Seq[StreamingQueryProgress] =
      events.asScala.collect { case (p, true) if p.name == name => p }.toSeq

    /** Block until this listener has seen the last progress `q` made
      * (listener delivery is asynchronous).
      */
    def await(q: org.apache.spark.sql.streaming.StreamingQuery, timeoutMs: Long = 10000): Unit = {
      val last = Option(q.lastProgress).map(_.batchId)
      val end = System.currentTimeMillis() + timeoutMs
      while (last.exists(b => !events.asScala.exists(e => e._1.runId == q.runId && e._1.batchId == b)) &&
        System.currentTimeMillis() < end) Thread.sleep(10)
    }
  }

  object Progress {
    def startMs(p: StreamingQueryProgress): Long =
      java.time.Instant.parse(p.timestamp).toEpochMilli
    def dur(p: StreamingQueryProgress, k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    /** Wall-clock end of the trigger: its start plus its execution time. */
    def endMs(p: StreamingQueryProgress): Long = startMs(p) + dur(p, "triggerExecution")
  }
}
