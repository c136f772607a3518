package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import Verify.q

/** Benchmark main — one JSON line on stdout (driver contract), duplicated
  * to bench_out.json so the record stays machine-readable even when stdout
  * is wrapped in sbt log prefixes (VERDICT r02 #6).
  *
  * Runs the headline query set (SparkEntry.headline): the flagship KPIs
  * plus the heaviest representative of each operator family. Each query
  * gets one untimed warm-up pass, then the MIN of `BENCH_RUNS` timed runs
  * (min, not mean — the quantity of interest is the plan's cost, not
  * co-tenant noise; VERDICT r02 adjudicated a 1.48× "regression" that was
  * entirely environment noise). `flagship` sub-total (a1+a2) keeps the
  * number comparable with the round-1 baseline, which benched only those.
  */
object Bench {

  /** Extract the per-query seconds from a prior bench JSON line (VERDICT
    * r05 #6). No JSON library in the dependency budget, so this is a
    * string-aware balanced-brace scan for the `"queries":{...}` object
    * (err entries hold nested objects and arbitrary escaped text) followed
    * by numeric `"name":seconds` extraction at its top level.
    */
  private[graft] def parseQueries(json: String): Map[String, Double] = {
    val marker = "\"queries\":"
    val start = json.indexOf(marker)
    if (start < 0) {
      // the driver's BENCH_r{N}.json wraps the bench line as an ESCAPED
      // string inside its "tail" capture — strip one escaping level
      // (\x -> x, so \" becomes " and \\ a backslash) and retry
      val sb = new StringBuilder(json.length)
      var j = 0
      while (j < json.length) {
        val c = json.charAt(j)
        if (c == '\\' && j + 1 < json.length) { sb.append(json.charAt(j + 1)); j += 2 }
        else { sb.append(c); j += 1 }
      }
      val unescaped = sb.toString
      val i = unescaped.indexOf(marker)
      return if (i < 0) Map.empty else parseQueries(unescaped.substring(i))
    }
    var i = json.indexOf('{', start + marker.length)
    if (i < 0) return Map.empty
    val open = i
    var depth = 0
    var inStr = false
    var esc = false
    var end = -1
    while (end < 0 && i < json.length) {
      val c = json.charAt(i)
      if (esc) esc = false
      else if (inStr) { if (c == '\\') esc = true else if (c == '"') inStr = false }
      else c match {
        case '"' => inStr = true
        case '{' => depth += 1
        case '}' => depth -= 1; if (depth == 0) end = i
        case _ => ()
      }
      i += 1
    }
    if (end < 0) return Map.empty
    val body = json.substring(open + 1, end)
    // numeric entries only — an err entry's value opens an object and
    // never matches the number pattern
    "\"([A-Za-z0-9_]+)\"\\s*:\\s*(-?[0-9][0-9.eE+-]*)".r
      .findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Per-query regression check: a breach is now > prev × tol × drift AND
    * now − prev × drift > floorSec (the absolute floor keeps a
    * 0.05 s → 0.15 s sub-noise blip from failing a round; 2× is this
    * box's established ±30-50% run variance with headroom). floorSec
    * raised 0.2 → 0.5 in r17 (VERDICT r16 #1c) to match qualifyDebuts:
    * r16's pipeline_fetch_priority "breach" was 0.53 s of absolute delta
    * on a 0.5 s query — inside the bench's own documented box variance.
    *
    * DRIFT NORMALIZATION (r18, VERDICT r17 #1/#2 — the fourth consecutive
    * rc=1, every breach on an UNTOUCHED path): per-query floors are MINs
    * over all committed rounds, so whole-box slowdown — the r17 record
    * shows sub-second queries uniformly 0.5–0.8× their floors with no
    * relevant diff, and t_lm_buckets drifted 0.96 → 2.31 in ONE round —
    * eventually tips every small query over a fixed 2×. [[driftFactor]]
    * estimates the SESSION's ambient slowdown as the median now/floor
    * ratio across every measured query (floors ≥ 0.2 s, so centisecond
    * noise doesn't vote) and scales the tolerance by it: a single query
    * regressing still flags (one ratio cannot move the median of ~180),
    * while a box that is uniformly 1.5× slower no longer fails the round
    * on its smallest queries. Clamped to [1, 3]: a faster box never
    * TIGHTENS the gate below the documented 2×, and a worse-than-3×
    * session is something a human should look at, not something the gate
    * absorbs.
    */
  private[graft] def driftFactor(prev: Map[String, Double],
                                 now: Map[String, Double]): Double = {
    val ratios = now.toSeq.flatMap { case (name, t) =>
      prev.get(name).filter(_ >= 0.2).map(p => t / p)
    }.sorted
    // a median needs a population: under 8 eligible queries (unit-test
    // fixtures, heavily filtered SPARK_GRAFT_BENCH_ONLY runs) one slow
    // query IS the median and would normalize itself away — fall back to
    // the plain fixed-tolerance gate there
    if (ratios.length < 8) 1.0
    else math.min(3.0, math.max(1.0, ratios(ratios.length / 2)))
  }

  private[graft] def regressions(prev: Map[String, Double],
                                 now: Map[String, Double],
                                 tol: Double = 2.0,
                                 floorSec: Double = 0.5): Seq[(String, Double, Double)] = {
    val drift = driftFactor(prev, now)
    now.toSeq.sorted.flatMap { case (name, t) =>
      prev.get(name)
        .filter(p => t > p * tol * drift && t - p * drift > floorSec)
        .map(p => (name, p, t))
    }
  }

  /** The committed bench records for ONE environment, in ascending round
    * order. Records are environment-scoped since r17 (VERDICT r16 #1a —
    * the third consecutive rc=1 traced to gating loaded driver-box runs
    * against quiet-local-box minima, a cross-environment comparison no
    * amount of rerunning can settle):
    *   - `driver`: BENCH_r{N}.json (the driver's own truncated-tail
    *     records) plus BENCH_DRIVER_r{N}.json (the full bench_out.json
    *     of a driver session, committed at round open so driver floors
    *     actually accumulate — the tails alone carry no per-query map).
    *   - `local`: BENCH_LOCAL_r{N}.json (full bench lines committed from
    *     in-round quiet-box sf0.1 runs).
    * Parameterized on the directory so the spec can exercise selection
    * against a fixture instead of the live repo (VERDICT r06 #1).
    */
  private[graft] def baselineFiles(dir: java.nio.file.Path = Paths.get("."),
                                   env: String = "driver"): Seq[(Int, java.nio.file.Path)] = {
    val re =
      if (env == "local") "BENCH_LOCAL_r(\\d+)\\.json".r
      else "BENCH(?:_DRIVER)?_r(\\d+)\\.json".r
    val stream = Files.list(dir)
    try {
      val out = Seq.newBuilder[(Int, java.nio.file.Path)]
      val files = stream.iterator()
      while (files.hasNext) {
        val p = files.next()
        p.getFileName.toString match {
          case re(n) => out += ((n.toInt, p))
          case _ => ()
        }
      }
      out.result().sortBy(_._1)
    } finally stream.close()
  }

  /** Floor retirements (VERDICT r16 #1b): min-over-all-rounds never
    * forgets, so a floor set before an adjudicated plan-cost change
    * permanently overstates what the current plan can do — any box load
    * then tips the ratio over the gate. Each entry CLAMPS the computed
    * all-rounds min UP to the stated value and must cite the verdict
    * round that adjudicated the plan-cost change; governance is
    * documented in FLOORS.md.
    */
  private[graft] val floorOverrides: Map[String, Double] = Map(
    // r12 recorded 1.56 s before the r14/r15 collapse-memo + hot-bucket-cap
    // scale protections intentionally added ~0.4 s; no record in 4 rounds
    // approached it again (locals r13-r16: 2.11, 1.89, 2.62, 2.10).
    // Retired to the best post-change local observation (VERDICT r16 #1b).
    "dedup_near" -> 1.89
  )

  /** Per-query MIN across the given environment's committed records, not
    * just the newest (VERDICT r06 #2b): a single load-corrupted round (r6
    * recorded dedup_simhash at 7.43 s against a true 1.7 s cost) must not
    * become the yardstick — under newest-only gating a real 2× regression
    * of the true cost would pass 4× under the radar. The MIN of per-round
    * MINs is the best evidence of the plan's actual cost on this box.
    * Unparseable files are skipped. [[floorOverrides]] then clamps
    * verdict-retired floors up.
    */
  private[graft] def minBaseline(dir: java.nio.file.Path = Paths.get("."),
                                 env: String = "driver"): Map[String, Double] =
    baselineFiles(dir, env).flatMap { case (_, p) =>
      try parseQueries(Files.readString(p)).toSeq
      catch { case _: Throwable => Seq.empty }
    }.groupMapReduce(_._1)(_._2)(math.min)
      .map { case (n, v) => n -> math.max(v, floorOverrides.getOrElse(n, 0.0)) }

  /** Debut-baseline qualification (VERDICT r08 #1b): a query with NO entry
    * in the committed baseline enters the record at whatever the loaded
    * full-headline session happened to measure, and that number becomes
    * the all-rounds MIN every future gate compares against — r8's
    * dedup_contained_recall debuted at 26.9 s against a ~6 s isolated
    * truth, so a future regression to ~54 s would have passed 2× under
    * the radar. Every debut query above the noise floor therefore gets
    * ONE requalification re-run (in main: after a fresh load-guard wait,
    * cache clear and GC), and the record keeps the better of first-pass
    * and re-run — the same better-of-two rule as [[adjudicate]]. Returns
    * the updated times plus the debut names SPLIT by whether the re-run
    * actually produced a settled value (ADVICE r09: a debut whose re-run
    * crashed enters the record at its unadjudicated first-pass number,
    * and the JSON trail must say so instead of claiming a settled run).
    */
  private[graft] def qualifyDebuts(baseline: Map[String, Double],
                                   first: Map[String, Double],
                                   rerun: String => Option[Double],
                                   floorSec: Double = 0.5)
      : (Map[String, Double], Seq[String], Seq[String]) = {
    val debuts = first.keys.toSeq.sorted
      .filter(n => !baseline.contains(n) && first(n) >= floorSec)
    var now = first
    val (ok, rerunFailed) = debuts.partition { name =>
      rerun(name) match {
        case Some(again) =>
          now = now.updated(name, math.min(now(name), again)); true
        case None => false
      }
    }
    (now, ok, rerunFailed)
  }

  /** The breach re-adjudication protocol (VERDICT r06 #2a, codifying the
    * judge's manual r6 procedure; best-of-THREE since r16 — VERDICT r15
    * #1b: the r15 driver record carried 8 flags of which 7 were load
    * artifacts at 1.07–1.68× of their quiet-run floors, all surviving the
    * single rerun, so one rerun demonstrably doesn't settle a loaded box —
    * the same evidence that hardened [[adjudicateSf1]] in r15): each
    * apparent regression re-runs once via `rerun` (which in main waits for
    * the load guard first); a query that STAYS breached gets exactly one
    * more settled re-run. The best of all observed times stands, and only
    * queries breached on their best-of-three fail the gate. Factored out
    * of main so the spec can inject a load blip (re-run fast) next to a
    * real regression (re-run still slow) and pin both outcomes. floorSec
    * must stay in lockstep with [[regressions]]' default: r17's gate
    * breached e_daily_value on a 0.29 s delta because this default was
    * left at 0.2 when regressions' was raised to 0.5 (VERDICT r17 #1) —
    * main calls adjudicate without the parameter, so THIS default is the
    * one every gate evaluation actually uses.
    */
  private[graft] def adjudicate(baseline: Map[String, Double],
                                first: Map[String, Double],
                                rerun: String => Option[Double],
                                tol: Double = 2.0,
                                floorSec: Double = 0.5)
      : (Map[String, Double], Seq[(String, Double, Double)]) = {
    var now = first
    for (_ <- 1 to 2) {
      regressions(baseline, now, tol, floorSec).foreach { case (name, _, bestT) =>
        rerun(name).foreach(again => now = now.updated(name, math.min(bestT, again)))
      }
    }
    (now, regressions(baseline, now, tol, floorSec))
  }

  /** The sf1 sublinearity gate (VERDICT r12 #8): a query is flagged
    * SUPERLINEAR when its 10×-data time exceeds `factor` × its base time
    * AND the excess clears `floorSec` (sub-second blips on centisecond
    * queries are noise, not scale defects). Flag-only — the scale record
    * is evidence, not a hard gate; plans get fixed, rounds don't fail on
    * co-tenant noise at the bigger SF.
    */
  private[graft] def superlinear(base: Map[String, Double],
                                 scaled: Map[String, Double],
                                 factor: Double = 10.0,
                                 floorSec: Double = 1.0): Seq[(String, Double, Double)] =
    scaled.toSeq.sorted.flatMap { case (name, t) =>
      base.get(name)
        .filter(b => t > b * factor && t - b * factor > floorSec)
        .map(b => (name, b, t))
    }

  /** The sf1 flag re-adjudication (VERDICT r13 #1b, hardened r15): the
    * base gate requalifies apparent regressions after a load-guard wait,
    * but the sf1 section committed first-pass numbers unchallenged —
    * r13's driver record flagged dedup_near at 35× where a settled
    * re-run measured 7.9×. Same protocol as [[adjudicate]] with a second
    * chance (VERDICT r14 #2c — r14's g_kcore measured 18× in the driver
    * after its single rerun where a settled local run said 7×, so one
    * rerun demonstrably doesn't settle a loaded box): each flagged query
    * re-runs once via `rerun` (which in main waits for the load guard
    * first); a query that STAYS superlinear after that gets exactly one
    * more settled re-run. The best of all observed times stands, and only
    * queries superlinear on their best-of-three flag in the record.
    */
  private[graft] def adjudicateSf1(base: Map[String, Double],
                                   scaled: Map[String, Double],
                                   rerun: String => Option[Double],
                                   factor: Double = 10.0,
                                   floorSec: Double = 1.0)
      : (Map[String, Double], Seq[(String, Double, Double)]) = {
    var now = scaled
    for (_ <- 1 to 2) {
      superlinear(base, now, factor, floorSec).foreach { case (name, _, bestT) =>
        rerun(name).foreach(again => now = now.updated(name, math.min(bestT, again)))
      }
    }
    (now, superlinear(base, now, factor, floorSec))
  }

  /** Timed runs per query: `SPARK_GRAFT_BENCH_RUNS`, default 2, at least 1. */
  private[graft] def timedRuns: Int =
    math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt)

  /** A failure's record text: the message (else the class), cut to 200 chars. */
  private def errText(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(200)

  /** One timed run: wall seconds to build `query` and `.count()` it, or
    * the failure's text. */
  private[graft] def timeOnce(query: => DataFrame): Either[String, Double] = {
    val t0 = System.nanoTime()
    try { query.count(); Right((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable => Left(errText(e)) }
  }

  /** The per-query protocol: one untimed warm-up (it also surfaces errors
    * deterministically), then the MIN of `runs` timed runs, the first error
    * winning. The catalog cache is cleared BEFORE each timed run, not just
    * between queries: cache-bearing operators (near-dup band signatures,
    * kmeans centroids) would otherwise serve every timed run from the
    * warm-up's cache and the MIN would exclude the operator's own
    * materialization cost (ADVICE r03). Session memos registered in
    * [[graft.util.Caches]] survive the clear (see [[freshCost]]).
    */
  private[graft] def timeMin(spark: SparkSession, runs: Int)
                            (query: => DataFrame): Either[String, Double] = {
    timeOnce(query)
    val times = (1 to runs).map { _ =>
      spark.catalog.clearCache()
      timeOnce(query)
    }
    times.collectFirst { case Left(e) => Left(e) }
      .getOrElse(Right(times.collect { case Right(t) => t }.min))
  }

  /** [[timeMin]] over each named registry query in turn, the catalog
    * cleared and the JVM given a collection point after each: the r8
    * record showed timings inflate up to 4.6× late in the 66-query session
    * without any code change (VERDICT r08 #1c), so each query is timed
    * against a settled heap.
    */
  private[graft] def timeQueries(spark: SparkSession, sfDir: String,
                                 names: Seq[String], runs: Int)
      : Seq[(String, Either[String, Double])] =
    names.map { name =>
      val r = timeMin(spark, runs)(SparkEntry.queries(name)(spark, sfDir))
      spark.catalog.clearCache()
      System.gc()
      (name, r)
    }

  /** Fresh cost of a memoized query (VERDICT r10 #6): its timed MIN reads
    * a memo that survives `spark.catalog.clearCache`, so the operator's
    * real cost is one run after [[graft.util.Caches.clear]] as well. */
  private[graft] def freshCost(spark: SparkSession, sfDir: String,
                               name: String): Either[String, Double] = {
    graft.util.Caches.clear()
    spark.catalog.clearCache()
    System.gc()
    timeOnce(SparkEntry.queries(name)(spark, sfDir))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // local[32] per the target environment (single JVM, 32 executor
    // threads); shuffle partitions = cores, not the 200 default.
    val cpus = Session.defaultCpus
    // Load guard (VERDICT r04 #2): this box runs co-tenant work and
    // same-code timings vary ±30-50% under load — wait (bounded) for the
    // 1-minute loadavg to drop below cpus/4 before timing anything, so the
    // recorded MINs measure plans, not contention. stderr only: stdout is
    // the one-JSON-line driver contract.
    val maxWaitSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_LOADWAIT_SEC", "240").toInt
    def loadavg(): Double =
      try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
      catch { case _: Throwable => 0.0 }
    // cpus/8 (tightened from cpus/4 per VERDICT r06 #2c: a box at load 8/32
    // still corrupted 32-thread CPU-bound stages 2-3×). A box that was HOT
    // during this wait must additionally hold under the cap for a 5 s
    // confirmation sample — a single instantaneous dip in a
    // decaying-but-hostile loadavg is not quiet; a box that was never hot
    // passes immediately (no idle tax, code-review r7).
    val loadCap = cpus.toDouble / 8.0
    def waitForLoad(): Unit = {
      var waited = 0
      var wasHot = false
      while (waited < maxWaitSec) {
        val l1 = loadavg()
        if (l1 <= loadCap) {
          if (!wasHot) return
          Thread.sleep(5000); waited += 5
          val l2 = loadavg()
          if (l2 <= loadCap) return
          System.err.println(f"bench load guard: loadavg rebounded $l1%.2f -> $l2%.2f, not stable")
        } else {
          wasHot = true
          System.err.println(f"bench load guard: loadavg $l1%.2f > $loadCap%.1f, waiting (${waited}s/${maxWaitSec}s)")
          Thread.sleep(10000); waited += 10
        }
      }
    }
    waitForLoad()
    val spark = Session.local(cpus)

    // Global session warm-up: one tiny end-to-end job (scan+agg) so the
    // first benched query doesn't pay SparkSession/codegen init.
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => () }

    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the run (local iteration /
    // cross-SF scaling tooling — the Verify filter's twin); unset = full
    // headline, the driver's mode
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val benched = SparkEntry.headline.filter(name => only.forall(_.contains(name)))
    val results = timeQueries(spark, sfDir, benched, timedRuns)
    val failed = results.exists(_._2.isLeft)
    // a re-run of one query on `dir` after a load-guard wait (once per
    // rerunner), for the gate's and the sf1 pass's adjudication
    def rerunner(tag: String, dir: String, first: Map[String, Double])
        : String => String => Option[Double] = {
      var waited = false
      why => name => {
        if (!waited) {
          System.err.println(s"$tag: $why — re-running after load guard")
          waitForLoad(); waited = true
        }
        spark.catalog.clearCache()
        System.gc()
        timeOnce(SparkEntry.queries(name)(spark, dir)).toOption.map { again =>
          System.err.println(f"$tag: $name re-run $again%.2fs (first ${first(name)}%.2fs)")
          again
        }
      }
    }
    // streaming throughputs (VERDICT r03 #4): each surface is drained with
    // AvailableNow and reported as <prefix>_<count/sec/rate> keys; a
    // failure is recorded as <prefix>_err but does NOT fail the bench (the
    // query set is the driver contract, streaming metrics are
    // supplementary)
    def streamMetric(prefix: String, countKey: String, rateKey: String)
                    (thunk: => (Long, Double)): String =
      (try Right(thunk) catch { case e: Throwable => Left(errText(e)) }) match {
        case Right((n, secs)) =>
          s""""${prefix}_$countKey":$n,"${prefix}_sec":$secs,""" +
            s""""${prefix}_$rateKey":${(n / secs).round}"""
        case Left(e) => s""""${prefix}_err":${q(e)}"""
      }
    def errJson(e: String): String = s"""{"err":${q(e)}}"""
    // ---- per-query regression gate (VERDICT r05 #6, r06 #2): baseline is
    // the per-query MIN across ALL committed BENCH_r*.json (a single
    // load-corrupted round must not set the yardstick); a breach
    // re-adjudicates best-of-three after a fresh load-guard wait, and only a query
    // that stays >2× the all-rounds MIN fails the run, loudly, with the
    // breaches recorded in the JSON line.
    val firstTimes = results.collect { case (n, Right(v)) => n -> v }.toMap
    val gateEnv = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE", "")
    // environment scoping (VERDICT r16 #1a): the driver never sets this,
    // so its runs default to gating against driver-record floors; in-round
    // quiet-box runs set SPARK_GRAFT_BENCH_ENV=local to gate against the
    // BENCH_LOCAL_r* floors. Cross-environment comparisons were the root
    // cause of three consecutive rc=1 rounds.
    val benchEnv = sys.env.getOrElse("SPARK_GRAFT_BENCH_ENV", "driver")
    val baseline: Map[String, Double] =
      if (gateEnv == "off") Map.empty
      else if (gateEnv.nonEmpty)
        (try parseQueries(Files.readString(Paths.get(gateEnv)))
         catch { case _: Throwable => Map.empty[String, Double] })
      else minBaseline(env = benchEnv)
    val requalify = rerunner("bench gate", sfDir, firstTimes)
    // debut-baseline qualification first (VERDICT r08 #1b): queries absent
    // from every committed record get a settled re-run before their number
    // enters the record as the future gate's floor. Skipped when there is
    // no baseline at all (round 1 / gate off) — requalifying the whole set
    // would just double the session.
    val (qualified, debuts, debutRerunFailed) =
      if (baseline.isEmpty) (firstTimes, Seq.empty[String], Seq.empty[String])
      else qualifyDebuts(baseline, firstTimes,
        requalify("debut-baseline qualification"))
    val (nowTimes, regs) =
      adjudicate(baseline, qualified, requalify("apparent regression(s)"))
    regs.foreach { case (name, prev, t) =>
      System.err.println(f"bench gate BREACH: $name ${t}%.2fs > 2x all-rounds-min ${prev}%.2fs")
    }
    val regJson = regs.map { case (n, p, t) =>
      s"""${q(n)}:{"prior":$p,"now":$t}"""
    }.mkString("{", ",", "}")
    // transparency: the drift factor the gate normalized by this session
    val driftJson = s""""drift_factor":${driftFactor(baseline, nowTimes)}"""
    val qs = results.map {
      case (k, Right(_)) => s"""${q(k)}:${nowTimes(k)}"""
      case (k, Left(e))  => s"""${q(k)}:${errJson(e)}"""
    }.mkString("{", ",", "}")
    val total = results.collect { case (n, Right(_)) => nowTimes(n) }.sum
    val flagship = results.collect {
      case (n, Right(_)) if n == "a1_category_kpis" || n == "a2_daily_kpis" => nowTimes(n)
    }.sum
    // the corpus-prep chain: content dedup → annotate → gate → rollup
    val corpusJson = streamMetric("corpus_stream", "docs", "docs_per_sec")(
      graft.streaming.StreamBench.corpusPrepThroughput(spark, nDocs = 50000))
    // the full streaming curation DAG (per-trigger gate + global refit +
    // atomic artifact commit across 4 triggers)
    val curateJson = streamMetric("curate_stream", "docs", "docs_per_sec")(
      graft.streaming.StreamBench.curateThroughput(spark, nDocs = 10000))
    // fresh-cost honesty for memoized queries: reported as fresh_cost_s —
    // supplementary like the stream metrics, never part of the gated
    // queries tail (a memo-read debut would otherwise set a centisecond MIN
    // floor no honest re-measurement could ever meet).
    val freshJson = SparkEntry.memoizedHeadline
      .filter(n => only.forall(_.contains(n)))
      .map { name =>
        freshCost(spark, sfDir, name) match {
          case Right(t) => s"${q(name)}:$t"
          case Left(e) => s"${q(name)}:${errJson(e)}"
        }
      }.mkString(""""fresh_cost_s":{""", ",", "}")
    val debutJson = debuts.map(q).mkString("[", ",", "]")
    val debutFailJson = debutRerunFailed.map(q).mkString("[", ",", "]")
    // ---- standing whole-suite sf1 scale pass (VERDICT r12 #8): inflate
    // the benched SF 10× (tools.ScaleUp key-shifted copies — measurement
    // only, never a correctness input), run EVERY timed query once on it,
    // and record the per-query times plus the sublinearity flags
    // (> 10× time on 10× data). Auto-enabled only for the driver's sf0.1
    // run; SPARK_GRAFT_BENCH_SF1=off skips, =force runs at any SF.
    // Supplementary like the stream metrics — flags never fail the run.
    val sf1Json = {
      val mode = sys.env.getOrElse("SPARK_GRAFT_BENCH_SF1", "auto")
      val enabled = mode match {
        case "off" => false
        case "force" => true
        case _ => sfDir.stripSuffix("/").endsWith("sf0.1")
      }
      if (!enabled) """"sf1":null"""
      else {
        val destPath = Files.createTempDirectory("graft_sf1")
        val dest = destPath.toString
        try {
          graft.tools.ScaleUp.build(spark, sfDir, dest, copies = 10)
          graft.util.Caches.clear()
          spark.catalog.clearCache()
          System.gc()
          waitForLoad()
          val scaledResults = benched.map { name =>
            spark.catalog.clearCache()
            val r = timeOnce(SparkEntry.queries(name)(spark, dest))
            System.gc()
            (name, r)
          }
          val scaledTimes = scaledResults.collect { case (n, Right(v)) => n -> v }.toMap
          // flagged queries get the base gate's load-guard re-adjudication
          // (VERDICT r13 #1b) before anything lands in the record.
          // Memoized queries' base numbers measure a memo READ (centiseconds)
          // while the fresh sf1 dir pays the full drain — comparing the two
          // flags a false superlinearity (r13: st_curate 0.09s memo read vs a
          // 14s sf1 drain whose honest fresh-vs-fresh ratio was 1.16×); their
          // scale story lives in fresh_cost_s, so they are excluded here
          val (scaledAdj, flags) = adjudicateSf1(
            nowTimes -- SparkEntry.memoizedHeadline, scaledTimes,
            rerunner("bench sf1", dest, scaledTimes)("apparent superlinearity"))
          flags.foreach { case (name, b, t) =>
            System.err.println(f"bench sf1 SUPERLINEAR: $name ${t}%.2fs > 10x base ${b}%.2fs")
          }
          val sq = scaledResults.map {
            case (k, Right(_)) => s"""${q(k)}:${scaledAdj(k)}"""
            case (k, Left(e))  => s"""${q(k)}:${errJson(e)}"""
          }.mkString("{", ",", "}")
          val fj = flags.map { case (n, b, t) =>
            s"""${q(n)}:{"base":$b,"sf1":$t}"""
          }.mkString("{", ",", "}")
          s""""sf1":{"queries":$sq,"superlinear":$fj,""" +
            s""""total":${scaledAdj.values.sum},"copies":10}"""
        } catch { case e: Throwable =>
          s""""sf1":${errJson(errText(e))}"""
        } finally {
          // the 10×-scale copy is measurement scratch — leaking it exhausts
          // the bench host's temp filesystem across repeated runs (ADVICE r13)
          try {
            Files.walk(destPath)
              .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .forEach(p => Files.deleteIfExists(p))
          } catch { case _: Throwable => () }
        }
      }
    }
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""flagship_total":$flagship,$corpusJson,$curateJson,""" +
        s"""$freshJson,$sf1Json,""" +
        s""""regressions":$regJson,$driftJson,"debut_qualified":$debutJson,""" +
        s""""debut_rerun_failed":$debutFailJson,""" +
        s""""cpus":$cpus,"timed_runs":$timedRuns,"bench_env":${q(benchEnv)},""" +
        s""""sf":"$sfDir"}"""
    println(line)
    try Files.writeString(Paths.get("bench_out.json"), line + "\n")
    catch { case _: Throwable => () }
    // Clean shutdown (VERDICT r16 #3): stop any still-active streaming
    // queries and the StateStore maintenance thread BEFORE tearing down the
    // session — exiting through a live maintenance thread sprays
    // "SparkEnv not active" stack traces after the record prints, and the
    // driver's captured tail then ends with a stack trace instead of the
    // JSON line it truncates into BENCH_r{N}.json.
    try spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    catch { case _: Throwable => () }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.stop()
    if (failed) sys.exit(1)
    // regression-only breach: distinct exit code, full record already on
    // stdout/bench_out.json for adjudication
    if (regs.nonEmpty) sys.exit(2)
  }
}
