package graft

/** Dev timer: Bench's per-query protocol ([[Bench.timeQueries]]: one
  * untimed warm-up, then the MIN of `SPARK_GRAFT_BENCH_RUNS` timed runs,
  * catalog cleared before each) on named registry queries, plus Bench's
  * fresh cost for memoized ones — the quick local loop between full Bench
  * runs, without the gate or the supplementary legs.
  *
  * Usage: runMain graft.QTime <sfDir> <query> [query ...]
  *        (query "ALL" = the full SparkEntry.headline set)
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.drop(1).sameElements(Array("ALL"))) SparkEntry.headline
      else args.drop(1).toSeq
    val spark = Session.local()
    def show(r: Either[String, Double]): String =
      r.fold(e => s"failed: $e", t => f"$t%8.3f s")
    names.foreach { n =>
      Bench.timeQueries(spark, sfDir, Seq(n), Bench.timedRuns).foreach { case (_, r) =>
        println(f"[qtime] $n%-32s ${show(r)}")
      }
      if (SparkEntry.memoizedHeadline.contains(n))
        println(f"[qtime] $n%-32s ${show(Bench.freshCost(spark, sfDir, n))} fresh")
    }
    spark.stop()
  }
}
