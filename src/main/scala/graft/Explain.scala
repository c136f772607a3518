package graft

/** Plan-audit tool: print `.explain("formatted")` for the named queries
  * (all of them when no names given) against a testdata dir. Used to check
  * scan pruning (PushedFilters/ReadSchema), join strategies (broadcast vs
  * sort-merge), aggregate partial/final splits, and codegen spans.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
