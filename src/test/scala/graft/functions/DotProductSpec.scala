package graft.functions

import org.apache.spark.sql.functions.col
import graft.SparkSpec
import graft.operators.{HofForms, Similarity}

/** Native DotProduct expression vs the HOF reference formulation, plus the
  * SQL registration through GraftExtensions.
  */
class DotProductSpec extends SparkSpec {
  import spark.implicits._

  private val equalLen = Seq(
    (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
    (2L, Seq(0.0, 0.0), Seq(1.0, 1.0)),
    (3L, Seq(0.1, 0.2, 0.7, -0.4), Seq(-0.9, 0.3, 0.25, 0.5)),
    (4L, Seq.empty[Double], Seq.empty[Double])
  ).toDF("id", "a", "b")

  test("native dot equals the HOF formulation bit-for-bit on equal-length vectors") {
    val out = equalLen.select(col("id"),
      Similarity.dot(col("a"), col("b")).as("native"),
      HofForms.dotHof(col("a"), col("b")).as("hof")).collect()
    out.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2), s"mismatch for id ${r.getLong(0)}")
    }
    val byId = out.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byId(1L) == 32.0)
    assert(byId(2L) == 0.0)
    assert(byId(4L) == 0.0)
  }

  test("length mismatch: native uses the common prefix (HOF nulls out)") {
    val df = Seq((Seq(1.5), Seq(2.0, 9.0))).toDF("a", "b")
    assert(df.select(Similarity.dot(col("a"), col("b"))).collect()(0).getDouble(0) == 3.0)
    assert(df.select(HofForms.dotHof(col("a"), col("b"))).collect()(0).isNullAt(0))
  }

  test("a null ELEMENT yields null, matching the HOF chain (never a silent 0)") {
    val df = Seq(
      (1L, Seq(Option(1.0), None, Option(3.0)), Seq(Option(4.0), Option(5.0), Option(6.0))),
      (2L, Seq(Option(1.0), Option(2.0)), Seq(Option(4.0), Option(5.0)))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"),
      Similarity.dot(col("a"), col("b")).as("native"),
      HofForms.dotHof(col("a"), col("b")).as("hof")).collect()
      .map(r => r.getLong(0) -> (r.isNullAt(1), r.isNullAt(2))).toMap
    assert(out(1L) == ((true, true)))   // null element → both null
    assert(out(2L) == ((false, false))) // clean row unaffected
  }

  test("null input arrays propagate null") {
    val df = Seq((Option(Seq(1.0)), Option.empty[Seq[Double]])).toDF("a", "b")
    val r = df.select(Similarity.dot(col("a"), col("b"))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("graft_dot is callable from SQL via GraftExtensions") {
    import org.apache.spark.sql.SparkSession
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // withExtensions, not the spark.sql.extensions conf: the conf is
      // static (read from the SparkContext created by the first session),
      // so only the explicit builder API can inject into a later session
      // sharing the test JVM's context.
      val s = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val v = s.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
        .collect()(0).getDouble(0)
      assert(v == 11.0)
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
