package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native squared-L2 kernels must match their HOF reference forms
  * bit-for-bit on the cases ANN sees (equal-length vectors), including
  * null elements nulling the result — the DotProductSpec contract applied
  * to the r18 distance kernels. On a length mismatch the kernels return
  * the common-prefix distance where the HOF form returns NULL (the
  * documented [[graft.operators.Similarity.sqDist]] contract); the last
  * row of each fixture pins that.
  */
class SqDiffSpec extends SparkSpec {
  import org.apache.spark.sql.GraftBridge.{column, expression}

  test("SqDiffDouble matches the HOF fold, nulls propagate") {
    import spark.implicits._
    val df = Seq(
      (Seq[java.lang.Double](1.0, 2.5, -3.0), Seq[java.lang.Double](0.5, 2.5, 3.0)),
      (Seq[java.lang.Double](0.1, 0.2), Seq[java.lang.Double](0.3, -0.4)),
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)),
      (Seq[java.lang.Double](1.5, 2.0), Seq[java.lang.Double](0.5)))
      .toDF("a", "b")
    val native = column(SqDiffDouble(expression(col("a")), expression(col("b"))))
    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, v) => acc + v)
    val rows = df.select(native.as("n"), hof.as("h"),
      graft.operators.Similarity.sqDist(col("a"), col("b")).as("s")).collect()
    rows.init.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0))
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
          s"native ${r.getDouble(0)} != hof ${r.getDouble(1)}")
    }
    assert(rows(2).isNullAt(0), "a null element nulls the distance")
    val mismatch = rows.last
    assert(mismatch.getDouble(0) == 1.0 && mismatch.getDouble(2) == 1.0,
      "length mismatch: (1.5 - 0.5)² over the common prefix")
    assert(mismatch.isNullAt(1), "the HOF form nulls a length mismatch")
  }

  test("SqDiffLong matches the HOF fold and throws on overflow like ANSI") {
    import spark.implicits._
    val df = Seq(
      (Seq[java.lang.Long](5L, -7L, 100L), Seq[java.lang.Long](2L, 7L, -100L)),
      (Seq[java.lang.Long](1L << 30, 0L), Seq[java.lang.Long](0L, 1L << 30)),
      (Seq[java.lang.Long](5L), Seq[java.lang.Long](2L, 9L)))
      .toDF("a", "b")
    val native = column(SqDiffLong(expression(col("a")), expression(col("b"))))
    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)
    val rows = df.select(native.as("n"), hof.as("h")).collect()
    rows.init.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    assert(rows.last.getLong(0) == 9L && rows.last.isNullAt(1),
      "length mismatch: common-prefix distance, where the HOF form nulls")
    val big = Seq((Seq(Long.MaxValue / 2), Seq(-(Long.MaxValue / 2)))).toDF("a", "b")
    intercept[Exception] {
      big.select(column(SqDiffLong(expression(col("a")), expression(col("b"))))).collect()
    }
  }
}
