package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Every past-cap fallback of the Lloyd's and PQ trainers, run against
  * the driver-resident path on planted clusters: the literal-table cap
  * is forced to 0, which routes each operator to its broadcast-join
  * form. The fixed-point family must be BIT-IDENTICAL (integer sums do
  * not depend on order — its oracles replay either form); the float
  * family must assign the same cells, codes and ranks, with centroids
  * and distances within 1e-9 (float means differ in the low ulps with
  * the partitioning). The BpeDriverParitySpec template, applied to
  * Similarity.
  */
class LloydsPqParitySpec extends SparkSpec {
  import spark.implicits._

  private val fixed = Similarity.FixedArith(1L << 20)
  private val float = Similarity.FloatArith
  private val dim = 8

  // 4 planted clusters in 8-d, 16 members each; vector i belongs to
  // cluster i % 4, so the lowest-id seeds span the clusters
  private lazy val planted: DataFrame = {
    val rnd = new scala.util.Random(20)
    val centers = Seq.fill(4)(Seq.fill(dim)(rnd.nextGaussian() * 4))
    (0 until 64).map { i =>
      (i.toLong, centers(i % 4).map(_ + rnd.nextGaussian() * 0.1))
    }.toDF("vec_id", "embedding")
  }
  private lazy val queries = planted.filter(col("vec_id") % 5 === 0)
    .toDF("q_id", "q_vec")

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def scaled[T](a: Similarity.Arith[T]) =
    planted.select(col("vec_id"), a.coords(col("embedding")).as("__sv"))

  private def near(x: Double, y: Double): Boolean =
    math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))

  test("kmeans: the join loop assigns the same cells in both arithmetics") {
    for (a <- Seq(fixed, float)) {
      assert(Similarity.lloydsTrain(a, scaled(a), 4, 3, "vec_id").isDefined)
      assert(Similarity.lloydsTrain(a, scaled(a), 4, 3, "vec_id", cap = 0).isEmpty,
        "cap 0 must route to the join loop")
      def cells(cap: Int) = rows(Similarity.kmeans(a, planted, 4, 3, "vec_id",
        "embedding", attach = false, cap = cap))
      val driver = cells(Int.MaxValue)
      assert(driver.map(_.getInt(1)).distinct.size == 4, "clusters separate")
      assert(cells(0) == driver, s"${a.key}: join-loop cells drifted")
    }
  }

  test("kmeans attach form: the join fallback attaches the same cells") {
    for (a <- Seq(fixed, float)) {
      def attached(cap: Int) = rows(Similarity.kmeans(a, planted, 4, 2, "vec_id",
        "embedding", attach = true, cap = cap).select("vec_id", "cell", "embedding"))
      assert(attached(0) == attached(Int.MaxValue), s"${a.key}: attach drifted")
    }
  }

  test("float kmeans: driver centroids are the join assignment's means") {
    val cents = Similarity.lloydsTrain(float, scaled(float), 4, 3, "vec_id").get
    val joinCells = Similarity.kmeans(float, planted, 4, 3, "vec_id",
      "embedding", attach = true, cap = 0)
    val means = Similarity.centroids(joinCells, "cell").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(means.keySet == cents.map(_._1).toSet)
    cents.foreach { case (c, v) =>
      assert(v.zip(means(c)).forall { case (x, y) => near(x, y) }, s"cell $c")
    }
    Dedup.clearCaches()
  }

  test("PQ codebook: the join trainer matches the driver trainer") {
    for (a <- Seq(fixed, float)) {
      def book(cap: Int) = rows(Similarity.pqCodebookWith(a, planted, dim, 2, 4,
        2, "vec_id", "embedding", cap = cap))
      val (driver, join) = (book(Int.MaxValue), book(0))
      assert(driver.size == 8)
      assert(join.map(r => (r.getInt(0), r.getInt(1))) ==
        driver.map(r => (r.getInt(0), r.getInt(1))))
      if (a == fixed) assert(join == driver, "fixed codebook drifted")
      else join.zip(driver).foreach { case (j, d) =>
        assert(j.getSeq[Double](2).zip(d.getSeq[Double](2))
          .forall { case (x, y) => near(x, y) }, s"centroid $j vs $d")
      }
    }
    Dedup.clearCaches()
  }

  test("PQ codes and scores: the join encoder matches the projection") {
    for (a <- Seq(fixed, float)) {
      val (cbD, cbJ) = (
        Similarity.pqCodebookWith(a, planted, dim, 2, 4, 2, "vec_id", "embedding"),
        Similarity.pqCodebookWith(a, planted, dim, 2, 4, 2, "vec_id", "embedding",
          cap = 0))
      def codes(cb: DataFrame, cap: Int) =
        Similarity.pqCodesWith(a, planted, cb, dim, 2, "vec_id", "embedding", cap)
      val driver = codes(cbD, Int.MaxValue)
      val join = codes(cbJ, 0)
      assert(rows(codes(cbD, 0)) == rows(driver), s"${a.key}: join encoder drifted")
      assert(rows(join) == rows(driver), s"${a.key}: codes drifted")
      def scores(cb: DataFrame, cs: DataFrame) = rows(Similarity.pqScoresWith(a,
        queries, cs, cb, dim, 2, "q_id", "q_vec", "vec_id"))
      val (sd, sj) = (scores(cbD, driver), scores(cbJ, join))
      assert(sd.size == 13 * 64)
      if (a == fixed) assert(sj == sd, "fixed ADC scores drifted")
      else {
        def byPair(s: Seq[Row]) =
          s.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        val (md, mj) = (byPair(sd), byPair(sj))
        assert(mj.keySet == md.keySet)
        md.foreach { case (p, d) => assert(near(d, mj(p)), s"pair $p") }
      }
    }
    Dedup.clearCaches()
  }

  test("PQ top-k: the past-cap pipeline ranks identically") {
    for (a <- Seq(fixed, float)) {
      def topk(cap: Int) = rows(Similarity.pqTopKWith(a, queries, planted, dim, 5,
        2, 4, 2, "q_id", "q_vec", "vec_id", "embedding", cap = cap))
      val (driver, join) = (topk(Int.MaxValue), topk(0))
      assert(driver.size == 13 * 5)
      if (a == fixed) assert(join == driver, "fixed top-k drifted")
      else {
        def ranks(s: Seq[Row]) = s.map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
        assert(ranks(join) == ranks(driver))
        join.zip(driver).foreach { case (j, d) =>
          assert(math.abs(j.getDouble(2) - d.getDouble(2)) <= 1e-6)
        }
      }
    }
    Dedup.clearCaches()
  }

  test("ivfPqTopKFixed: coarse join leg alone, and both join legs, are bit-identical") {
    def run(coarseCap: Int, pqCap: Int) = {
      val (cells, cc, cb, codes) = Similarity.ivfPqIndex(planted, dim, 4, 2, 4,
        2, 2, 1L << 20, "vec_id", "embedding", coarseCap, pqCap)
      val top = Similarity.ivfPqScore(queries, codes, cells, cc, cb, dim, 5, 2, 2,
        1L << 20, "q_id", "q_vec", "vec_id")
      Seq(cells, cc, cb, codes, top).map(rows)
    }
    val driver = run(Int.MaxValue, Int.MaxValue)
    assert(driver(4).size == 13 * 5)
    assert(run(0, Int.MaxValue) == driver, "coarse join leg drifted")
    assert(run(0, 0) == driver, "join pipeline drifted")
    Dedup.clearCaches()
  }

  test("kmeans rejects k < 1") {
    for (k <- Seq(0, -1))
      intercept[IllegalArgumentException](Similarity.kmeansCells(planted, k, 2))
    intercept[IllegalArgumentException](Similarity.kmeansCellsFixed(planted, 0, 2))
  }
}
