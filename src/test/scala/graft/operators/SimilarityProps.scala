package graft.operators

import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.SparkSpec

/** ScalaCheck properties for the vector kernels: the native codegen'd
  * DotProduct must agree bit-for-bit with the HOF formulation on arbitrary
  * equal-length vectors, and cosine must stay in [-1, 1] with
  * self-similarity ≈ 1 for non-zero vectors.
  */
object SimilarityProps extends Properties("Similarity") {

  private lazy val spark = SparkSpec.session

  private val finite = Gen.choose(-1e6, 1e6)
  private val vecPair: Gen[(List[Double], List[Double])] = for {
    n <- Gen.choose(0, 24)
    a <- Gen.listOfN(n, finite)
    b <- Gen.listOfN(n, finite)
  } yield (a, b)

  property("native dot == HOF dot bit-for-bit on random equal-length vectors") =
    forAll(Gen.listOf(vecPair)) { pairs =>
      import spark.implicits._
      pairs.isEmpty || {
        val df = pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
          .toDF("id", "a", "b")
        df.select(
            Similarity.dot(col("a"), col("b")).as("n"),
            HofForms.dotHof(col("a"), col("b")).as("h"))
          .collect()
          .forall { r =>
            // == on doubles: bit-identical is the contract (both are NaN-free
            // for finite inputs of this magnitude)
            r.getDouble(0) == r.getDouble(1)
          }
      }
    }

  property("cosine ∈ [-1-ε, 1+ε]; cosine(v, v) ≈ 1 for non-zero v") =
    forAll(Gen.nonEmptyListOf(Gen.nonEmptyListOf(finite))) { vecs =>
      import spark.implicits._
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val rows = df.select(Similarity.cosine(col("v"), col("v")).as("self"))
        .collect().map(_.getDouble(0))
      rows.zip(vecs).forall { case (c, v) =>
        if (v.forall(_ == 0.0)) c == 0.0           // all-zero → defined as 0
        else math.abs(c - 1.0) < 1e-9              // self-similarity
      }
    }
}
