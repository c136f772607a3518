package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Composable built-in formulations of the native vector kernels — the
  * references DotProductSpec and SimilarityProps test the codegen'd
  * expressions against.
  */
object HofForms {

  /** [[Similarity.dot]] as `aggregate(zip_with(...))`: the same
    * left-to-right multiply-accumulate, NULL on a length mismatch.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)
}
