package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tooling (a standalone main, like graft.QTime): inflate a testdata
  * SF directory N× for scale confirmation runs (VERDICT r05 #5 — one
  * order-of-magnitude datapoint grounding the 100×-design claims). Each
  * copy i shifts every surrogate key by i·10⁹, so referential integrity
  * (orders→customer, lineitem→orders/part/supplier, copies of a key
  * domain agreeing across tables) holds within each copy. Dimension-grain
  * tables (region, nation) stay single-copy — their keys are foreign keys
  * of the copied tables and 10× would break uniqueness without changing
  * any plan shape. NOT for correctness oracles — the driver's own parquet
  * stays the only correctness input; this exists solely to measure.
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <destDir> <copies>
  */
object ScaleUp {

  private val Off = 1000000000L

  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val passThrough = Seq("region", "nation")

  /** Materialize the inflated copy under `dest` using an existing
    * session — callable from [[graft.Bench]]'s standing sf1 leg as well
    * as this tool's main.
    */
  def build(spark: SparkSession, src: String, dest: String,
            copies: Int): Unit = {
    require(copies >= 1, s"copies must be >= 1, got $copies")
    new java.io.File(dest).mkdirs()
    def shifted(df: DataFrame, keys: Seq[String], i: Int): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(Off * i)))
    passThrough.foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dest/$t.parquet")
    }
    keyCols.foreach { case (t, keys) =>
      val base = spark.read.parquet(s"$src/$t.parquet")
      (0 until copies).map(i => shifted(base, keys, i))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dest/$t.parquet")
      System.err.println(s"[scaleup] $t x$copies done")
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(src, dest, copiesStr) = args
    val spark = graft.Session.local()
    build(spark, src, dest, copiesStr.toInt)
    spark.stop()
  }
}
