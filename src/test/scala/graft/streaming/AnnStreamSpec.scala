package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** AnnStream: refit cadence, frozen assignment between refits, snapshot
  * pruning, redelivery idempotence, and exact-duplicate serving.
  */
class AnnStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = graft.util.Scratch.dir(p)

  // two well-separated directions in 4-d space, small within-cluster jitter
  private def vec(base: Int, j: Int): Seq[Double] =
    if (base == 0) Seq(1.0, 0.02 * j, 0.0, 0.0)
    else Seq(0.0, 0.0, 1.0, 0.02 * j)

  private def batchOf(rows: (Long, Seq[Double])*) =
    rows.toDF("vec_id", "embedding")

  test("refit at batch 0, frozen assignment at batch 1, snapshot refit at 2") {
    val work = tmp("annspec_cadence")
    val ingest = AnnStream.ingestBatch(work, k = 2, iters = 2, refitEvery = 2) _
    // batch 0 (refit): two clear clusters
    ingest(batchOf(0L -> vec(0, 0), 1L -> vec(0, 1), 10L -> vec(1, 0),
      11L -> vec(1, 1)), 0L)
    val idx0 = AnnStream.index(spark, work).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    assert(idx0.size == 4)
    assert(idx0(0L) == idx0(1L) && idx0(10L) == idx0(11L) &&
      idx0(0L) != idx0(10L), "k-means must separate the planted clusters")
    // batch 1 (frozen): one arrival per cluster — must join its own side
    ingest(batchOf(2L -> vec(0, 2), 12L -> vec(1, 2)), 1L)
    val idx1 = AnnStream.index(spark, work).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    assert(idx1.size == 6)
    assert(idx1(2L) == idx1(0L), "frozen assignment to the nearest centroid")
    assert(idx1(12L) == idx1(10L))
    // batch 2 (refit): snapshot covers everything; older dirs pruned
    ingest(batchOf(3L -> vec(0, 3)), 2L)
    def dirs(sub: String) =
      new java.io.File(s"$work/$sub").listFiles().map(_.getName)
        .filter(_.startsWith("batch=")).toSet
    assert(dirs("assign") == Set("batch=2"),
      "the refit snapshot supersedes and prunes earlier assignments")
    assert(dirs("centroids") == Set("batch=2"))
    assert(AnnStream.index(spark, work).count() == 7)
  }

  test("first data on a non-refit batch id refits instead of reading a " +
    "missing centroid table") {
    val work = tmp("annspec_latefirst")
    val ingest = AnnStream.ingestBatch(work, k = 2, iters = 2, refitEvery = 2) _
    // batch 0 empty → skipped, no fit ever published; batch 1 is off-cadence
    ingest(batchOf(), 0L)
    ingest(batchOf(0L -> vec(0, 0), 1L -> vec(0, 1), 10L -> vec(1, 0),
      11L -> vec(1, 1)), 1L)
    val idx = AnnStream.index(spark, work).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    assert(idx.size == 4)
    assert(idx(0L) == idx(1L) && idx(10L) == idx(11L) && idx(0L) != idx(10L),
      "the forced first refit must separate the planted clusters")
    def dirs(sub: String) =
      new java.io.File(s"$work/$sub").listFiles().map(_.getName)
        .filter(_.startsWith("batch=")).toSet
    assert(dirs("centroids") == Set("batch=1"),
      "the forced refit publishes a centroid snapshot under its own batch id")
    // batch 2 is back on cadence and refits normally over the whole store
    ingest(batchOf(2L -> vec(0, 2)), 2L)
    assert(AnnStream.index(spark, work).count() == 5)
  }

  test("redelivered vectors are dropped; same-batch replay is idempotent") {
    val work = tmp("annspec_redeliver")
    val ingest = AnnStream.ingestBatch(work, k = 2, iters = 1, refitEvery = 2) _
    ingest(batchOf(0L -> vec(0, 0), 10L -> vec(1, 0)), 0L)
    // same-batch replay: overwrite, not double
    ingest(batchOf(0L -> vec(0, 0), 10L -> vec(1, 0)), 0L)
    assert(AnnStream.vectors(spark, work).count() == 2)
    // later batch redelivering id 0 commits only the new id
    ingest(batchOf(0L -> vec(0, 0), 1L -> vec(0, 1)), 1L)
    assert(AnnStream.vectors(spark, work).count() == 3)
    assert(AnnStream.index(spark, work).count() == 3)
  }

  test("serving: an indexed vector retrieves itself at rank 1, sim 1") {
    val work = tmp("annspec_serve")
    val ingest = AnnStream.ingestBatch(work, k = 2, iters = 2, refitEvery = 2) _
    ingest(batchOf(0L -> vec(0, 0), 1L -> vec(0, 1), 10L -> vec(1, 0),
      11L -> vec(1, 1)), 0L)
    ingest(batchOf(2L -> vec(0, 2), 12L -> vec(1, 2)), 1L)
    val queries = Seq((2L, vec(0, 2))).toDF("q_id", "q_vec")
    val top = AnnStream.topK(spark, work, queries, k = 3, nprobe = 1)
      .orderBy("rank").collect()
    assert(top.head.getAs[Long]("vec_id") == 2L &&
      top.head.getAs[Double]("sim") == 1.0 &&
      top.head.getAs[Int]("rank") == 1,
      "a corpus vector must retrieve itself first")
    assert(top.forall(r => r.getAs[Long]("vec_id") < 10L),
      "nprobe=1 stays inside the query's own cluster cell")
  }

  test("writer rejects k < 1 before any batch runs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Seq[Double])]
    // with no cell, the first refit would publish an empty centroid table
    // and every frozen assignment after it would write NULL cells
    intercept[IllegalArgumentException] {
      AnnStream.writer(in.toDF().toDF("vec_id", "embedding"),
        tmp("annspec_k0"), tmp("annspec_k0_cp"), k = 0)
    }
  }

  test("writer rejects refitEvery < 1 before any batch runs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Seq[Double])]
    // the cadence is `batchId % refitEvery`: 0 divides by zero, a negative
    // cadence never matches — either must fail at construction, not on
    // the first non-empty micro-batch
    Seq(0, -1).foreach { r =>
      val e = intercept[IllegalArgumentException] {
        AnnStream.writer(in.toDF().toDF("vec_id", "embedding"),
          tmp("annspec_r0"), tmp("annspec_r0_cp"), k = 2, refitEvery = r)
      }
      assert(e.getMessage.contains("refitEvery"), e.getMessage)
    }
  }
}
