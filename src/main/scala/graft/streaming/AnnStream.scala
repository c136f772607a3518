package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.Similarity

/** Streaming ANN index MAINTENANCE (VERDICT r12 #9): [[EmbDedupStream]]
  * dedups arrivals but serves no queries; this stream keeps an
  * incremental IVF index over everything ingested so far.
  *
  *  - **Per trigger**: fresh vectors (cross-batch redeliveries dropped by
  *    an id anti-join against the vector store, the WetStream registry
  *    contract) append to `vectors/batch=N` and are assigned to the
  *    FROZEN centroids of the latest fit — one broadcast join of nlist
  *    rows + one max_by aggregation, the `kmeansCells` assignment rule
  *    (cosine, ties to the lower cell).
  *  - **Every `refitEvery` triggers** (the CurateStream cadence, batch 0
  *    included): centroids REFIT over the whole store
  *    ([[Similarity.kmeansCells]]) and a full reassignment snapshot
  *    publishes under this batch id; older assignment/centroid dirs are
  *    then redundant (the snapshot covers every vector) and are pruned —
  *    write-then-delete ordering, so a crash window leaves extra dirs the
  *    latest-batch-wins read ignores, never a gap.
  *  - **Serving** is the batch [[Similarity.ivfTopK]] over the published
  *    store (vectors ⋈ latest assignment per id), so a drained stream
  *    answers the same structural invariants as the batch kmeans IVF
  *    (fp-sensitive training → the ann_ivf_valid stance: rank contiguity,
  *    score monotonicity, neighbor uniqueness, corpus provenance).
  *
  * Scale shape: per non-refit trigger cost is O(batch) — the anti-join
  * touches the store's id column only, the frozen assignment broadcasts
  * nlist centroid rows. A refit is a deliberate O(store) pass on a fixed
  * cadence, exactly like CurateStream's global refit. Queries never run
  * inside the stream — serving reads the published artifacts.
  */
object AnnStream {

  private[streaming] val VectorSchema = "vec_id LONG, embedding ARRAY<DOUBLE>"
  private[streaming] val AssignSchema = "vec_id LONG, cell INT"
  private[streaming] val CentroidSchema = "cell INT, centroid ARRAY<DOUBLE>"

  /** One micro-batch of `(vec_id, embedding)` arrivals. */
  private[streaming] def ingestBatch(workDir: String, k: Int, iters: Int,
                                     refitEvery: Int)
                                    (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    val fresh0 = batch
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .dropDuplicates("vec_id")
    val vecRoot = new Path(s"$workDir/vectors")
    val fs = vecRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh =
      if (fs.exists(vecRoot)) {
        val seen = spark.read.schema(s"$VectorSchema, batch LONG")
          .option("ignoreMissingFiles", "true").parquet(vecRoot.toString)
          .filter(col("batch") =!= batchId) // same-batch replay guard
          .select("vec_id")
        fresh0.join(seen, Seq("vec_id"), "left_anti")
      } else fresh0
    val freshP = fresh.persist()
    try {
      freshP.write.mode("overwrite").parquet(s"$workDir/vectors/batch=$batchId")
      // A frozen assignment needs a published fit to assign against: if no
      // centroid table exists yet (e.g. the cadence's batch 0 was empty and
      // skipped above), refit now regardless of cadence.
      val centRoot = new Path(s"$workDir/centroids")
      val hasFit = fs.exists(centRoot) &&
        fs.listStatus(centRoot).exists(_.getPath.getName.startsWith("batch="))
      if (batchId % refitEvery == 0 || !hasFit) {
        // REFIT: k-means over the whole store (the just-written batch
        // included), full reassignment snapshot + fresh centroid table.
        // The cell attaches as a projection (kmeansCellsAttach, r18) —
        // the former store⋈assignment self-join re-shuffled the whole
        // store every refit for rows that already carried their vectors.
        val all = vectors(spark, workDir)
        val withCells = Similarity.kmeansCellsAttach(all, k, iters)
          .persist()
        try {
          withCells.select(col("vec_id"), col("cell"))
            .write.mode("overwrite").parquet(s"$workDir/assign/batch=$batchId")
          Similarity.centroids(withCells, "cell")
            .write.mode("overwrite").parquet(s"$workDir/centroids/batch=$batchId")
        } finally withCells.unpersist()
        // the snapshot supersedes every earlier assignment/centroid dir:
        // prune AFTER the writes (a crash here leaves redundant dirs the
        // latest-wins read ignores)
        Seq("assign", "centroids").foreach { sub =>
          val root = new Path(s"$workDir/$sub")
          fs.listStatus(root).map(_.getPath)
            .filter { p =>
              val n = p.getName
              n.startsWith("batch=") &&
                n.stripPrefix("batch=").toLong != batchId
            }
            .foreach(p => fs.delete(p, true))
        }
      } else {
        // FROZEN assignment of the fresh vectors to the latest fit. The
        // centroid table is nlist rows of published metadata — collected,
        // the assignment is one argmax projection (identical values to
        // the former broadcast-cross-join + max_by re-aggregation, which
        // multiplied the batch k× and shuffled it back; r18 guide §2.4).
        val cents = latestCentroids(spark, workDir).collect()
          .map(r => (r.getInt(0), r.getSeq[Double](1).toIndexedSeq))
          .toIndexedSeq.sortBy((t: (Int, Seq[Double])) => t._1)
        freshP
          .select(col("vec_id"),
            Similarity.argmaxCellCosine(col("embedding"), cents).as("cell"))
          .write.mode("overwrite").parquet(s"$workDir/assign/batch=$batchId")
      }
    } finally freshP.unpersist()
  }

  /** Every ingested vector (live-dir read — compaction-marker aware). */
  def vectors(spark: SparkSession, workDir: String): DataFrame =
    Compaction.readLive(spark, s"$workDir/vectors", VectorSchema)

  /** The newest centroid table (refits prune older dirs; a crash window
    * may leave extras — max batch wins).
    */
  private[streaming] def latestCentroids(spark: SparkSession,
                                         workDir: String): DataFrame = {
    val all = spark.read.schema(s"$CentroidSchema, batch LONG")
      .option("ignoreMissingFiles", "true").parquet(s"$workDir/centroids")
    val w = Window.partitionBy(col("cell")).orderBy(col("batch").desc)
    all.withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
      .select("cell", "centroid")
  }

  /** The served index: every vector with its LATEST cell assignment (a
    * refit snapshot outranks earlier per-trigger assignments by batch id).
    */
  def index(spark: SparkSession, workDir: String): DataFrame = {
    val assigns = spark.read.schema(s"$AssignSchema, batch LONG")
      .option("ignoreMissingFiles", "true").parquet(s"$workDir/assign")
    val w = Window.partitionBy(col("vec_id")).orderBy(col("batch").desc)
    val latest = assigns.withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1).select("vec_id", "cell")
    vectors(spark, workDir).join(latest, Seq("vec_id"))
  }

  /** Serve top-k queries against the maintained index — the batch
    * [[Similarity.ivfTopK]] over the published store.
    */
  def topK(spark: SparkSession, workDir: String, queries: DataFrame,
           k: Int, nprobe: Int = 2): DataFrame =
    Similarity.ivfTopK(queries, index(spark, workDir), cellCol = "cell",
      k = k, nprobe = nprobe)

  /** The streaming maintenance leg over `(vec_id, embedding)` rows; the
    * caller picks the trigger and starts it, like every writer in the
    * suite.
    */
  def writer(vecs: DataFrame, workDir: String, checkpointDir: String,
             k: Int, iters: Int = 2, refitEvery: Int = 2): DataStreamWriter[Row] = {
    // k < 1 would publish an empty centroid table on the first refit, and
    // every later frozen assignment would then write NULL cells
    require(k >= 1, s"AnnStream needs at least one cell, got k=$k")
    require(refitEvery >= 1, s"refitEvery must be >= 1, got $refitEvery")
    vecs.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(ingestBatch(workDir, k, iters, refitEvery) _)
  }
}
