package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Passages

/** Streaming exact-substring (duplicated-passage) dedup: each arriving
  * micro-batch of documents is cleaned against the window-hash REGISTRY of
  * every PRIOR batch — any passage an earlier ingest already owns strips
  * from today's documents — plus the intra-batch pass under the canonical
  * smallest-(doc, pos) rule ([[Passages.cleanIncremental]] is the whole
  * per-batch computation; batch and stream share it by construction, the
  * Text.analyzed stance).
  *
  * Idempotence: both sinks are per-batch partition dirs overwritten by
  * batch id (the KPI sink's recipe), and the registry read EXCLUDES the
  * current batch's partition, so an at-least-once redelivery recomputes
  * the identical clean output instead of self-colliding with its own
  * half-written hashes.
  *
  * Scale contract: the registry holds 8-byte window hashes, never text;
  * the per-batch probe is a semi-join (batch hashes × registry), so
  * shuffle volume is O(today's windows) — the registry SCAN itself is
  * O(hashes ever seen) per trigger, columnar-pruned to the one long
  * column. A deployment outgrowing that scan composes the
  * [[graft.operators.Bloom]] prefilter in front of the semi-join
  * (the dedup_bloom_registry recipe: no false negatives, exact verify
  * behind), or buckets the registry by hash so the probe joins
  * bucket-to-bucket without reshuffling the archive.
  */
object PassageStream {

  /** The registry's committed schema — what [[cleanAndRegister]] WRITES to
    * `registry/batch=N` (the distinct new window hashes plus the partition
    * column). Every registry read pins this (never inference): a mismatch
    * with the write path must fail loudly at the write, not surface as
    * silently-null columns in a later read (ADVICE r09).
    */
  private[streaming] val RegistrySchema = "win_hash LONG, batch LONG"

  /** foreachBatch sink: clean the batch against the prior-batch registry,
    * write cleaned docs to `clean/batch=N` and the batch's distinct
    * new window hashes to `registry/batch=N` (both overwrite-by-batch).
    */
  def cleanAndRegister(workDir: String, w: Int = 8, minDocs: Int = 2)
                      (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val regRoot = new Path(s"$workDir/registry")
    val fs = regRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // two consumers (clean + registry) read the batch frame; un-persisted,
    // the streaming source plan would re-execute per action (the
    // JointKpis ADVICE r06 lesson)
    batch.persist()
    try {
      // explicit schema (ADVICE r08): a crash during the FIRST batch's
      // registry write can leave registry/ existing with only _temporary
      // underneath — schema inference over zero committed files would fail
      // the redelivered batch permanently, but a schema-pinned read of an
      // empty root is just an empty frame. ignoreMissingFiles covers the
      // other race: a concurrent compaction deleting absorbed partitions
      // after this trigger's scan listed them.
      val registry =
        if (fs.exists(regRoot))
          spark.read.schema(RegistrySchema)
            .option("ignoreMissingFiles", "true")
            .parquet(regRoot.toString)
            .filter(col("batch") =!= batchId).select("win_hash")
        else spark.range(0).select(col("id").as("win_hash"))
      val (cleaned, newHashes) = Passages.cleanIncremental(
        batch, "doc_id", "text", registry, w, minDocs)
      cleaned.write.mode("overwrite")
        .parquet(s"$workDir/clean/batch=$batchId")
      newHashes.write.mode("overwrite")
        .parquet(s"$workDir/registry/batch=$batchId")
    } finally batch.unpersist()
  }

  /** The cleaned corpus across all drained batches. */
  def readClean(spark: SparkSession, workDir: String): DataFrame =
    spark.read.parquet(s"$workDir/clean").select("doc_id", "text")

  /** Compact registry partitions for batches BELOW `upToBatch` (plus any
    * earlier compacted blob) into ONE distinct-hash partition under a
    * fresh reserved NEGATIVE batch id, then delete the absorbed
    * partitions — a long-running stream otherwise accumulates one
    * directory per trigger and every probe pays the file-listing fan-in.
    * Negative ids can never equal a live batch id, so the current-batch
    * exclusion filter keeps working.
    *
    * Crash-safe by ordering, not locking: the new blob is WRITTEN (under
    * the next unused negative id, decreasing monotonically) before
    * anything is deleted, so every interruption window leaves at worst
    * duplicate hashes across partitions — harmless to a semi-join probe —
    * never a loss; the next compaction absorbs any leftovers.
    *
    * Redelivery boundary: only compact batches the CHECKPOINT has
    * committed past. An at-least-once source redelivers at most the last
    * uncommitted batch; a redelivered batch whose own partition was folded
    * into the blob would see its OWN hashes as registry-era and strip
    * everything. Pass the last-committed batch id (exclusive) and the
    * invariant holds.
    *
    * Reader coordination (ADVICE r08): the crash-safe ordering protects
    * against interruption, not against a CONCURRENT trigger whose registry
    * scan already listed the partitions this call deletes — run compaction
    * between triggers (e.g. from the foreachBatch thread itself, after the
    * sink writes), which is also where the committed-batch boundary is
    * known. The probe read additionally sets ignoreMissingFiles, so even a
    * mis-scheduled compaction degrades to a smaller registry view (exact
    * verify still behind the probe), never a failed trigger.
    */
  def compactRegistry(spark: SparkSession, workDir: String,
                      upToBatch: Long): Unit = {
    val regRoot = new Path(s"$workDir/registry")
    val fs = regRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(regRoot)) return
    val ids = fs.listStatus(regRoot).map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong)
    val absorbed = ids.filter(id => id < 0 || id < upToBatch)
    if (absorbed.count(_ >= 0) == 0 && absorbed.length <= 1) return
    val newId = math.min(ids.min, 0L) - 1L
    // same pinned schema + missing-file tolerance as the trigger-side
    // probe read (ADVICE r09): compaction scans the identical tree and is
    // exposed to the identical first-batch-_temporary and
    // concurrent-delete races
    val merged = spark.read.schema(RegistrySchema)
      .option("ignoreMissingFiles", "true")
      .parquet(regRoot.toString)
      .filter(col("batch") < 0 || col("batch") < upToBatch)
      .select("win_hash").distinct()
    // stage OUTSIDE the partitioned root (never write into a tree being
    // read), then rename to the fresh reserved id — both steps leave the
    // absorbed partitions authoritative until the blob is fully in place
    val tmp = new Path(s"$workDir/registry_compact_tmp")
    fs.delete(tmp, true)
    merged.write.mode("overwrite").parquet(tmp.toString)
    // a failed rename must abort before the absorbed partitions go
    graft.state.SnapshotStore.renameOrFail(fs, tmp, new Path(s"$regRoot/batch=$newId"))
    absorbed.foreach(id => fs.delete(new Path(s"$regRoot/batch=$id"), true))
  }
}
