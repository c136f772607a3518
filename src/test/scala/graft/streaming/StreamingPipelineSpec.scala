package graft.streaming

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.transform.Kpis

/** ST1/ST2/ST4/ST5/ST7 end-to-end: file-arrival stream → cumulative KPI
  * aggregation → idempotent upsert sink, with the checkpoint providing
  * exactly-once over files (SURVEY.md §5.4).
  */
class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Land a frame as ONE complete parquet file inside `dir` (the file
    * source needs whole files appearing atomically, like S3 uploads).
    */
  private def landFile(df: DataFrame, dir: String, name: String): Unit = {
    val stage = tmp("graft_stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.createDirectories(Paths.get(dir))
    Files.move(part, Paths.get(dir, name + ".parquet"))
  }

  /** Enriched item rows (category, day, price, returned), one order per
    * row; order ids carry `file` so later files add new orders.
    */
  private def enrichedRows(file: String,
                           rows: Seq[(String, java.sql.Date, Double, Boolean)]): DataFrame =
    rows.zipWithIndex.map { case ((c, d, p, r), i) =>
      (s"$file-$i", i.toLong, i.toLong, c, d, p, r)
    }.toDF("order_id", "user_id", "product_id", "category", "order_date",
      "sale_price", "is_returned")

  private def landItems(rows: Seq[(String, java.sql.Date, Double, Boolean)],
                        dir: String, name: String): Unit =
    landFile(enrichedRows(name, rows), dir, name)

  /** Drain the joint KPI writer over the file-arrival stream of `inputDir`. */
  private def drain(inputDir: String, root: String, checkpoint: String): Unit = {
    val stream = spark.readStream
      .schema(enrichedRows("", Seq.empty).schema)
      .parquet(inputDir)
    val q = JointKpis.writerManifested(stream, root, checkpoint)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  // (category, day) → (daily_revenue, avg_order_value, avg_return_rate)
  private def kpiMap(df: DataFrame): Map[(String, String), (Double, Double, Double)] =
    df.select("category", "order_date", "daily_revenue", "avg_order_value",
        "avg_return_rate")
      .collect().map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap

  private def readTarget(root: String) =
    kpiMap(JointKpis.categoryTableManifested(spark, root))

  private def readDaily(root: String) =
    dailyMap(JointKpis.dailyTableManifested(spark, root))

  test("streaming KPIs equal the batch computation and re-draining is a no-op") {
    val (in, out, cp) = (tmp("graft_in"), tmp("graft_out"), tmp("graft_cp"))
    val d1 = java.sql.Date.valueOf("2024-01-01")

    landItems(Seq(
      ("toys", d1, 10.0, false), ("toys", d1, 30.0, true),
      ("books", d1, 5.0, false)), in, "f1")
    drain(in, out, cp)

    val after1 = readTarget(out)
    assert(after1(("toys", "2024-01-01")) == (40.0, 20.0, 0.5))
    assert(after1(("books", "2024-01-01")) == (5.0, 5.0, 0.0))

    // ST2: nothing new → second drain must not change either table
    val daily1 = readDaily(out)
    drain(in, out, cp)
    assert(readTarget(out) == after1)
    assert(readDaily(out) == daily1)

    // ST5: a late file updates the cumulative aggregate for existing keys
    landItems(Seq(("toys", d1, 60.0, false)), in, "f2")
    drain(in, out, cp)
    val after2 = readTarget(out)
    assert(after2(("toys", "2024-01-01")) == (100.0, 100.0 / 3, 1.0 / 3))
    assert(after2(("books", "2024-01-01")) == (5.0, 5.0, 0.0)) // untouched key kept

    // batch parity: both streamed tables equal the batch KPIs over all files
    val all = spark.read.parquet(in)
    assert(after2 == kpiMap(Kpis.categoryKpis(all)))
    assert(readDaily(out) == dailyMap(Kpis.dailyKpis(all)))
  }

  test("partitioned KPI writer equals the whole-table writer and the batch result") {
    val (in, out, cp) = (tmp("graft_pin"), tmp("graft_pout2"), tmp("graft_pcp"))
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    landItems(Seq(
      ("toys", d1, 10.0, false), ("toys", d2, 30.0, true),
      ("books", d1, 5.0, false)), in, "f1")
    drain(in, out, cp)
    // second file touches ONLY d2 — the d1 partitions must survive the
    // partition replace untouched
    landItems(Seq(("toys", d2, 60.0, false)), in, "f2")
    drain(in, out, cp)
    val all = spark.read.parquet(in)
    assert(readTarget(out) == kpiMap(Kpis.categoryKpis(all)))
    assert(readDaily(out) == dailyMap(Kpis.dailyKpis(all)))
    // the table really is laid out by date partition, and the second
    // commit wrote only the day it touched (d1 is inherited by reference)
    val root = new org.apache.hadoop.fs.Path(out)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = graft.state.SnapshotStore.currentVersion(fs, root).get
    val written = fs.listStatus(new org.apache.hadoop.fs.Path(
        graft.state.SnapshotStore.versionDir(root, v), "category"))
      .map(_.getPath.getName).filter(_.startsWith("order_date=")).toSeq
    assert(written == Seq("order_date=2024-01-02"), written.mkString(","))
  }

  test("upsertBatch recovers the table from a backup left by a crashed swap") {
    val out = tmp("graft_recover")
    val b1 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    StreamingPipeline.upsertBatch(out, Seq("k"))(b1, 0L)
    // simulate a crash between rename(cur, bak) and rename(tmp, cur):
    // the table exists only as _bak_1
    val data = new java.io.File(out, "data")
    assert(data.renameTo(new java.io.File(out, "_bak_1")))
    // next batch must restore the backup and merge against it
    val b2 = Seq((2L, 21.0), (3L, 30.0)).toDF("k", "v")
    StreamingPipeline.upsertBatch(out, Seq("k"))(b2, 2L)
    val table = spark.read.parquet(out + "/data")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(table == Set((1L, 10.0), (2L, 21.0), (3L, 30.0)))
  }

  test("a partition backup is never promoted to be the whole table") {
    val out = tmp("graft_pwhole")
    val b1 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    StreamingPipeline.upsertBatch(out, Seq("k"))(b1, 0L)
    // worst case: the data dir is gone AND a partition-named backup (the
    // `_bak_<id>_<col>=<value>` form) lingers — recoverBackup must not
    // rename it to be `data`
    val data = new java.io.File(out, "data")
    assert(data.renameTo(new java.io.File(out, "data_detached")))
    Seq((9L, -1.0)).toDF("k", "v").write
      .parquet(new java.io.File(out, "_bak_1_day=2024-01-02").toString)

    val b2 = Seq((1L, 11.0)).toDF("k", "v")
    StreamingPipeline.upsertBatch(out, Seq("k"))(b2, 1L)
    // nothing was promoted: the table is the new batch alone, and the
    // partition backup is still where it was
    val table = spark.read.parquet(out + "/data")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(table == Set((1L, 11.0)))
    assert(new java.io.File(out, "_bak_1_day=2024-01-02").isDirectory)
  }

  test("a swap whose rename fails throws and the table still reads back") {
    import graft.RenameFailingFileSystem
    val out = tmp("graft_swapfail")
    def table() = spark.read.parquet(out + "/data")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    StreamingPipeline.upsertBatch(out, Seq("k"))(Seq((1L, 10.0)).toDF("k", "v"), 0L)
    // the same files through a file system whose rename of the staged
    // table (`_staging_<id>` → `data`) returns false, after the live table
    // has been moved to its backup
    val b1 = Seq((1L, 11.0), (2L, 20.0)).toDF("k", "v")
    RenameFailingFileSystem.failing(spark.sparkContext.hadoopConfiguration,
      _.getName.startsWith("_staging_")) {
      intercept[java.io.IOException](
        StreamingPipeline.upsertBatch(RenameFailingFileSystem.root(out), Seq("k"))(b1, 1L))
    }
    assert(table() == Set((1L, 10.0)))
    StreamingPipeline.upsertBatch(out, Seq("k"))(b1, 1L)
    assert(table() == Set((1L, 11.0), (2L, 20.0)))
  }

  // ---- streaming daily KPIs (VERDICT r04 #1: the second KPI table) ----

  private def enrichedOrderRows(
      rows: Seq[(String, Long, Long, Double, Boolean, java.sql.Date)]): DataFrame =
    rows.map { case (o, u, p, price, r, d) => (o, u, p, s"cat$p", price, r, d) }
      .toDF("order_id", "user_id", "product_id", "category", "sale_price",
        "is_returned", "order_date")

  private def dailyMap(df: DataFrame): Map[String, (Long, Double, Long, Double, Long)] =
    df.select("order_date", "total_orders", "total_revenue",
        "total_items_sold", "return_rate", "unique_customers")
      .collect().map(r => r.get(0).toString ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4), r.getLong(5)))
      .toMap

  test("streaming daily KPIs equal the exact batch computation cumulatively") {
    val (in, out, cp) = (tmp("graft_din"), tmp("graft_dout"), tmp("graft_dcp"))
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    def drainD(): Unit = {
      val stream = spark.readStream
        .schema(enrichedOrderRows(Seq.empty).schema).parquet(in)
      val q = StreamingPipeline.dailyKpiWriterPartitioned(stream, out, cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    landFile(enrichedOrderRows(Seq(
      ("o1", 1L, 10L, 10.0, false, d1),
      ("o1", 1L, 11L, 30.0, true, d1),   // same order, second item
      ("o2", 2L, 10L, 5.0, false, d1),
      ("o3", 1L, 12L, 7.0, false, d2))), in, "f1")
    drainD()
    // HLL++ is exact at these cardinalities (sparse mode), so the streamed
    // sketch columns must EQUAL the batch countDistinct, not just approach it
    assert(dailyMap(StreamingPipeline.readSnapshot(spark, out)) ==
      dailyMap(Kpis.dailyKpis(spark.read.parquet(in))))

    // ST5: a late file revises d1 (new order, NEW user) — the cumulative
    // sketches restate, the untouched d2 partition survives the upsert
    landFile(enrichedOrderRows(Seq(
      ("o4", 3L, 10L, 20.0, false, d1))), in, "f2")
    drainD()
    val after = dailyMap(StreamingPipeline.readSnapshot(spark, out))
    assert(after == dailyMap(Kpis.dailyKpis(spark.read.parquet(in))))
    assert(after("2024-01-01") == (3L, 65.0, 4L, 1.0 / 3, 3L))
    assert(after("2024-01-02") == (1L, 7.0, 1L, 0.0, 1L))
  }

  test("partitioned daily KPI writer lays the table out by day and matches batch") {
    val (in, out, cp) = (tmp("graft_dpin"), tmp("graft_dpout"), tmp("graft_dpcp"))
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    landFile(enrichedOrderRows(Seq(
      ("o1", 1L, 10L, 10.0, false, d1),
      ("o2", 2L, 11L, 30.0, true, d2))), in, "f1")
    val stream = spark.readStream
      .schema(enrichedOrderRows(Seq.empty).schema).parquet(in)
    val q = StreamingPipeline.dailyKpiWriterPartitioned(stream, out, cp)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(dailyMap(StreamingPipeline.readSnapshot(spark, out)) ==
      dailyMap(Kpis.dailyKpis(spark.read.parquet(in))))
    // the committed version's manifest names one partition dir per day
    val root = new org.apache.hadoop.fs.Path(out)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = graft.state.SnapshotStore.currentVersion(fs, root).get
    val m = graft.state.ManifestStore.readManifest(fs, root, v)
    assert(m.keySet == Set("order_date=2024-01-01", "order_date=2024-01-02"), s"manifest $m")
    assert(m.forall { case (d, o) => fs.isDirectory(new org.apache.hadoop.fs.Path(
      graft.state.SnapshotStore.versionDir(root, o), d)) }, s"manifest $m")
  }

  test("a partitioned daily KPI trigger runs its state stage once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val (out, cp) = (tmp("graft_dponce"), tmp("graft_dponce_cp"))
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    val input = MemoryStream[(String, Long, Long, String, Double, Boolean, java.sql.Date)]
    val q = StreamingPipeline.dailyKpiWriterPartitioned(input.toDF().toDF("order_id",
      "user_id", "product_id", "category", "sale_price", "is_returned", "order_date"),
      out, cp).start()
    // the second trigger merges into d1's committed partition
    val batches = Seq(
      Seq(("o1", 1L, 10L, "c", 10.0, false, d1), ("o2", 2L, 11L, "c", 5.0, true, d2)),
      Seq(("o3", 3L, 10L, "c", 7.0, false, d1)))
    try batches.zipWithIndex.foreach { case (rows, i) =>
      input.addData(rows: _*)
      val (_, _, stateStages) = graft.JobAudit.stateStagesDuring(spark)(q.processAllAvailable())
      assert(stateStages == 1, s"trigger $i ran its state stage $stateStages times")
    } finally q.stop()
    assert(dailyMap(StreamingPipeline.readSnapshot(spark, out)) == dailyMap(Kpis.dailyKpis(
      batches.flatten.toDF("order_id", "user_id", "product_id", "category",
        "sale_price", "is_returned", "order_date"))))
  }

  test("EXACT streaming daily KPIs equal the batch computation bit-for-bit, cumulatively") {
    val (in, out, cp) = (tmp("graft_ein"), tmp("graft_eout"), tmp("graft_ecp"))
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    def drainE(): Unit = {
      val stream = spark.readStream
        .schema(enrichedOrderRows(Seq.empty).schema).parquet(in)
      val q = JointKpis.writerManifested(stream, out, cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    landFile(enrichedOrderRows(Seq(
      ("o1", 1L, 10L, 10.0, false, d1),
      ("o1", 1L, 11L, 30.0, true, d1),
      ("o2", 2L, 10L, 5.0, false, d1),
      ("o3", 1L, 12L, 7.0, false, d2))), in, "f1")
    drainE()
    assert(readDaily(out) == dailyMap(Kpis.dailyKpis(spark.read.parquet(in))))
    // late revision: a new order+user on d1, and a duplicate ORDER id on
    // d2 (distinct must not double count it)
    landFile(enrichedOrderRows(Seq(
      ("o4", 3L, 10L, 20.0, false, d1),
      ("o3", 1L, 13L, 2.0, true, d2))), in, "f2")
    drainE()
    val after = readDaily(out)
    assert(after == dailyMap(Kpis.dailyKpis(spark.read.parquet(in))))
    assert(after("2024-01-02") == (1L, 9.0, 2L, 1.0, 1L))
  }

  test("st_daily_kpis registered query: every comparison flag true on testdata") {
    // the driver-oracle shape: real partitioned streaming writer vs the
    // exact batch dailyKpis — exact columns equal, sketch columns within 5%
    val rows = graft.SparkEntry.queries("st_daily_kpis")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => (1 to 5).forall(r.getBoolean)),
      "a streamed daily KPI diverged from the batch computation")
  }

  // ---- writer-concurrency fencing (VERDICT r04 #4) ----

  private def writeLock(out: String, pid: Long, host: String, ts: Long): java.io.File = {
    new java.io.File(out).mkdirs()
    val lock = new java.io.File(out, "_writer_lock")
    java.nio.file.Files.writeString(lock.toPath, s"pid=$pid host=$host ts=$ts\n")
    lock
  }

  test("snapshot streaming writers drain to the same tables as the rename-swap ones") {
    val dir = "/root/testdata/sf0.001"
    val enr = Kpis.enrich(
      graft.sources.TestdataAdapter.orders(spark, dir),
      graft.sources.TestdataAdapter.orderItems(spark, dir),
      graft.sources.TestdataAdapter.products(spark, dir))
      .select("order_id", "user_id", "product_id", "category", "sale_price",
        "is_returned", "order_date")
    val stage = tmp("graft_snapw_in")
    enr.write.mode("overwrite").parquet(stage)
    // a cumulative update-mode aggregation drained into a snapshot upsert
    def drain(kpis: DataFrame => DataFrame,
              sink: (DataFrame, Long) => Unit): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(stage).schema).parquet(stage)
      val q = kpis(stream).writeStream
        .outputMode("update")
        .option("checkpointLocation", tmp("graft_snapw_cp"))
        .foreachBatch(sink)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val catOut = tmp("graft_snapw_cat")
    drain(Kpis.categoryKpis,
      StreamingPipeline.upsertBatchSnapshot(catOut, Seq("category", "order_date")))
    def catRows(df: DataFrame) =
      df.select("category", "order_date", "daily_revenue").collect()
        .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2))).toSet
    assert(catRows(StreamingPipeline.readSnapshot(spark, catOut))
      == catRows(Kpis.categoryKpis(enr)))
    val dayOut = tmp("graft_snapw_day")
    drain(Kpis.dailyKpisStreaming(_),
      StreamingPipeline.upsertBatchSnapshot(dayOut, Seq("order_date"),
        Some("order_date")))
    // sketch-based daily stream: compare the exact columns
    def dayRows(df: DataFrame) =
      df.select("order_date", "total_revenue", "total_items_sold").collect()
        .map(r => (r.getDate(0).toString, r.getDouble(1), r.getLong(2))).toSet
    assert(dayRows(StreamingPipeline.readSnapshot(spark, dayOut))
      == dayRows(Kpis.dailyKpis(enr)))
  }

  test("a second concurrent writer fails fast instead of interleaving swaps") {
    val out = tmp("graft_lock1")
    val b = Seq((1L, 10.0)).toDF("k", "v")
    // a LIVE concurrent writer: the lock names this very (alive) process
    val lock = writeLock(out, ProcessHandle.current().pid(),
      java.net.InetAddress.getLocalHost.getHostName, System.currentTimeMillis())
    val e = intercept[IllegalStateException] {
      StreamingPipeline.upsertBatch(out, Seq("k"))(b, 0L)
    }
    assert(e.getMessage.contains("another writer"))
    assert(!new java.io.File(out, "data").exists()) // loser wrote nothing
    // same contract on the snapshot sink
    val bp = Seq(("2024-01-01", 1L, 10.0)).toDF("day", "k", "v")
    intercept[IllegalStateException] {
      StreamingPipeline.upsertBatchSnapshot(out, Seq("k"), Some("day"))(bp, 0L)
    }
    assert(!new java.io.File(out, "_current").exists()) // nothing committed
    lock.delete()
    StreamingPipeline.upsertBatch(out, Seq("k"))(b, 0L) // released → proceeds
    assert(spark.read.parquet(out + "/data").count() == 1)
    assert(!new java.io.File(out, "_writer_lock").exists()) // released after the batch
  }

  test("locks from crashed writers are broken: dead pid on this host, stale foreign host") {
    val host = java.net.InetAddress.getLocalHost.getHostName
    val b = Seq((1L, 10.0)).toDF("k", "v")
    // dead-pid lock (pid 2^31-1 exceeds linux pid_max — provably not alive)
    val out1 = tmp("graft_lock2")
    writeLock(out1, Int.MaxValue.toLong, host, System.currentTimeMillis())
    StreamingPipeline.upsertBatch(out1, Seq("k"))(b, 0L)
    assert(spark.read.parquet(out1 + "/data").count() == 1)
    // stale foreign-host lock (older than the 10-minute staleness bound)
    val out2 = tmp("graft_lock3")
    writeLock(out2, 1L, "some-other-host", System.currentTimeMillis() - 11 * 60 * 1000L)
    StreamingPipeline.upsertBatch(out2, Seq("k"))(b, 0L)
    assert(spark.read.parquet(out2 + "/data").count() == 1)
    // fresh foreign-host lock: held — must fail fast
    val out3 = tmp("graft_lock4")
    writeLock(out3, 1L, "some-other-host", System.currentTimeMillis())
    intercept[IllegalStateException] {
      StreamingPipeline.upsertBatch(out3, Seq("k"))(b, 0L)
    }
  }

  test("a corrupt (mid-write-crash) lock is broken after the staleness bound") {
    // code-review r5: an unparseable token has no trustworthy host/ts —
    // age falls back to the FILE mtime so the lock isn't unbreakable forever
    val out = tmp("graft_lockc")
    new java.io.File(out).mkdirs()
    val lock = new java.io.File(out, "_writer_lock")
    java.nio.file.Files.writeString(lock.toPath, "pid=123 ho") // truncated
    assert(lock.setLastModified(System.currentTimeMillis() - 11 * 60 * 1000L))
    val b = Seq((1L, 10.0)).toDF("k", "v")
    StreamingPipeline.upsertBatch(out, Seq("k"))(b, 0L)
    assert(spark.read.parquet(out + "/data").count() == 1)
    // a FRESH corrupt lock still blocks (could be a holder mid-write)
    val out2 = tmp("graft_lockc2")
    new java.io.File(out2).mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(out2, "_writer_lock").toPath, "garbage")
    intercept[IllegalStateException] {
      StreamingPipeline.upsertBatch(out2, Seq("k"))(b, 0L)
    }
  }

  test("a dead holder's RECYCLED pid is still recognized as dead (start-time check)") {
    // the token records the holder's process start time: same pid number,
    // different start → the recorded holder is gone even though the number
    // is alive. Simulate with our own live pid and an impossible start.
    val out = tmp("graft_lockr")
    new java.io.File(out).mkdirs()
    val host = java.net.InetAddress.getLocalHost.getHostName
    // NOT our pid (liveness of another pid + wrong start = recycled);
    // use pid 1 (init — alive on any linux) with a 1970 start time
    java.nio.file.Files.writeString(
      new java.io.File(out, "_writer_lock").toPath,
      s"pid=1 host=$host ts=${System.currentTimeMillis()} start=1000\n")
    val b = Seq((1L, 10.0)).toDF("k", "v")
    StreamingPipeline.upsertBatch(out, Seq("k"))(b, 0L)
    assert(spark.read.parquet(out + "/data").count() == 1)
  }

  test("a LIVE same-host holder is never broken by age (long merges stay fenced)") {
    // code-review r5: age is the cross-host signal only — a same-host lock
    // whose pid is alive must hold even past the staleness bound
    val out = tmp("graft_lock5")
    writeLock(out, ProcessHandle.current().pid(),
      java.net.InetAddress.getLocalHost.getHostName,
      System.currentTimeMillis() - 60 * 60 * 1000L) // an hour-old live lock
    val b = Seq((1L, 10.0)).toDF("k", "v")
    intercept[IllegalStateException] {
      StreamingPipeline.upsertBatch(out, Seq("k"))(b, 0L)
    }
  }

  test("release is ownership-verified: a broken-and-replaced lock is not deleted") {
    // code-review r5: if a breaker replaced our lock while the body ran,
    // our release must leave the successor's lock in place
    val root = new org.apache.hadoop.fs.Path(tmp("graft_lock6"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new java.io.File(root.toString, "_writer_lock")
    StreamingPipeline.withWriterLock(fs, root, 1000L) {
      // simulate a concurrent breaker replacing the lock mid-body
      java.nio.file.Files.writeString(lock.toPath,
        "pid=1 host=other ts=0 nonce=successor\n")
    }
    assert(lock.exists(), "successor's lock was deleted by the broken holder")
    assert(java.nio.file.Files.readString(lock.toPath).contains("successor"))
  }

  test("a lock whose write fails is removed, not left to fence later writers") {
    import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, FilterFileSystem,
      Path => HPath}
    import org.apache.hadoop.fs.permission.FsPermission
    import org.apache.hadoop.util.Progressable
    val root = new HPath(tmp("graft_lockio"))
    val local = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .getRawFileSystem
    // the lock file gets created, then its stream fails on close() without
    // flushing — the token never reaches the disk
    val opened = new java.util.concurrent.ConcurrentLinkedQueue[FSDataOutputStream]()
    val failing = new FilterFileSystem(local) {
      override def create(f: HPath, permission: FsPermission, overwrite: Boolean,
                          bufferSize: Int, replication: Short, blockSize: Long,
                          progress: Progressable): FSDataOutputStream = {
        val out = super.create(f, permission, overwrite, bufferSize,
          replication, blockSize, progress)
        opened.add(out)
        new FSDataOutputStream(new java.io.BufferedOutputStream(out), null) {
          override def close(): Unit =
            throw new java.io.IOException("injected close failure")
        }
      }
    }
    val lock = new java.io.File(root.toString, "_writer_lock")
    try {
      val e = intercept[java.io.IOException] {
        StreamingPipeline.withWriterLock(failing, root,
          StreamingPipeline.LockStaleMs)(fail("the body ran without a lock"))
      }
      assert(e.getMessage.contains("injected"))
      assert(!lock.exists(), "the failed acquisition left its lock behind")
      // the next writer acquires at once instead of waiting out staleMs
      var ran = false
      StreamingPipeline.withWriterLock(local, root,
        StreamingPipeline.LockStaleMs) { ran = true }
      assert(ran)
      assert(!lock.exists())
    } finally opened.forEach(o => try o.close() catch { case _: Throwable => () })
  }

  test("the holder heartbeat refreshes the token so age measures liveness (ADVICE r5)") {
    val root = new org.apache.hadoop.fs.Path(tmp("graft_lockhb"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new java.io.File(root.toString, "_writer_lock")
    def tokenTs(): Long =
      java.nio.file.Files.readString(lock.toPath).split("\\s+")
        .collectFirst { case s if s.startsWith("ts=") => s.drop(3).toLong }.get
    val t0 = System.currentTimeMillis()
    StreamingPipeline.withWriterLock(fs, root, staleMs = 2000L) {
      // body runs longer than staleMs: without the heartbeat the token's
      // ts would age out and a cross-host writer would break a LIVE merge
      Thread.sleep(2600L)
      val ts = tokenTs()
      assert(ts > t0 + 1000L,
        s"token ts was never refreshed during a long merge (ts=$ts, t0=$t0)")
      assert(System.currentTimeMillis() - ts < 2000L,
        "refreshed token is still older than staleMs — heartbeat too slow")
    }
    assert(!lock.exists(), "heartbeat holder failed to release its own lock")
  }

  test("lock staleness is configurable via the Spark conf (ADVICE r5)") {
    assert(StreamingPipeline.resolveStaleMs(spark) == StreamingPipeline.LockStaleMs)
    spark.conf.set("spark.graft.writerLock.staleMs", "5000")
    try {
      assert(StreamingPipeline.resolveStaleMs(spark) == 5000L)
      // end-to-end: a foreign-host lock older than the configured bound is
      // broken where the 10-minute default would have blocked
      val out = tmp("graft_lockcfg")
      writeLock(out, 1L, "some-other-host", System.currentTimeMillis() - 60 * 1000L)
      val b = Seq((1L, 10.0)).toDF("k", "v")
      StreamingPipeline.upsertBatch(out, Seq("k"))(b, 0L)
      assert(spark.read.parquet(out + "/data").count() == 1)
    } finally spark.conf.unset("spark.graft.writerLock.staleMs")
  }
}
