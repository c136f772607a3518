package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.{JobAudit, SparkSpec}
import graft.sources.TestdataAdapter
import graft.state.{ManifestStore, SnapshotStore}
import graft.transform.Kpis

/** The joint KPI commit (VERDICT r05 #4) and the snapshot pointer store
  * (VERDICT r05 #3): both tables from one stateful operator, one atomic
  * commit point, snapshot-isolated readers, replay idempotence, version
  * reclamation, and bit-exact parity with the batch aggregations.
  */
class JointKpisSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def enrichedTestdata = {
    val dir = "/root/testdata/sf0.001"
    Kpis.enrich(
      TestdataAdapter.orders(spark, dir),
      TestdataAdapter.orderItems(spark, dir),
      TestdataAdapter.products(spark, dir))
  }

  private def catRows(df: org.apache.spark.sql.DataFrame) =
    df.select("category", "order_date", "daily_revenue", "avg_order_value",
      "avg_return_rate")
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSet

  private def dayRows(df: org.apache.spark.sql.DataFrame) =
    df.select("order_date", "total_orders", "total_revenue",
      "total_items_sold", "return_rate", "unique_customers")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1),
        r.getDouble(2), r.getLong(3), r.getDouble(4), r.getLong(5))).toSet

  /** Every live `(table, day)` dir of the committed pair holds one file. */
  private def assertOneFilePerDay(root: String): Unit = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = SnapshotStore.currentVersion(fs, rootPath).get
    Seq("category", "daily").foreach { t =>
      ManifestStore.readManifest(fs, rootPath, live, t).foreach { case (d, o) =>
        val files = fs.listStatus(new Path(SnapshotStore.versionDir(rootPath, o), s"$t/$d"))
          .map(_.getPath.getName).filter(_.endsWith(".parquet"))
        assert(files.length == 1, s"$t/$d of v_$o holds ${files.mkString(", ")}")
      }
    }
  }

  private def pairRows(rev: Double) = Seq(
    JointKpiRow("category", java.sql.Date.valueOf("2026-01-01"), Some("cat"),
      Some(rev), Some(rev), Some(0.0), None, None, None, None, None),
    JointKpiRow("daily", java.sql.Date.valueOf("2026-01-01"), None, None, None,
      None, Some(1L), Some(rev), Some(1L), Some(0.0), Some(1L)))
    .toDS().toDF()

  test("a pair pinned to an old epoch stays a consistent pair (versionAsOf)") {
    val root = tmp("graft_joint_tt")
    JointKpis.jointSinkManifested(root)(pairRows(10.0), 0L)
    JointKpis.jointSinkManifested(root)(pairRows(99.0), 1L)
    // current pair sees the replaced epoch; the pinned pair sees epoch 0
    // on BOTH tables — never a mix
    assert(JointKpis.dailyTableManifested(spark, root)
      .select("total_revenue").as[Double].collect().toSeq == Seq(99.0))
    assert(JointKpis.categoryTableManifested(spark, root)
      .select("daily_revenue").as[Double].collect().toSeq == Seq(99.0))
    assert(JointKpis.dailyTableManifested(spark, root, Some(0L))
      .select("total_revenue").as[Double].collect().toSeq == Seq(10.0))
    assert(JointKpis.categoryTableManifested(spark, root, Some(0L))
      .select("daily_revenue").as[Double].collect().toSeq == Seq(10.0))
    val e = intercept[IllegalStateException](
      JointKpis.dailyTableManifested(spark, root, Some(42L)).collect())
    assert(e.getMessage.contains("available"), e.getMessage)
  }

  test("JointKpis (batch execution) equals categoryKpis AND dailyKpis bit-for-bit") {
    val joined = enrichedTestdata
    val tagged = JointKpis.stream(joined).toDF()
    assert(catRows(tagged.filter(col("table") === "category"))
      == catRows(Kpis.categoryKpis(joined)))
    assert(dayRows(tagged.filter(col("table") === "daily"))
      == dayRows(Kpis.dailyKpis(joined)))
  }

  test("a crash between version write and pointer flip leaves readers on the old PAIR") {
    val root = tmp("graft_joint_crash")
    val rootPath = new Path(root)
    val cat1 = Seq(("books", "2024-01-01", 1.0)).toDF("category", "order_date", "daily_revenue")
    val day1 = Seq(("2024-01-01", 1L)).toDF("order_date", "total_orders")
    def commit(v: Long, cat: org.apache.spark.sql.DataFrame,
               day: org.apache.spark.sql.DataFrame): Unit =
      ManifestStore.commit(spark, rootPath, v,
        Seq(ManifestStore.TableCommit("category", cat),
          ManifestStore.TableCommit("daily", day)),
        ManifestStore.ReplacePartitions)
    commit(1L, cat1, day1)
    // batch 2 "crashes" after writing its version dirs but BEFORE the
    // pointer flip — simulated by writing the dirs without pointTo
    val cat2 = Seq(("books", "2024-01-01", 2.0)).toDF("category", "order_date", "daily_revenue")
    val day2 = Seq(("2024-01-01", 2L)).toDF("order_date", "total_orders")
    val v2 = SnapshotStore.versionDir(rootPath, 2L)
    cat2.write.mode("overwrite").parquet(new Path(v2, "category/data").toString)
    day2.write.mode("overwrite").parquet(new Path(v2, "daily/data").toString)
    // readers still see the COMMITTED pair — batch 1 on both tables
    assert(ManifestStore.readTable(spark, root, "category")
      .select("daily_revenue").as[Double].head() == 1.0)
    assert(ManifestStore.readTable(spark, root, "daily")
      .select("total_orders").as[Long].head() == 1L)
    // the replayed batch completes the commit: both tables advance TOGETHER
    commit(2L, cat2, day2)
    assert(ManifestStore.readTable(spark, root, "category")
      .select("daily_revenue").as[Double].head() == 2.0)
    assert(ManifestStore.readTable(spark, root, "daily")
      .select("total_orders").as[Long].head() == 2L)
  }

  test("a replayed batch id is skipped: the committed pair is never re-merged") {
    val root = tmp("graft_joint_replay")
    val batch = JointKpis.stream(enrichedTestdata).toDF().limit(50).persist()
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // every file the committed version holds; a re-commit would rewrite
    // them under fresh part-file names
    def files(): Set[String] = {
      val it = fs.listFiles(SnapshotStore.versionDir(new Path(root), 3L), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString).toSet
    }
    JointKpis.jointSinkManifested(root)(batch, 3L)
    val before = (catRows(JointKpis.categoryTableManifested(spark, root)),
      dayRows(JointKpis.dailyTableManifested(spark, root)), files())
    JointKpis.jointSinkManifested(root)(batch, 3L) // replay of a committed batch
    JointKpis.jointSinkManifested(root)(batch, 2L) // late replay of an older batch
    assert((catRows(JointKpis.categoryTableManifested(spark, root)),
      dayRows(JointKpis.dailyTableManifested(spark, root)), files()) == before)
    assert(SnapshotStore.currentVersion(fs, new Path(root)).contains(3L))
    batch.unpersist()
  }

  test("manifested joint writer: both tables equal batch, O(touched) versions, one pointer") {
    implicit val ctx = spark.sqlContext
    val joined = enrichedTestdata
      .select("order_id", "user_id", "product_id", "category", "sale_price",
        "is_returned", "order_date").persist()
    val rows = joined.collect()
    val (root, cp) = (tmp("graft_jointm"), tmp("graft_jointm_cp"))
    val input = MemoryStream[(Long, Long, Long, String, Double, Boolean, java.sql.Date)]
    val stream = input.toDF().toDF("order_id", "user_id", "product_id",
      "category", "sale_price", "is_returned", "order_date")
    val q = JointKpis.writerManifested(stream, root, cp).start()
    try {
      rows.grouped(math.max(rows.length / 3, 1)).foreach { chunk =>
        input.addData(chunk.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getDouble(4), r.getBoolean(5), r.getDate(6))): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(catRows(JointKpis.categoryTableManifested(spark, root))
      == catRows(Kpis.categoryKpis(joined)))
    assert(dayRows(JointKpis.dailyTableManifested(spark, root))
      == dayRows(Kpis.dailyKpis(joined)))
    // the state tasks write the staged tables: each day sits in one state
    // partition, so each committed day dir holds one file
    assertOneFilePerDay(root)
    joined.unpersist()
  }

  test("manifested writer replaces whole days: same-day batches keep every category") {
    implicit val ctx = spark.sqlContext
    val (d1, d2) = (java.sql.Date.valueOf("2026-03-01"), java.sql.Date.valueOf("2026-03-02"))
    val cols = Seq("order_id", "user_id", "product_id", "category", "sale_price",
      "is_returned", "order_date")
    // two micro-batches on d1 with disjoint categories, then one on d2
    val batches = Seq(
      Seq((1L, 10L, 100L, "a", 5.25, false, d1), (1L, 10L, 101L, "a", 2.5, true, d1)),
      Seq((2L, 11L, 102L, "b", 7.0, false, d1)),
      Seq((3L, 10L, 100L, "a", 1.75, false, d2)))
    val (root, cp) = (tmp("graft_jointm_days"), tmp("graft_jointm_days_cp"))
    val input = MemoryStream[(Long, Long, Long, String, Double, Boolean, java.sql.Date)]
    val q = JointKpis.writerManifested(input.toDF().toDF(cols: _*), root, cp).start()
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    val all = batches.flatten.toDF(cols: _*)
    val cat = JointKpis.categoryTableManifested(spark, root)
    assert(catRows(cat) == catRows(Kpis.categoryKpis(all)))
    assert(dayRows(JointKpis.dailyTableManifested(spark, root))
      == dayRows(Kpis.dailyKpis(all)))
    assert(cat.filter(col("order_date") === lit(d1)).select("category")
      .as[String].collect().sorted.toSeq == Seq("a", "b"),
      "d1 lost the category its last batch did not touch")
  }

  test("a one-category batch over a day with prior state emits every category row") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    val day = java.sql.Date.valueOf("2026-03-01")
    val prior = JointKpiState(Set("o1", "o2"), Set(1L, 2L), 1500L, 2L, 2L, 0L,
      Map("a" -> CatAgg(1000L, 1L, 1L, 0L), "b" -> CatAgg(500L, 1L, 1L, 0L)))
    val st = TestGroupState.create[JointKpiState](Optional.of(prior),
      GroupStateTimeout.NoTimeout, 0L, Optional.empty[Long], hasTimedOut = false)
    val out = JointKpis.update(day, Iterator(JointKpiEvent(day, Some("o3"),
      Some(3L), Some("a"), Some(250L), itemPresent = true, isReturned = false)), st).toSeq
    assert(out.count(_.table == "daily") == 1)
    val cats = out.filter(_.table == "category").map(r => r.category.get -> r).toMap
    assert(cats.keySet == Set("a", "b"), s"emitted ${cats.keySet}")
    assert(cats("a").daily_revenue.contains(12.5), "a folds the new event")
    assert(cats("b").daily_revenue.contains(5.0), "b re-emits its stored figures")
  }

  test("a non-compacting manifested joint commit plans no prior-version scan and no join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      InsertIntoHadoopFsRelationCommand, LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = tmp("graft_jointm_work")
    // a local relation: the enrichment's own joins stay out of the plans
    val batch = JointKpis.stream(enrichedTestdata).collect().toSeq.toDS().toDF()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.analyzed)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(qe.analyzed)
    }
    def planned = plans.toArray(Array.empty[LogicalPlan]).toSeq
    try {
      JointKpis.jointSinkManifested(root)(batch, 0L)
      spark.listenerManager.register(listener)
      // one partitioned write stages both tables of batch 1; the audit's
      // marker job flushes the listener bus behind it
      JobAudit.jobsDuring(spark)(JointKpis.jointSinkManifested(root)(batch, 1L))
      val v1 = SnapshotStore.versionDir(new Path(root), 1L).toString
      def writes = planned.flatMap(_.collect {
        case w: InsertIntoHadoopFsRelationCommand if w.outputPath.toString.contains(v1) => w
      })
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(writes.size == 1, s"saw writes ${writes.map(_.outputPath).mkString(", ")}")
      assert(writes.head.partitionColumns.map(_.name) == Seq("table", "order_date"),
        s"the write is partitioned by ${writes.head.partitionColumns.map(_.name)}")
      val reads = planned.flatMap(_.collect { case l: LogicalRelation => l.relation })
        .flatMap {
          case r: HadoopFsRelation => r.location.rootPaths.map(_.toString)
          case _ => Nil
        }.filter(_.contains(root))
      assert(reads.isEmpty, s"the commit scanned committed files: ${reads.mkString(", ")}")
      val joins = planned.flatMap(_.collect { case j: Join => j })
      assert(joins.isEmpty, s"the commit planned ${joins.size} join(s)")
    } finally spark.listenerManager.unregister(listener)
  }

  test("manifested pair: a crash before the pointer leaves BOTH tables on the old epoch") {
    val root = tmp("graft_jointm_crash")
    val batch = JointKpis.stream(enrichedTestdata).toDF().persist()
    try {
      JointKpis.jointSinkManifested(root)(batch, 0L)
      val catBefore = catRows(JointKpis.categoryTableManifested(spark, root))
      val dayBefore = dayRows(JointKpis.dailyTableManifested(spark, root))
      // batch 1 "crashes" after staging data but before the pointer flip:
      // write fresh table dirs under v_1 directly, no pointTo
      val v1 = SnapshotStore.versionDir(new Path(root), 1L)
      batch.filter(col("table") === "category")
        .select("category", "order_date", "daily_revenue")
        .write.mode("overwrite").partitionBy("order_date")
        .parquet(new Path(v1, "category").toString)
      assert(catRows(JointKpis.categoryTableManifested(spark, root)) == catBefore,
        "reader saw an uncommitted epoch")
      assert(dayRows(JointKpis.dailyTableManifested(spark, root)) == dayBefore)
      // the replayed batch completes and the PAIR advances together
      JointKpis.jointSinkManifested(root)(batch, 1L)
      assert(catRows(JointKpis.categoryTableManifested(spark, root)) == catBefore,
        "idempotent upsert of the same rows must not change the answer")
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(SnapshotStore.currentVersion(fs, new Path(root)).contains(1L))
      // O(touched): a batch touching ONE day writes only that day's
      // partition for each table in its version dir
      val oneDay = batch.filter(col("order_date") === lit(batch
        .select(max("order_date")).as[java.sql.Date].head()))
      JointKpis.jointSinkManifested(root)(oneDay, 2L)
      val v2daily = new Path(SnapshotStore.versionDir(new Path(root), 2L), "daily")
      val dayDirs = fs.listStatus(v2daily)
        .filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith("order_date="))
      assert(dayDirs.length == 1,
        s"one-day batch rewrote ${dayDirs.length} partitions: ${dayDirs.mkString(",")}")
      // untouched days still resolve (inherited by manifest reference)
      assert(dayRows(JointKpis.dailyTableManifested(spark, root)) == dayBefore)
    } finally batch.unpersist()
  }

  test("a manifested joint trigger is one job and runs its state stage once, compaction included") {
    implicit val ctx = spark.sqlContext
    val (root, cp) = (tmp("graft_jointm_jobs"), tmp("graft_jointm_jobs_cp"))
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cols = Seq("order_id", "user_id", "product_id", "category", "sale_price",
      "is_returned", "order_date")
    val input = MemoryStream[(Long, Long, Long, String, Double, Boolean, java.sql.Date)]
    val q = JointKpis.writerManifested(input.toDF().toDF(cols: _*), root, cp).start()
    def day(i: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2026, 1, 1).plusDays(i))
    var compacting = 0
    try {
      // each trigger touches a new day, so the live manifest references one
      // more version per commit until a commit compacts
      (0 to 17).foreach { i =>
        input.addData((i.toLong, 10L, 100L, "a", 1.5, i % 2 == 0, day(i)))
        val (_, jobs, stateStages) = JobAudit.stateStagesDuring(spark)(q.processAllAvailable())
        val v = SnapshotStore.currentVersion(fs, rootPath).get
        val daily = ManifestStore.readManifest(fs, rootPath, v, "daily")
        if (i > 0 && daily.values.forall(_ == v)) compacting += 1
        else {
          // one job of two stages: the source's exchange, then the state
          // tasks, which also write the staged tables (no exchange of their own)
          assert(jobs.map(_.size) == Seq(2),
            s"trigger $i ran ${jobs.size} job(s): ${jobs.map(_.mkString("; ")).mkString(" | ")}")
        }
        assert(stateStages == 1, s"trigger $i ran its state stage $stateStages times")
      }
    } finally q.stop()
    assert(compacting == 1, s"$compacting compacting commits in 18")
    // a replayed batch id runs no Spark work at all
    val replay = Seq(JointKpiRow("daily", day(0), None, None, None, None,
      Some(9L), Some(9.0), Some(9L), Some(0.0), Some(9L))).toDS().toDF()
    val (_, jobs) = JobAudit.jobsDuring(spark)(JointKpis.jointSinkManifested(root)(replay, 17L))
    assert(jobs.isEmpty, s"a replayed batch ran ${jobs.size} jobs: ${jobs.mkString(" | ")}")
    assert(dayRows(JointKpis.dailyTableManifested(spark, root)).size == 18)
  }

  test("one-write staging: a crash after staging replays to the batch KPIs with one file per day") {
    val root = tmp("graft_jointm_stage_crash")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val enriched = enrichedTestdata.persist()
    val batch = JointKpis.stream(enriched).toDF().persist()
    def check(live: Long): Unit = {
      assert(catRows(JointKpis.categoryTableManifested(spark, root))
        == catRows(Kpis.categoryKpis(enriched)))
      assert(dayRows(JointKpis.dailyTableManifested(spark, root))
        == dayRows(Kpis.dailyKpis(enriched)))
      assert(SnapshotStore.currentVersion(fs, rootPath).contains(live))
      assertOneFilePerDay(root)
    }
    try {
      JointKpis.jointSinkManifested(root)(batch, 0L)
      // batch 1 crashes after its one write and the first table's rename,
      // before the pointer moves
      val v1 = SnapshotStore.versionDir(rootPath, 1L)
      batch.write.partitionBy("table", "order_date")
        .parquet(new Path(v1, "_staging").toString)
      assert(fs.rename(new Path(v1, "_staging/table=category"), new Path(v1, "category")))
      assert(SnapshotStore.currentVersion(fs, rootPath).contains(0L))
      JointKpis.jointSinkManifested(root)(batch, 1L)
      assert(SnapshotStore.currentVersion(fs, rootPath).contains(1L))
      Seq("category/category", "category/table=category", "_staging").foreach { d =>
        assert(!fs.exists(new Path(v1, d)), s"the replay left v_1/$d")
      }
      check(1L)
      // 17 one-day commits: the 17th finds 16 versions referenced and compacts
      val days = batch.select("order_date").distinct().orderBy("order_date")
        .as[java.sql.Date].collect().take(17)
      assert(days.length == 17)
      days.zipWithIndex.foreach { case (d, i) =>
        JointKpis.jointSinkManifested(root)(batch.filter(col("order_date") === lit(d)), 2L + i)
      }
      assert(Seq("category", "daily").forall(t =>
        ManifestStore.readManifest(fs, rootPath, 17L, t).values.toSet == Set(17L)),
        "commit 17 did not compact")
      check(18L)
    } finally { batch.unpersist(); enriched.unpersist() }
  }

  test("a staged dir that fails to rename aborts the joint commit before its pointer") {
    import graft.RenameFailingFileSystem
    val root = tmp("graft_jointm_renamefail")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    JointKpis.jointSinkManifested(root)(pairRows(10.0), 0L)
    // the same files through a file system whose rename of a staged table
    // dir (`_staging/table=<name>`) returns false
    val e = RenameFailingFileSystem.failing(spark.sparkContext.hadoopConfiguration,
      _.getParent.getName == "_staging") {
      intercept[java.io.IOException](
        JointKpis.jointSinkManifested(RenameFailingFileSystem.root(root))(pairRows(99.0), 1L))
    }
    assert(e.getMessage.contains("rename"), e.getMessage)
    assert(SnapshotStore.currentVersion(fs, new Path(root)).contains(0L))
    assert(JointKpis.dailyTableManifested(spark, root)
      .select("total_revenue").as[Double].collect().toSeq == Seq(10.0))
    // the lock was released and the replay commits the batch
    JointKpis.jointSinkManifested(root)(pairRows(99.0), 1L)
    assert(JointKpis.categoryTableManifested(spark, root)
      .select("daily_revenue").as[Double].collect().toSeq == Seq(99.0))
  }

  test("a joint commit on a local root writes its metadata files without .crc siblings") {
    import java.nio.file.{Files, Paths}
    val root = tmp("graft_jointm_nocrc")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem])
    // the lock the commit takes, seen while it is held
    val lockCrc = StreamingPipeline.withWriterLock(fs, rootPath,
        StreamingPipeline.LockStaleMs) {
      assert(Files.exists(Paths.get(root, "_writer_lock")))
      Files.exists(Paths.get(root, "._writer_lock.crc"))
    }
    assert(!lockCrc, "the writer lock was written with a .crc")
    JointKpis.jointSinkManifested(root)(pairRows(10.0), 0L)
    JointKpis.jointSinkManifested(root)(pairRows(99.0), 1L)
    val names = Files.walk(Paths.get(root)).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(names.count(_ == "_manifest") == 4 && names.count(_ == "_schema") == 4)
    val crcs = names.filter(n => n.endsWith(".crc") &&
      Seq("_manifest", "_schema", "_writer_lock", "_current").exists(n.contains))
    assert(crcs.isEmpty, s"metadata .crc files: ${crcs.mkString(", ")}")
    assert(dayRows(JointKpis.dailyTableManifested(spark, root)).map(_._3) == Set(99.0))
  }

  test("a concurrent reader during a commit loop never errors (VERDICT r05 #3)") {
    val root = tmp("graft_snap_reader")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // seed so the reader always has a committed version
    StreamingPipeline.upsertBatchSnapshot(root, Seq("k"))(
      Seq((0L, 0.0)).toDF("k", "v"), 0L)
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        try {
          val n = StreamingPipeline.readSnapshot(spark, root).count()
          if (n < 1L) errors.add(new IllegalStateException(s"saw $n rows"))
        } catch { case t: Throwable => errors.add(t) }
      }
    })
    reader.start()
    try {
      (1L to 120L).foreach { i =>
        StreamingPipeline.upsertBatchSnapshot(root, Seq("k"))(
          Seq((i, i * 1.0)).toDF("k", "v"), i)
      }
    } finally { stop = true; reader.join(20000) }
    assert(errors.isEmpty,
      s"reader hit ${errors.size} errors; first: ${Option(errors.peek())}")
    // superseded versions younger than the store's age horizon stay
    // resolvable: the seed commit still reads back as of version 0
    assert(StreamingPipeline.readSnapshot(spark, root, Some(0L)).count() == 1L)
    assert(StreamingPipeline.readSnapshot(spark, root).count() == 121L)
  }
}
