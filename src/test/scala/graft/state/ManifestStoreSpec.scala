package graft.state

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.StreamingPipeline

/** Manifest snapshot commits: O(touched) writes with reader isolation,
  * manifest inheritance, compaction bounding reader fan-in, crash safety
  * (partitioned and unpartitioned layouts), replay skip, null partitions,
  * and version reclamation.
  */
class ManifestStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def table(root: String) =
    StreamingPipeline.readSnapshot(spark, root)
      .select("k", "v", "day").collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        Option(r.getString(2)).getOrElse("NULL"))).toSet

  /** A single-table row-merge commit with the store's tuning knobs set
    * (the snapshot sink leaves them at their defaults).
    */
  private def commitRows(root: String, maxManifestVersions: Int = 16,
                         retentionMs: Long = 10 * 60 * 1000L)
                        (b: org.apache.spark.sql.DataFrame, i: Long): Unit =
    ManifestStore.commit(spark, new Path(root), i,
      Seq(ManifestStore.TableCommit("", b, Seq("k"), Some("day"))),
      ManifestStore.RowMerge(graft.operators.Upsert.upsert),
      maxManifestVersions, retentionMs)

  test("touched partitions merge; untouched partitions are inherited, not copied") {
    val root = tmp("graft_mfs")
    val sink = StreamingPipeline.upsertBatchSnapshot(
      root, Seq("k"), Some("day")) _
    sink(Seq((1L, 1.0, "a"), (2L, 1.0, "b")).toDF("k", "v", "day"), 0L)
    // batch 1 touches ONLY day=a: k=1 updated, k=3 inserted
    sink(Seq((1L, 9.0, "a"), (3L, 3.0, "a")).toDF("k", "v", "day"), 1L)
    assert(table(root) == Set((1L, 9.0, "a"), (3L, 3.0, "a"), (2L, 1.0, "b")))
    // day=b's data must still live in v0 — inherited by reference
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = ManifestStore.readManifest(fs, new Path(root), 1L)
    assert(m == Map("day=a" -> 1L, "day=b" -> 0L), s"manifest was $m")
    assert(fs.exists(new Path(SnapshotStore.versionDir(new Path(root), 0L), "day=b")))
    assert(!fs.exists(new Path(SnapshotStore.versionDir(new Path(root), 1L), "day=b")),
      "untouched partition was copied into the new version")
  }

  test("a null partition value rides __HIVE_DEFAULT_PARTITION__ and merges") {
    val root = tmp("graft_mfs_null")
    val sink = StreamingPipeline.upsertBatchSnapshot(
      root, Seq("k"), Some("day")) _
    sink(Seq((1L, 1.0, null: String), (2L, 1.0, "b")).toDF("k", "v", "day"), 0L)
    sink(Seq((1L, 5.0, null: String)).toDF("k", "v", "day"), 1L)
    assert(table(root) == Set((1L, 5.0, "NULL"), (2L, 1.0, "b")))
  }

  test("compaction bounds reader fan-in and reclaims superseded versions") {
    // maxManifestVersions = 3: batches 0..5 each touch their own partition,
    // so without compaction the manifest would reference 6 versions. Then
    // batch 6 re-touches d1 on a compacting commit, 7-8 land and re-touch
    // a null partition, and 10 re-touches it on a compacting commit (the
    // null-safe anti-join). Each batch carries every row of each partition
    // it touches, so the row merge and the whole-partition replace must
    // commit the same table.
    // retentionMs = 0 exercises eager reclamation (no concurrent readers
    // here; the reader test runs with the default age horizon)
    val batches = (0L to 5L).map(i => Seq((i, i * 1.0, s"d$i"))) ++ Seq(
      Seq((1L, 10.0, "d1"), (6L, 6.0, "d1")),
      Seq((7L, 7.0, null: String)),
      Seq((7L, 70.0, null: String), (8L, 8.0, null: String)),
      Seq((2L, 20.0, "d2")),
      Seq((7L, 71.0, null: String), (8L, 80.0, null: String)))
    val expected = Seq((0L, 0.0, "d0"), (1L, 10.0, "d1"), (6L, 6.0, "d1"),
      (2L, 20.0, "d2"), (3L, 3.0, "d3"), (4L, 4.0, "d4"), (5L, 5.0, "d5"),
      (7L, 71.0, "NULL"), (8L, 80.0, "NULL"))
    val kinds = Seq[(String, (String, org.apache.spark.sql.DataFrame, Long) => Unit)](
      "row merge" -> { (root, b, i) =>
        commitRows(root, maxManifestVersions = 3, retentionMs = 0L)(b, i) },
      "partition replace" -> { (root, b, i) =>
        ManifestStore.commit(spark, new Path(root), i,
          Seq(ManifestStore.TableCommit("", b, Seq("k"), Some("day"))),
          ManifestStore.ReplacePartitions, maxManifestVersions = 3,
          retentionMs = 0L) })
    kinds.foreach { case (kind, commit) =>
      val root = tmp("graft_mfs_compact")
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      def manifest = ManifestStore.readManifest(fs, new Path(root),
        SnapshotStore.currentVersion(fs, new Path(root)).get)
      batches.zipWithIndex.foreach { case (rows, i) =>
        commit(root, rows.toDF("k", "v", "day"), i.toLong)
        assert(manifest.values.toSet.size <= 3,
          s"$kind: batch $i fans into ${manifest.values.toSet.size} versions: $manifest")
      }
      assert(table(root) == expected.toSet, kind)
      assert(StreamingPipeline.readSnapshot(spark, root).count() ==
        expected.size, s"$kind: duplicated rows")
      // reclamation: only versions referenced by the live or previous
      // manifest survive on disk
      val onDisk = fs.listStatus(new Path(root)).map(_.getPath.getName)
        .filter(_.startsWith("v_")).toSet
      assert(onDisk.size <= manifest.values.toSet.size + 3, s"$kind: reclaim left $onDisk")
    }
  }

  test("partition-column type stays pinned across version groups") {
    val root = tmp("graft_mfs_ptype")
    val sink = StreamingPipeline.upsertBatchSnapshot(
      root, Seq("k"), Some("day")) _
    // v0's partitions ALL look numeric — standalone inference would type
    // `day` as int for that group; v1's partition is plainly a string.
    // The committed _schema pins StringType for every group (ADVICE r06).
    sink(Seq((1L, 1.0, "1"), (2L, 1.0, "2")).toDF("k", "v", "day"), 0L)
    sink(Seq((3L, 3.0, "x3")).toDF("k", "v", "day"), 1L)
    val df = StreamingPipeline.readSnapshot(spark, root)
    assert(df.schema("day").dataType == org.apache.spark.sql.types.StringType,
      s"partition column type diverged: ${df.schema("day").dataType}")
    assert(table(root) == Set((1L, 1.0, "1"), (2L, 1.0, "2"), (3L, 3.0, "x3")))
  }

  test("a crash between version write and pointer flip is invisible to readers") {
    val root = tmp("graft_mfs_crash")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sink = StreamingPipeline.upsertBatchSnapshot(
      root, Seq("k"), Some("day")) _
    sink(Seq((1L, 1.0, "a")).toDF("k", "v", "day"), 0L)
    // simulate batch 1 dying after its data write, before manifest+pointer
    Seq((1L, 9.0, "a")).toDF("k", "v", "day")
      .write.mode("overwrite").partitionBy("day")
      .parquet(SnapshotStore.versionDir(rootPath, 1L).toString)
    assert(table(root) == Set((1L, 1.0, "a")), "reader saw an uncommitted version")
    // the replayed batch completes and becomes visible atomically
    sink(Seq((1L, 9.0, "a")).toDF("k", "v", "day"), 1L)
    assert(table(root) == Set((1L, 9.0, "a")))
    // replaying an already-committed id is a no-op
    sink(Seq((1L, 77.0, "a")).toDF("k", "v", "day"), 1L)
    assert(table(root) == Set((1L, 9.0, "a")))
  }

  test("an unpartitioned commit killed before its pointer is invisible; its replay commits") {
    val root = tmp("graft_mfs_crash_whole")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sink = StreamingPipeline.upsertBatchSnapshot(root, Seq("k")) _
    def rows() = StreamingPipeline.readSnapshot(spark, root).select("k", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    sink(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"), 1L)
    // kill batch 2 after it staged its data, before the pointer: a
    // directory squatting on the version's `_schema` path fails that write
    val squat = new Path(SnapshotStore.versionDir(rootPath, 2L), "_schema")
    fs.mkdirs(squat)
    val batch2 = Seq((2L, 20.0), (3L, 3.0)).toDF("k", "v")
    intercept[java.io.IOException](sink(batch2, 2L))
    assert(fs.exists(new Path(SnapshotStore.versionDir(rootPath, 2L), "data")),
      "the kill must land after the data was staged")
    assert(SnapshotStore.currentVersion(fs, rootPath).contains(1L))
    assert(rows() == Set((1L, 1.0), (2L, 2.0)), "reader saw an uncommitted version")
    // the restarted query replays batch 2: it overwrites its own staged
    // dir and commits the merge over version 1
    fs.delete(squat, true)
    sink(batch2, 2L)
    assert(SnapshotStore.currentVersion(fs, rootPath).contains(2L))
    assert(rows() == Set((1L, 1.0), (2L, 20.0), (3L, 3.0)))
    // a replay of the committed id is skipped, not re-merged
    sink(Seq((1L, 77.0)).toDF("k", "v"), 2L)
    assert(rows() == Set((1L, 1.0), (2L, 20.0), (3L, 3.0)))
  }

  test("a partition-column predicate prunes inside each manifested version group") {
    val root = tmp("graft_mfs_prune")
    val sink = StreamingPipeline.upsertBatchSnapshot(
      root, Seq("k"), Some("day")) _
    sink(Seq((1L, 1.0, "a"), (2L, 2.0, "b"), (3L, 3.0, "c"))
      .toDF("k", "v", "day"), 0L)
    sink(Seq((1L, 9.0, "a")).toDF("k", "v", "day"), 1L)
    // the manifest spans two version groups; a day predicate must become
    // a PartitionFilter (directory skip) in every group's scan, not a
    // post-scan row filter — the 100 TB read path
    val q = StreamingPipeline.readSnapshot(spark, root)
      .filter(col("day") === "b")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day#"),
      s"day predicate did not reach PartitionFilters:\n$plan")
    assert(q.select("k").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("a table whose first batches are empty does not wedge the multi-table commit") {
    import ManifestStore.TableCommit
    import graft.operators.Upsert
    val root = new Path(tmp("graft_mfs_emptyfirst") + "/t")
    def dfA(v: Double) = Seq((1L, v, "a")).toDF("k", "v", "day")
    val emptyB = Seq.empty[(Long, Double, String)].toDF("k", "v", "day")
    // batch 0: A has data, B is empty — the pointer advances for A, and B
    // must neither crash subsequent commits nor surface a raw
    // FileNotFoundException to readers (code-review r7)
    ManifestStore.commit(spark, root, 0L,
      Seq(TableCommit("A", dfA(1.0), Seq("k"), Some("day")),
        TableCommit("B", emptyB, Seq("k"), Some("day"))), ManifestStore.RowMerge(Upsert.upsert))
    assert(ManifestStore.readTable(spark, root.toString, "A").count() == 1L)
    val e = intercept[IllegalStateException](
      ManifestStore.readTable(spark, root.toString, "B"))
    assert(e.getMessage.contains("no committed data"), e.getMessage)
    // batch 1 commits cleanly (the old code threw reading B's missing
    // manifest and wedged the sink forever) and B becomes readable
    ManifestStore.commit(spark, root, 1L,
      Seq(TableCommit("A", dfA(2.0), Seq("k"), Some("day")),
        TableCommit("B", dfA(9.0), Seq("k"), Some("day"))), ManifestStore.RowMerge(Upsert.upsert))
    assert(ManifestStore.readTable(spark, root.toString, "B")
      .select("v").as[Double].collect().toSeq == Seq(9.0))
    assert(ManifestStore.readTable(spark, root.toString, "A")
      .select("v").as[Double].collect().toSeq == Seq(2.0))
  }

  test("versionAsOf resolves retained manifests; a reclaimed one errors loudly") {
    val root = tmp("graft_mfs_tt")
    val sink = StreamingPipeline.upsertBatchSnapshot(
      root, Seq("k"), Some("day")) _
    sink(Seq((1L, 1.0, "a")).toDF("k", "v", "day"), 0L)
    sink(Seq((1L, 9.0, "a"), (2L, 2.0, "b")).toDF("k", "v", "day"), 1L)
    def vAt(versionAsOf: Option[Long]) =
      StreamingPipeline.readSnapshot(spark, root, versionAsOf)
        .select("k", "v").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(vAt(None) == Set((1L, 9.0), (2L, 2.0)))
    assert(vAt(Some(0L)) == Set((1L, 1.0)), "the pinned read sees the old epoch")
    // eager reclamation (retentionMs = 0) erodes the history: after three
    // same-partition commits v0 is gone and a pinned read must say so
    val eager = commitRows(root, retentionMs = 0L) _
    eager(Seq((1L, 10.0, "a")).toDF("k", "v", "day"), 2L)
    eager(Seq((1L, 11.0, "a")).toDF("k", "v", "day"), 3L)
    val e = intercept[IllegalStateException](vAt(Some(0L)))
    assert(e.getMessage.contains("version 0") && e.getMessage.contains("available"),
      s"reclaimed-version error must name available versions: ${e.getMessage}")
  }

  test("a concurrent reader during a partitioned commit loop never errors") {
    val root = tmp("graft_mfs_reader")
    val sink = commitRows(root, maxManifestVersions = 4) _
    sink(Seq((0L, 0.0, "d0")).toDF("k", "v", "day"), 0L)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        try {
          if (StreamingPipeline.readSnapshot(spark, root).count() < 1L)
            errors.add(new IllegalStateException("empty read"))
        } catch { case t: Throwable => errors.add(t) }
      }
    })
    reader.start()
    try {
      (1L to 60L).foreach { i =>
        sink(Seq((i, i * 1.0, s"d${i % 5}")).toDF("k", "v", "day"), i)
      }
    } finally { stop = true; reader.join(20000) }
    assert(errors.isEmpty,
      s"reader hit ${errors.size} errors; first: ${Option(errors.peek())}")
    assert(StreamingPipeline.readSnapshot(spark, root).count() == 61L)
  }

  test("deletePartitioned removes keys O(touched); untouched partitions inherit") {
    val root = tmp("graft_mfs_del")
    val sink = StreamingPipeline.upsertBatchSnapshot(
      root, Seq("k"), Some("day")) _
    sink(Seq((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b"), (4L, 4.0, "c"))
      .toDF("k", "v", "day"), 0L)
    ManifestStore.deletePartitioned(spark, new Path(root), 1L,
      Seq((1L, "a")).toDF("k", "day"), Seq("k"), "day")
    assert(table(root) == Set((2L, 2.0, "a"), (3L, 3.0, "b"), (4L, 4.0, "c")))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = ManifestStore.readManifest(fs, new Path(root), 1L)
    assert(m == Map("day=a" -> 1L, "day=b" -> 0L, "day=c" -> 0L),
      s"manifest was $m — only day=a should be rewritten")
  }

  test("deletePartitioned: an emptied partition leaves the manifest (no resurrection)") {
    val root = tmp("graft_mfs_del_empty")
    val sink = StreamingPipeline.upsertBatchSnapshot(
      root, Seq("k"), Some("day")) _
    sink(Seq((1L, 1.0, "a"), (2L, 2.0, "b")).toDF("k", "v", "day"), 0L)
    ManifestStore.deletePartitioned(spark, new Path(root), 1L,
      Seq((1L, "a")).toDF("k", "day"), Seq("k"), "day")
    assert(table(root) == Set((2L, 2.0, "b")))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = ManifestStore.readManifest(fs, new Path(root), 1L)
    assert(m == Map("day=b" -> 0L), s"emptied day=a must leave the manifest: $m")
  }

  test("deletePartitioned: delete-all reads back as an empty TYPED table") {
    val root = tmp("graft_mfs_del_all")
    val sink = StreamingPipeline.upsertBatchSnapshot(
      root, Seq("k"), Some("day")) _
    sink(Seq((1L, 1.0, "a"), (2L, 2.0, "b")).toDF("k", "v", "day"), 0L)
    ManifestStore.deletePartitioned(spark, new Path(root), 1L,
      Seq((1L, "a"), (2L, "b")).toDF("k", "day"), Seq("k"), "day")
    val empty = StreamingPipeline.readSnapshot(spark, root)
    assert(empty.count() == 0L)
    assert(empty.columns.toSet == Set("k", "v", "day"))
  }

  test("deletePartitioned: keys in absent partitions and null partitions behave") {
    val root = tmp("graft_mfs_del_misc")
    val sink = StreamingPipeline.upsertBatchSnapshot(
      root, Seq("k"), Some("day")) _
    sink(Seq((1L, 1.0, null: String), (2L, 2.0, "b")).toDF("k", "v", "day"), 0L)
    // absent partition: no-op, pointer still at v0
    ManifestStore.deletePartitioned(spark, new Path(root), 1L,
      Seq((9L, "zz")).toDF("k", "day"), Seq("k"), "day")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(SnapshotStore.currentVersion(fs, new Path(root)).contains(0L))
    // null-partition delete rides __HIVE_DEFAULT_PARTITION__
    ManifestStore.deletePartitioned(spark, new Path(root), 2L,
      Seq((1L, null: String)).toDF("k", "day"), Seq("k"), "day")
    assert(table(root) == Set((2L, 2.0, "b")))
  }

  test("schema evolution: new column unions in; inherited partitions read null") {
    val root = tmp("graft_mfs_evolve")
    val sink = StreamingPipeline.upsertBatchSnapshot(
      root, Seq("k"), Some("day"), mergeSchema = true) _
    sink(Seq((1L, 1.0, "a"), (2L, 2.0, "b")).toDF("k", "v", "day"), 0L)
    // batch 1 carries a NEW column and touches ONLY day=a — day=b is
    // inherited by manifest reference with its v0 (pre-evolution) files
    sink(Seq((1L, 9.0, "tag1", "a"), (3L, 3.0, "tag3", "a"))
      .toDF("k", "v", "note", "day"), 1L)
    val out = StreamingPipeline.readSnapshot(spark, root)
    assert(out.columns.toSet == Set("k", "v", "note", "day"))
    val m = out.collect().map(r =>
      (r.getLong(r.fieldIndex("k")),
        (r.getDouble(r.fieldIndex("v")),
          Option(r.get(r.fieldIndex("note"))),
          r.getString(r.fieldIndex("day"))))).toMap
    assert(m(1L) == ((9.0, Some("tag1"), "a")))
    assert(m(3L) == ((3.0, Some("tag3"), "a")))
    assert(m(2L) == ((2.0, None, "b")),
      "inherited pre-evolution partition reads the new column as null")
    // time travel stays PINNED: version 0 reads with its own schema
    val v0 = StreamingPipeline.readSnapshot(spark, root, Some(0L))
    assert(v0.columns.toSet == Set("k", "v", "day"),
      "versionAsOf must not see a column committed later")
    // type conflict rejects loudly, and the pointer stays on v1
    val e = intercept[IllegalArgumentException] {
      sink(Seq((1L, "oops", "a")).toDF("k", "v", "day"), 2L)
    }
    assert(e.getMessage.contains("v"))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(SnapshotStore.currentVersion(fs, new Path(root)).contains(1L))
  }

  test("a non-ASCII column name round-trips through the committed schema") {
    val root = tmp("graft_mfs_utf8_col")
    val (colName, value) = ("cat\u00e9gorie", "\u00c9lectronique") // catégorie, Électronique
    StreamingPipeline.upsertBatchSnapshot(root, Seq("id"))(
      Seq((1L, value)).toDF("id", colName), 0L)
    val out = StreamingPipeline.readSnapshot(spark, root)
    assert(out.columns.toSeq == Seq("id", colName))
    assert(out.select(colName).as[String].collect().toSeq == Seq(value))
  }

  test("manifest entries outside ASCII round-trip as UTF-8") {
    val root = new Path(tmp("graft_mfs_utf8_manifest"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // cat=Électronique, cat=日本: entries only, no such directory is created
    val m = Map("cat=\u00c9lectronique" -> 3L, "cat=\u65e5\u672c" -> 4L, "cat=x" -> 1L)
    val dir = SnapshotStore.versionDir(root, 4L)
    ManifestStore.writeManifest(fs, dir, m)
    assert(ManifestStore.readManifest(fs, root, 4L) == m)
    val onDisk = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir.toString, "_manifest"))
    assert(new String(onDisk, java.nio.charset.StandardCharsets.UTF_8)
      .contains("cat=\u65e5\u672c\t4"))
  }

  test("schema evolution in the whole-table snapshot sink") {
    val root = tmp("graft_snap_evolve")
    val sink = StreamingPipeline.upsertBatchSnapshot(
      root, Seq("k"), mergeSchema = true) _
    sink(Seq((1L, "x"), (2L, "y")).toDF("k", "v"), 0L)
    sink(Seq((2L, "y2", 20L), (3L, "z", 30L)).toDF("k", "v", "extra"), 1L)
    val out = StreamingPipeline.readSnapshot(spark, root)
    assert(out.columns.toSeq == Seq("k", "v", "extra"))
    val m = out.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), Option(r.get(2))))).toMap
    assert(m == Map(1L -> (("x", None)), 2L -> (("y2", Some(20L))),
      3L -> (("z", Some(30L)))))
    // version 0 stays pinned to its own (pre-evolution) schema
    assert(StreamingPipeline.readSnapshot(spark, root, Some(0L))
      .columns.toSeq == Seq("k", "v"))
  }
}
