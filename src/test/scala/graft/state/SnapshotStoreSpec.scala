package graft.state

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** The version pointer under an unpartitioned [[ManifestStore]] table:
  * which committed versions survive reclamation; and how the store writes
  * its small files ([[SnapshotStore.createSmall]]).
  */
class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("default depth 2 keeps exactly current + previous (prior behavior)") {
    val root = tmp("graft_ss_d2")
    // with no age horizon, reclamation keeps what the new and the
    // previous manifest reference — an unpartitioned table's manifest
    // names one version, so that is current + previous
    (1L to 3L).foreach { v =>
      ManifestStore.commit(spark, new Path(root), v,
        Seq(ManifestStore.TableCommit("", Seq((v, s"batch$v")).toDF("k", "tag"))),
        ManifestStore.ReplacePartitions, retentionMs = 0L)
    }
    assert(SnapshotStore.availableVersions(fsOf(root), new Path(root)) ==
      Seq(2L, 3L))
    assert(ManifestStore.read(spark, root, Some(2L))
      .select("tag").as[String].collect().toSeq == Seq("batch2"))
  }

  private def text(fs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def put(out: java.io.OutputStream, s: String): Unit =
    try out.write(s.getBytes(UTF_8)) finally out.close()

  test("a small store file on the local FS has no .crc; an overwrite drops a stale one") {
    val root = tmp("graft_ss_small")
    val fs = fsOf(root)
    assert(fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem])
    val p = new Path(root, "_f")
    val crc = Paths.get(root, "._f.crc")
    SnapshotStore.createSmall(fs, p, overwrite = true).close()
    assert(!Files.exists(crc))
    // as an older writer left it: written through fs.create, with a .crc
    put(fs.create(p, true), "old\n")
    assert(Files.exists(crc))
    put(SnapshotStore.createSmall(fs, p, overwrite = true), "the new content\n")
    assert(!Files.exists(crc))
    assert(text(fs, p) == "the new content\n")
  }

  test("creating an existing small file without overwrite is contention and keeps it") {
    val root = tmp("graft_ss_excl")
    val fs = fsOf(root)
    val p = new Path(root, "_writer_lock")
    put(SnapshotStore.createSmall(fs, p, overwrite = false), "first\n")
    intercept[java.io.IOException](SnapshotStore.createSmall(fs, p, overwrite = false))
    assert(text(fs, p) == "first\n")
  }

  test("a version an older writer left with .crc metadata replays and reads") {
    val root = tmp("graft_ss_stalecrc")
    val (fs, rootPath) = (fsOf(root), new Path(root))
    def commit(v: Long): Unit =
      ManifestStore.commit(spark, rootPath, v,
        Seq(ManifestStore.TableCommit("", Seq((v, s"batch$v")).toDF("k", "tag"))),
        ManifestStore.ReplacePartitions)
    commit(1L)
    // an uncommitted v_2 whose manifest and schema went through fs.create
    val v2 = SnapshotStore.versionDir(rootPath, 2L)
    Seq("_manifest", "_schema").foreach(n => put(fs.create(new Path(v2, n), true), "stale\n"))
    assert(Files.exists(Paths.get(v2.toString, "._manifest.crc")))
    commit(2L)
    assert(ManifestStore.read(spark, root).select("tag").as[String].collect().toSeq
      == Seq("batch2"))
    assert(!Files.exists(Paths.get(v2.toString, "._manifest.crc")) &&
      !Files.exists(Paths.get(v2.toString, "._schema.crc")))
  }

  test("a FileSystem that is not Hadoop's own local class writes through its create") {
    import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, FilterFileSystem}
    import org.apache.hadoop.fs.permission.FsPermission
    import org.apache.hadoop.util.Progressable
    val root = new Path(tmp("graft_ss_wrapped"))
    val creates = new java.util.concurrent.atomic.AtomicInteger()
    val wrapped = new FilterFileSystem(
        FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).getRawFileSystem) {
      override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                          bufferSize: Int, replication: Short, blockSize: Long,
                          progress: Progressable): FSDataOutputStream = {
        creates.incrementAndGet()
        super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
      }
    }
    put(SnapshotStore.createSmall(wrapped, new Path(root, "_f"), overwrite = true), "x\n")
    assert(creates.get == 1)
    // the pointer's temporary file too; the move stays an atomic rename
    SnapshotStore.pointTo(wrapped, root, 5L)
    assert(creates.get == 2)
    assert(SnapshotStore.currentVersion(wrapped, root).contains(5L))
  }
}
