package graft.state

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** The version pointer under an unpartitioned [[ManifestStore]] table:
  * which committed versions survive reclamation.
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

}
