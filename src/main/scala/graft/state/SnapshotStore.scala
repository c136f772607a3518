package graft.state

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** The version pointer under every [[ManifestStore]] table root: version
  * directories `v_<batchId>/` and one `_current` pointer file naming the
  * committed one.
  *
  *  - the commit point is ONE rename of the pointer file ([[pointTo]]:
  *    atomic replace on POSIX and HDFS), so a reader sees the old or the
  *    new version, never a missing or partial pointer;
  *  - version names are the batch id, so a replayed batch overwrites its
  *    own uncommitted dir (never a committed one — writers gate on
  *    [[currentVersion]] ≥ batchId) and commits land in order.
  *
  * What a version holds and when it is reclaimed is [[ManifestStore]]'s
  * business.
  */
object SnapshotStore {

  private val PointerName = "_current"
  private val VersionPrefix = "v_"

  def versionDir(root: Path, v: Long): Path =
    new Path(root, f"$VersionPrefix$v%019d")

  private[state] def parseVersion(name: String): Option[Long] =
    if (name.startsWith(VersionPrefix))
      scala.util.Try(name.stripPrefix(VersionPrefix).toLong).toOption
    else None

  /** The committed version id, if any commit ever succeeded. */
  def currentVersion(fs: FileSystem, root: Path): Option[Long] = {
    val p = new Path(root, PointerName)
    try {
      val in = fs.open(p)
      try parseVersion(scala.io.Source.fromInputStream(in).mkString.trim)
      finally in.close()
    } catch { case _: java.io.IOException => None }
  }

  /** Every committed version still on disk (≤ the pointer — a NEWER dir
    * is a crashed batch's uncommitted leftover, not history), oldest
    * first.
    */
  def availableVersions(fs: FileSystem, root: Path): Seq[Long] =
    currentVersion(fs, root).map { cur =>
      fs.listStatus(root).flatMap(s => parseVersion(s.getPath.getName))
        .filter(_ <= cur).sorted.toSeq
    }.getOrElse(Seq.empty)

  /** The atomic commit point: stage the pointer content, rename over
    * `_current` (atomic replace — a reader sees the old or the new
    * pointer, never a missing or partial one). On `file:` roots the
    * rename is java.nio ATOMIC_MOVE (rename(2) — Hadoop's local
    * FileContext implements OVERWRITE as delete-then-rename, which leaves
    * exactly the missing-pointer window this store exists to close); on
    * DFS roots it is FileContext's atomic OVERWRITE rename.
    */
  private[graft] def pointTo(fs: FileSystem, root: Path, batchId: Long): Unit = {
    val content = versionDir(root, batchId).getName + "\n"
    // branch on the FILESYSTEM's scheme, not the raw path's: a scheme-less
    // root on a cluster whose default FS is HDFS must take the DFS path —
    // the data dirs went through `fs`, so the pointer must too
    // (code-review r6)
    if (fs.getUri.getScheme == "file") {
      val dir = java.nio.file.Paths.get(fs.makeQualified(root).toUri.getPath)
      val tmp = dir.resolve(s"_current_tmp_${java.util.UUID.randomUUID()}")
      java.nio.file.Files.writeString(tmp, content)
      java.nio.file.Files.move(tmp, dir.resolve(PointerName),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      val tmp = new Path(root, s"_current_tmp_${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      out.writeBytes(content)
      out.close()
      val fc = FileContext.getFileContext(root.toUri, fs.getConf)
      fc.rename(tmp, new Path(root, PointerName), Options.Rename.OVERWRITE)
    }
  }
}
