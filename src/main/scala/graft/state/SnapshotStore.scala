package graft.state

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}

import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path,
  RawLocalFileSystem}

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
    try parseVersion(readText(fs, new Path(root, PointerName)).trim)
    catch { case _: java.io.IOException => None }
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
    val tmpName = s"_current_tmp_${java.util.UUID.randomUUID()}"
    writeText(fs, new Path(root, tmpName), versionDir(root, batchId).getName + "\n")
    // branch on the FILESYSTEM's scheme, not the raw path's: a scheme-less
    // root on a cluster whose default FS is HDFS must take the DFS path —
    // the data dirs went through `fs`, so the pointer must too
    // (code-review r6)
    if (fs.getUri.getScheme == "file") {
      val dir = localPath(fs, root)
      Files.move(dir.resolve(tmpName), dir.resolve(PointerName),
        StandardCopyOption.ATOMIC_MOVE)
    } else {
      val fc = FileContext.getFileContext(root.toUri, fs.getConf)
      fc.rename(new Path(root, tmpName), new Path(root, PointerName),
        Options.Rename.OVERWRITE)
    }
  }

  /** `fs.rename`, failing loudly: Hadoop reports a failed rename by
    * returning false, and a writer that goes on to publish a version or
    * delete a backup after one would lose data.
    */
  private[graft] def renameOrFail(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"rename failed: $from -> $to")

  /** Every store text file (pointer, manifest, schema, lock token) is
    * UTF-8 on disk, whatever the JVM's default charset: a partition value
    * or column name outside ASCII must read back as it was written.
    * Writes replace the file whole, through [[createSmall]].
    */
  private[graft] def writeText(fs: FileSystem, p: Path, text: String): Unit = {
    val out = createSmall(fs, p, overwrite = true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  private[graft] def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def localPath(fs: FileSystem, p: Path): java.nio.file.Path =
    java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath)

  /** Hadoop's own local FileSystem classes, by exact name: the checksummed
    * and the raw local FS, and the `LocalFileSystem` subclass Spark's
    * bundled Hive registers for `file:` (it overrides only `rename`).
    */
  private val LocalFsClasses = Set(classOf[LocalFileSystem].getName,
    classOf[RawLocalFileSystem].getName,
    "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem")

  /** Open one of a store's small files (pointer, manifest, schema, writer
    * lock) for writing, its text to be written as UTF-8. With
    * `overwrite` false an existing file is an IOException, as
    * `fs.create(p, false)`.
    *
    * On Hadoop's own local FileSystems (matched by exact CLASS, not by
    * the `file` scheme, so a wrapping or subclassed FileSystem keeps its
    * own `create`) the file is written with java.nio: without Hadoop's
    * native library, local `create` forks a `chmod` process for the file
    * and another for its `.crc`, which costs several times the write
    * itself. Such a file has no `.crc`, which `LocalFileSystem` reads
    * unchecked; a `.crc` sibling left by an earlier `fs.create` of the same
    * name is deleted first, since it would not match the new content.
    * Missing parent directories are created, as `create` does. Any other
    * FileSystem goes through `fs.create`.
    */
  private[graft] def createSmall(fs: FileSystem, p: Path,
                                 overwrite: Boolean): java.io.OutputStream =
    if (!LocalFsClasses(fs.getClass.getName)) fs.create(p, overwrite)
    else {
      val f = localPath(fs, p)
      Files.createDirectories(f.getParent)
      Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
      if (overwrite) Files.newOutputStream(f)
      else Files.newOutputStream(f, StandardOpenOption.CREATE_NEW,
        StandardOpenOption.WRITE)
    }
}
