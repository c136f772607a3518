package graft

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** The raw local file system under a scheme of its own, `renamefail:`,
  * whose `rename` returns false — Hadoop's way of reporting a failed
  * rename — for every source path the active [[RenameFailingFileSystem.failing]]
  * predicate accepts. Every other call is the local file system's, so
  * `renamefail:///x` and `file:///x` name the same files: a test commits
  * through one root and checks through the other.
  */
class RenameFailingFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${RenameFailingFileSystem.Scheme}:///")
  override def getScheme: String = RenameFailingFileSystem.Scheme
  override def rename(src: Path, dst: Path): Boolean =
    !RenameFailingFileSystem.fails(src) && super.rename(src, dst)
}

object RenameFailingFileSystem {
  val Scheme = "renamefail"

  @volatile private var fails: Path => Boolean = _ => false

  /** `dir` (an absolute local path) as a `renamefail:` root. */
  def root(dir: String): String = s"$Scheme://$dir"

  /** Run `body` with the scheme registered in `conf` and every rename
    * whose source satisfies `failing` returning false.
    */
  def failing[T](conf: Configuration, failing: Path => Boolean)(body: => T): T = {
    conf.set(s"fs.$Scheme.impl", classOf[RenameFailingFileSystem].getName)
    fails = failing
    try body finally fails = _ => false
  }
}
