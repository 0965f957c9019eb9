package graft

import java.io.IOException
import java.net.URI
import java.util.regex.Pattern

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only crash-injecting local filesystem, addressed as `faulty:`.
  * Once armed with target paths and a count `k`, it fails the k-th
  * rename, delete or create that touches a target or one of its
  * `.staging-` / `.old-` / `.tmp-` siblings, and every later such op
  * until disarmed — a process that died at that op, not a transient
  * error. Other paths (a Spark job's files inside a staging
  * directory) pass through, so a real write runs up to the crash.
  *
  * Register both halves on the Hadoop configuration
  * ([[FaultyFileSystem.register]]): `fs.faulty.impl` serves
  * `FileSystem` callers, `fs.AbstractFileSystem.faulty.impl`
  * ([[FaultyFs]]) routes `FileContext` through the same counter.
  */
class FaultyFileSystem extends RawLocalFileSystem {
  import FaultyFileSystem.check

  override def getUri: URI = URI.create("faulty:///")

  // RawLocalFileSystem loads permissions lazily through a `file:` URI,
  // which fails under another scheme: hand out plain statuses instead
  private def plain(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      if (st.isDirectory) FsPermission.getDirDefault
      else FsPermission.getFileDefault, "", "", st.getPath)

  override def getFileStatus(f: Path): FileStatus =
    plain(super.getFileStatus(f))

  override def getFileLinkStatus(f: Path): FileStatus =
    plain(super.getFileLinkStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(plain)

  override def rename(src: Path, dst: Path): Boolean = {
    check("rename", src, dst)
    if (!FaultyFileSystem.beforeRename(src, dst)) return false
    val r = super.rename(src, dst)
    FaultyFileSystem.afterRename(src, dst)
    r
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    check("delete", p)
    val r = super.delete(p, recursive)
    FaultyFileSystem.afterDelete(p)
    r
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable)
      : FSDataOutputStream = {
    check("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize,
      progress)
  }

  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    check("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    check("create", f)
    super.createNonRecursive(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)
  }
}

/** The `FileContext` face of [[FaultyFileSystem]]. */
class FaultyFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new FaultyFileSystem, conf,
      "faulty", false)

object FaultyFileSystem {
  private var targets: Seq[String] = Nil
  private var k = 0
  private var seen = 0
  private var crashed = false

  /** Called after every successful rename (any path) — the hook the
    * nested-publish spec uses to act between two renames.
    */
  @volatile var afterRename: (Path, Path) => Unit = (_, _) => ()

  /** Called before every `FileSystem` rename (any path); `false` fails
    * it the way HDFS refuses an existing destination — the hook the
    * attempt-commit specs use to stage a committed twin.
    */
  @volatile var beforeRename: (Path, Path) => Boolean = (_, _) => true

  /** Called after every `FileSystem` delete (any path). */
  @volatile var afterDelete: Path => Unit = _ => ()

  def register(conf: Configuration): Unit = {
    conf.set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    conf.set("fs.AbstractFileSystem.faulty.impl", classOf[FaultyFs].getName)
  }

  /** Crash at the `k`-th op touching any of `paths` (local paths). */
  def arm(k: Int, paths: String*): Unit = synchronized {
    targets = paths.map(p => new Path(p).toUri.getPath)
    this.k = k
    seen = 0
    crashed = false
  }

  /** Stop injecting; true when the armed crash fired. */
  def disarm(): Boolean = synchronized {
    targets = Nil
    crashed
  }

  private def touches(p: Path): Boolean = {
    val s = Path.getPathWithoutSchemeAndAuthority(p)
    targets.exists { t =>
      val tp = new Path(t)
      s.toString == t || (s.getParent == tp.getParent &&
        s.getName.matches(Pattern.quote(tp.getName) +
          "\\.(staging|old|tmp)-.*"))
    }
  }

  private def check(op: String, paths: Path*): Unit = synchronized {
    if (targets.nonEmpty && paths.exists(touches)) {
      seen += 1
      if (seen >= k) crashed = true
      if (crashed)
        throw new IOException(
          s"injected crash: $op #$seen of ${paths.mkString(" -> ")}")
    }
  }
}
