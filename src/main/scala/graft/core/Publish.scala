package graft.core

import java.io.IOException
import java.util.UUID
import java.util.regex.Pattern

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}

/** The engine's one crash-safe publish: fill [[staging]], then [[swap]]
  * retires the target to `<target>.old-<uuid>`, publishes, and drops
  * the retired copy. The target holds the old or the new copy, or is
  * absent beside the one `.old-` sibling [[recover]] restores (readers
  * such as [[Collection]] and the graft-docs listing recover before
  * every access).
  *
  * Renames use `FileContext`: onto an existing directory
  * `FileSystem.rename` silently nests the source, `FileContext.rename`
  * throws. No OVERWRITE rename: on the generic Hadoop path it deletes
  * the target first, leaving nothing to restore.
  *
  * Caveats: rename is atomic on HDFS and local disk, but a copy plus
  * delete on object stores (S3A, GCS), where a reader can see a
  * half-moved directory. Recovery assumes one writer per target:
  * another process's live siblings look exactly like crash residue.
  *
  * Every overwrite of a collection is built on this ([[Collection]]'s
  * `write` and `compact`, the graft-docs truncate commit), and so is
  * every build and rebuild of a persisted index (`DedupIndex`,
  * `PqIndex`, `IvfIndex`, `IvfPqIndex` stage their whole directory
  * through `graft.operators.IndexRoot`); appends move files into the
  * live directory one by one. Not built on this:
  * `ShardArtifact.commitAttemptFile`, a task-level rename-first commit
  * between identical attempt twins.
  */
object Publish {

  private val Uuid = "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"

  def staging(target: Path): Path =
    new Path(s"$target.staging-${UUID.randomUUID()}")

  /** Every rename here: `FileContext`, never overwriting. */
  private def rename(fs: FileSystem, conf: Configuration, from: Path,
      to: Path): Unit = FileContext.getFileContext(fs.getUri, conf)
    .rename(fs.makeQualified(from), fs.makeQualified(to))

  /** Replace `target` (present or not) with `staged`; a failed publish
    * restores the retired copy and throws naming both paths.
    */
  def swap(conf: Configuration, staged: Path, target: Path): Unit = {
    val fs = target.getFileSystem(conf)
    val retired = new Path(s"$target.old-${UUID.randomUUID()}")
    val hadOld = fs.exists(target)
    if (hadOld) rename(fs, conf, target, retired)
    try rename(fs, conf, staged, target)
    catch {
      case e: IOException =>
        if (hadOld)
          try rename(fs, conf, retired, target)
          catch { case r: IOException => e.addSuppressed(r) }
        val state = if (!hadOld) "" else if (fs.exists(target) &&
          !fs.exists(retired)) s"; restored $retired"
          else s"; stranded $retired — manual recovery required"
        throw new IllegalStateException(
          s"could not publish $staged to $target$state", e)
    }
    if (hadOld) fs.delete(retired, true)
  }

  /** Repair a crash inside [[swap]]: restore an absent target from its
    * one retired copy (two fail loudly), else drop retired copies; drop
    * stale staging. Only the exact `<name>.old-<uuid>` /
    * `<name>.staging-<uuid>` shapes match, so `docs.old-backup` is safe.
    */
  def recover(conf: Configuration, target: Path): Unit = {
    val fs = target.getFileSystem(conf)
    val parent = target.getParent
    if (parent == null || !fs.exists(parent)) return
    val names = fs.listStatus(parent).map(_.getPath)
    def siblings(kind: String) = names.filter(_.getName.matches(
      Pattern.quote(target.getName) + s"\\.$kind-" + Uuid))
    val olds = siblings("old")
    if (!fs.exists(target)) {
      if (olds.length > 1) throw new IllegalStateException(
        s"multiple retired copies of $target: " +
          olds.map(_.getName).mkString(", ") + " — manual recovery required")
      olds.foreach(rename(fs, conf, _, target))
    } else olds.foreach(fs.delete(_, true))
    siblings("staging").foreach(fs.delete(_, true))
  }

  /** Stage `bytes`, then [[swap]] them into `path` (`replace`) or
    * publish with a non-overwriting rename that throws
    * `FileAlreadyExistsException` if `path` exists (a CAS on the name).
    */
  def writeFile(conf: Configuration, path: Path, bytes: Array[Byte],
      replace: Boolean): Unit = {
    recover(conf, path)
    val fs = path.getFileSystem(conf)
    val tmp = staging(path)
    val out = fs.create(tmp, false)
    try out.write(bytes) finally out.close()
    if (replace) swap(conf, tmp, path)
    else try rename(fs, conf, tmp, path)
    catch { case e: IOException => fs.delete(tmp, false); throw e }
  }
}
