package graft.operators

import graft.core.{CollectionManager, Publish}
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** The tombstone collection of a persisted index ([[DedupIndex]],
  * [[PqIndex]], [[IvfIndex]]), with the presence probe CACHED per
  * handle: the common no-deletes path previously paid one `exists()`
  * filesystem round trip per accessor call (per-query on the topK
  * path — noise locally, a real LIST round trip per query on an
  * object store); here the first probe settles it and a handle with
  * no tombstones never touches the filesystem again.
  *
  * Cache contract (the engine-wide single-writer assumption, as with
  * [[graft.core.Collection.compact]]): deletes go through THIS handle
  * (or a reload). `append` flips the cache to present; a rebuild that
  * publishes an index without tombstones reports it via
  * [[markDropped]]. When tombstones ARE present the frame is re-read
  * on every access — a delete between two queries is honored by the
  * second, and the read stays delta-sized (the collection holds only
  * deleted ids).
  *
  * The presence probe goes through [[graft.core.Collection.read]]'s
  * data check, not bare directory existence: a tombstones directory
  * with no data files reads as a 0-column frame, and an anti-join
  * against that would fail to resolve the id column — a data-less
  * directory must behave exactly like no directory.
  */
private[operators] final class TombstoneStore(
    spark: SparkSession, indexPath: String, idColName: String) {

  private val coll =
    new CollectionManager(spark, indexPath).collection("tombstones")

  // None = unprobed; Some(false) = known absent (cached); Some(true) =
  // present, re-read per access so growth is honored immediately
  @volatile private var present: Option[Boolean] = None

  /** The live tombstone frame, or None when there are no tombstones
    * (including the data-less-directory case).
    */
  def live(): Option[DataFrame] = {
    val p = present.getOrElse {
      val x = coll.read().columns.nonEmpty
      present = Some(x)
      x
    }
    if (!p) None
    else Some(coll.read()).filter(_.columns.nonEmpty)
  }

  /** Anti-join the tombstoned ids out of `df` (which carries the
    * canonical id column). With no deletes the plan is untouched, so
    * the no-corpus-scan / zero-extra-join plan assertions of the spec
    * suites keep holding verbatim; with deletes, AQE broadcasts the
    * typically tiny tombstone side at runtime.
    */
  def minus(df: DataFrame): DataFrame =
    live().map(t => df.join(t, Seq(idColName), "left_anti")).getOrElse(df)

  /** Anti-join under a caller-named id column — the rebuild-corpus
    * purge path, where the frame still carries the caller's column.
    */
  def minusBy(df: DataFrame, idCol: String): DataFrame =
    live().map { t =>
      df.join(t.select(col(idColName).as(idCol)), Seq(idCol), "left_anti")
    }.getOrElse(df)

  /** Append deleted ids (one tiny write) and flip the cache. */
  def append(ids: DataFrame, idCol: String): Unit = {
    coll.write(ids.select(col(idCol).as(idColName)).distinct(),
      SaveMode.Append)
    present = Some(true)
  }

  /** Refuse a delta that re-uses a tombstoned id: the appended row
    * would be hidden by the tombstone filter (silently invisible) and
    * then dropped by the next rebuild (silently lost). Delta-sized
    * semi-join, only when tombstones exist.
    */
  def refuse(delta: DataFrame, idCol: String, remedy: String): Unit =
    live().foreach { t =>
      val clash = delta.select(col(idCol).as(idColName))
        .join(t, Seq(idColName), "left_semi").limit(1).collect()
      require(clash.isEmpty,
        s"delta re-uses tombstoned id ${clash.headOption.map(_.get(0))} " +
          s"— deleted ids stay dead until rebuild; re-ingest under a " +
          s"fresh id or $remedy first")
    }

  /** Record that a rebuild published an index without tombstones. */
  def markDropped(): Unit = present = Some(false)
}

/** The lifecycle every persisted index ([[DedupIndex]], [[PqIndex]],
  * [[IvfIndex]], [[IvfPqIndex]]) shares. Build and rebuild write the
  * WHOLE index directory (every collection, the meta row, the ANN
  * epoch marker) into a fresh [[graft.core.Publish.staging]] root and
  * [[graft.core.Publish.swap]] it in, so a failed or crashed (re)build
  * leaves the previous index or the new one, never a mix of the two;
  * every verb and `load` reads the root through [[liveNames]], which
  * recovers it first.
  */
private[graft] object IndexRoot {

  /** The ingest streams' per-lineage replay marker (see
    * [[graft.streaming.Streaming.ExtendMarker]]): root-level state that
    * is not derived from the indexed vectors, so it outlives a rebuild.
    */
  val StreamMarkerName = "stream_extend_batch"

  private def conf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration

  /** Repair a crash inside a (re)build's swap (restore the retired
    * index or drop the stale staging copy), then list the names at the
    * index root; Nil when there is no index.
    */
  def liveNames(spark: SparkSession, path: String): Seq[String] = {
    val root = new Path(path)
    Publish.recover(conf(spark), root)
    val fs = root.getFileSystem(conf(spark))
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).map(_.getPath.getName).toSeq
  }

  /** Fill a fresh staging root (`fill` gets its path and writes into it
    * with no overwrite), then swap it in at `path`. The collections
    * need no swap of their own. A failure deletes the staging copy and
    * rethrows. `fill` may read the live index: it stays in place until
    * the swap.
    */
  def publish[T](spark: SparkSession, path: String)(fill: String => T): T = {
    val target = new Path(path)
    val fs = target.getFileSystem(conf(spark))
    Publish.recover(conf(spark), target)
    val staged = Publish.staging(target)
    try {
      val out = fill(staged.toString)
      val marker = new Path(target, StreamMarkerName)
      Publish.recover(conf(spark), marker)
      if (fs.exists(marker))
        FileUtil.copy(fs, marker, fs, new Path(staged, StreamMarkerName),
          false, conf(spark))
      Publish.swap(conf(spark), staged, target)
      out
    } catch {
      // a copy this delete misses is dropped by the next recovery
      case e: Throwable => scala.util.Try(fs.delete(staged, true)); throw e
    }
  }

  /** Compact each present collection in `names` and the tombstones of
    * the index at `path`; returns (filesBefore, filesAfter) summed over
    * them.
    */
  def compact(spark: SparkSession, path: String, names: Seq[String],
      targetRecordsPerFile: Long): (Int, Int) = {
    val mgr = new CollectionManager(spark, path)
    val counts = (names :+ "tombstones").map(mgr.collection(_))
      .filter(_.exists()).map(_.compact(targetRecordsPerFile))
    (counts.map(_._1).sum, counts.map(_._2).sum)
  }
}
