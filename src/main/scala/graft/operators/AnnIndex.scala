package graft.operators

import graft.core.{CacheScope, CollectionManager}
import graft.functions.VectorFunctions._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType,
  StructField, StructType}

/** PERSISTED ANN indexes — encode once, store, query many. The inline
  * forms ([[SimilaritySearch.pqTopK]] / [[SimilaritySearch.ivfTopK]])
  * retrain their quantizers and re-encode/re-assign the corpus on
  * every call; an index you rebuild per query batch is a scan, not an
  * index. [[PqIndex.build]] / [[IvfIndex.build]] pay the training +
  * encode cost ONCE into the engine's own [[graft.core.Collection]]
  * parquet layout, and every later query batch runs NO training job:
  * the query path is one tiny codebook/centroid read plus a scan of
  * the stored codes/cells (plan-asserted in the spec suite).
  *
  * Both loaded paths score through the same shared kernels as the
  * inline forms ([[SimilaritySearch.pqScore]] /
  * [[SimilaritySearch.ivfScore]]), so loaded-index results are
  * byte-equal to the inline results for the same parameters
  * (spec-asserted). Freshness is the caller's contract, as with any
  * index: vectors added after the build are invisible until rebuilt.
  *
  * Handle staleness: a handle carries driver-side state (PQ codebooks,
  * IVF centroids) that MUST match the stored collections — a stale
  * PqIndex would decode re-encoded codes with old codebooks (silently
  * wrong similarities), a stale IvfIndex would compute probe sets from
  * old centroids against re-partitioned cells (silent recall loss).
  * Every build/rebuild therefore publishes a fresh epoch marker file
  * (`.epoch-<uuid>` at the index root) and every verb verifies the
  * handle's epoch against it — one filesystem listing after crash
  * recovery — failing LOUDLY on a mismatch instead of returning
  * silently wrong answers.
  *
  * Lifecycle: build and rebuild write the whole index directory into a
  * staging root and swap it in ([[IndexRoot.publish]]), so a failed or
  * crashed (re)build leaves the previous index or the new one loadable.
  */
object AnnIndex {
  private[operators] val MetaName = "meta"
  private[operators] val CodebooksName = "codebooks"
  private[operators] val CodesName = "codes"
  private[operators] val CentroidsName = "centroids"
  private[operators] val CellsName = "cells"
  private[operators] val StatsName = "build_stats"
  private[operators] val EpochPrefix = ".epoch-"

  /** The epochs stored at the index root, read after crash recovery. */
  private def storedEpochs(spark: SparkSession, path: String): Seq[String] =
    IndexRoot.liveNames(spark, path).filter(_.startsWith(EpochPrefix))
      .map(_.stripPrefix(EpochPrefix))

  /** The guard every verb and public accessor runs: crash recovery,
    * then the handle's epoch must match the stored `.epoch-*` marker or
    * the handle is STALE — the index was rebuilt under it.
    */
  private[operators] def checkLive(spark: SparkSession, path: String,
      epoch: String): Unit = {
    val stored = storedEpochs(spark, path)
    require(stored.contains(epoch),
      s"stale index handle for $path: handle epoch $epoch, stored " +
        s"epoch ${stored.mkString(",")} — the index was rebuilt, so " +
        "this handle's driver-side codebooks/centroids no longer match " +
        "the stored collections; reload the index")
  }

  /** The same guard at load time, before a handle exists: exactly one
    * epoch must be stored.
    */
  private[operators] def readEpoch(spark: SparkSession,
      path: String): String = {
    val stored = storedEpochs(spark, path)
    require(stored.length == 1,
      s"index at $path carries ${stored.length} epoch markers — not a " +
        "built index, or manual tampering; rebuild the index")
    stored.head
  }

  /** Build or rebuild the ANN index at `path` by stage-and-swap
    * ([[IndexRoot.publish]]): `fill` writes the kind's collections into
    * the fresh root, the meta row and a new epoch marker complete it,
    * and the swap puts it in place. Returns the new epoch; every older
    * handle at `path` is stale from then on.
    */
  private[operators] def publish(spark: SparkSession, path: String,
      kind: String, p1: Int, p2: Int)(fill: CollectionManager => Unit)
      : String = IndexRoot.publish(spark, path) { root =>
    import spark.implicits._
    val mgr = new CollectionManager(spark, root)
    fill(mgr)
    mgr.collection(MetaName).write(
      Seq((kind, p1, p2)).toDF("kind", "p1", "p2"), SaveMode.ErrorIfExists)
    val epoch = java.util.UUID.randomUUID().toString
    val marker = new HPath(root, EpochPrefix + epoch)
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(marker).close()
    epoch
  }

  private val VecType = ArrayType(FloatType, containsNull = false)

  /** The tiny (cell, vec) centroid frame — shared by the IVF builds'
    * writes and the drift audit's distance join.
    */
  private[operators] def centroidsDf(spark: SparkSession,
      cents: Seq[Seq[Float]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        cents.zipWithIndex.map { case (v, i) => Row(i, v) }, 1),
      StructType(Seq(StructField("cell", IntegerType, nullable = false),
        StructField("vec", VecType, nullable = false))))

  /** The (subspace, cidx, vec) codebook table the PQ builds store. */
  private[operators] def codebooksDf(spark: SparkSession,
      codebooks: IndexedSeq[Seq[Seq[Float]]]): DataFrame = {
    val rows = for {
      s <- codebooks.indices
      (cent, ci) <- codebooks(s).zipWithIndex
    } yield Row(s, ci, cent)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("subspace", IntegerType, nullable = false),
        StructField("cidx", IntegerType, nullable = false),
        StructField("vec", VecType, nullable = false))))
  }

  /** The stored codebook table regrouped per subspace, the inverse of
    * [[codebooksDf]].
    */
  private[operators] def readCodebooks(mgr: CollectionManager, path: String,
      numSubspaces: Int): IndexedSeq[Seq[Seq[Float]]] = {
    val cb = mgr.collection(CodebooksName).read()
      .orderBy(col("subspace"), col("cidx")).collect()
    val codebooks = (0 until numSubspaces).map { s =>
      cb.filter(_.getInt(0) == s).map(_.getSeq[Float](2)).toSeq
    }
    require(codebooks.forall(_.nonEmpty), s"empty codebook in $path")
    codebooks
  }

  /** Per-subspace (subspace, n, mean_err_sq) over a codes frame's
    * encode errors `qerrs`: the PQ drift baseline a build stores, and
    * today's side of [[pqDriftReport]].
    */
  private[operators] def errorStats(codes: DataFrame): DataFrame =
    codes.select(posexplode(col("qerrs")).as(Seq("subspace", "e")))
      .groupBy(col("subspace"))
      .agg(count(lit(1)).as("n"), avg(col("e")).as("mean_err_sq"))

  /** The stored drift baseline; refuses an index built before it. */
  private[operators] def buildStats(mgr: CollectionManager,
      path: String): DataFrame = {
    val statsC = mgr.collection(StatsName)
    require(statsC.exists(),
      s"index at $path predates drift statistics — rebuild() once to " +
        "record the baseline")
    statsC.read()
  }

  /** The PQ drift audit of [[PqIndex.driftReport]] and
    * [[IvfPqIndex.driftReport]]: per subspace, the build-time mean
    * squared encode error against the same statistic over the `live`
    * codes. Columns: (subspace, mean_err_sq_build, n_now,
    * mean_err_sq_now, err_ratio).
    */
  private[operators] def pqDriftReport(mgr: CollectionManager, path: String,
      live: DataFrame): DataFrame = {
    val base = buildStats(mgr, path).select(col("subspace"),
      col("mean_err_sq").as("mean_err_sq_build"))
    val now = errorStats(live).select(col("subspace"),
      col("n").as("n_now"), col("mean_err_sq").as("mean_err_sq_now"))
    base.join(now, Seq("subspace"), "full_outer")
      .withColumn("err_ratio",
        when(col("mean_err_sq_build") > 0,
          col("mean_err_sq_now") / col("mean_err_sq_build")))
      .orderBy(col("subspace"))
  }

  /** Loud dimension guard for the extend paths: the encode/assign
    * kernels tolerate dimension mismatches silently (trailing
    * subspaces compare zero elements), so a delta from a DIFFERENT
    * embedding model would append garbage codes that poison every
    * future query. One limit-1 probe of the delta; an empty delta
    * passes (the append is a no-op anyway).
    */
  private[operators] def requireDim(delta: DataFrame, vecCol: String,
      expected: Int): Unit = {
    val head = delta.select(size(col(vecCol))).limit(1).collect()
    head.foreach { r =>
      require(r.getInt(0) == expected,
        s"index expects $expected-dim vectors, delta carries " +
          s"${r.getInt(0)}-dim — a different embedding model? Appending " +
          "would silently poison the index; rebuild instead")
    }
  }

  private[operators] def readMeta(mgr: CollectionManager, path: String,
      kind: String): (Int, Int) = {
    val rows = mgr.collection(MetaName).read().collect()
    require(rows.length == 1 && rows(0).getAs[String]("kind") == kind,
      s"not a $kind index: $path")
    (rows(0).getAs[Int]("p1"), rows(0).getAs[Int]("p2"))
  }
}

/** Product-quantization index: per-subspace codebooks (tiny) + the
  * encoded corpus (neighbor_id, true norm, one centroid index per
  * subspace — at the 8×16 defaults a 64-dim float vector stores as 8
  * codes: the 64× memory cut that makes a 100 TB embedding corpus
  * scannable from RAM, now persisted so queries never re-encode).
  * Each stored row also carries `qerrs`, the per-subspace squared
  * reconstruction error recorded AT ENCODE TIME (build and extend
  * alike) — PQ codes are lossy, so this is the only moment the error
  * is measurable, and it is what [[driftReport]] audits.
  */
final class PqIndex private (
    val spark: SparkSession,
    val path: String,
    val numSubspaces: Int,
    val nCentroids: Int,
    val codebooks: IndexedSeq[Seq[Seq[Float]]],
    epoch: String) {

  private def mgr = new CollectionManager(spark, path)
  private val tomb = new TombstoneStore(spark, path, "neighbor_id")

  private def checkLive(): Unit = AnnIndex.checkLive(spark, path, epoch)

  /** (neighbor_id, cn, codes, qerrs) — the stored LIVE encoded corpus
    * (tombstoned vectors excluded).
    */
  def codes: DataFrame = {
    checkLive()
    tomb.minus(mgr.collection(AnnIndex.CodesName).read())
  }

  /** ADC top-k against the stored codes — [[SimilaritySearch.pqTopK]]'s
    * output for the index's build parameters, with NO training and NO
    * encode on the query path: the per-query ADC tables come from the
    * loaded codebooks, and the only corpus-side work is the compiled
    * lookup scan of the codes collection + the final per-query top-k.
    */
  def topK(queries: DataFrame, idCol: String, vecCol: String, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    checkLive()
    val sub = codebooks.head.head.length
    SimilaritySearch.pqScore(codes, codebooks, numSubspaces, nCentroids,
      sub, queries, idCol, vecCol, k, excludeSelf)
  }

  /** DELETE vectors from the index (takedown/purge): a tombstone
    * append honored immediately by [[topK]] and [[driftReport]] — the
    * deleted vector stops surfacing as a neighbor the moment this
    * returns; its code row persists until [[rebuild]]. A tombstoned id
    * stays dead until a rebuild frees it.
    */
  def delete(ids: DataFrame, idCol: String): Unit = {
    checkLive()
    tomb.append(ids, idCol)
  }

  /** DRIFT AUDIT — the cheap measurement that tells the operator WHEN
    * to [[rebuild]], the PQ twin of [[IvfIndex.driftReport]]: per
    * subspace, the build-time baseline (mean squared reconstruction
    * error of the build encode, persisted by [[PqIndex.build]])
    * against the same statistic over today's LIVE codes (extends
    * included, tombstones excluded; every stored row carries its
    * encode-time `qerrs`). [[extend]] encodes under FROZEN codebooks,
    * so off-distribution deltas reconstruct badly — ADC distances
    * quietly degrade with nothing else measuring it; here they inflate
    * `err_ratio` immediately. Cost: one aggregation over the stored
    * error column — no training, no corpus access, no re-encode.
    *
    * Columns: (subspace, mean_err_sq_build, n_now, mean_err_sq_now,
    * err_ratio). Rule of thumb: rebuild when any subspace's err_ratio
    * passes ~2.
    */
  def driftReport(): DataFrame = {
    checkLive()
    AnnIndex.pqDriftReport(mgr, path, codes)
  }

  /** COMPACT the stored codes (and tombstones) into few large files —
    * the small-files maintenance pass [[extend]]'s per-batch appends
    * make necessary. Contents untouched, answers byte-identical
    * (spec-asserted); cheaper and more frequent than [[rebuild]]
    * (compact on the file-count cadence, rebuild on the [[driftReport]]
    * cadence). Assumes no concurrent writer or reader, like every
    * maintenance verb. Returns (filesBefore, filesAfter).
    */
  def compact(targetRecordsPerFile: Long = 1 << 20): (Int, Int) = {
    checkLive()
    IndexRoot.compact(spark, path, Seq(AnnIndex.CodesName),
      targetRecordsPerFile)
  }

  /** REBUILD from the current corpus: PQ codes are lossy (the original
    * vectors are not stored), so unlike [[IvfIndex.rebuild]] this
    * needs the corpus frame — retrain the codebooks under today's
    * distribution (the drift [[extend]] accumulates), re-encode, and
    * clear tombstones. Tombstoned ids still present in the caller's
    * corpus are purged first (a takedown must not silently resurrect
    * because the caller passed an unpurged corpus — the same contract
    * as [[IvfIndex.rebuild]]'s survivors-only compaction). Equivalent
    * to [[PqIndex.build]] at this path with the stored parameters;
    * returns the fresh index (None for an empty corpus). The rebuild
    * rotates the stored epoch, so THIS handle is stale afterwards —
    * use the returned index.
    */
  def rebuild(corpus: DataFrame, idCol: String, vecCol: String,
      kmeansIters: Int = 2, trainFraction: Double = 1.0)
      : Option[PqIndex] = {
    checkLive()
    PqIndex.build(tomb.minusBy(corpus, idCol), idCol, vecCol,
      numSubspaces, nCentroids, kmeansIters, trainFraction, path)
  }

  /** APPEND new vectors under the FROZEN codebooks — the index
    * maintenance step: one map-side compiled encode of the delta (the
    * same per-subspace argmin the build used), appended to the codes
    * collection. No retraining: codebooks stay fixed, so pre-extend
    * codes remain valid and the append is a single-collection,
    * delta-sized write. The trade is quantization drift — vectors from
    * a distribution the codebooks never saw carry larger quantization
    * error (they score LOW, the bias's safe direction) — which the
    * per-row `qerrs` record makes auditable via [[driftReport]];
    * rebuild on a maintenance cadence, as with [[DedupIndex.extend]].
    * Ids must stay unique across the original corpus and every
    * extension.
    */
  def extend(delta: DataFrame, idCol: String, vecCol: String): Unit = {
    checkLive()
    tomb.refuse(delta, idCol, "rebuild")
    val sub = codebooks.head.head.length
    AnnIndex.requireDim(delta, vecCol, numSubspaces * sub)
    val c = delta.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), normSq(col(vecCol)).as("cn"))
    mgr.collection(AnnIndex.CodesName).write(
      PqIndex.encodeWithErrors(c, codebooks, numSubspaces, sub),
      SaveMode.Append)
  }
}

object PqIndex {

  /** One map-pass encode of a (neighbor_id, cv, cn) frame under fixed
    * codebooks: the per-subspace argmin code (identical to the inline
    * [[SimilaritySearch.pqTrainEncode]] encode, so stored and inline
    * results stay byte-equal) PLUS the per-subspace squared
    * reconstruction error — measurable only here, while the full
    * vector is still in hand (see [[PqIndex.driftReport]]).
    */
  private[operators] def encodeWithErrors(c: DataFrame,
      codebooks: IndexedSeq[Seq[Seq[Float]]], numSubspaces: Int,
      sub: Int, extraCols: Seq[String] = Nil): DataFrame = {
    val codeCols = (0 until numSubspaces).map { s =>
      nearestCell(slice(col("cv"), s * sub + 1, sub), codebooks(s)) }
    val errCols = (0 until numSubspaces).map { s =>
      l2Sq(slice(col("cv"), s * sub + 1, sub),
        element_at(typedLit(codebooks(s).map(_.toSeq)), codeCols(s) + 1))
        .cast("float")
    }
    c.select(col("neighbor_id") +: col("cn") +: extraCols.map(col) ++: Seq(
      array(codeCols: _*).as("codes"), array(errCols: _*).as("qerrs")): _*)
  }

  /** Train codebooks (sample-trainable, deterministic — identical to
    * the inline [[SimilaritySearch.pqTopK]] training), encode the
    * corpus in one map pass, and persist (codebooks, codes + encode
    * errors, drift baseline, meta) under `path` by stage-and-swap
    * ([[AnnIndex.publish]]): a failed or crashed build leaves the
    * previous index or the new one, never new codes under old
    * codebooks. The new epoch stales any older handle at this path.
    * Every cache the build creates is released before it returns.
    * Returns None for an empty corpus (nothing to index, nothing
    * written).
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
      numSubspaces: Int = 8, nCentroids: Int = 16, kmeansIters: Int = 2,
      trainFraction: Double = 1.0, path: String): Option[PqIndex] = {
    val spark = corpus.sparkSession
    CacheScope.scoped {
      val c = CacheScope.cached(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
          normSq(col(vecCol)).as("cn")))
      SimilaritySearch.pqTrainEncode(c, numSubspaces, nCentroids,
          kmeansIters, trainFraction).map { case (dim, codebooks, _) =>
        val epoch = AnnIndex.publish(spark, path, "pq", numSubspaces,
            nCentroids) { mgr =>
          val codes = encodeWithErrors(c, codebooks, numSubspaces,
            dim / numSubspaces)
          mgr.collection(AnnIndex.CodesName).write(codes,
            SaveMode.ErrorIfExists)
          mgr.collection(AnnIndex.StatsName).write(
            AnnIndex.errorStats(codes), SaveMode.ErrorIfExists)
          mgr.collection(AnnIndex.CodebooksName).write(
            AnnIndex.codebooksDf(spark, codebooks), SaveMode.ErrorIfExists)
        }
        new PqIndex(spark, path, numSubspaces, nCentroids, codebooks, epoch)
      }
    }
  }

  /** Open an index previously written by [[build]] — one tiny codebook
    * read; the codes collection stays on disk until queried.
    */
  def load(spark: SparkSession, path: String): PqIndex = {
    val epoch = AnnIndex.readEpoch(spark, path)
    val mgr = new CollectionManager(spark, path)
    val (numSubspaces, nCentroids) = AnnIndex.readMeta(mgr, path, "pq")
    new PqIndex(spark, path, numSubspaces, nCentroids,
      AnnIndex.readCodebooks(mgr, path, numSubspaces), epoch)
  }
}

/** IVF index: the coarse centroid table (tiny) + the corpus with its
  * cell assignment, stored Hive-PARTITIONED BY CELL — so a query
  * batch's probe set prunes to the probed cell directories at the
  * parquet-scan level (static partition pruning: at 100 TB a
  * 4-of-1024-cells probe reads ~0.4 % of the index files; the inline
  * form scans and re-assigns everything, every call).
  */
final class IvfIndex private (
    val spark: SparkSession,
    val path: String,
    val nCells: Int,
    val centroids: Seq[Seq[Float]],
    epoch: String) {

  private def mgr = new CollectionManager(spark, path)
  private val tomb = new TombstoneStore(spark, path, "neighbor_id")

  /** Crash recovery + handle-epoch check, exposed for the streaming
    * layer (it refuses a stale index at stream construction, like
    * indexDedupStream).
    */
  private[graft] def checkLive(): Unit =
    AnnIndex.checkLive(spark, path, epoch)

  /** (neighbor_id, cv, cn, cell) — the stored LIVE assigned corpus
    * (tombstoned vectors excluded).
    */
  def cells: DataFrame = { checkLive(); tomb.minus(cellsRaw) }

  /** The stored assigned corpus WITHOUT the tombstone filter — the
    * streaming layer caches this corpus-sized frame once and applies
    * the tombstone anti-join OUTSIDE the cache, so mid-stream deletes
    * are honored per micro-batch (see
    * [[graft.streaming.Streaming.annScreenStream]]).
    */
  private[graft] def cellsRaw: DataFrame =
    mgr.collection(AnnIndex.CellsName).read()

  /** DELETE vectors from the index (takedown/purge): a tombstone
    * append honored immediately by [[topK]] and [[driftReport]]; the
    * physical rows persist until [[rebuild]] compacts them away.
    */
  def delete(ids: DataFrame, idCol: String): Unit = {
    checkLive()
    tomb.append(ids, idCol)
  }

  /** Probed exact-cosine top-k against the stored cells —
    * [[SimilaritySearch.ivfTopK]]'s output for the build parameters,
    * with NO training and NO assignment on the query path. The probed
    * cell ids are pushed as a partition filter BEFORE the join, so the
    * scan touches only the probed cell directories.
    */
  def topK(queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    checkLive()
    // tiny driver-side probe-set computation (queries are the bounded
    // side by the ANN contract) -> a LITERAL isin partition filter the
    // parquet source prunes directories with
    val probed = queries.select(
        explode(nearestCells(col(vecCol), centroids, nProbe)).as("cell"))
      .distinct().collect().map(_.getInt(0))
    SimilaritySearch.ivfScore(
      cells.filter(col("cell").isin(probed.toIndexedSeq: _*)),
      centroids, nProbe, queries, idCol, vecCol, k, excludeSelf)
  }

  /** APPEND new vectors under the FROZEN centroids: one map-side
    * compiled cell assign of the delta, appended into the Hive cell
    * partitions (Spark appends per-partition-directory, so existing
    * cells gain files and new arrivals stay prunable). No retraining —
    * centroid drift means off-distribution vectors land in the nearest
    * EXISTING cell; scoring stays exact (IVF stores full vectors), only
    * probe recall drifts. Rebuild on a maintenance cadence. Ids must
    * stay unique across the original corpus and every extension.
    */
  def extend(delta: DataFrame, idCol: String, vecCol: String): Unit = {
    checkLive()
    tomb.refuse(delta, idCol, "rebuild")
    AnnIndex.requireDim(delta, vecCol, centroids.head.length)
    mgr.collection(AnnIndex.CellsName).write(
      SimilaritySearch.assignCells(
        delta.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
          normSq(col(vecCol)).as("cn")),
        "cv", centroids),
      SaveMode.Append, partitionBy = Seq("cell"))
  }

  /** COMPACT the stored cells (and tombstones) into few large files
    * per cell partition — the small-files maintenance pass
    * [[extend]]'s per-batch appends make necessary (each extend lands
    * files inside every touched Hive cell directory). The cell
    * partition layout is preserved ([[graft.core.Collection.compact]]
    * rediscovers and re-applies the partition keys), so probe-set
    * partition pruning keeps working verbatim (spec-asserted).
    * Contents untouched, answers byte-identical; assumes no concurrent
    * writer or reader. Returns (filesBefore, filesAfter).
    */
  def compact(targetRecordsPerFile: Long = 1 << 20): (Int, Int) = {
    checkLive()
    IndexRoot.compact(spark, path, Seq(AnnIndex.CellsName),
      targetRecordsPerFile)
  }

  /** DRIFT AUDIT — the cheap measurement that tells the operator WHEN
    * to [[rebuild]], closing the silent-decay gap of [[extend]]'s
    * frozen centroids: per cell, the build-time baseline (member count
    * and mean squared distance to the centroid, persisted by
    * [[IvfIndex.build]]) against the same statistics over today's LIVE
    * corpus (extends included, tombstones excluded). Off-distribution
    * extends inflate `dist_ratio` (vectors far from every build-time
    * centroid ⇒ probe recall decays); lopsided growth shows as
    * `size_ratio` skew across cells (mega-cells make every probe
    * expensive). Cost: one map-side assigned-distance pass over the
    * cells collection + a nCells-row aggregation — no training, no
    * corpus-source scan.
    *
    * Columns: (cell, n_build, mean_dist_sq_build, n_now,
    * mean_dist_sq_now, size_ratio, dist_ratio). Rule of thumb:
    * rebuild when any populated cell's dist_ratio passes ~2 or the
    * max/mean size_ratio skew passes ~4.
    */
  def driftReport(): DataFrame = {
    checkLive()
    val base = AnnIndex.buildStats(mgr, path).select(col("cell"),
      col("n").as("n_build"),
      col("mean_dist_sq").as("mean_dist_sq_build"))
    val now = IvfIndex.cellStats(cells, centroids).select(col("cell"),
      col("n").as("n_now"), col("mean_dist_sq").as("mean_dist_sq_now"))
    base.join(now, Seq("cell"), "full_outer")
      .withColumn("n_build", coalesce(col("n_build"), lit(0L)))
      .withColumn("n_now", coalesce(col("n_now"), lit(0L)))
      .withColumn("size_ratio",
        col("n_now").cast("double") /
          greatest(col("n_build"), lit(1L)).cast("double"))
      .withColumn("dist_ratio",
        when(col("mean_dist_sq_build") > 0,
          col("mean_dist_sq_now") / col("mean_dist_sq_build")))
      .orderBy(col("cell"))
  }

  /** REBUILD from the index's own surviving vectors (IVF stores full
    * vectors, so no corpus access is needed): retrain the coarse
    * quantizer under today's distribution, reassign, rewrite, refresh
    * the drift baseline, and clear tombstones — restoring the balanced
    * cells and probe recall that [[extend]]'s frozen centroids erode.
    * The survivors are read from the live index while the new one is
    * staged, and the swap publishes it whole (see [[IvfIndex.build]]):
    * a crashed rebuild leaves this index or the rebuilt one. The
    * rebuild publishes a new epoch, so THIS handle is stale afterwards
    * — use the returned index.
    */
  def rebuild(kmeansIters: Int = 2, trainFraction: Double = 1.0)
      : IvfIndex = {
    checkLive()
    require(!cells.limit(1).isEmpty,
      s"rebuild of $path found no surviving vectors (everything " +
        "tombstoned) — drop the index instead")
    CacheScope.scoped {
      IvfIndex.buildFrom(
        CacheScope.cached(cells.select(col("neighbor_id"), col("cv"),
          col("cn"))),
        nCells, kmeansIters, trainFraction, path).get
    }
  }
}

object IvfIndex {

  /** Train the coarse quantizer (sample-trainable, identical to the
    * inline [[SimilaritySearch.ivfTopK]] training), assign cells in
    * one map pass, and persist (centroids, cells partitioned-by-cell,
    * drift baseline, meta) under `path` by stage-and-swap (see
    * [[PqIndex.build]]). Returns None for an empty corpus.
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, kmeansIters: Int = 2, trainFraction: Double = 1.0,
      path: String): Option[IvfIndex] =
    CacheScope.scoped {
      buildFrom(
        CacheScope.cached(corpus.select(col(idCol).as("neighbor_id"),
          col(vecCol).as("cv"), normSq(col(vecCol)).as("cn"))),
        nCells, kmeansIters, trainFraction, path)
    }

  /** [[build]] and [[IvfIndex.rebuild]] over the cached (neighbor_id,
    * cv, cn) frame `c`.
    */
  private def buildFrom(c: DataFrame, nCells: Int, kmeansIters: Int,
      trainFraction: Double, path: String): Option[IvfIndex] = {
    val spark = c.sparkSession
    val cents = SimilaritySearch.trainCentroids(c, "neighbor_id", "cv",
      nCells, kmeansIters, trainFraction)
    if (cents.isEmpty) None
    else {
      val epoch = AnnIndex.publish(spark, path, "ivf", cents.length, 0) {
          mgr =>
        val assigned = SimilaritySearch.assignCells(c, "cv", cents)
        mgr.collection(AnnIndex.CellsName).write(assigned,
          SaveMode.ErrorIfExists, partitionBy = Seq("cell"))
        mgr.collection(AnnIndex.CentroidsName).write(
          AnnIndex.centroidsDf(spark, cents), SaveMode.ErrorIfExists)
        // the drift baseline driftReport() compares against: per-cell
        // member count and mean squared assignment distance at build
        mgr.collection(AnnIndex.StatsName).write(
          cellStats(assigned, cents), SaveMode.ErrorIfExists)
      }
      Some(new IvfIndex(spark, path, cents.length, cents, epoch))
    }
  }

  /** Per-cell (cell, n, mean_dist_sq) over an assigned (cv, cell)
    * frame: one broadcast join against the nCells-row centroid table +
    * a map-side compiled squared-L2 — the measurement kernel under
    * both the build-time baseline and [[IvfIndex.driftReport]].
    */
  private[operators] def cellStats(assigned: DataFrame,
      cents: Seq[Seq[Float]]): DataFrame =
    assigned
      .join(broadcast(AnnIndex.centroidsDf(assigned.sparkSession, cents)),
        Seq("cell"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        avg(l2Sq(col("cv"), col("vec"))).as("mean_dist_sq"))

  /** Open an index previously written by [[build]]. */
  def load(spark: SparkSession, path: String): IvfIndex = {
    val epoch = AnnIndex.readEpoch(spark, path)
    val mgr = new CollectionManager(spark, path)
    val (nCells, _) = AnnIndex.readMeta(mgr, path, "ivf")
    val cents = mgr.collection(AnnIndex.CentroidsName).read()
      .orderBy(col("cell")).collect().map(_.getSeq[Float](1)).toSeq
    require(cents.length == nCells, s"centroid table mismatch in $path")
    new IvfIndex(spark, path, nCells, cents, epoch)
  }
}
