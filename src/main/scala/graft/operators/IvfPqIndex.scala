package graft.operators

import graft.core.{CacheScope, CollectionManager}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** COMPOSED IVF-PQ residual index (Jégou et al., "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011 §IV — IVFADC) — the
  * deployable 100 TB ANN layout: a coarse quantizer splits the corpus
  * into `nCells` cells AND each vector's RESIDUAL against its cell
  * centroid is product-quantized. Queries therefore prune (only
  * `nProbe` cell partitions are scanned — static parquet partition
  * pruning, like [[IvfIndex]]) AND scan compressed (each pruned row
  * costs `numSubspaces` ADC table lookups over the stored codes, like
  * [[PqIndex]] — no full-width vectors anywhere in the corpus layout).
  * The flat [[PqIndex]] ADC-scans every code in the corpus per query;
  * [[IvfIndex]] prunes but stores raw vectors (full-width storage).
  * At 100 TB of embeddings neither shape deploys: this one stores
  * codes and scans `nProbe/nCells` of them.
  *
  * Residuals, not raw vectors, feed the PQ codebooks: within a cell the
  * residual distribution is centered and tight, so the same codebook
  * budget quantizes with far smaller error than raw-vector PQ — and the
  * ADC identity `⟨q, c_cell + quant(r)⟩ = ⟨q, c_cell⟩ + ⟨q, quant(r)⟩`
  * means the query-side cost is ONE shared per-query ADC table plus one
  * scalar `⟨q, c_cell⟩` offset per probed cell. Scoring divides by the
  * TRUE stored norm (like [[PqIndex]]): approximation error pushes
  * scores DOWN, the safe direction, and the rerank composition
  * ([[SimilaritySearch.rerankTopK]]'s pattern) recovers exact ranking.
  *
  * Storage layout under `path` (engine collections, all parquet):
  * `centroids` (cell, vec — nCells rows), `codebooks` (subspace, cidx,
  * vec — residual codebooks), `codes` (neighbor_id, cn, codes, qerrs)
  * HIVE-PARTITIONED BY CELL, `build_stats` (per-subspace residual
  * encode error — the drift baseline), `meta`. Same lifecycle contracts
  * as [[PqIndex]]/[[IvfIndex]]: stage-and-swap builds that publish the
  * whole index directory and a new epoch, loud stale-handle refusal,
  * tombstoned deletes honored immediately, compaction preserving the
  * cell partition layout, corpus-fed rebuild (PQ codes are lossy).
  *
  * The reference has no vector search at all (it is an ETL loader,
  * ParquetArangoLoader.java:85-288); this is part of the engine's
  * native similarity surface.
  */
final class IvfPqIndex private (
    val spark: SparkSession,
    val path: String,
    val nCells: Int,
    val numSubspaces: Int,
    val nCentroids: Int,
    val centroids: Seq[Seq[Float]],
    val codebooks: IndexedSeq[Seq[Seq[Float]]],
    epoch: String) {

  private def mgr = new CollectionManager(spark, path)
  private val tomb = new TombstoneStore(spark, path, "neighbor_id")

  /** Crash recovery + handle-epoch check, exposed for the streaming
    * layer (it refuses a stale index at stream construction and per
    * ingest batch, like [[IvfIndex.checkLive]]).
    */
  private[graft] def checkLive(): Unit =
    AnnIndex.checkLive(spark, path, epoch)

  private def sub: Int = codebooks.head.head.length

  /** The vector dimension this index was built for — the loud
    * input-contract bound every query/extend/stream surface checks.
    */
  private[graft] def dim: Int = numSubspaces * sub

  /** (neighbor_id, cn, codes, qerrs, cell) — the stored LIVE encoded
    * corpus (tombstoned vectors excluded).
    */
  def codes: DataFrame = { checkLive(); tomb.minus(codesRaw) }

  /** The stored codes WITHOUT the tombstone filter — the streaming
    * layer caches this frame once and anti-joins the LIVE tombstone
    * listing outside the cache, so mid-stream deletes are honored per
    * micro-batch (the [[IvfIndex.cellsRaw]] contract).
    */
  private[graft] def codesRaw: DataFrame =
    mgr.collection(AnnIndex.CodesName).read()

  /** Probed ADC top-k: per query, ONE driver-side ADC table against
    * the residual codebooks (shared across its probed cells) plus one
    * `⟨q, c_cell⟩` offset per probed cell; the probed cell ids are
    * pushed as a LITERAL isin partition filter, so the parquet scan
    * touches only the probed cell directories (plan-asserted), and
    * each scanned row costs `numSubspaces` compiled table lookups
    * ([[graft.expressions.PqAdcDot]]). No training, no encode, no
    * full-width vector anywhere on the query path. The query set is
    * the bounded side by the ANN contract (collected to build the
    * tables, like [[PqIndex.topK]]).
    */
  def topK(queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    checkLive()
    val qRows = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), normSq(col(vecCol)).as("qn")).collect()
    if (qRows.isEmpty)
      return SimilaritySearch.emptyTopKOf(spark,
        queries.schema(idCol).dataType,
        codes.schema("neighbor_id").dataType)
    // the same loud dimension guard extend carries: a short/long query
    // vector would otherwise surface as a raw index error from the
    // driver-side ADC table loop (or silently min-prefix the probes)
    qRows.find(_.getSeq[Float](1).length != numSubspaces * sub)
      .foreach { r =>
        require(requirement = false,
          s"index expects ${numSubspaces * sub}-dim vectors, query " +
            s"'${r.get(0)}' carries ${r.getSeq[Float](1).length}-dim — " +
            "a different embedding model?")
      }
    val probeRows = qRows.flatMap { r =>
      val qv = r.getSeq[Float](1)
      val adc = IvfPqIndex.adcTable(qv, codebooks, numSubspaces,
        nCentroids, sub)
      IvfPqIndex.nearestCellsDriver(qv, centroids, nProbe).map { cell =>
        org.apache.spark.sql.Row(r.get(0), cell, adc.toSeq,
          r.getDouble(2), IvfPqIndex.dotDriver(qv, centroids(cell)))
      }
    }
    val probes = spark.createDataFrame(
      spark.sparkContext.parallelize(probeRows.toIndexedSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          queries.schema(idCol).dataType),
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("adc",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = false)),
        org.apache.spark.sql.types.StructField("qn",
          org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("cdot",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
    val probedCells = probeRows.map(_.getInt(1)).distinct.toIndexedSeq
    // narrow projection FIRST (qerrs is the drift-audit column — it
    // must prune out of the hot scan), then the literal partition
    // filter the parquet source prunes directories with
    val live = codes.select(col("neighbor_id"), col("cn"), col("codes"),
        col("cell"))
      .filter(col("cell").isin(probedCells: _*))
    // bounded per-query top-k: ≤ k candidate rows per (query,
    // partition) cross the exchange — never a sort of a query's full
    // probed-cell candidate set under one task
    SimilaritySearch.boundedTopK(
      live.join(broadcast(probes), Seq("cell"))
        .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id")
          else lit(true))
        .withColumn("cos", cosineFromParts(
          graft.expressions.GraftFunctions.pqAdcDot(col("codes"),
            col("adc"), nCentroids) + col("cdot"),
          col("qn"), col("cn"))),
      k)
  }

  /** TWO-STAGE exact rerank — the standard IVFADC deployment shape
    * (shortlist from the compressed index, exact scores for the
    * shortlist only): [[topK]] fetches `k · overfetch` ADC candidates
    * per query from the pruned compressed scan, then ONLY those rows
    * meet their full-width vectors from the CALLER's corpus frame (the
    * index stores codes — the full vectors live wherever the corpus
    * does, and this join touches k·overfetch of them per query, never
    * the corpus) for an exact cosine re-ranking. Quantization error
    * decides at most which candidates make the shortlist; the returned
    * ORDER and `cos` values are exact. Ids absent from `corpus`
    * (deleted upstream) simply drop out of the shortlist join.
    */
  def topKRerank(queries: DataFrame, idCol: String, vecCol: String,
      corpus: DataFrame, k: Int, nProbe: Int = 4, overfetch: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    require(overfetch >= 1, s"overfetch must be >= 1, got $overfetch")
    val shortlist = topK(queries, idCol, vecCol, k * overfetch, nProbe,
      excludeSelf).select(col("query_id"), col("neighbor_id"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), normSq(col(vecCol)).as("cn"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), normSq(col(vecCol)).as("qn"))
    SimilaritySearch.boundedTopK(
      shortlist
        .join(c, Seq("neighbor_id"))
        .join(broadcast(q), Seq("query_id"))
        .withColumn("cos", cosineFromParts(dot(col("qv"), col("cv")),
          col("qn"), col("cn"))),
      k)
  }

  /** DELETE vectors (takedown/purge): a tombstone append honored
    * immediately by [[topK]] and [[driftReport]]; physical rows persist
    * until [[rebuild]]. Same contract as the sibling indexes.
    */
  def delete(ids: DataFrame, idCol: String): Unit = {
    checkLive()
    tomb.append(ids, idCol)
  }

  /** APPEND new vectors under the FROZEN quantizers: one map-side pass
    * assigns each delta vector its coarse cell ([[graft.expressions
    * .NearestCells]]), takes the residual ([[graft.expressions
    * .ResidualVec]]), and encodes it against the frozen codebooks —
    * appended into the Hive cell partitions, so existing cells gain
    * files and new rows stay prunable. No retraining; quantization
    * drift is recorded per row (`qerrs`) and audited by
    * [[driftReport]]. Ids must stay unique across the original corpus
    * and every extension.
    */
  def extend(delta: DataFrame, idCol: String, vecCol: String): Unit = {
    checkLive()
    tomb.refuse(delta, idCol, "rebuild")
    AnnIndex.requireDim(delta, vecCol, numSubspaces * sub)
    val assigned = SimilaritySearch.assignCells(
      delta.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        normSq(col(vecCol)).as("cn")),
      "cv", centroids)
    val res = assigned.withColumn("cv",
      graft.expressions.GraftFunctions.residualVec(col("cv"), col("cell"),
        centroids))
    mgr.collection(AnnIndex.CodesName).write(
      PqIndex.encodeWithErrors(res, codebooks, numSubspaces, sub,
        extraCols = Seq("cell")),
      SaveMode.Append, partitionBy = Seq("cell"))
  }

  /** COMPACT the stored codes (and tombstones) into few large files per
    * cell partition — [[extend]]'s per-batch appends land files inside
    * every touched cell directory. Partition layout preserved, answers
    * byte-identical; assumes no concurrent writer or reader. Returns
    * (filesBefore, filesAfter).
    */
  def compact(targetRecordsPerFile: Long = 1 << 20): (Int, Int) = {
    checkLive()
    IndexRoot.compact(spark, path, Seq(AnnIndex.CodesName),
      targetRecordsPerFile)
  }

  /** DRIFT AUDIT — per subspace, the build-time mean squared RESIDUAL
    * reconstruction error against the same statistic over today's live
    * codes, exactly [[PqIndex.driftReport]]'s shape (every stored row
    * carries its encode-time `qerrs`). Off-distribution extends inflate
    * `err_ratio` immediately; coarse-cell drift shows up here too
    * (vectors far from every centroid leave larger residuals than the
    * codebooks were trained on). Cost: one aggregation over the stored
    * error column.
    */
  def driftReport(): DataFrame = {
    checkLive()
    AnnIndex.pqDriftReport(mgr, path, codes)
  }

  /** ADC threshold CALIBRATION — the measured answer to "what
    * threshold should an ANN screen over this index use?"
    * ([[graft.streaming.Streaming.annScreenStreamPq]] /
    * [[graft.streaming.Streaming.annIngestStreamPq]]). ADC cosines are
    * biased LOW (an EXACT twin of an indexed vector scores the index's
    * self-ADC cosine — ≈ 0.7–0.8 on random 64-dim embeddings at the
    * 8×16 defaults, never 1.0), so a threshold picked by intuition
    * silently misses every duplicate. This operator runs the
    * documented manual procedure as one query: SELF-score each
    * supplied corpus vector against its OWN stored code (exactly what
    * an exact-duplicate arrival of it would score) and report the
    * per-cell distribution — cells whose residuals quantized badly
    * calibrate lower, and a drifting cell is visible here before it
    * is visible in recall.
    *
    * Columns: (cell, n, min_self_cos, p05_self_cos, mean_self_cos) —
    * the percentile is Spark's exact `percentile` over the 6-decimal
    * rounded scores, so the report is deterministic.
    * [[suggestedAdcThreshold]] reduces it to the one scalar a screen
    * needs. Pass a [[Sampling.hashSample]] of the corpus at scale —
    * the join is id-keyed and the scoring map-side, so cost is one
    * exchange over the sample.
    */
  def adcCalibration(corpus: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    checkLive()
    AnnIndex.requireDim(corpus, vecCol, dim)
    selfScores(corpus, idCol, vecCol)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        min(col("cos")).as("min_self_cos"),
        expr("percentile(cos, 0.05)").as("p05_self_cos"),
        avg(col("cos")).as("mean_self_cos"))
      .orderBy(col("cell"))
  }

  /** The scalar form of [[adcCalibration]]: `margin ×` the global
    * `quantile` of the self-ADC scores — low enough that (1 −
    * quantile) of exact twins pass, with `margin` headroom for
    * near-but-not-exact duplicates, while unrelated vectors still
    * score near 0 (the regimes separate cleanly — spec-asserted on
    * the planted-twin corpus).
    */
  def suggestedAdcThreshold(corpus: DataFrame, idCol: String,
      vecCol: String, quantile: Double = 0.05,
      margin: Double = 0.9): Double = {
    checkLive()
    require(quantile > 0 && quantile < 1, s"quantile: $quantile")
    require(margin > 0 && margin <= 1, s"margin: $margin")
    AnnIndex.requireDim(corpus, vecCol, dim)
    val rows = selfScores(corpus, idCol, vecCol)
      .agg(expr(s"percentile(cos, $quantile)")).collect()
    require(rows.nonEmpty && !rows(0).isNullAt(0),
      "no overlapping ids between the corpus frame and the index — " +
        "calibration needs the indexed vectors' full-width form")
    rows(0).getDouble(0) * margin
  }

  /** Self-ADC scores: each corpus vector against its own stored code
    * — the shared measurement under [[adcCalibration]] /
    * [[suggestedAdcThreshold]]. Map-side ADC table per row (the
    * streaming-screen plan), one id-keyed join against the live codes.
    */
  private def selfScores(corpus: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val centsLit = typedLit(centroids.map(_.toSeq))
    val v = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("qv"), normSq(col(vecCol)).as("qn"))
    codes.select(col("neighbor_id"), col("cn"), col("codes"),
        col("cell"))
      .join(v, Seq("neighbor_id"))
      .withColumn("__adc", graft.expressions.GraftFunctions.pqAdcTable(
        col("qv"), codebooks, nCentroids))
      .withColumn("cos", round(cosineFromParts(
        graft.expressions.GraftFunctions.pqAdcDot(col("codes"),
          col("__adc"), nCentroids) +
          dot(col("qv"), element_at(centsLit, col("cell") + 1)),
        col("qn"), col("cn")), 6))
      .select(col("cell"), col("neighbor_id"), col("cos"))
  }

  /** REBUILD from the current corpus: PQ codes are lossy (original
    * vectors are not stored), so like [[PqIndex.rebuild]] this needs
    * the corpus frame — retrain coarse centroids AND residual codebooks
    * under today's distribution, re-encode, clear tombstones.
    * Tombstoned ids still in the caller's corpus are purged first (a
    * takedown must not silently resurrect). Rotates the epoch: THIS
    * handle is stale afterwards — use the returned index.
    */
  def rebuild(corpus: DataFrame, idCol: String, vecCol: String,
      kmeansIters: Int = 2, trainFraction: Double = 1.0)
      : Option[IvfPqIndex] = {
    checkLive()
    IvfPqIndex.build(tomb.minusBy(corpus, idCol), idCol, vecCol, nCells,
      numSubspaces, nCentroids, kmeansIters, trainFraction, path)
  }
}

object IvfPqIndex {

  /** Driver-side ADC table: `numSubspaces × nCentroids` subspace dots
    * of one query against the residual codebooks — the same table
    * [[SimilaritySearch.pqScore]] builds, shared across the query's
    * probed cells.
    */
  private[operators] def adcTable(qv: Seq[Float],
      codebooks: IndexedSeq[Seq[Seq[Float]]], numSubspaces: Int,
      nCentroids: Int, sub: Int): Array[Double] = {
    val table = new Array[Double](numSubspaces * nCentroids)
    var s = 0
    while (s < numSubspaces) {
      var ci = 0
      while (ci < codebooks(s).length) {
        val cent = codebooks(s)(ci)
        var d = 0.0
        var j = 0
        while (j < sub) {
          d += qv(s * sub + j).toDouble * cent(j).toDouble
          j += 1
        }
        table(s * nCentroids + ci) = d
        ci += 1
      }
      s += 1
    }
    table
  }

  /** Driver-side twin of [[graft.expressions.NearestCells]] — same
    * squared-L2, same strict-< lowest-index tie-break, over min-length
    * prefixes — so probe sets equal what the compiled kernel would
    * emit for the same inputs.
    */
  private[operators] def nearestCellsDriver(qv: Seq[Float],
      centroids: Seq[Seq[Float]], nProbe: Int): Seq[Int] = {
    val nc = centroids.length
    val k = math.min(nProbe, nc)
    val d2 = new Array[Double](nc)
    var c = 0
    while (c < nc) {
      val cv = centroids(c)
      val n = math.min(qv.length, cv.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        val d = qv(i).toDouble - cv(i).toDouble
        acc += d * d
        i += 1
      }
      d2(c) = acc
      c += 1
    }
    val taken = new Array[Boolean](nc)
    (0 until k).map { _ =>
      var best = -1
      var bestD = Double.MaxValue
      var j = 0
      while (j < nc) {
        if (!taken(j) && d2(j) < bestD) { best = j; bestD = d2(j) }
        j += 1
      }
      taken(best) = true
      best
    }
  }

  /** Left-to-right float→double dot over min-length prefixes — the
    * `⟨q, c_cell⟩` offset, driver-side (both operands are tiny).
    */
  private[operators] def dotDriver(a: Seq[Float], b: Seq[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** Train the coarse quantizer (shared deterministic sample-trained
    * Lloyd — [[SimilaritySearch.trainCentroids]]), assign cells in one
    * compiled map pass, train the PQ codebooks ON THE RESIDUALS
    * (the shared [[SimilaritySearch.pqTrainEncode]] training over the
    * residual frame), encode residuals + per-subspace encode errors in
    * one more map pass, and persist (centroids, codebooks,
    * codes-partitioned-by-cell, drift baseline, meta) under `path` by
    * stage-and-swap (see [[PqIndex.build]]). Returns None for an empty
    * corpus.
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, numSubspaces: Int = 8, nCentroids: Int = 16,
      kmeansIters: Int = 2, trainFraction: Double = 1.0,
      path: String): Option[IvfPqIndex] = {
    val spark = corpus.sparkSession
    CacheScope.scoped {
      val c = CacheScope.cached(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
          normSq(col(vecCol)).as("cn")))
      val cents = SimilaritySearch.trainCentroids(c, "neighbor_id", "cv",
        nCells, kmeansIters, trainFraction)
      if (cents.isEmpty) None
      else {
        // residuals in ONE compiled map pass (assign + subtract); the
        // residual frame feeds codebook training AND the final encode,
        // so it is cached for the scope
        val res = CacheScope.cached(
          SimilaritySearch.assignCells(c, "cv", cents)
            .select(col("neighbor_id"), col("cell"), col("cn"),
              graft.expressions.GraftFunctions.residualVec(col("cv"),
                col("cell"), cents).as("cv")))
        SimilaritySearch.pqTrainEncode(res.select(col("neighbor_id"),
            col("cv"), col("cn")), numSubspaces, nCentroids, kmeansIters,
            trainFraction).map { case (dim, codebooks, _) =>
          val epoch = AnnIndex.publish(spark, path, "ivfpq", numSubspaces,
              nCentroids) { mgr =>
            val codes = PqIndex.encodeWithErrors(res, codebooks,
              numSubspaces, dim / numSubspaces, extraCols = Seq("cell"))
            mgr.collection(AnnIndex.CodesName).write(codes,
              SaveMode.ErrorIfExists, partitionBy = Seq("cell"))
            // drift baseline: mean per-subspace RESIDUAL encode error
            mgr.collection(AnnIndex.StatsName).write(
              AnnIndex.errorStats(codes), SaveMode.ErrorIfExists)
            mgr.collection(AnnIndex.CentroidsName).write(
              AnnIndex.centroidsDf(spark, cents), SaveMode.ErrorIfExists)
            mgr.collection(AnnIndex.CodebooksName).write(
              AnnIndex.codebooksDf(spark, codebooks), SaveMode.ErrorIfExists)
          }
          new IvfPqIndex(spark, path, cents.length, numSubspaces,
            nCentroids, cents, codebooks, epoch)
        }
      }
    }
  }

  /** Open an index previously written by [[build]] — two tiny reads
    * (centroids + codebooks); the codes collection stays on disk until
    * queried.
    */
  def load(spark: SparkSession, path: String): IvfPqIndex = {
    val epoch = AnnIndex.readEpoch(spark, path)
    val mgr = new CollectionManager(spark, path)
    val (numSubspaces, nCentroids) = AnnIndex.readMeta(mgr, path, "ivfpq")
    val cents = mgr.collection(AnnIndex.CentroidsName).read()
      .orderBy(col("cell")).collect().map(_.getSeq[Float](1)).toSeq
    require(cents.nonEmpty, s"empty centroid table in $path")
    new IvfPqIndex(spark, path, cents.length, numSubspaces, nCentroids,
      cents, AnnIndex.readCodebooks(mgr, path, numSubspaces), epoch)
  }
}
