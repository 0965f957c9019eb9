package graft.operators

import graft.core.BroadcastGate
import graft.functions.VectorFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`ArrayType(FloatType)`).
  *
  * All scoring runs through the native codegen'd kernels in
  * [[graft.expressions]] (VecDot/VecNormSq) — a compiled loop per pair.
  * Squared norms are computed once per vector map-side and carried into
  * the pair join, so the O(pairs) hot path is exactly one dot product
  * plus two multiplies.
  *
  * Paths:
  *  - [[bruteForceTopK]] — exact cosine top-k. Queries are broadcast; the
  *    corpus streams map-side, so cost is |corpus|·|queries| dot products
  *    with NO corpus shuffle. The right baseline, and the verifier for
  *    the ANN path.
  *  - [[lshTopK]] — random-hyperplane LSH bucketing: corpus vectors are
  *    assigned sign-bit buckets map-side; only bucket-colliding
  *    (multiprobe-expanded) candidates get exact scoring. Sub-linear
  *    per-query cost; recall is tested against brute force in the specs.
  *  - [[cosineNearDupPairs]] — exact all-pairs threshold join (the
  *    verification-scale tool); [[cosineNearDupPairsLSH]] — the
  *    sub-quadratic banded variant for corpus scale.
  */
object SimilaritySearch {

  /** Corpus-size bound (measured bytes) under which [[boundedTopK]]
    * prefers the ranking-WINDOW plan: the [[graft.functions
    * .Aggregators.TopKRows]] aggregate costs a fixed ~0.15 s of
    * encoder/codegen setup that a small candidate set never amortizes
    * (measured: x17 regressed 1.28× on the aggregate while the big
    * probed sets won 0.7–0.8×), and a window over a corpus this small
    * sorts trivially under one task. Callers pass MEASURED bytes
    * ([[graft.core.BroadcastGate.estimatedBytes]] over a cached or
    * parquet-backed frame — a statistics read, no job), the engine's
    * broadcast-gate idiom; unknown sizes default to the aggregate,
    * the 100 TB-safe side.
    */
  private[graft] val WindowTopKMaxBytes: Long = 64L << 20

  /** Per-query BOUNDED top-k over a scored candidate frame — the final
    * rank step every ANN path shares. Semantics are exactly
    * `row_number() OVER (PARTITION BY query_id ORDER BY cos DESC,
    * neighbor_id) <= k` (byte-equality vs the window form is
    * spec-asserted on real data, long AND string ids), but the plan is
    * a partial-merge aggregation over the bounded
    * [[graft.functions.Aggregators.TopKRows]] /
    * [[graft.functions.Aggregators.TopKRowsStr]] buffer: at most k
    * (cos, neighbor_id) rows per (query, partition) cross the exchange
    * and NO per-query sort of the full candidate set happens anywhere
    * — the ranking window sorts every candidate of a query under ONE
    * task, the one sort-shaped plan that stops scaling when probed
    * cells hold nProbe/nCells of a 100 TB corpus. Integral ids ride
    * the long-keyed buffer, strings the UTF-8-ordered string buffer,
    * binary ids the byte-ordered buffer, decimals the byte buffer
    * through the order-preserving [[graft.expressions
    * .DecimalSortKey]] encoding, date/timestamp ids the long buffer
    * via their exact epoch integers, and float/double ids the long
    * buffer via the order-preserving IEEE-bit encoding
    * ([[graft.expressions.DoubleSortKey]] — −0.0 canonicalizes to
    * +0.0, the one value pair Spark's ordering ties, so the decode
    * returns the canonical representative) — EVERY orderable scalar
    * id type is window-free. Only non-scalar ids (arrays/structs/
    * maps) take the window form — and LOUDLY, via log, never
    * silently.
    *
    * `corpusBytesHint`: a MEASURED corpus size, when the caller has
    * one for free — at or under [[WindowTopKMaxBytes]] the window
    * form wins outright (no aggregate setup cost, identical bytes
    * out; spec-asserted on both sides of the gate).
    */
  private[graft] def boundedTopK(scored: DataFrame, k: Int,
      corpusBytesHint: Option[BigInt] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val nidType = scored.schema("neighbor_id").dataType
    def windowForm: DataFrame = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("query_id"), col("rk"), col("neighbor_id"),
          round(col("cos"), 6).as("cos"))
    }
    if (corpusBytesHint.exists(_ <= WindowTopKMaxBytes)) windowForm
    else nidType match {
      case ByteType | ShortType | IntegerType | LongType =>
        val topk = udaf(new graft.functions.Aggregators.TopKRows(k))
        scored.groupBy(col("query_id"))
          .agg(topk(col("cos"), col("neighbor_id").cast("long"),
            lit(0L)).as("__top"))
          .select(col("query_id"), posexplode(col("__top")))
          .select(col("query_id"), (col("pos") + 1).cast("int").as("rk"),
            col("col.key1").cast(nidType).as("neighbor_id"),
            round(col("col.score"), 6).as("cos"))
      case StringType =>
        val topk = udaf(new graft.functions.Aggregators.TopKRowsStr(k))
        scored.groupBy(col("query_id"))
          .agg(topk(col("cos"), col("neighbor_id"), lit(0L))
            .as("__top"))
          .select(col("query_id"), posexplode(col("__top")))
          .select(col("query_id"), (col("pos") + 1).cast("int").as("rk"),
            col("col.key1").as("neighbor_id"),
            round(col("col.score"), 6).as("cos"))
      case BinaryType =>
        val topk = udaf(new graft.functions.Aggregators.TopKRowsBin(k))
        scored.groupBy(col("query_id"))
          .agg(topk(col("cos"), col("neighbor_id"), lit(0L))
            .as("__top"))
          .select(col("query_id"), posexplode(col("__top")))
          .select(col("query_id"), (col("pos") + 1).cast("int").as("rk"),
            col("col.key1").as("neighbor_id"),
            round(col("col.score"), 6).as("cos"))
      case dt: DecimalType =>
        // decimal ids ride the binary buffer through the order-
        // preserving sort-key encoding (sign-flipped fixed-width
        // two's complement: unsigned byte order == numeric order for
        // the column's shared scale); the inverse kernel restores the
        // exact decimal on the way out
        import graft.expressions.GraftFunctions._
        val topk = udaf(new graft.functions.Aggregators.TopKRowsBin(k))
        scored.groupBy(col("query_id"))
          .agg(topk(col("cos"),
            decimalSortKey(col("neighbor_id"), dt.precision, dt.scale),
            lit(0L)).as("__top"))
          .select(col("query_id"), posexplode(col("__top")))
          .select(col("query_id"), (col("pos") + 1).cast("int").as("rk"),
            sortKeyDecimal(col("col.key1"), dt.precision, dt.scale)
              .as("neighbor_id"),
            round(col("col.score"), 6).as("cos"))
      case DateType =>
        // days-since-epoch is an exact order-preserving long
        val topk = udaf(new graft.functions.Aggregators.TopKRows(k))
        scored.groupBy(col("query_id"))
          .agg(topk(col("cos"), unix_date(col("neighbor_id"))
            .cast("long"), lit(0L)).as("__top"))
          .select(col("query_id"), posexplode(col("__top")))
          .select(col("query_id"), (col("pos") + 1).cast("int").as("rk"),
            date_from_unix_date(col("col.key1").cast("int"))
              .as("neighbor_id"),
            round(col("col.score"), 6).as("cos"))
      case TimestampType =>
        // microseconds-since-epoch: Spark's own internal long
        val topk = udaf(new graft.functions.Aggregators.TopKRows(k))
        scored.groupBy(col("query_id"))
          .agg(topk(col("cos"), unix_micros(col("neighbor_id")),
            lit(0L)).as("__top"))
          .select(col("query_id"), posexplode(col("__top")))
          .select(col("query_id"), (col("pos") + 1).cast("int").as("rk"),
            timestamp_micros(col("col.key1")).as("neighbor_id"),
            round(col("col.score"), 6).as("cos"))
      case DoubleType =>
        // doubles ride the long buffer through the order-preserving
        // bit encoding, with -0.0 CANONICALIZED to +0.0 first (Spark
        // ties them, so the buffer's byte-exact tie-break gets one
        // representative — the documented round-trip non-identity)
        import graft.expressions.GraftFunctions._
        val topk = udaf(new graft.functions.Aggregators.TopKRows(k))
        scored.groupBy(col("query_id"))
          .agg(topk(col("cos"), doubleSortKey(col("neighbor_id")),
            lit(0L)).as("__top"))
          .select(col("query_id"), posexplode(col("__top")))
          .select(col("query_id"), (col("pos") + 1).cast("int").as("rk"),
            sortKeyDouble(col("col.key1")).as("neighbor_id"),
            round(col("col.score"), 6).as("cos"))
      case FloatType =>
        import graft.expressions.GraftFunctions._
        val topk = udaf(new graft.functions.Aggregators.TopKRows(k))
        scored.groupBy(col("query_id"))
          .agg(topk(col("cos"), floatSortKey(col("neighbor_id")),
            lit(0L)).as("__top"))
          .select(col("query_id"), posexplode(col("__top")))
          .select(col("query_id"), (col("pos") + 1).cast("int").as("rk"),
            sortKeyFloat(col("col.key1")).as("neighbor_id"),
            round(col("col.score"), 6).as("cos"))
      case other =>
        // every ORDERABLE scalar id type now has a bounded buffer
        // (integral/string/binary/decimal/date/timestamp/float/
        // double); what remains is non-scalar shapes (arrays,
        // structs, maps). Those still take the window plan —
        // LOGGED, never silent
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"boundedTopK: neighbor_id type $other has no bounded " +
            "buffer — falling back to the per-query ranking WINDOW " +
            "(sorts each query's full candidate set under one task)")
        windowForm
    }
  }

  /** Exact top-k neighbors for each query vector.
    * @param corpus  (idCol, vecCol) table — any size
    * @param queries (idCol, vecCol) table — must be broadcast-small
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      normSq(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      normSq(col(vecCol)).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id")
        else lit(true))
      .withColumn("cos",
        cosineFromParts(dot(col("qv"), col("cv")), col("qn"), col("cn")))
    boundedTopK(scored, k)
  }

  /** ANN top-k via random-hyperplane LSH with hamming-radius multiprobe.
    *
    * Corpus bucketing is map-side (deterministic hyperplanes — see
    * [[graft.expressions.HyperplaneBucket]]); each query probes every
    * bucket within `probeRadius` bit flips of its own — radius 2 gives
    * 1 + n + n(n−1)/2 probes, which keeps recall high while still
    * touching only ~(probes/2^nBits) of the corpus. The exact cosine
    * then ranks only candidates. Tune nBits so that corpus/2^nBits ≈
    * the per-bucket candidate budget; at 100 TB: corpus bucket
    * assignment is a one-off map, bucket ids are uniformly distributed,
    * and the candidate join is a plain shuffle join on the bucket id.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nBits: Int, dim: Int = -1,
      excludeSelf: Boolean = true, probeRadius: Int = 2): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      normSq(col(vecCol)).as("cn"),
      hyperplaneBucket(col(vecCol), nBits, dim).as("bucket"))
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      normSq(col(vecCol)).as("qn"),
      hyperplaneBucket(col(vecCol), nBits, dim).as("qbucket"))
    val flips: Seq[Long] = {
      val r1 = (0 until nBits).map(b => 1L << b)
      val r2 = for {
        b1 <- 0 until nBits; b2 <- (b1 + 1) until nBits
      } yield (1L << b1) | (1L << b2)
      0L +: (if (probeRadius >= 2) r1 ++ r2
             else if (probeRadius == 1) r1
             else Seq.empty)
    }
    val probes = q0.select(col("query_id"), col("qv"), col("qn"),
      explode(array(flips.map(m => col("qbucket").bitwiseXOR(lit(m))): _*))
        .as("bucket"))
    boundedTopK(
      c.join(broadcast(probes), Seq("bucket"))
        .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id")
          else lit(true))
        .withColumn("cos",
          cosineFromParts(dot(col("qv"), col("cv")), col("qn"),
            col("cn"))),
      k)
  }

  /** Map-side IVF cell assignment: appends an int `cell` column — the
    * nearest-centroid index (squared L2, ties → lower index) — computed
    * by the compiled [[graft.expressions.NearestCells]] kernel. ZERO
    * exchanges (PlanSpec-asserted): at any corpus size this is a pure
    * map over the scan.
    */
  def assignCells(df: DataFrame, vecCol: String,
      centroids: Seq[Seq[Float]]): DataFrame =
    df.withColumn("cell", nearestCell(col(vecCol), centroids))

  /** Empty (query_id, rk, neighbor_id, cos) frame in the ANN output
    * schema — the empty-corpus/empty-query result shared by [[ivfTopK]]
    * and [[pqTopK]] so the schema lives in exactly one place.
    */
  private def emptyTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String): DataFrame =
    emptyTopKOf(corpus.sparkSession, queries.schema(idCol).dataType,
      corpus.schema(idCol).dataType)

  private[operators] def emptyTopKOf(
      spark: org.apache.spark.sql.SparkSession,
      queryIdType: org.apache.spark.sql.types.DataType,
      neighborIdType: org.apache.spark.sql.types.DataType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id", queryIdType),
        org.apache.spark.sql.types.StructField("rk",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("neighbor_id",
          neighborIdType),
        org.apache.spark.sql.types.StructField("cos",
          org.apache.spark.sql.types.DoubleType))))

  /** IVF (inverted-file) ANN top-k: a coarse k-means quantizer splits the
    * corpus into `nCells` cells; each query scores only vectors in its
    * `nProbe` nearest cells.
    *
    * The centroid table is bounded by nCells (tiny by construction), so
    * Lloyd's algorithm keeps it driver-side and the assign step is ONE
    * map-side compiled pass per row ([[assignCells]] /
    * [[graft.expressions.NearestCells]]) — no exchange at all. The
    * earlier formulation (broadcast cross-join + row_number window over a
    * per-row unique id) shuffled corpus×nCells rows per iteration; the
    * per-(cell,dim) mean is now the only shuffle, and it reduces to
    * nCells·dim rows.
    *
    * At 100 TB: train on a sample (`trainFraction` < 1 routes the Lloyd
    * iterations through the map-only deterministic
    * [[Sampling.hashSample]] — centroid quality needs only a
    * representative sample, not the corpus, and the training scans
    * shrink by 1/fraction), assign map-side in one pass, and the probe
    * join is an equi-join on the cell id. Per-query work drops from
    * |corpus| to ~|corpus|·nProbe/nCells.
    */
  /** Coarse k-means training shared by [[ivfTopK]] and [[semDedupPairs]]:
    * deterministic id-order init, `iters` Lloyd rounds over the corpus or
    * a deterministic hash sample of it ([[Sampling.hashSample]] — a pure
    * map-side filter, so the training set is stable across runs and
    * partitionings and costs no shuffle). Each round is one map-side
    * compiled assign ([[assignCells]]) plus one aggregation that reduces
    * to nCells×dim rows, collected because the result IS the (tiny)
    * centroid table. A sample too small to seed any centroid falls back
    * to the full corpus; an empty corpus returns an empty Seq.
    */
  private[graft] def trainCentroids(full: DataFrame, idC: String,
      vecC: String, nCells: Int, iters: Int, trainFraction: Double,
      initFrom: Option[Seq[Seq[Float]]] = None,
      sampleEmptyHint: Option[Boolean] = None): Seq[Seq[Float]] = {
    require(trainFraction > 0 && trainFraction <= 1.0,
      s"trainFraction must be in (0, 1], got $trainFraction")
    val train0 =
      if (trainFraction >= 1.0) full
      else Sampling.hashSample(full, idC,
        math.max(1, math.round(trainFraction * 1000000).toInt), 1000000)

    // deterministic init: first nCells vectors in id order. collect() on
    // a sorted limit preserves the sort, so this works for ANY orderable
    // id type (long, int, string) — no driver-side re-sort needed.
    // Callers training many related codebooks (PQ's per-subspace loop)
    // pass `initFrom` to collect the init rows once and slice driver-
    // side instead of paying one TakeOrdered job per codebook.
    def initCents(from: DataFrame): Seq[Seq[Float]] =
      from.orderBy(col(idC)).limit(nCells)
        .select(col(vecC)).collect()
        .map(_.getSeq[Float](0)).toSeq
    // the empty-sample fallback applies on BOTH init paths: with
    // initFrom provided (the PQ per-subspace loop) a tiny trainFraction
    // whose hash sample is empty would otherwise skip every Lloyd
    // round silently and leave the codebook at its id-order init
    val (train, cents0) = initFrom match {
      case Some(init) =>
        // the hash sample filters on the id column only, so emptiness
        // is identical across PQ's per-subspace calls — callers probe
        // once and pass the verdict (`sampleEmptyHint`) instead of
        // paying one limit-1 job per subspace
        val empty = trainFraction < 1.0 &&
          sampleEmptyHint.getOrElse(train0.isEmpty)
        (if (empty) full else train0, init.take(nCells))
      case None =>
        val fromSample = initCents(train0)
        if (fromSample.nonEmpty || trainFraction >= 1.0)
          (train0, fromSample)
        else (full, initCents(full))
    }
    var cents: Seq[Seq[Float]] = cents0
    if (cents.isEmpty) return cents

    for (_ <- 0 until iters) {
      // map-side assign, then one agg shuffle that reduces to
      // nCells×dim rows
      val means = assignCells(train, vecC, cents)
        .select(col("cell"), posexplode(col(vecC)))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .collect()
      val byCell = means.groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (old, cell) =>
        byCell.get(cell) match {
          case Some(rows) =>
            val v = new Array[Float](rows.map(_.getInt(1)).max + 1)
            rows.foreach(r => v(r.getInt(1)) = r.getDouble(2).toFloat)
            v.toSeq
          case None => old // a cell that lost all members keeps its centroid
        }
      }
    }
    cents
  }

  /** Lloyd over ALL PQ subspaces JOINTLY — one aggregation job per
    * iteration instead of one per (subspace × iteration): every
    * subspace's assign rides the same map pass (per row, `numSubspaces`
    * structs of (s, cell, sv) explode out of one compiled projection)
    * and one groupBy (s, cell, pos) reduces to
    * numSubspaces·nCentroids·sub mean rows. Per (s, cell, pos) group
    * the averaged multiset is EXACTLY the per-subspace form's — same
    * rows, same slices, same per-partition accumulation order — so the
    * codebooks are value-identical to training each subspace alone
    * (spec-asserted); only the pass count changes. At corpus scale this
    * is `numSubspaces`× fewer training scans; at bench scale it is
    * `numSubspaces`× fewer jobs.
    *
    * `initFull`: the id-order init rows as FULL vectors (sliced here
    * per subspace — one TakeOrdered job serves every codebook).
    * `sampleEmpty`: the caller's one-probe verdict on the hash sample
    * (identical across subspaces — it filters on the id column only).
    */
  private[graft] def trainSubspaceCodebooks(c: DataFrame,
      numSubspaces: Int, sub: Int, nCentroids: Int, iters: Int,
      trainFraction: Double, initFull: Seq[Seq[Float]],
      sampleEmpty: Boolean): IndexedSeq[Seq[Seq[Float]]] = {
    val train =
      if (trainFraction >= 1.0 || sampleEmpty) c
      else Sampling.hashSample(c, "neighbor_id",
        math.max(1, math.round(trainFraction * 1000000).toInt), 1000000)
    var books: IndexedSeq[Seq[Seq[Float]]] =
      (0 until numSubspaces).map { s =>
        initFull.take(nCentroids).map(_.slice(s * sub, s * sub + sub)) }
    if (books.exists(_.isEmpty)) return books
    for (_ <- 0 until iters) {
      val perSub = (0 until numSubspaces).map { s =>
        val sv = slice(col("cv"), s * sub + 1, sub)
        struct(lit(s).as("s"), nearestCell(sv, books(s)).as("cell"),
          sv.as("sv"))
      }
      val means = train
        .select(explode(array(perSub: _*)).as("a"))
        .select(col("a.s").as("s"), col("a.cell").as("cell"),
          posexplode(col("a.sv")))
        .groupBy(col("s"), col("cell"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .collect()
      val bySubCell = means.groupBy(r => (r.getInt(0), r.getInt(1)))
      books = books.zipWithIndex.map { case (cb, s) =>
        cb.zipWithIndex.map { case (old, cell) =>
          bySubCell.get((s, cell)) match {
            case Some(rows) =>
              val v = new Array[Float](rows.map(_.getInt(2)).max + 1)
              rows.foreach(r => v(r.getInt(2)) = r.getDouble(3).toFloat)
              v.toSeq
            case None => old // a cell that lost all members keeps its centroid
          }
        }
      }
    }
    books
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
      kmeansIters: Int = 2, excludeSelf: Boolean = true,
      trainFraction: Double = 1.0): DataFrame = {
    val c = graft.core.CacheScope.cached(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        normSq(col(vecCol)).as("cn")))
    val cents = trainCentroids(c, "neighbor_id", "cv", nCells,
      kmeansIters, trainFraction)

    if (cents.isEmpty)
      // empty corpus: nothing to index; return an empty result with the
      // output schema instead of tripping NearestCells' nonEmpty require
      return emptyTopK(corpus, queries, idCol)

    // the cached corpus frame is materialized (trainCentroids ran its
    // Lloyd collects over it), so its measured size is a free
    // statistics read — the boundedTopK gate's input
    ivfScore(assignCells(c, "cv", cents), cents, nProbe, queries, idCol,
      vecCol, k, excludeSelf,
      corpusBytesHint = Some(BroadcastGate.estimatedBytes(c)))
  }

  /** Probe + exact-cosine scoring over an assigned (neighbor_id, cv,
    * cn, cell) frame — shared by [[ivfTopK]] and [[IvfIndex.topK]].
    * `corpusBytesHint` feeds [[boundedTopK]]'s window-vs-aggregate
    * gate; the persisted-index caller passes None (an index is by
    * definition the at-scale path — its plans stay window-free,
    * plan-asserted in AnnIndexSpec).
    */
  private[operators] def ivfScore(cells: DataFrame,
      cents: Seq[Seq[Float]], nProbe: Int, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, excludeSelf: Boolean,
      corpusBytesHint: Option[BigInt] = None)
      : DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      normSq(col(vecCol)).as("qn"))
    val probes = q.withColumn("cell",
        explode(nearestCells(col("qv"), cents, nProbe)))
      .select(col("query_id"), col("qv"), col("qn"), col("cell"))

    boundedTopK(
      cells.join(broadcast(probes), Seq("cell"))
        .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id")
          else lit(true))
        .withColumn("cos",
          cosineFromParts(dot(col("qv"), col("cv")), col("qn"),
            col("cn"))),
      k, corpusBytesHint)
  }

  /** Two-stage ANN: a cheap coarse pass scores only the first `dPrefix`
    * dimensions (a prefix slice — the pattern behind truncation-robust
    * "matryoshka"-style embeddings and PCA-front-loaded codebooks), keeps
    * the top k·`overfetch` per query, then reranks ONLY those survivors
    * with the exact full-dimension cosine. Per-candidate coarse cost
    * drops by dim/dPrefix; the exact kernel touches k·overfetch rows per
    * query instead of the corpus. Recall vs brute force is asserted in
    * the spec suite (it depends on how much variance the prefix carries —
    * on random-noise embeddings this is the worst case).
    *
    * At 100 TB: the coarse pass composes with [[lshTopK]]/[[ivfTopK]]
    * bucketing (slice before scoring); the rerank join stays k·overfetch
    * per query regardless of corpus size. The coarse top-(k·overfetch)
    * runs through the bounded-state [[graft.functions.Aggregators
    * .TopKRows]] buffer — ≤ k·overfetch rows per (query, partition)
    * cross the exchange and nothing sorts the full per-query score list
    * (a ranking window here would put |corpus| rows per query under one
    * sort — the exact shape this operator exists to avoid). The final
    * rerank rank is the same bounded aggregation over ≤ k·overfetch
    * candidates per query ([[boundedTopK]]).
    * Requires Long ids (the bounded buffer carries them as longs).
    */
  def rerankTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dPrefix: Int, overfetch: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      slice(col(vecCol), 1, dPrefix).as("cvp"),
      normSq(col(vecCol)).as("cn"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      slice(col(vecCol), 1, dPrefix).as("qvp"),
      normSq(col(vecCol)).as("qn"))
    val coarseTopK =
      udaf(new graft.functions.Aggregators.TopKRows(k * overfetch))
    // coarse score: prefix dot only — no sqrt, no full-dim work; the
    // per-query top-(k·overfetch) is a partial-merge aggregation with
    // bounded buffers, not a corpus-wide window sort
    val survivors = c.crossJoin(broadcast(q))
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id")
        else lit(true))
      .withColumn("coarse", dot(col("qvp"), col("cvp")))
      .groupBy(col("query_id"))
      .agg(coarseTopK(col("coarse"), col("neighbor_id"), lit(0L)).as("top"))
      .select(col("query_id"), explode(col("top.key1")).as("neighbor_id"))
    boundedTopK(
      survivors
        .join(c.select(col("neighbor_id"), col("cv"), col("cn")),
          "neighbor_id")
        .join(broadcast(q.select(col("query_id"), col("qv"), col("qn"))),
          "query_id")
        .withColumn("cos",
          cosineFromParts(dot(col("qv"), col("cv")), col("qn"),
            col("cn"))),
      k)
  }

  /** Row bound above which [[cosineNearDupPairs]] refuses to run
    * without `force = true`: n rows mean n²/2 pair evaluations, and
    * 10⁵ rows ≈ 5·10⁹ dot products is already hours of cluster time —
    * beyond it, accidental corpus-scale use is a mistake, not a choice.
    * The gate is on ROWS, not bytes: the all-pairs blowup scales with
    * the row count squared regardless of vector width.
    */
  val ExactPairsMaxRows: Long = 100000L

  /** Embedding-cosine near-duplicate pairs (id1 < id2, cos ≥ threshold),
    * EXACT via all-pairs self-join. Squared norms are hoisted map-side;
    * the per-pair cost is one compiled dot product. Right for
    * verification scale (n ≲ 10⁵ → ≲ 10¹⁰ flops spread over tasks); at
    * corpus scale use [[cosineNearDupPairsLSH]] — a MEASURED size gate
    * ([[ExactPairsMaxRows]]) makes accidental corpus-scale use fail
    * loudly unless `force = true`, mirroring the x51/x52 plan guards.
    * [[nearDupPairs]] is the façade that picks the right variant
    * automatically.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, force: Boolean = false): DataFrame = {
    if (!force) {
      val n = df.count()
      require(n <= ExactPairsMaxRows,
        s"cosineNearDupPairs on $n rows means ~${n / 1000}k² /2 exact " +
          s"pair evaluations (bound: $ExactPairsMaxRows rows) — use " +
          "cosineNearDupPairsLSH / nearDupPairs at corpus scale, or " +
          "pass force = true if the quadratic cost is intended")
    }
    val a = df.select(col(idCol).as("id1"), col(vecCol).as("v1"),
      normSq(col(vecCol)).as("n1"))
    val b = df.select(col(idCol).as("id2"), col(vecCol).as("v2"),
      normSq(col(vecCol)).as("n2"))
    a.join(b, col("id1") < col("id2"))
      .withColumn("cos", round(
        cosineFromParts(dot(col("v1"), col("v2")), col("n1"), col("n2")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** Sub-quadratic near-dup pairs: random-hyperplane signatures are cut
    * into `bands` bands of `bitsPerBand` sign bits; vectors sharing any
    * exact band become candidates, then candidates are scored with the
    * exact cosine. For cos ≥ 0.95 and 8-bit bands,
    * per-band collision ≈ (1 − θ/π)⁸ ≈ 0.43, so 16 bands give ≈ 99.99 %
    * per-pair recall — measured against [[cosineNearDupPairs]] in the
    * spec suite. This is the 100 TB path: linear explode + one
    * (band, bucket)-keyed shuffle into [[Dedup.cappedBucketPairs]]'
    * streaming pair pass, no n² pair enumeration, and per-bucket
    * membership capped (a bucket holding 10⁵ embeddings of one
    * boilerplate doc pairs its overflow members with the bucket
    * representative instead of emitting 10¹⁰ rows); every candidate
    * still passes the exact cosine verification. Requires long-castable
    * ids (the capped generator's contract).
    */
  def cosineNearDupPairsLSH(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int = 16, bitsPerBand: Int = 8,
      bucketCap: Int = Dedup.DefaultBucketCap): DataFrame = {
    val v = graft.core.CacheScope.cached(
      df.select(col(idCol).as("id"), col(vecCol).as("v"),
        normSq(col(vecCol)).as("nsq"),
        graft.expressions.GraftFunctions.hyperplaneBands(col(vecCol), bands,
          bitsPerBand).as("sig")))
    val hint = BroadcastGate.hint("cosineNearDupPairsLSH: vectors", v)
    val banded = v.select(col("id"), posexplode(col("sig")))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
    val cand = Dedup.cappedBucketPairs(banded, Seq("band", "bucket"),
      bucketCap)
    cand
      .join(hint(v.select(col("id").as("id1"), col("v").as("v1"),
        col("nsq").as("n1"))), "id1")
      .join(hint(v.select(col("id").as("id2"), col("v").as("v2"),
        col("nsq").as("n2"))), "id2")
      .withColumn("cos", round(
        cosineFromParts(dot(col("v1"), col("v2")), col("n1"), col("n2")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** THE near-dup entry point users can't hold wrong: one measured
    * row count picks exact all-pairs ([[cosineNearDupPairs]] — complete
    * by construction, right at verification scale) under
    * `maxExactRows`, banded LSH ([[cosineNearDupPairsLSH]] — the
    * sub-quadratic 100 TB path, recall spec'd ≈ 1 at near-dup
    * thresholds) above it. Same output columns either way
    * (id1 < id2, cos ≥ threshold); both variants stay public for
    * callers that need to force a side.
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxExactRows: Long = ExactPairsMaxRows,
      bands: Int = 16, bitsPerBand: Int = 8,
      bucketCap: Int = Dedup.DefaultBucketCap): DataFrame =
    if (df.count() <= maxExactRows)
      cosineNearDupPairs(df, idCol, vecCol, threshold, force = true)
    else
      cosineNearDupPairsLSH(df, idCol, vecCol, threshold, bands,
        bitsPerBand, bucketCap)

  /** Product-quantization ANN top-k (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011) — the memory-compressed
    * ANN family: the vector space is split into `numSubspaces` slices,
    * each slice gets its own `nCentroids`-entry codebook (sample-trained
    * Lloyd via the shared [[trainCentroids]]), and every corpus vector
    * is ENCODED as one small centroid index per slice — at the defaults
    * (8 subspaces × 16 centroids) a 64-dim float vector becomes 8
    * 4-bit codes: a 64× memory reduction, which is what makes a 100 TB
    * embedding corpus scannable from RAM.
    *
    * Scoring is asymmetric (ADC): the query stays EXACT — per query one
    * tiny `numSubspaces × nCentroids` table of subspace dots is computed
    * driver-side, and each corpus row costs `numSubspaces` table lookups
    * ([[graft.expressions.PqAdcDot]], compiled) instead of `dim`
    * multiplies. The score is `⟨q, quantize(c)⟩ / (|q|·|c|)` with the
    * TRUE corpus norm carried alongside the codes: an approximate-dot
    * cosine, NOT the cosine of either pair exactly (that would need
    * |quantize(c)| in the denominator). The bias is one-sided in the
    * useful direction — vectors with large quantization error score
    * LOW rather than being renormalized up — which is why the shortlist
    * + exact-rerank composition ([[rerankTopK]]'s pattern) recovers
    * ranking quality.
    *
    * Scale shape: codebook training touches a hash sample
    * (`trainFraction`); encoding is ONE map-side compiled pass (a
    * [[graft.expressions.NearestCells]] argmin per subspace — zero
    * exchanges, PlanSpec-asserted); scoring is a broadcast loop join of
    * the tiny query-table frame against the encoded corpus; the only
    * shuffle is the final per-query top-k. The QUERY SET is the bounded
    * side by contract (it is collected to the driver to build the ADC
    * tables — same boundedness assumption as the broadcast in
    * [[bruteForceTopK]], made explicit).
    *
    * Exactness gradient: with `nCentroids` ≥ distinct corpus vectors the
    * codebooks converge to the vectors themselves and pqTopK equals
    * [[bruteForceTopK]] verbatim (spec-asserted); at lossy settings the
    * recall floor vs exact is spec-asserted on the real corpus. Two-
    * stage exact reranking composes via [[rerankTopK]]'s pattern when
    * needed.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, numSubspaces: Int = 8, nCentroids: Int = 16,
      kmeansIters: Int = 2, trainFraction: Double = 1.0,
      excludeSelf: Boolean = true): DataFrame = {
    val c = graft.core.CacheScope.cached(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        normSq(col(vecCol)).as("cn")))
    pqTrainEncode(c, numSubspaces, nCentroids, kmeansIters,
        trainFraction) match {
      case None => emptyTopK(corpus, queries, idCol)
      case Some((dim, codebooks, codes)) =>
        pqScore(codes, codebooks, numSubspaces, nCentroids,
          dim / numSubspaces, queries, idCol, vecCol, k, excludeSelf)
    }
  }

  /** Codebook training + one-map-pass encoding shared by [[pqTopK]] and
    * [[PqIndex.build]]: `c` is the cached (neighbor_id, cv, cn)
    * projection. Returns None for an empty corpus; otherwise (dim,
    * per-subspace codebooks, (neighbor_id, cn, codes) frame).
    */
  private[operators] def pqTrainEncode(c: DataFrame, numSubspaces: Int,
      nCentroids: Int, kmeansIters: Int, trainFraction: Double)
      : Option[(Int, IndexedSeq[Seq[Seq[Float]]], DataFrame)] = {
    val head = c.select(size(col("cv"))).limit(1).collect()
    if (head.isEmpty) return None
    val dim = head(0).getInt(0)
    require(dim % numSubspaces == 0,
      s"numSubspaces ($numSubspaces) must divide the vector dim ($dim)")
    val sub = dim / numSubspaces

    // per-subspace codebooks off the SLICED corpus — same deterministic
    // sample-trained Lloyd as IVF. The id-order init rows are collected
    // ONCE as full vectors and sliced driver-side (`initFrom`), instead
    // of one TakeOrdered job per subspace for identical rows.
    val initFull = c.orderBy(col("neighbor_id")).limit(nCentroids)
      .select(col("cv")).collect().map(_.getSeq[Float](0)).toSeq
    if (initFull.isEmpty) return None
    // one emptiness probe of the hash sample serves every subspace (the
    // sample filters on the id column, identical across slices)
    val sampleEmpty =
      if (trainFraction >= 1.0) Some(false)
      else Some(Sampling.hashSample(c, "neighbor_id",
        math.max(1, math.round(trainFraction * 1000000).toInt), 1000000)
        .isEmpty)
    // ALL subspaces train in one aggregation job per Lloyd iteration
    // ([[trainSubspaceCodebooks]] — numSubspaces× fewer training scans;
    // codebooks value-identical to the per-subspace form, spec-asserted)
    val codebooks: IndexedSeq[Seq[Seq[Float]]] =
      trainSubspaceCodebooks(c, numSubspaces, sub, nCentroids,
        kmeansIters, trainFraction, initFull,
        sampleEmpty.getOrElse(false))
    if (codebooks.exists(_.isEmpty)) return None

    // encode: one compiled argmin per subspace, all in ONE map pass
    val codeCols = (0 until numSubspaces).map { s =>
      nearestCell(slice(col("cv"), s * sub + 1, sub), codebooks(s)) }
    Some((dim, codebooks, c.select(col("neighbor_id"), col("cn"),
      array(codeCols: _*).as("codes"))))
  }

  /** ADC scoring shared by [[pqTopK]] and [[PqIndex.topK]]: driver-side
    * per-query dot tables against the codebooks, compiled lookup
    * scoring over the (neighbor_id, cn, codes) frame, per-query top-k.
    * The query set is the bounded side by contract (it is collected to
    * build the ADC tables — same boundedness assumption as the
    * broadcast in [[bruteForceTopK]], made explicit).
    */
  private[operators] def pqScore(codes: DataFrame,
      codebooks: IndexedSeq[Seq[Seq[Float]]], numSubspaces: Int,
      nCentroids: Int, sub: Int, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, excludeSelf: Boolean): DataFrame = {
    val spark = codes.sparkSession
    val qRows = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), normSq(col(vecCol)).as("qn")).collect()
    if (qRows.isEmpty) return emptyTopKOf(spark,
      queries.schema(idCol).dataType, codes.schema("neighbor_id").dataType)
    val qTab = qRows.map { r =>
      val qv = r.getSeq[Float](1)
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
      org.apache.spark.sql.Row(r.get(0), table.toSeq, r.getDouble(2))
    }
    val qdf = spark.createDataFrame(
      spark.sparkContext.parallelize(qTab.toIndexedSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          queries.schema(idCol).dataType),
        org.apache.spark.sql.types.StructField("adc",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = false)),
        org.apache.spark.sql.types.StructField("qn",
          org.apache.spark.sql.types.DoubleType, nullable = false))))

    val scored = codes.crossJoin(broadcast(qdf))
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id")
        else lit(true))
      .withColumn("cos", cosineFromParts(
        graft.expressions.GraftFunctions.pqAdcDot(col("codes"), col("adc"),
          nCentroids), col("qn"), col("cn")))
    boundedTopK(scored, k)
  }

  /** SemDeDup-style semantic near-dup pairs (id1 < id2, cos ≥ threshold):
    * a coarse k-means quantizer (Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication",
    * arXiv:2303.09540 — cluster the embeddings, compare ONLY within a
    * cluster) splits the corpus into `nCells` cells; candidate pairs are
    * generated per cell through the same capped generator the LSH paths
    * use ([[Dedup.cappedBucketPairs]]: one cell-keyed shuffle, then a
    * streaming pass that keeps at most `cellCap` members per cell — a
    * cell holding 10⁵ copies of one boilerplate doc pairs its overflow
    * members with the cell representative instead of emitting 10¹⁰
    * rows), and every candidate passes the exact compiled cosine.
    *
    * vs [[cosineNearDupPairsLSH]]: the banded-LSH path is tuned for
    * NEAR-IDENTICAL vectors (per-pair collision falls off steeply below
    * cos ≈ 0.9); the k-means partition keeps its pair budget at ANY
    * threshold — SemDeDup's design point is the looser "semantic
    * duplicate" regime (cos 0.7-0.9 on real embedding geometry) where
    * banding would need impractically many bands. The trade is cell-
    * boundary misses: a pair straddling two cells is never compared
    * (recall vs the exact form on planted duplicate clusters is
    * spec-asserted; identical vectors co-assign by construction since
    * the compiled argmin is deterministic).
    *
    * At 100 TB: training touches a hash sample (`trainFraction`), cell
    * assignment is ONE map-side compiled pass ([[assignCells]] /
    * [[graft.expressions.NearestCells]] — zero exchanges), and pair work
    * drops from n² to Σ_c n_c² ≈ n²/nCells for balanced cells, with the
    * per-cell cap bounding the worst case. One cell-keyed shuffle of
    * (id, cell) rows; the two verify joins ride measured-bytes broadcast
    * hints. Requires long-castable ids (the capped generator's
    * contract).
    *
    * Caching: the (id, v, nsq) projection is cached (it feeds training,
    * assignment, and both verify joins) under the standard operator-
    * cache contract — release via [[graft.core.CacheScope.scoped]].
    */
  def semDedupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCells: Int = 16, kmeansIters: Int = 2,
      trainFraction: Double = 1.0,
      cellCap: Int = Dedup.DefaultBucketCap): DataFrame = {
    val spark = df.sparkSession
    val v = graft.core.CacheScope.cached(
      df.select(col(idCol).as("id"), col(vecCol).as("v"),
        normSq(col(vecCol)).as("nsq")))
    val cents = trainCentroids(v, "id", "v", nCells, kmeansIters,
      trainFraction)
    if (cents.isEmpty)
      // empty corpus: no cells to assign; empty pair frame, same schema
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id1",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("id2",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cos",
            org.apache.spark.sql.types.DoubleType))))
    val cells = assignCells(v, "v", cents).select(col("id"), col("cell"))
    val cand = Dedup.cappedBucketPairs(cells, Seq("cell"), cellCap)
    val hint = BroadcastGate.hint("semDedupPairs: vectors", v)
    cand
      .join(hint(v.select(col("id").as("id1"), col("v").as("v1"),
        col("nsq").as("n1"))), "id1")
      .join(hint(v.select(col("id").as("id2"), col("v").as("v2"),
        col("nsq").as("n2"))), "id2")
      .withColumn("cos", round(
        cosineFromParts(dot(col("v1"), col("v2")), col("n1"), col("n2")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** Semantic dedup SURVIVORS — the frame a curation pipeline trains
    * from: [[semDedupPairs]] composed with connected-components
    * clustering, keeping the minimum id per semantic-duplicate cluster
    * with the cluster size as a repeat-factor weight (docs in no pair
    * survive as weight-1 singletons). Same composition as the x46
    * shingle-dedup representatives, over the semantic pair generator.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCells: Int = 16, kmeansIters: Int = 2,
      trainFraction: Double = 1.0,
      cellCap: Int = Dedup.DefaultBucketCap): DataFrame = {
    val pairs = semDedupPairs(df, idCol, vecCol, threshold, nCells,
      kmeansIters, trainFraction, cellCap)
    val labels = ConnectedComponents.clusters(pairs, "id1", "id2")
      .select(col("id").as(idCol), col("label").as("__cid"))
    df.select(col(idCol))
      .join(labels, Seq(idCol), "left")
      .withColumn("__cluster", coalesce(col("__cid"), col(idCol)))
      .groupBy(col("__cluster"))
      .agg(count(lit(1)).as("cluster_size"))
      .select(col("__cluster").as(idCol), col("cluster_size"))
  }
}
