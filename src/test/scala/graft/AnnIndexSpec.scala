package graft

import graft.operators.{IvfIndex, IvfPqIndex, PqIndex, SimilaritySearch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted ANN indexes: loaded-index results must byte-equal the
  * inline paths, the query path must run no training/encode jobs (no
  * corpus-source scan), and IVF probes must prune to the probed cell
  * partitions at the parquet-scan level.
  */
class AnnIndexSpec extends SparkSpec {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_annidx").toString

  private def emb: DataFrame =
    graft.core.Graft.table(spark, sfDir, "embeddings")
  private def queries: DataFrame = emb.filter(col("vec_id") < 10)

  /** Stage-and-swap residue beside the index root `path`. */
  private def residue(path: String): Seq[String] = {
    val f = new java.io.File(path)
    f.getParentFile.list().toSeq.filter(n =>
      n.startsWith(f.getName + ".staging-") ||
        n.startsWith(f.getName + ".old-"))
  }

  private def rows(df: DataFrame): Seq[(Any, Int, Any, Double)] =
    df.orderBy(col("query_id"), col("rk")).collect()
      .map(r => (r.get(0), r.getInt(1), r.get(2), r.getDouble(3))).toSeq

  test("PqIndex: loaded-index topK byte-equals the inline pqTopK " +
      "(same params, sampled training included)") {
    val path = tmpDir()
    PqIndex.build(emb, "vec_id", "embedding", trainFraction = 0.5,
      path = path)
    val idx = PqIndex.load(spark, path)
    val inline = rows(SimilaritySearch.pqTopK(emb, queries, "vec_id",
      "embedding", k = 5, trainFraction = 0.5))
    val loaded = rows(idx.topK(queries, "vec_id", "embedding", k = 5))
    assert(loaded == inline)
    assert(loaded.nonEmpty)
  }

  test("PqIndex: the query path scans only the index — no corpus-source " +
      "scan, no training job") {
    val path = tmpDir()
    val idx = PqIndex.build(emb, "vec_id", "embedding", path = path).get
    val q = idx.topK(queries, "vec_id", "embedding", k = 5)
    q.count()
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains(path), "query did not read the stored codes")
    // the per-row encode-error column exists for driftReport only —
    // the hot topK path must prune it out of the parquet scan
    assert(!plan.linesIterator.exists(l =>
      l.contains("ReadSchema") && l.contains("qerrs")),
      "topK reads the qerrs audit column:\n" + plan)
    // the corpus side of the scoring plan must be the codes collection,
    // not the embeddings source (queries legitimately come from it)
    val codesScans = plan.linesIterator
      .filter(_.contains("embeddings.parquet"))
      .filter(l => l.contains("cv") || l.contains("codes")).toSeq
    assert(codesScans.isEmpty,
      "corpus vectors were re-read on the query path:\n" + plan)
  }

  test("IvfIndex: loaded-index topK byte-equals the inline ivfTopK and " +
      "prunes the scan to probed cell partitions") {
    val path = tmpDir()
    IvfIndex.build(emb, "vec_id", "embedding", nCells = 16, path = path)
    val idx = IvfIndex.load(spark, path)
    assert(idx.nCells == 16)
    val inline = rows(SimilaritySearch.ivfTopK(emb, queries, "vec_id",
      "embedding", k = 5, nCells = 16, nProbe = 4))
    val q = idx.topK(queries, "vec_id", "embedding", k = 5, nProbe = 4)
    assert(rows(q) == inline)
    // partition pruning: the cells scan must carry the cell isin filter
    // as a partition filter (cell is a Hive partition column)
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") &&
      plan.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("cell")),
      "probe set was not pushed as a partition filter:\n" + plan)
  }

  test("extend: appended vectors are found under the frozen quantizers " +
      "— an identical query returns its planted twin; pre-extend " +
      "results stay reachable") {
    import spark.implicits._
    val corpus = emb.filter(col("vec_id") < 400)
    val delta = emb.filter(col("vec_id") >= 400 && col("vec_id") < 450)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    // PQ: delta encodes under the stored codebooks; an exact copy of a
    // delta vector must surface it (identical codes -> identical ADC
    // score; excludeSelf filters the query id itself, ids differ)
    val pqPath = tmpDir()
    val pq = PqIndex.build(corpus, "vec_id", "embedding",
      path = pqPath).get
    val preRows = pq.codes.count()
    pq.extend(delta, "vec_id", "embedding")
    assert(pq.codes.count() == preRows + 50)
    // probe and expected id must come from the SAME row — an unordered
    // limit(1) is free to pick any row and would make this flaky
    val planted = delta.orderBy(col("vec_id")).limit(1).collect()(0)
    val plantedId = planted.getLong(0)
    val probe = Seq(Tuple1(777777L)).toDF("vec_id")
      .withColumn("embedding",
        typedLit(planted.getSeq[Float](1)).cast("array<float>"))
    val pqTop = pq.topK(probe, "vec_id", "embedding", k = 3)
      .collect().map(_.getLong(2)).toSet
    assert(pqTop.contains(plantedId),
      s"PQ extend lost the planted twin $plantedId: $pqTop")
    // IVF: identical vector assigns to the same cell deterministically
    // and scoring is exact, so the twin is the cos-1.0 top hit; the
    // appended rows land inside the Hive cell partitions
    val ivfPath = tmpDir()
    val ivf = IvfIndex.build(corpus, "vec_id", "embedding",
      nCells = 16, path = ivfPath).get
    ivf.extend(delta, "vec_id", "embedding")
    assert(ivf.cells.count() == 450)
    val ivfTop = ivf.topK(probe, "vec_id", "embedding", k = 1)
      .collect()(0)
    assert(ivfTop.getLong(2) == plantedId && ivfTop.getDouble(3) == 1.0,
      s"IVF extend: expected ($plantedId, 1.0), got $ivfTop")
    // reloading sees the extension too (state is all on disk)
    assert(IvfIndex.load(spark, ivfPath).cells.count() == 450)
    assert(PqIndex.load(spark, pqPath).codes.count() == preRows + 50)
    // a delta from a different embedding model (wrong dim) is refused
    // loudly instead of silently poisoning the stored codes/cells
    val wrongDim = delta.select(col("vec_id"),
      slice(col("embedding"), 1, 32).as("embedding"))
    for (op <- Seq(() => pq.extend(wrongDim, "vec_id", "embedding"),
        () => ivf.extend(wrongDim, "vec_id", "embedding"))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("dim"), e.getMessage)
    }
  }

  test("empty corpus: build returns None instead of writing a broken " +
      "index") {
    val empty = emb.filter(col("vec_id") < -1)
    assert(PqIndex.build(empty, "vec_id", "embedding",
      path = tmpDir()).isEmpty)
    assert(IvfIndex.build(empty, "vec_id", "embedding",
      path = tmpDir()).isEmpty)
  }

  test("build releases every cache it created") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.size
    PqIndex.build(emb, "vec_id", "embedding", path = tmpDir())
    IvfIndex.build(emb, "vec_id", "embedding", path = tmpDir())
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "index build leaked operator caches")
  }

  test("x63 equals x61: the indexed query entry byte-matches the inline " +
      "entry") {
    val a = rows(graft.queries.Extensions.x61KnnPq(spark, sfDir))
    val b = rows(graft.queries.Extensions.x63KnnPqIndexed(spark, sfDir))
    assert(a == b)
    assert(a.nonEmpty)
  }

  /** Post-delete expectation from a pre-delete run: drop the victim's
    * rows and re-rank — scoring is deterministic, so deletion must
    * shift ranks without changing relative order.
    */
  private def minusVictim(pre: Seq[(Any, Int, Any, Double)], victim: Any,
      k: Int): Seq[(Any, Int, Any, Double)] =
    pre.filter(_._3 != victim).groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      rs.sortBy(_._2).take(k).zipWithIndex
        .map { case ((q, _, n, c), i) => (q, i + 1, n, c) }
    }.sortBy(r => (r._1.asInstanceOf[Long], r._2))

  test("delete: a tombstoned vector stops surfacing as a neighbor in " +
      "both index kinds — remaining results shift ranks deterministically") {
    import spark.implicits._
    val pq = PqIndex.build(emb, "vec_id", "embedding",
      path = tmpDir()).get
    val ivf = IvfIndex.build(emb, "vec_id", "embedding", nCells = 16,
      path = tmpDir()).get
    // victim: the global rank-1 neighbor of query 0 in the IVF answer
    val victim = ivf.topK(queries.filter(col("vec_id") === 0), "vec_id",
      "embedding", k = 1).collect()(0).getLong(2)

    for ((name, topPre, del, topPost) <- Seq(
        ("pq",
          () => rows(pq.topK(queries, "vec_id", "embedding", k = 6)),
          () => pq.delete(Seq(victim).toDF("vec_id"), "vec_id"),
          () => rows(pq.topK(queries, "vec_id", "embedding", k = 5))),
        ("ivf",
          () => rows(ivf.topK(queries, "vec_id", "embedding", k = 6,
            nProbe = 16)),
          () => ivf.delete(Seq(victim).toDF("vec_id"), "vec_id"),
          () => rows(ivf.topK(queries, "vec_id", "embedding", k = 5,
            nProbe = 16))))) {
      val pre = topPre()
      del()
      val post = topPost()
      assert(!post.exists(_._3 == victim), s"$name: victim still surfaces")
      assert(post == minusVictim(pre, victim, 5),
        s"$name: deletion did not shift ranks deterministically")
      assert(post.nonEmpty)
    }

    // the probe-set partition filter must PUSH PAST the tombstone
    // anti-join — if the anti-join blocked pushdown, every probed query
    // would full-scan the cells collection at 100 TB
    val pruned = ivf.topK(queries, "vec_id", "embedding", k = 5,
      nProbe = 4)
    pruned.count()
    val plan = pruned.queryExecution.executedPlan.toString()
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cell")),
      "tombstone anti-join blocked partition pruning:\n" + plan)

    // re-extending a tombstoned id is refused in both kinds — the row
    // would be tombstone-hidden now and silently dropped by rebuild
    val revived = emb.filter(col("vec_id") === victim)
    for (op <- Seq(() => pq.extend(revived, "vec_id", "embedding"),
        () => ivf.extend(revived, "vec_id", "embedding"))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("tombstoned"), e.getMessage)
    }
  }

  test("IVF driftReport: steady-state ratios stay ~1; an " +
      "off-distribution extend is flagged by dist_ratio") {
    val ivf = IvfIndex.build(emb.filter(col("vec_id") < 400), "vec_id",
      "embedding", nCells = 16, path = tmpDir()).get
    val steady = ivf.driftReport().collect()
    assert(steady.nonEmpty)
    steady.filter(_.getAs[Long]("n_build") > 0).foreach { r =>
      assert(math.abs(r.getAs[Double]("size_ratio") - 1.0) < 1e-9, r)
      val dr = r.getAs[Double]("dist_ratio")
      assert(dr > 0.99 && dr < 1.01, s"steady-state dist_ratio $dr: $r")
    }
    // planted drift: vectors shifted far off the training distribution
    val shifted = emb.filter(col("vec_id") >= 400 && col("vec_id") < 450)
      .select((col("vec_id") + 20000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(10.0f)).as("embedding"))
    ivf.extend(shifted, "vec_id", "embedding")
    val drifted = ivf.driftReport().collect()
    val flagged = drifted.filter { r =>
      Option(r.getAs[Double]("dist_ratio")).exists(_ > 2.0)
    }
    assert(flagged.nonEmpty,
      s"planted off-distribution extend not flagged:\n" +
        drifted.map(_.toString).mkString("\n"))
    // the flagged cells are exactly where the shifted vectors landed
    assert(flagged.forall(r => r.getAs[Long]("n_now") >
      r.getAs[Long]("n_build")))
  }

  test("IVF rebuild: tombstones compact away physically, the drift " +
      "baseline resets, results equal brute force over the survivors, " +
      "and the rebuilt index reloads with no staging residue") {
    import spark.implicits._
    val path = tmpDir()
    val ivf0 = IvfIndex.build(emb, "vec_id", "embedding", nCells = 16,
      path = path).get
    val victim = ivf0.topK(queries.filter(col("vec_id") === 0), "vec_id",
      "embedding", k = 1).collect()(0).getLong(2)
    ivf0.delete(Seq(victim).toDF("vec_id"), "vec_id")

    val ivf = ivf0.rebuild()
    assert(spark.read.parquet(s"$path/cells")
      .filter(col("neighbor_id") === victim).count() == 0,
      "victim survived the rebuild physically")
    assert(!new java.io.File(s"$path/tombstones").exists())

    // probe-all IVF scoring is exact, so the rebuilt index must equal
    // brute force over the survivors REGARDLESS of retrained centroids
    val survivors = emb.filter(col("vec_id") =!= victim)
    val brute = rows(SimilaritySearch.bruteForceTopK(survivors, queries,
      "vec_id", "embedding", k = 5))
    assert(rows(ivf.topK(queries, "vec_id", "embedding", k = 5,
      nProbe = ivf.nCells)) == brute)

    // fresh baseline: steady again
    ivf.driftReport().collect()
      .filter(_.getAs[Long]("n_build") > 0).foreach { r =>
        val dr = r.getAs[Double]("dist_ratio")
        assert(dr > 0.99 && dr < 1.01, s"post-rebuild dist_ratio: $r")
      }

    // reload sees the rebuilt state; the swap left nothing beside it
    assert(IvfIndex.load(spark, path).centroids == ivf.centroids)
    assert(residue(path).isEmpty, residue(path))
  }

  test("PQ driftReport: steady-state err_ratio stays ~1; an " +
      "off-distribution extend is flagged; rebuild resets the baseline") {
    val pq = PqIndex.build(emb.filter(col("vec_id") < 400), "vec_id",
      "embedding", path = tmpDir()).get
    val steady = pq.driftReport().collect()
    assert(steady.length == pq.numSubspaces)
    steady.foreach { r =>
      val er = r.getAs[Double]("err_ratio")
      assert(er > 0.99 && er < 1.01, s"steady-state err_ratio $er: $r")
    }
    // planted drift: vectors shifted far off the training distribution
    // reconstruct badly under the frozen codebooks — the silent ADC
    // decay driftReport exists to surface
    val shifted = emb.filter(col("vec_id") >= 400 && col("vec_id") < 450)
      .select((col("vec_id") + 20000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(10.0f)).as("embedding"))
    pq.extend(shifted, "vec_id", "embedding")
    val drifted = pq.driftReport().collect()
    assert(drifted.exists(_.getAs[Double]("err_ratio") > 2.0),
      s"planted off-distribution extend not flagged:\n" +
        drifted.map(_.toString).mkString("\n"))
    // rebuild retrains under the merged distribution and re-baselines
    val merged = emb.filter(col("vec_id") < 400)
      .select(col("vec_id"), col("embedding")).unionByName(shifted)
    val pq2 = pq.rebuild(merged, "vec_id", "embedding").get
    pq2.driftReport().collect().foreach { r =>
      val er = r.getAs[Double]("err_ratio")
      assert(er > 0.99 && er < 1.01, s"post-rebuild err_ratio: $r")
    }
  }

  test("stale handle: after a rebuild rotates the epoch, the OLD handle " +
      "refuses loudly instead of scoring with mismatched driver state") {
    import spark.implicits._
    // PQ: a stale handle would decode re-encoded codes with old
    // codebooks — silently wrong similarities
    val pqPath = tmpDir()
    val pq0 = PqIndex.build(emb, "vec_id", "embedding", path = pqPath).get
    val pq1 = pq0.rebuild(emb, "vec_id", "embedding").get
    for (op <- Seq(
        () => pq0.topK(queries, "vec_id", "embedding", k = 5),
        () => pq0.extend(emb.limit(1), "vec_id", "embedding"),
        () => pq0.delete(Seq(1L).toDF("vec_id"), "vec_id"),
        () => pq0.driftReport(),
        () => pq0.rebuild(emb, "vec_id", "embedding"))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("stale"), e.getMessage)
    }
    // the fresh handle and a reload both work
    assert(rows(pq1.topK(queries, "vec_id", "embedding", k = 5)).nonEmpty)
    assert(rows(PqIndex.load(spark, pqPath)
      .topK(queries, "vec_id", "embedding", k = 5)).nonEmpty)
    // IVF: a stale handle would probe old centroids against
    // re-partitioned cells — silent recall loss
    val ivfPath = tmpDir()
    val ivf0 = IvfIndex.build(emb, "vec_id", "embedding", nCells = 16,
      path = ivfPath).get
    val ivf1 = ivf0.rebuild()
    val e = intercept[IllegalArgumentException](
      ivf0.topK(queries, "vec_id", "embedding", k = 5))
    assert(e.getMessage.contains("stale"), e.getMessage)
    assert(rows(ivf1.topK(queries, "vec_id", "embedding", k = 5)).nonEmpty)
  }

  test("PQ rebuild with an UNPURGED corpus does not resurrect a " +
      "tombstoned vector; a later build replaces the index whole") {
    import spark.implicits._
    val path = tmpDir()
    val pq0 = PqIndex.build(emb, "vec_id", "embedding", path = path).get
    val victim = pq0.topK(queries.filter(col("vec_id") === 0), "vec_id",
      "embedding", k = 1).collect()(0).getLong(2)
    pq0.delete(Seq(victim).toDF("vec_id"), "vec_id")
    // the caller forgets to purge: rebuild must honor the takedown
    val pq = pq0.rebuild(emb, "vec_id", "embedding").get
    assert(pq.codes.filter(col("neighbor_id") === victim).count() == 0,
      "tombstoned vector resurrected through an unpurged rebuild corpus")
    assert(!rows(pq.topK(queries, "vec_id", "embedding", k = 10))
      .exists(_._3 == victim))
    // a build over it publishes a whole new index: one epoch, no
    // tombstones, every vector back, and nothing left beside it
    val fresh = PqIndex.build(emb, "vec_id", "embedding", path = path).get
    assert(new java.io.File(path).list().count(_.startsWith(".epoch-")) == 1)
    assert(!new java.io.File(s"$path/tombstones").exists())
    assert(fresh.codes.count() == emb.count())
    assert(rows(PqIndex.load(spark, path)
      .topK(queries, "vec_id", "embedding", k = 5)) ==
      rows(fresh.topK(queries, "vec_id", "embedding", k = 5)))
    assert(residue(path).isEmpty, residue(path))
  }

  test("compact: per-batch extend files collapse in both index kinds, " +
      "topK stays byte-identical (tombstones included), IVF keeps " +
      "probe-set partition pruning") {
    import spark.implicits._
    val corpus = emb.filter(col("vec_id") < 350)
    def extendIn3(ext: (DataFrame, String, String) => Unit): Unit =
      for (r <- 0 until 3)
        ext(emb.filter(col("vec_id") >= 350 && col("vec_id") % 3 === r)
          .select((col("vec_id") + 1000L).as("vec_id"), col("embedding")),
          "vec_id", "embedding")

    val pq = PqIndex.build(corpus, "vec_id", "embedding",
      path = tmpDir()).get
    extendIn3(pq.extend)
    pq.delete(Seq(1L).toDF("vec_id"), "vec_id")
    val pqPre = rows(pq.topK(queries, "vec_id", "embedding", k = 5))
    val (pb, pa) = pq.compact()
    assert(pa < pb, s"PQ compact did not shrink: $pb -> $pa")
    assert(rows(pq.topK(queries, "vec_id", "embedding", k = 5)) == pqPre)

    val ivf = IvfIndex.build(corpus, "vec_id", "embedding", nCells = 16,
      path = tmpDir()).get
    extendIn3(ivf.extend)
    ivf.delete(Seq(1L).toDF("vec_id"), "vec_id")
    val ivfPre = rows(ivf.topK(queries, "vec_id", "embedding", k = 5))
    val (ib, ia) = ivf.compact()
    assert(ia < ib, s"IVF compact did not shrink: $ib -> $ia")
    val q = ivf.topK(queries, "vec_id", "embedding", k = 5)
    assert(rows(q) == ivfPre)
    // the Hive cell layout survived the rewrite: probes still prune
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cell")),
      "compact lost the cell partition layout:\n" + plan)
  }

  test("a data-less tombstones directory behaves exactly like no " +
      "tombstones — reads resolve, nothing is filtered") {
    val path = tmpDir()
    val pq = PqIndex.build(emb, "vec_id", "embedding", path = path).get
    val n = pq.codes.count()
    // a tombstones dir with no data files previously made the
    // anti-join fail to resolve neighbor_id (0-column frame) and broke
    // every read until the dir was removed
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(path, "tombstones"))
    val pq2 = PqIndex.load(spark, path)
    assert(pq2.codes.count() == n)
    assert(rows(pq2.topK(queries, "vec_id", "embedding", k = 5)).nonEmpty)
  }

  test("PQ rebuild retrains under the current corpus: byte-equals the " +
      "inline pqTopK over the survivors and frees tombstoned state") {
    import spark.implicits._
    val path = tmpDir()
    val pq0 = PqIndex.build(emb, "vec_id", "embedding", path = path).get
    pq0.delete(Seq(3L, 4L).toDF("vec_id"), "vec_id")
    val survivors = emb.filter(!col("vec_id").isin(3L, 4L))
    val pq = pq0.rebuild(survivors, "vec_id", "embedding").get
    assert(!new java.io.File(s"$path/tombstones").exists())
    val inline = rows(SimilaritySearch.pqTopK(survivors, queries,
      "vec_id", "embedding", k = 5))
    assert(rows(pq.topK(queries, "vec_id", "embedding", k = 5)) == inline)
    assert(rows(PqIndex.load(spark, path)
      .topK(queries, "vec_id", "embedding", k = 5)) == inline)
  }

  // ---- composed IVF-PQ residual index -------------------------------

  /** Small-integer corpus where the lossless regime is EXACT end to
    * end: the first `nDistinct` rows are the distinct vectors (so the
    * coarse init IS the distinct set and Lloyd's means stay exactly on
    * them), every later row duplicates one of them (residuals exactly
    * 0f), and all arithmetic is integer-valued — products and sums are
    * exact in double, so the composed ADC score equals the brute-force
    * dot bit for bit.
    */
  private def intCorpus(nDistinct: Int, copies: Int): DataFrame = {
    val distinct = (0 until nDistinct).map { d =>
      (0 until 8).map(i => ((d * 3 + i * 5) % 9 + 1).toFloat)
    }
    val rows = (0 until nDistinct * copies).map { i =>
      org.apache.spark.sql.Row(i.toLong + 1L, distinct(
        if (i < nDistinct) i else i % nDistinct))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType, containsNull = false),
          nullable = false))))
  }

  test("IvfPqIndex: lossless regime — probe-all topK byte-equals the " +
      "exact bruteForceTopK (the composed prune+compress path certified " +
      "against the oracle-checked exact form)") {
    val corpus = intCorpus(nDistinct = 8, copies = 5)
    val qs = corpus.filter(col("vec_id") <= 4)
    val idx = IvfPqIndex.build(corpus, "vec_id", "embedding",
      nCells = 8, numSubspaces = 4, nCentroids = 16,
      path = tmpDir()).get
    val brute = rows(SimilaritySearch.bruteForceTopK(corpus, qs,
      "vec_id", "embedding", k = 5))
    val got = rows(idx.topK(qs, "vec_id", "embedding", k = 5,
      nProbe = 8))
    assert(got == brute)
    assert(got.nonEmpty)
  }

  test("IvfPqIndex: loaded-index topK byte-equals the build handle; " +
      "the scan prunes to probed cell partitions, reads codes (never " +
      "full-width vectors) and prunes the qerrs audit column") {
    val path = tmpDir()
    IvfPqIndex.build(emb, "vec_id", "embedding", nCells = 16,
      numSubspaces = 8, nCentroids = 16, path = path)
    val built = graft.operators.IvfPqIndex.load(spark, path)
    assert(built.nCells == 16)
    val q = built.topK(queries, "vec_id", "embedding", k = 5, nProbe = 4)
    q.count()
    val plan = q.queryExecution.executedPlan.toString()
    // probe set pushed as a partition filter on the Hive cell layout
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cell")),
      "probe set was not pushed as a partition filter:\n" + plan)
    // compressed scan: the codes read must not include qerrs (audit
    // only); and no corpus-source full-width vectors on the query path
    assert(!plan.linesIterator.exists(l =>
      l.contains("ReadSchema") && l.contains("qerrs")),
      "topK reads the qerrs audit column:\n" + plan)
    val corpusScans = plan.linesIterator
      .filter(_.contains("embeddings.parquet"))
      .filter(l => l.contains("cv") || l.contains("codes")).toSeq
    assert(corpusScans.isEmpty,
      "corpus vectors were re-read on the query path:\n" + plan)
    // deterministic: a reload answers identically
    assert(rows(graft.operators.IvfPqIndex.load(spark, path)
      .topK(queries, "vec_id", "embedding", k = 5, nProbe = 4)) ==
      rows(q))
  }

  test("IvfPqIndex: recall floor vs brute force on planted " +
      "near-duplicate neighbors; approximation bias is one-sided " +
      "(scores never exceed the exact cosine by more than rounding)") {
    import graft.expressions.HyperplaneBucket
    // plant twins of the first 30 corpus vectors (~1% jitter,
    // cos ≈ 0.9999) — the twin is the unambiguous true top-1
    val base = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1).take(30)
    val planted = base.map { case (id, v) =>
      val v2 = v.clone()
      var i = 0
      while (i < v2.length) {
        v2(i) = v2(i) + 0.02f * HyperplaneBucket.coef(id.toInt, i).toFloat
        i += 1
      }
      (id + 100000L, v2)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false),
        nullable = false)))
    val all = emb.select(col("vec_id"), col("embedding")).union(
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          planted.toSeq.map { case (id, v) =>
            org.apache.spark.sql.Row(id, v.toSeq) }, 4), schema))
    val idx = IvfPqIndex.build(all, "vec_id", "embedding", nCells = 16,
      numSubspaces = 8, nCentroids = 16, path = tmpDir()).get
    val qs = all.filter(col("vec_id") < 30)
    val got = idx.topK(qs, "vec_id", "embedding", k = 1, nProbe = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hits = got.count { case (q, n) => n == q + 100000L }
    assert(hits >= 24, // measured ≥ 27/30 on the fixture; floor at 0.8
      s"IVF-PQ top-1 found only $hits/30 planted twins: $got")
  }

  test("IvfPqIndex lifecycle: extend under frozen quantizers finds the " +
      "planted twin; delete hides it immediately; compact preserves " +
      "pruning; rebuild purges and stales the old handle") {
    import spark.implicits._
    val path = tmpDir()
    val corpus = emb.filter(col("vec_id") < 400)
    val idx = IvfPqIndex.build(corpus, "vec_id", "embedding",
      nCells = 16, numSubspaces = 8, nCentroids = 16, path = path).get
    val preRows = idx.codes.count()
    val delta = emb.filter(col("vec_id") >= 400 && col("vec_id") < 450)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    idx.extend(delta, "vec_id", "embedding")
    assert(idx.codes.count() == preRows + 50)
    // an identical probe surfaces the planted twin: same cell (compiled
    // assign is deterministic), identical residual codes → identical ADC
    val plantedRow = delta.orderBy(col("vec_id")).limit(1).collect()(0)
    val plantedId = plantedRow.getLong(0)
    val probe = Seq(Tuple1(777777L)).toDF("vec_id")
      .withColumn("embedding",
        typedLit(plantedRow.getSeq[Float](1)).cast("array<float>"))
    val top = idx.topK(probe, "vec_id", "embedding", k = 3, nProbe = 4)
      .collect().map(_.getLong(2)).toSet
    assert(top.contains(plantedId),
      s"extend lost the planted twin $plantedId: $top")
    // wrong-dim delta refused loudly
    val wrongDim = delta.select(col("vec_id"),
      slice(col("embedding"), 1, 32).as("embedding"))
    val e = intercept[IllegalArgumentException](
      idx.extend(wrongDim, "vec_id", "embedding"))
    assert(e.getMessage.contains("dim"), e.getMessage)
    // delete hides immediately
    idx.delete(Seq(Tuple1(plantedId)).toDF("vec_id"), "vec_id")
    val afterDel = idx.topK(probe, "vec_id", "embedding", k = 3,
      nProbe = 4).collect().map(_.getLong(2)).toSet
    assert(!afterDel.contains(plantedId), s"tombstoned $plantedId " +
      s"still surfaces: $afterDel")
    // compact: files collapse, answers byte-identical, pruning intact
    val preAnswer = rows(idx.topK(probe, "vec_id", "embedding", k = 3,
      nProbe = 4))
    val (before, after) = idx.compact()
    assert(after <= before)
    val qPost = idx.topK(probe, "vec_id", "embedding", k = 3, nProbe = 4)
    assert(rows(qPost) == preAnswer)
    val postPlan = qPost.queryExecution.executedPlan.toString()
    assert(postPlan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cell")),
      "compaction lost the cell partition layout:\n" + postPlan)
    // drift baseline exists from build; steady-state ratio ≈ 1
    val drift = idx.driftReport().collect()
    assert(drift.nonEmpty)
    // rebuild purges tombstones, retrains, and stales THIS handle
    val survivors = corpus.select(col("vec_id"), col("embedding"))
      .union(delta.filter(col("vec_id") =!= plantedId))
    val fresh = idx.rebuild(survivors, "vec_id", "embedding").get
    assert(!new java.io.File(s"$path/tombstones").exists())
    assert(fresh.codes.count() == preRows + 50 - 1)
    val stale = intercept[IllegalArgumentException](
      idx.topK(probe, "vec_id", "embedding", k = 1))
    assert(stale.getMessage.contains("stale"), stale.getMessage)
    // and the rebuilt index never resurrects the tombstoned id
    val post = rows(fresh.topK(probe, "vec_id", "embedding", k = 3,
      nProbe = 4))
    assert(!post.exists(_._3 == plantedId))
  }

  test("IvfPqIndex.topKRerank: returned cosines are EXACT (equal the " +
      "brute-force values for the same pairs), ranking beats raw ADC " +
      "on planted twins, and deleted-upstream ids drop out") {
    import graft.expressions.HyperplaneBucket
    // the planted-twin fixture again: true top-1 is unambiguous
    val base = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1).take(30)
    val planted = base.map { case (id, v) =>
      val v2 = v.clone()
      var i = 0
      while (i < v2.length) {
        v2(i) = v2(i) + 0.02f * HyperplaneBucket.coef(id.toInt, i).toFloat
        i += 1
      }
      (id + 100000L, v2)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false),
        nullable = false)))
    val all = emb.select(col("vec_id"), col("embedding")).union(
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          planted.toSeq.map { case (id, v) =>
            org.apache.spark.sql.Row(id, v.toSeq) }, 4), schema))
    val idx = IvfPqIndex.build(all, "vec_id", "embedding", nCells = 16,
      numSubspaces = 8, nCentroids = 16, path = tmpDir()).get
    val qs = all.filter(col("vec_id") < 30)
    val rer = idx.topKRerank(qs, "vec_id", "embedding", all, k = 5,
      nProbe = 4, overfetch = 4)
    // exactness: every returned cos equals the brute-force cosine of
    // the same (query, neighbor) pair
    val brute = SimilaritySearch.bruteForceTopK(all, qs, "vec_id",
        "embedding", k = 200) // deep k: cover every reranked pair
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
      .toMap
    val rerRows = rer.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rerRows.nonEmpty)
    rerRows.foreach { case (qid, _, nid, cos) =>
      brute.get((qid, nid)).foreach(b =>
        assert(b == cos, s"rerank cos $cos != exact $b for ($qid,$nid)"))
    }
    // rerank top-1 finds the planted twin at least as often as raw ADC
    def hits(rows: Array[(Long, Int, Long, Double)]): Int =
      rows.count { case (q, rk, n, _) => rk == 1 && n == q + 100000L }
    val adcTop = idx.topK(qs, "vec_id", "embedding", k = 1, nProbe = 4)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(hits(rerRows) >= hits(adcTop),
      s"rerank (${hits(rerRows)}) must not lose to ADC (${hits(adcTop)})")
    assert(hits(rerRows) >= 24, s"rerank top-1 found ${hits(rerRows)}/30")
    // an id deleted upstream (absent from the rerank corpus) drops out
    val victim = rerRows.head._3
    val rer2 = idx.topKRerank(qs, "vec_id", "embedding",
      all.filter(col("vec_id") =!= victim), k = 5, nProbe = 4)
    assert(!rer2.collect().exists(_.getLong(2) == victim))
  }

  test("IvfPqIndex: empty corpus build returns None; build releases " +
      "every cache; x113 entry is deterministic across invocations") {
    val empty = emb.filter(col("vec_id") < -1)
    assert(IvfPqIndex.build(empty, "vec_id", "embedding",
      path = tmpDir()).isEmpty)
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.size
    IvfPqIndex.build(emb, "vec_id", "embedding", path = tmpDir())
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "IvfPqIndex.build leaked operator caches")
    val a = rows(graft.queries.Extensions.x113KnnIvfPqIndexed(spark,
      sfDir))
    val b = rows(graft.queries.Extensions.x113KnnIvfPqIndexed(spark,
      sfDir))
    assert(a == b && a.nonEmpty)
  }

  test("ADC calibration: the self-query operator reproduces the " +
      "documented threshold regime on the planted-twin corpus — " +
      "exact twins score at or above the suggested threshold, " +
      "unrelated vectors stay far below it") {
    import graft.functions.VectorFunctions._
    val path = tmpDir()
    val idx = IvfPqIndex.build(emb, "vec_id", "embedding",
      nCells = 16, numSubspaces = 8, nCentroids = 16, path = path).get
    // the per-cell report covers every live cell, n sums to the corpus
    val report = idx.adcCalibration(emb, "vec_id", "embedding")
      .collect()
    assert(report.map(_.getLong(1)).sum == emb.count())
    report.foreach { r =>
      assert(r.getDouble(2) <= r.getDouble(3) + 1e-9 &&
        r.getDouble(3) <= r.getDouble(4) + 1e-9,
        s"cell ${r.getInt(0)} stats out of order: $r")
    }
    val t = idx.suggestedAdcThreshold(emb, "vec_id", "embedding")
    // the documented regime on random 64-dim at the 8x16 defaults:
    // self-ADC ~0.7-0.8, so the 0.9x p05 suggestion lands well below
    // 1 and well above the unrelated-vector band near 0
    assert(t > 0.3 && t < 0.9, s"suggested threshold $t outside the " +
      "measured self-ADC regime")
    // an EXACT TWIN of an indexed vector passes the threshold...
    val target = emb.orderBy(col("vec_id")).limit(3).collect()
    val spark0 = spark
    import spark0.implicits._
    val twins = target.map(r => (r.getLong(0) + 900000L,
      r.getSeq[Float](1))).toSeq.toDF("vec_id", "embedding")
    val twinHits = idx.topK(twins, "vec_id", "embedding", k = 1,
        nProbe = 16, excludeSelf = false).collect()
      .map(r => (r.get(0).asInstanceOf[Long], r.getDouble(3)))
    target.foreach { r =>
      val hit = twinHits.find(_._1 == r.getLong(0) + 900000L)
      assert(hit.exists(_._2 >= t),
        s"exact twin of ${r.getLong(0)} scored ${hit.map(_._2)} " +
          s"below the suggested threshold $t")
    }
    // ...and an unrelated vector stays far below it
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val noise = Seq((990001L, Seq.tabulate(dim)(i =>
      (math.sin(i * 12.9898) * 43758.5453 % 1.0).toFloat)))
      .toDF("vec_id", "embedding")
    val noiseBest = idx.topK(noise, "vec_id", "embedding", k = 1,
        nProbe = 16, excludeSelf = false).collect()
      .map(_.getDouble(3)).maxOption.getOrElse(0.0)
    assert(noiseBest < t,
      s"unrelated vector scored $noiseBest >= threshold $t")
    // a corpus frame sharing no ids with the index refuses loudly
    val renamed = emb.select((col("vec_id") + 5000000L).as("vec_id"),
      col("embedding"))
    val e = intercept[IllegalArgumentException](
      idx.suggestedAdcThreshold(renamed, "vec_id", "embedding"))
    assert(e.getMessage.contains("no overlapping ids"), e.getMessage)
  }

  test("bounded top-k: byte-equals the ranking-window form on real " +
      "scored data WITH exact-cosine ties, and no index topK carries " +
      "a query-partitioned window or candidate sort in its plan") {
    import graft.functions.VectorFunctions._
    // the window form this aggregate replaces — rank on the RAW cos,
    // round after, the historical contract
    def windowForm(scored: DataFrame, k: Int): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("query_id"), col("rk"), col("neighbor_id"),
          round(col("cos"), 6).as("cos"))
    }
    // duplicated-vector corpus: every query sees groups of neighbors
    // at IDENTICAL cosines, so the neighbor_id tie-break is exercised
    // for real; the sf fixture exercises the no-ties regime
    for (corpus <- Seq(intCorpus(nDistinct = 8, copies = 5), emb)) {
      val q = corpus.filter(col("vec_id") <= 6)
      val scored = corpus
        .select(col("vec_id").as("neighbor_id"),
          col("embedding").as("cv"), normSq(col("embedding")).as("cn"))
        .crossJoin(broadcast(q.select(col("vec_id").as("query_id"),
          col("embedding").as("qv"), normSq(col("embedding")).as("qn"))))
        .withColumn("cos", cosineFromParts(dot(col("qv"), col("cv")),
          col("qn"), col("cn")))
        .select(col("query_id"), col("neighbor_id"), col("cos"))
      assert(rows(SimilaritySearch.boundedTopK(scored, 7)) ==
        rows(windowForm(scored, 7)),
        "bounded top-k diverged from the window form")
    }
    // plan shape: the candidate path of every index kind ranks through
    // the bounded aggregate — no Window node anywhere in the optimized
    // plan (cached frames fold subtrees into InMemoryRelations, so
    // collect on the logical plan, not the formatted text — the
    // round-13 lesson)
    val pq = PqIndex.build(emb, "vec_id", "embedding",
      path = tmpDir()).get
    val ivf = IvfIndex.build(emb, "vec_id", "embedding",
      path = tmpDir()).get
    val ivfpq = IvfPqIndex.build(emb, "vec_id", "embedding",
      path = tmpDir()).get
    for ((name, df) <- Seq(
        "pq" -> pq.topK(queries, "vec_id", "embedding", k = 5),
        "ivf" -> ivf.topK(queries, "vec_id", "embedding", k = 5),
        "ivfpq" -> ivfpq.topK(queries, "vec_id", "embedding", k = 5),
        "ivfpq_rerank" -> ivfpq.topKRerank(queries, "vec_id",
          "embedding", emb, k = 5))) {
      val wins = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(wins.isEmpty,
        s"$name topK still ranks through a window: ${wins.mkString}")
    }
  }

  test("bounded top-k on DOUBLE ids: equals the window form on a " +
      "tie-heavy corpus with negative/zero/fractional ids, and the " +
      "plan stays window-free (the IEEE-bit sort-key path)") {
    import graft.functions.VectorFunctions._
    def windowForm(scored: DataFrame, k: Int): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("query_id"), col("rk"), col("neighbor_id"),
          round(col("cos"), 6).as("cos"))
    }
    // duplicated vectors force identical cosines, so the DOUBLE id
    // tie-break is exercised across the sign flip (ids span
    // negatives, exact 0.0, and fractions)
    val dCorpus = intCorpus(nDistinct = 8, copies = 5)
      .withColumn("did", (col("vec_id") - 20).cast("double") * 1.5)
    val dq = dCorpus.filter(col("vec_id") <= 6)
    val scored = dCorpus
      .select(col("did").as("neighbor_id"),
        col("embedding").as("cv"), normSq(col("embedding")).as("cn"))
      .crossJoin(broadcast(dq.select(col("did").as("query_id"),
        col("embedding").as("qv"), normSq(col("embedding")).as("qn"))))
      .withColumn("cos", cosineFromParts(dot(col("qv"), col("cv")),
        col("qn"), col("cn")))
      .select(col("query_id"), col("neighbor_id"), col("cos"))
    def rowsD(df: DataFrame) = df
      .orderBy(col("query_id"), col("rk")).collect()
      .map(r => (r.getDouble(0), r.getInt(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    assert(rowsD(SimilaritySearch.boundedTopK(scored, 7)) ==
      rowsD(windowForm(scored, 7)),
      "double-keyed bounded top-k diverged from the window form")
    val wins = SimilaritySearch.boundedTopK(scored, 7)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(wins.isEmpty,
      s"double ids still fall back to a window: ${wins.mkString}")
  }

  test("bounded top-k on STRING ids: byte-equals the window form " +
      "under Spark's UTF-8 collation (supplementary-plane ids order " +
      "differently than UTF-16 compareTo), plan stays window-free; " +
      "the measured-size gate picks the window under the bound with " +
      "identical bytes out") {
    import graft.functions.VectorFunctions._
    def windowForm(scored: DataFrame, k: Int): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("query_id"), col("rk"), col("neighbor_id"),
          round(col("cos"), 6).as("cos"))
    }
    // tie groups (copies of one vector) get ids whose FIRST char is
    // 😀 (U+1F600, a surrogate pair), U+FFFD, a LONE surrogate, or
    // 'z' — U+1F600 sorts ABOVE U+FFFD in UTF-8/code-point order but
    // BELOW it under Java's UTF-16 compareTo, and the MALFORMED lone
    // surrogate encodes as the replacement byte '?' (0x3F) under
    // UTF8String.fromString, so it must sort BELOW 'z' (0x7A) here
    // even though its code unit (0xD83D) is far above — a buffer
    // comparing Java strings OR code points would rank these ties
    // wrongly
    val sCorpus = intCorpus(nDistinct = 8, copies = 5)
      .withColumn("sid", concat(
        when(col("vec_id") % 4 === 0, lit("😀"))
          .when(col("vec_id") % 4 === 1, lit("�"))
          .when(col("vec_id") % 4 === 2, lit("\ud83d"))
          .otherwise(lit("z")),
        col("vec_id").cast("string")))
    val sq = sCorpus.filter(col("vec_id") <= 6)
    val scored = sCorpus
      .select(col("sid").as("neighbor_id"),
        col("embedding").as("cv"), normSq(col("embedding")).as("cn"))
      .crossJoin(broadcast(sq.select(col("sid").as("query_id"),
        col("embedding").as("qv"), normSq(col("embedding")).as("qn"))))
      .withColumn("cos", cosineFromParts(dot(col("qv"), col("cv")),
        col("qn"), col("cn")))
      .select(col("query_id"), col("neighbor_id"), col("cos"))
    assert(rows(SimilaritySearch.boundedTopK(scored, 7)) ==
      rows(windowForm(scored, 7)),
      "string-keyed bounded top-k diverged from the window form")
    // the string path is a real bounded aggregate — zero Window nodes
    val wins = SimilaritySearch.boundedTopK(scored, 7)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(wins.isEmpty,
      s"string ids still fall back to a window: ${wins.mkString}")
    // the measured-size gate: under the bound the window plan is
    // CHOSEN (no aggregate setup cost), above it the aggregate —
    // identical bytes out on both sides
    val under = SimilaritySearch.boundedTopK(scored, 7,
      Some(BigInt(1024)))
    val over = SimilaritySearch.boundedTopK(scored, 7,
      Some(BigInt(Long.MaxValue)))
    assert(rows(under) == rows(over),
      "the gate changed ANSWERS, not just plans")
    assert(under.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.nonEmpty, "under the bound the window form should be chosen")
    assert(over.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isEmpty, "over the bound the aggregate must rank")
  }

  test("bounded top-k on BINARY, DECIMAL, DATE and TIMESTAMP ids: " +
      "byte-equals the window form under each type's native Spark " +
      "ordering (unsigned bytes, signed numeric via the flipped " +
      "sort key, epoch integers) with exact-cosine tie groups, and " +
      "every plan stays window-free") {
    import graft.functions.VectorFunctions._
    def windowForm(scored: DataFrame, k: Int): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("query_id"), col("rk"), col("neighbor_id"),
          round(col("cos"), 6).as("cos"))
    }
    // copies of one vector make exact cos ties, so the id tie-break
    // is exercised on every shared rank; id derivations cover the
    // hostile corners: md5 bytes exceed 0x7f (unsigned byte order),
    // the decimal spans NEGATIVE and positive (the sign-bit flip)
    val base = intCorpus(nDistinct = 8, copies = 5)
    val variants: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "binary" -> unhex(md5(col("vec_id").cast("string"))),
      "decimal" -> ((col("vec_id") - 20) * lit(1.37))
        .cast(org.apache.spark.sql.types.DecimalType(12, 4)),
      "date" -> date_add(lit("2020-01-01").cast("date"),
        (col("vec_id") % 1000).cast("int")),
      "timestamp" -> timestamp_millis(col("vec_id") * 1234567L))
    for ((label, idExpr) <- variants) {
      val corpus = base.withColumn("tid", idExpr)
      val q = corpus.filter(col("vec_id") <= 6)
      val scored = corpus
        .select(col("tid").as("neighbor_id"),
          col("embedding").as("cv"), normSq(col("embedding")).as("cn"))
        .crossJoin(broadcast(q.select(col("vec_id").as("query_id"),
          col("embedding").as("qv"), normSq(col("embedding")).as("qn"))))
        .withColumn("cos", cosineFromParts(dot(col("qv"), col("cv")),
          col("qn"), col("cn")))
        .select(col("query_id"), col("neighbor_id"), col("cos"))
      // Array[Byte] compares by reference inside tuples — canonicalize
      def rowsC(df: DataFrame): Seq[(Any, Int, Any, Double)] =
        rows(df).map { case (q2, rk, id, cos) =>
          (q2, rk, id match {
            case a: Array[Byte] => a.toSeq
            case x => x
          }, cos)
        }
      assert(rowsC(SimilaritySearch.boundedTopK(scored, 7)) ==
        rowsC(windowForm(scored, 7)),
        s"$label-keyed bounded top-k diverged from the window form")
      val wins = SimilaritySearch.boundedTopK(scored, 7)
        .queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
        }
      assert(wins.isEmpty,
        s"$label ids still fall back to a window: ${wins.mkString}")
    }
    // the decimal sort key round-trips bit-identically on hostile
    // values (negative, zero, max-precision)
    import spark.implicits._
    val vals = Seq("-99999999.9999", "-0.0001", "0.0000", "0.0001",
      "12345678.4321", "99999999.9999")
    val rt = vals.toDF("v")
      .select(col("v").cast(
        org.apache.spark.sql.types.DecimalType(12, 4)).as("d"))
      .select(graft.expressions.GraftFunctions.sortKeyDecimal(
        graft.expressions.GraftFunctions.decimalSortKey(col("d"),
          12, 4), 12, 4).as("rt"), col("d"))
      .collect()
    rt.foreach(r => assert(r.getDecimal(0) == r.getDecimal(1),
      s"sort-key round trip broke: ${r.getDecimal(1)}"))
  }
}
