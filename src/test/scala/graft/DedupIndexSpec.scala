package graft

import graft.operators.{Dedup, DedupIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted dedup index: the index-fed incremental forms must equal
  * the recompute forms verbatim, a second delta batch must reuse the
  * stored state WITHOUT scanning the corpus source, and build must
  * release its caches.
  */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_dedupidx").toString

  // the x59/x60 corpus shape: real documents, delta = doc_id % 7 == 0
  private def corpusDocs: DataFrame =
    graft.core.Graft.table(spark, sfDir, "documents")
      .filter(col("doc_id") % 7 =!= 0)
  private def deltaDocs: DataFrame =
    graft.core.Graft.table(spark, sfDir, "documents")
      .filter(col("doc_id") % 7 === 0)

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("index-fed jaccardPairsAgainst equals the recompute form " +
      "verbatim on the x59 corpora") {
    val idx = DedupIndex.build(corpusDocs, "doc_id", "text", k = 3,
      threshold = 0.6, path = tmpDir())
    val recompute = pairSet(Dedup.jaccardShinglePairsAgainst(
      corpusDocs, deltaDocs, "doc_id", "text", k = 3, threshold = 0.6))
    val indexed = pairSet(
      idx.jaccardPairsAgainst(deltaDocs, "doc_id", "text", 0.6))
    assert(indexed == recompute)
    assert(indexed.nonEmpty, "vacuous corpus: no delta-touching pairs")
  }

  test("index-fed minHashPairsAgainst equals the recompute form " +
      "verbatim on the x60 corpora") {
    val idx = DedupIndex.build(corpusDocs, "doc_id", "text", k = 3,
      threshold = 0.6, numHashes = 64, bands = 16, path = tmpDir())
    val recompute = pairSet(Dedup.minHashPairsAgainst(
      corpusDocs, deltaDocs, "doc_id", "text", k = 3, numHashes = 64,
      bands = 16, threshold = 0.6))
    val indexed = pairSet(
      idx.minHashPairsAgainst(deltaDocs, "doc_id", "text", 0.6))
    assert(indexed == recompute)
    assert(indexed.nonEmpty, "vacuous corpus: no delta-touching pairs")

    // a binding cap: 12 corpus copies of one document and one delta
    // copy share a bucket in every band, so bucketCap = 4 keeps 4
    // corpus members and links the other 8 to the delta doc
    val notice = "this page uses cookies to improve your browsing " +
      "experience on our site"
    def withCopies(df: DataFrame, ids: Seq[Long]) =
      df.select(col("doc_id"), col("text"))
        .unionByName(ids.map(i => (i, notice)).toDF("doc_id", "text"))
    val copies = (900001L to 900012L)
    val corpus2 = withCopies(corpusDocs, copies)
    val delta2 = withCopies(deltaDocs, Seq(900100L))
    val idx2 = DedupIndex.build(corpus2, "doc_id", "text", k = 3,
      threshold = 0.6, numHashes = 64, bands = 16, path = tmpDir())
    val capped = pairSet(idx2.minHashPairsAgainst(delta2, "doc_id", "text",
      0.6, bucketCap = 4))
    assert(capped == pairSet(Dedup.minHashPairsAgainst(corpus2, delta2,
      "doc_id", "text", k = 3, numHashes = 64, bands = 16,
      threshold = 0.6, bucketCap = 4)))
    assert(capped.filter(p => p._1 > 900000L) ==
      copies.map(c => (c, 900100L, 1.0)).toSet)
  }

  test("a second delta batch reuses the index: NO corpus-source scan " +
      "in either query's plan; load() round-trips the meta") {
    val path = tmpDir()
    DedupIndex.build(corpusDocs, "doc_id", "text", k = 3,
      threshold = 0.6, path = path)
    val idx = DedupIndex.load(spark, path)
    assert(idx.k == 3 && idx.threshold == 0.6 &&
      idx.numHashes == 64 && idx.bands == 16)
    // the second day's delta arrives as its own frame — NOT derived
    // from the corpus source, exactly like a service would receive it
    val delta2 = Seq(
      (100001L, "alpha beta gamma delta epsilon zeta eta theta"),
      (100002L, "alpha beta gamma delta epsilon zeta eta iota"))
      .toDF("doc_id", "text")
    for (q <- Seq(
        idx.jaccardPairsAgainst(delta2, "doc_id", "text", 0.6),
        idx.minHashPairsAgainst(delta2, "doc_id", "text", 0.6))) {
      q.count() // force planning + execution end-to-end
      val scans = q.queryExecution.executedPlan.toString()
      assert(!scans.contains("documents.parquet"),
        "index-fed query scanned the corpus source:\n" + scans)
      assert(scans.contains(path),
        "index-fed query did not read the stored index")
    }
    // the recompute form, for contrast, DOES scan the corpus source
    val recompute = Dedup.jaccardShinglePairsAgainst(
      corpusDocs, delta2, "doc_id", "text", k = 3, threshold = 0.6)
    recompute.count()
    assert(recompute.queryExecution.executedPlan.toString()
      .contains("documents.parquet"))
  }

  test("delta-only and cross-side pairs both surface through the index " +
      "(frozen corpus-df order, unseen shingles rank first)") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different corpus material nothing shared here"))
      .toDF("doc_id", "text")
    val idx = DedupIndex.build(corpus, "doc_id", "text", k = 3,
      threshold = 0.5, path = tmpDir())
    val delta = Seq(
      // near-copy of corpus doc 1 -> cross-side pair
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      // two near-identical NEW docs whose shingles the corpus has
      // never seen -> delta×delta pair under df-0-first ranking
      (11L, "zebra yak xylophone walrus vulture toucan seal raven"),
      (12L, "zebra yak xylophone walrus vulture toucan seal rhea"))
      .toDF("doc_id", "text")
    val got = idx.jaccardPairsAgainst(delta, "doc_id", "text", 0.5)
      .select(col("id1"), col("id2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Dedup.jaccardShinglePairsAgainst(corpus, delta,
      "doc_id", "text", k = 3, threshold = 0.5)
      .select(col("id1"), col("id2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(got.contains((1L, 10L)), "cross-side pair missing")
    assert(got.contains((11L, 12L)), "delta-only pair missing")
  }

  test("extend: an appended delta becomes corpus for the NEXT delta — " +
      "both query forms equal a recompute over the merged corpus") {
    import spark.implicits._
    val d = graft.core.Graft.table(spark, sfDir, "documents")
    val corpusA = d.filter(col("doc_id") % 7 =!= 0 &&
      col("doc_id") % 7 =!= 1)
    val deltaB = d.filter(col("doc_id") % 7 === 1)
    val deltaC = d.filter(col("doc_id") % 7 === 0)
    val idx = DedupIndex.build(corpusA, "doc_id", "text", k = 3,
      threshold = 0.6, path = tmpDir())
    idx.extend(deltaB, "doc_id", "text")
    val merged = corpusA.unionByName(deltaB)
    assert(pairSet(idx.jaccardPairsAgainst(deltaC, "doc_id", "text", 0.6))
      == pairSet(Dedup.jaccardShinglePairsAgainst(merged, deltaC,
        "doc_id", "text", k = 3, threshold = 0.6)))
    assert(pairSet(idx.minHashPairsAgainst(deltaC, "doc_id", "text", 0.6))
      == pairSet(Dedup.minHashPairsAgainst(merged, deltaC,
        "doc_id", "text", k = 3, numHashes = 64, bands = 16,
        threshold = 0.6)))
    // the extension really participates: a near-copy of an extended doc
    // must pair with it through the index
    val extended = deltaB.select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(1).collect()(0)
    val probe = Seq((900000L, extended.getString(1)))
      .toDF("doc_id", "text")
    val hits = idx.jaccardPairsAgainst(probe, "doc_id", "text", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.contains((extended.getLong(0), 900000L)),
      s"extended doc ${extended.getLong(0)} did not pair with its copy")
  }

  test("an interrupted extend is refused loudly by query, extend, and " +
      "load — never silently-incomplete answers") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    val path = tmpDir()
    val idx = DedupIndex.build(corpus, "doc_id", "text", k = 3,
      threshold = 0.6, path = path)
    // simulate a crash between extend's collection appends
    java.nio.file.Files.createFile(java.nio.file.Paths.get(path,
      ".extend-pending-deadbeef"))
    val delta = Seq((2L, "a b c d e f h")).toDF("doc_id", "text")
    for (op <- Seq(
        () => idx.jaccardPairsAgainst(delta, "doc_id", "text", 0.6),
        () => idx.minHashPairsAgainst(delta, "doc_id", "text", 0.6),
        () => idx.extend(delta, "doc_id", "text"),
        () => DedupIndex.load(spark, path))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("incomplete operation"), e.getMessage)
    }
    // recovery: remove the marker -> the index serves again, and a
    // completed extend leaves no marker behind
    java.nio.file.Files.delete(java.nio.file.Paths.get(path,
      ".extend-pending-deadbeef"))
    idx.extend(delta, "doc_id", "text")
    assert(!java.nio.file.Files.list(java.nio.file.Paths.get(path))
      .anyMatch(p =>
        p.getFileName.toString.startsWith(".extend-pending-")))
    assert(idx.jaccardPairsAgainst(
      Seq((3L, "a b c d e f h")).toDF("doc_id", "text"),
      "doc_id", "text", 0.6).count() >= 1)
  }

  test("querying below the build threshold fails loudly") {
    val corpus = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    val idx = DedupIndex.build(corpus, "doc_id", "text", k = 3,
      threshold = 0.6, path = tmpDir())
    val e = intercept[IllegalArgumentException] {
      idx.jaccardPairsAgainst(corpus, "doc_id", "text", 0.4)
    }
    assert(e.getMessage.contains("rebuild the index"))
  }

  test("edge shapes: empty corpus, empty delta, and sub-k-token docs " +
      "all answer cleanly instead of crashing") {
    import spark.implicits._
    val some = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta")).toDF("doc_id", "text")
    val none = some.filter(col("doc_id") < 0)
    val short = Seq((9L, "just two")).toDF("doc_id", "text")

    // empty corpus: nothing indexed, a delta finds only its own pairs
    val emptyIdx = DedupIndex.build(none, "doc_id", "text", k = 3,
      threshold = 0.6, path = tmpDir())
    assert(pairSet(emptyIdx.jaccardPairsAgainst(some, "doc_id", "text",
      0.6)) == pairSet(Dedup.jaccardShinglePairsAgainst(none, some,
      "doc_id", "text", k = 3, threshold = 0.6)))
    assert(emptyIdx.minHashPairsAgainst(some, "doc_id", "text", 0.6)
      .count() == Dedup.minHashPairsAgainst(none, some, "doc_id",
      "text", k = 3, numHashes = 64, bands = 16, threshold = 0.6)
      .count())

    // empty delta: zero pairs, no crash
    val idx = DedupIndex.build(some, "doc_id", "text", k = 3,
      threshold = 0.6, path = tmpDir())
    assert(idx.jaccardPairsAgainst(none, "doc_id", "text", 0.6)
      .count() == 0)
    assert(idx.minHashPairsAgainst(none, "doc_id", "text", 0.6)
      .count() == 0)

    // docs too short to form a 3-shingle produce no pairs either way
    assert(idx.jaccardPairsAgainst(short, "doc_id", "text", 0.6)
      .count() == 0)
    assert(idx.minHashPairsAgainst(short, "doc_id", "text", 0.6)
      .count() == 0)
  }

  test("build releases every cache it created") {
    spark.catalog.clearCache()
    // compare by id, not by count: earlier suites' checkpoint-backed
    // frames are reaped asynchronously by the context cleaner, so the
    // raw count can shrink mid-test; a LEAK is a NEW surviving entry
    val before = spark.sparkContext.getPersistentRDDs.keySet
    DedupIndex.build(corpusDocs, "doc_id", "text", k = 3,
      threshold = 0.6, path = tmpDir())
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"build leaked operator caches: $leaked")
  }

  /** The corpus-side id of some cross pair in the recompute answer —
    * the deletion victim for the lifecycle tests.
    */
  private def crossPairVictim(): Long = {
    val deltaIds = deltaDocs.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    val pairs = Dedup.jaccardShinglePairsAgainst(corpusDocs, deltaDocs,
      "doc_id", "text", k = 3, threshold = 0.6)
      .select(col("id1"), col("id2")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs.flatMap(p => Seq(p._1, p._2)).find(!deltaIds.contains(_))
      .getOrElse(fail("no cross pair in the fixture corpus"))
  }

  test("delete: a tombstoned corpus doc emits no pairs through either " +
      "batch query path — answers equal a recompute over the survivors") {
    val victim = crossPairVictim()
    val idx = DedupIndex.build(corpusDocs, "doc_id", "text", k = 3,
      threshold = 0.6, path = tmpDir())
    idx.delete(Seq(victim).toDF("doc_id"), "doc_id")
    val survivors = corpusDocs.filter(col("doc_id") =!= victim)

    val jac = pairSet(
      idx.jaccardPairsAgainst(deltaDocs, "doc_id", "text", 0.6))
    assert(!jac.exists(p => p._1 == victim || p._2 == victim),
      s"tombstoned $victim still pairs")
    assert(jac == pairSet(Dedup.jaccardShinglePairsAgainst(survivors,
      deltaDocs, "doc_id", "text", k = 3, threshold = 0.6)))
    assert(jac.nonEmpty, "vacuous after delete — fixture too small")

    val mh = pairSet(
      idx.minHashPairsAgainst(deltaDocs, "doc_id", "text", 0.6))
    assert(!mh.exists(p => p._1 == victim || p._2 == victim))
    assert(mh == pairSet(Dedup.minHashPairsAgainst(survivors, deltaDocs,
      "doc_id", "text", k = 3, numHashes = 64, bands = 16,
      threshold = 0.6)))
  }

  test("lifecycle: extend refuses a tombstoned id; rebuild compacts " +
      "the tombstones away, equals a fresh build on the survivors " +
      "verbatim, and frees the id") {
    val victim = crossPairVictim()
    val path = tmpDir()
    val idx = DedupIndex.build(corpusDocs, "doc_id", "text", k = 3,
      threshold = 0.6, path = path)
    idx.delete(Seq(victim).toDF("doc_id"), "doc_id")

    // re-adding the dead id is refused loudly
    val e = intercept[IllegalArgumentException] {
      idx.extend(Seq((victim, "resurrected text body here"))
        .toDF("doc_id", "text"), "doc_id", "text")
    }
    assert(e.getMessage.contains("tombstoned"), e.getMessage)

    idx.rebuild()

    // tombstones are gone PHYSICALLY: the raw stored sets no longer
    // carry the victim, and the tombstones collection is dropped
    val rawSets = spark.read.parquet(s"$path/sets")
    assert(rawSets.filter(col("id") === victim).count() == 0)
    assert(!new java.io.File(s"$path/tombstones").exists())

    // the rebuilt index answers EXACTLY like a fresh build over the
    // survivors (df order recomputed over the same documents)
    val survivors = corpusDocs.filter(col("doc_id") =!= victim)
    val fresh = DedupIndex.build(survivors, "doc_id", "text", k = 3,
      threshold = 0.6, path = tmpDir())
    assert(
      pairSet(idx.jaccardPairsAgainst(deltaDocs, "doc_id", "text", 0.6))
        == pairSet(fresh.jaccardPairsAgainst(deltaDocs, "doc_id", "text",
          0.6)))
    assert(
      pairSet(idx.minHashPairsAgainst(deltaDocs, "doc_id", "text", 0.6))
        == pairSet(fresh.minHashPairsAgainst(deltaDocs, "doc_id", "text",
          0.6)))

    // the id is free again after rebuild
    idx.extend(Seq((victim, "brand new content under a recycled id"))
      .toDF("doc_id", "text"), "doc_id", "text")
  }

  test("rebuild of a fully-tombstoned index refuses BEFORE the crash " +
      "bracket — no stranded marker, index still answers (empty)") {
    val corpus = Seq((1L, "a b c d e f g"), (2L, "h i j k l m n"))
      .toDF("doc_id", "text")
    val path = tmpDir()
    val idx = DedupIndex.build(corpus, "doc_id", "text", k = 3,
      threshold = 0.6, path = path)
    idx.delete(Seq(1L, 2L).toDF("doc_id"), "doc_id")
    val e = intercept[IllegalArgumentException](idx.rebuild())
    assert(e.getMessage.contains("no surviving"), e.getMessage)
    val root = new java.io.File(path)
    assert(!root.getParentFile.list().exists(n =>
      n.startsWith(root.getName + ".staging-") ||
        n.startsWith(root.getName + ".old-")))
    // still queryable: everything deleted -> empty answers, no error
    assert(idx.jaccardPairsAgainst(corpus, "doc_id", "text", 0.6)
      .filter(col("id1") <= 2L || col("id2") <= 2L).count() == 0)
  }

  test("build is the recovery verb for an interrupted extend: it " +
      "publishes a whole new directory, and the marker goes with the old") {
    val corpus = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"))
      .toDF("doc_id", "text")
    val path = tmpDir()
    DedupIndex.build(corpus, "doc_id", "text", k = 3, threshold = 0.6,
      path = path)
    java.nio.file.Files.createFile(java.nio.file.Paths.get(path,
      ".extend-pending-feedface"))
    val e = intercept[IllegalArgumentException](DedupIndex.load(spark, path))
    assert(e.getMessage.contains("incomplete operation"), e.getMessage)
    val idx = DedupIndex.build(corpus, "doc_id", "text", k = 3,
      threshold = 0.6, path = path)
    assert(!new java.io.File(path).list().exists(_.startsWith(".")),
      new java.io.File(path).list().toSeq)
    assert(idx.jaccardPairsAgainst(corpus, "doc_id", "text", 0.6)
      .select(col("id1"), col("id2")).distinct().count() == 1)
    assert(DedupIndex.load(spark, path).threshold == 0.6)
  }

  test("a data-less tombstones directory behaves exactly like no " +
      "tombstones — reads resolve, nothing is filtered") {
    val path = tmpDir()
    val idx = DedupIndex.build(corpusDocs, "doc_id", "text", k = 3,
      threshold = 0.6, path = path)
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(path, "tombstones"))
    val idx2 = DedupIndex.load(spark, path)
    assert(idx2.sets.count() == corpusDocs.count())
    assert(idx2.jaccardPairsAgainst(deltaDocs, "doc_id", "text", 0.6)
      .count() > 0)
  }

  test("compact: per-batch extend files collapse, answers stay " +
      "byte-identical, tombstones keep filtering") {
    val path = tmpDir()
    val half = corpusDocs.filter(col("doc_id") % 2 === 0)
    val idx = DedupIndex.build(half, "doc_id", "text", k = 3,
      threshold = 0.6, path = path)
    // five delta-batch extends — each lands its own file set per
    // collection, the small-files accretion a daily service produces
    for (r <- 0 until 5)
      idx.extend(corpusDocs.filter(col("doc_id") % 2 === 1 &&
        col("doc_id") % 5 === r), "doc_id", "text")
    val victim = corpusDocs.select(col("doc_id")).orderBy(col("doc_id"))
      .limit(1).collect()(0).getLong(0)
    idx.delete(spark.range(victim, victim + 1).toDF("doc_id"), "doc_id")
    val pre = pairSet(
      idx.jaccardPairsAgainst(deltaDocs, "doc_id", "text", 0.6))
    val (before, after) = idx.compact()
    assert(after < before, s"compact did not shrink: $before -> $after")
    assert(pairSet(idx.jaccardPairsAgainst(deltaDocs, "doc_id", "text",
      0.6)) == pre)
    assert(pairSet(DedupIndex.load(spark, path)
      .minHashPairsAgainst(deltaDocs, "doc_id", "text", 0.6))
      .forall(p => p._1 != victim && p._2 != victim))
  }
}
