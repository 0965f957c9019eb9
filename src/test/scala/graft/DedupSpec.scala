package graft

import graft.core.Graft
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Dedup operators vs a local brute-force reference over the sf0.001
  * documents table (500 docs — small enough to cross all pairs on the
  * driver, exactly what the distributed operators must reproduce).
  */
class DedupSpec extends SparkSpec {

  private lazy val docs = Graft.table(spark, sfDir, "documents").cache()

  /** Driver-side exact word-3-gram Jaccard pairs at >= threshold. */
  private lazy val bruteJaccard: Map[(Long, Long), Double] = {
    val sets = docs.select(col("doc_id"), col("text")).collect().map { r =>
      val toks = r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty)
      val sh = if (toks.length < 3) Set.empty[String]
        else toks.sliding(3).map(_.mkString(" ")).toSet
      r.getLong(0) -> sh
    }.sortBy(_._1)
    (for {
      i <- sets.indices.iterator
      j <- (i + 1) until sets.length
      (id1, s1) = sets(i)
      (id2, s2) = sets(j)
      c = (s1 & s2).size
      u = s1.size + s2.size - c
      jac = if (u == 0) 0.0 else c.toDouble / u
      rounded = BigDecimal(jac).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      if rounded >= 0.6
    } yield (id1, id2) -> rounded).toMap
  }

  test("jaccardShinglePairs (prefix-filtered) is exactly the brute-force answer") {
    val got = Dedup.jaccardShinglePairs(docs, "doc_id", "text", 3, 0.6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(bruteJaccard.nonEmpty, "test corpus should contain near-dups")
    assert(got == bruteJaccard)
  }

  test("minHashPairs is a subset of the exact pairs with identical jaccard values") {
    val exact = bruteJaccard
    val lsh = Dedup.minHashPairs(docs, "doc_id", "text", 3,
        numHashes = 64, bands = 16, threshold = 0.6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    lsh.foreach { case (pair, j) =>
      assert(exact.contains(pair), s"false positive $pair")
      assert(exact(pair) == j, s"jaccard mismatch at $pair")
    }
    // recall on strong pairs: P(miss | J>=0.8) < 1e-3 per pair with
    // 16 bands x 4 rows; the hash family is fixed so this is
    // deterministic on this corpus.
    val strong = exact.filter(_._2 >= 0.8).keySet
    val found = strong.intersect(lsh.keySet)
    assert(strong.nonEmpty)
    assert(found == strong,
      s"LSH missed strong pairs: ${strong -- found}")
  }

  test("simHashPairs: every reported pair truly has hamming <= maxDist; " +
      "recall 1.0 vs brute force (pigeonhole guarantee)") {
    val sim = Dedup.withSimHash(docs.select(col("doc_id"), col("text")),
      "text").collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val brute = (for {
      (i, hi) <- sim.iterator
      (j, hj) <- sim.iterator
      if i < j && java.lang.Long.bitCount(hi ^ hj) <= 3
    } yield (i, j)).toSet
    val got = Dedup.simHashPairs(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute)
    assert(brute.nonEmpty, "test corpus should contain simhash near-dups")
  }

  test("batch LSH bucket cap: a planted mega-cluster emits linear (not " +
      "quadratic) pairs, normal pairs keep full recall, every cluster " +
      "member stays connected, and the overflow audit is loud") {
    import spark.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog " +
      "again and again and again"
    val mega = (1L to 400L).map(i => (i, boiler))
    // 10 planted normal near-dup pairs, token-disjoint across pairs:
    // J = 10/11 ≈ 0.909 — strong enough that 16×4 LSH recall is certain
    val normals = (0 until 10).flatMap { i =>
      val base = (1 to 12).map(t => s"tok${i}_$t").mkString(" ")
      Seq((500L + i, base), (600L + i, base + s" tail$i"))
    }
    val corpus = (mega ++ normals).toDF("doc_id", "text")
    val got = Dedup.minHashPairs(corpus, "doc_id", "text", 3,
        numHashes = 64, bands = 16, threshold = 0.6, bucketCap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exactly C(8,2) member pairs + 392 representative links + the 10
    // planted pairs — not C(400,2) = 79 800 (every mega pair has J = 1,
    // so ALL of them would survive verification uncapped; the output
    // count is direct evidence the candidate stage was bounded)
    assert(got.size == 28 + 392 + 10, s"got ${got.size} pairs")
    (0 until 10).foreach { i =>
      assert(got.contains((500L + i, 600L + i)), s"missed normal pair $i")
    }
    // cluster-level recall: every mega member appears in >= 1 pair, so
    // connected components still merges the whole cluster
    val touched = got.flatMap(p => Seq(p._1, p._2))
    assert((1L to 400L).forall(touched.contains),
      "a mega-cluster member was dropped entirely")
    // the boundary is loud: the audit reports the oversize bucket in
    // every band
    val sig = Dedup.withMinHashSignature(
      corpus.select(col("doc_id"), col("text")), "text", 3, 64)
      .select(col("doc_id"), col("minhash_sig"))
    val over = Dedup.lshBucketOverflow(sig, "doc_id", 64, 16, cap = 8)
      .collect()
    assert(over.length == 16, s"audit rows: ${over.length}")
    assert(over.forall(_.getLong(2) >= 400L))
  }

  /** Driver-side model of [[Dedup.cappedBucketPairs]]' documented
    * semantics over (id, band, bucket, payload) rows: per bucket, the
    * first `cap` rows in ascending (id, payload) order are members and
    * pair among themselves where ids differ; a later row pairs with the
    * first member when its id exceeds the cap-th member's. Rows are
    * (id1, id2, pl1, pl2).
    */
  private def cappedModel(rows: Seq[(Long, Int, Long, Long)],
      cap: Int): Set[(Long, Long, Long, Long)] =
    rows.groupBy(t => (t._2, t._3)).values.flatMap { g =>
      val (ms, rest) = g.map(t => (t._1, t._4)).sorted.splitAt(cap)
      val inner = for {
        i <- ms.indices; j <- (i + 1) until ms.size
        if ms(i)._1 < ms(j)._1
      } yield (ms(i)._1, ms(j)._1, ms(i)._2, ms(j)._2)
      val overflow = rest.filter(_._1 > ms.last._1)
        .map(r => (ms.head._1, r._1, ms.head._2, r._2))
      inner ++ overflow
    }.toSet

  test("cappedBucketPairs randomized (seeded): a non-binding cap equals " +
      "brute-force bucket pairs; a binding cap is bounded, complete on " +
      "members, a subset of brute force, and keeps every id connected") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      // each id lands in 3 bands with a random bucket per band — the
      // exact shape bandedBuckets produces
      val n = 60 + rnd.nextInt(60)
      val rows = for {
        id <- (1 to n).map(_.toLong); band <- 0 until 3
      } yield (id, band, rnd.nextInt(5).toLong)
      val banded = rows.toDF("id", "band", "bucket")
      val brute = (for {
        a <- rows; b <- rows
        if a._2 == b._2 && a._3 == b._3 && a._1 < b._1
      } yield (a._1, b._1)).toSet
      val unbound = Dedup.cappedBucketPairs(banded, Seq("band", "bucket"),
          cap = 1000)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(unbound == brute, "non-binding cap must be exact")
      val cap = 4
      val capped = Dedup.cappedBucketPairs(banded, Seq("band", "bucket"),
          cap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(capped.subsetOf(brute), "cap must never invent pairs")
      val groups = rows.groupBy(t => (t._2, t._3)).values.toSeq
      val bound = groups.map { g =>
        val m = math.min(g.size, cap); m * (m - 1) / 2 + (g.size - m)
      }.sum
      assert(capped.size <= bound, s"${capped.size} > bound $bound")
      groups.foreach { g =>
        val ms = g.map(_._1).distinct.sorted.take(cap)
        for (x <- ms; y <- ms if x < y)
          assert(capped.contains((x, y)), s"member pair ($x,$y) missing")
      }
      groups.filter(_.size >= 2).flatten.foreach { t =>
        assert(capped.exists(p => p._1 == t._1 || p._2 == t._1),
          s"id ${t._1} dropped entirely")
      }

      // duplicate ids on both sides of the cap boundary: in each
      // oversize bucket either the (cap−1)-th member gains a copy (the
      // copy takes the cap-th slot and pushes the old cap-th member
      // into overflow) or the cap-th member gains two (overflow copies
      // of a member id, which link nowhere new); plus random duplicates
      val dups = groups.filter(_.size > cap).flatMap { g =>
        val ids = g.map(_._1).sorted
        val copies =
          if (rnd.nextBoolean()) Seq(ids(cap - 2))
          else Seq(ids(cap - 1), ids(cap - 1))
        copies.map(id => (id, g.head._2, g.head._3))
      } ++ rows.filter(_ => rnd.nextInt(10) == 0)
      val payloadOf = (id: Long) => id * 1000003L ^ 0x5bd1e995L
      val withPl = (rows ++ dups)
        .map(t => (t._1, t._2, t._3, payloadOf(t._1)))
      val model = cappedModel(withPl, cap)
      val bandedPl = withPl.toDF("id", "band", "bucket", "pl")
      val gotPl = Dedup.cappedBucketPairs(bandedPl, Seq("band", "bucket"),
          cap = cap, payload = Some("pl"))
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(gotPl == model, "payload path diverges from the cap model")
      assert(gotPl.forall(p => p._1 < p._2 && p._3 == payloadOf(p._1) &&
        p._4 == payloadOf(p._2)), "a payload rode with the wrong id")
      val gotIds = Dedup.cappedBucketPairs(bandedPl.drop("pl"),
          Seq("band", "bucket"), cap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotIds == model.map(p => (p._1, p._2)),
        "duplicate ids across the cap diverge from the cap model")
    }
  }

  /** Driver-side model of [[Dedup.incrementalCappedPairs]]' four rules
    * over (id, band, bucket) rows of each side, ids unique across the
    * sides: per bucket with a delta member, delta×delta pairs follow
    * [[cappedModel]]; every delta id pairs with the `cap` smallest
    * corpus ids; each later corpus id links to the minimum delta id. A
    * bucket with no delta member emits nothing. Pairs are (min, max).
    */
  private def incrementalModel(delta: Seq[(Long, Int, Long)],
      corpus: Seq[(Long, Int, Long)], cap: Int): Set[(Long, Long)] = {
    val corpusOf = corpus.groupBy(t => (t._2, t._3))
    def ordered(a: Long, b: Long) = (math.min(a, b), math.max(a, b))
    delta.groupBy(t => (t._2, t._3)).toSeq.flatMap { case (b, ds) =>
      val dd = cappedModel(ds.map(t => (t._1, t._2, t._3, 0L)), cap)
        .map(p => (p._1, p._2))
      val dIds = ds.map(_._1).sorted
      val (kept, over) =
        corpusOf.getOrElse(b, Nil).map(_._1).sorted.splitAt(cap)
      dd ++ (for (d <- dIds; c <- kept) yield ordered(d, c)) ++
        over.map(ordered(dIds.head, _))
    }.toSet
  }

  test("incrementalCappedPairs randomized (seeded) equals the driver " +
      "model of its four rules: non-binding and binding caps, a corpus " +
      "mega-bucket touched by one delta doc, a delta mega-bucket, both " +
      "sides over the cap, pure-corpus buckets; broadcast and shuffled " +
      "touched-bucket pruning") {
    import spark.implicits._
    val rnd = new scala.util.Random(1729)
    for (_ <- 1 to 2) {
      // ids unique across the sides, interleaved in id order
      val ids = rnd.shuffle((1 to 140 + rnd.nextInt(40)).map(_.toLong))
      val (dIds, cIds) = ids.splitAt(45)
      // bands 0..2: a random bucket per id, as bandedBuckets shapes it
      def random(side: Seq[Long]) = for {
        id <- side; band <- 0 until 3
      } yield (id, band, rnd.nextInt(6).toLong)
      // band 3: planted buckets, each id in at most one of them
      def planted(side: Seq[Long], sizes: Seq[(Long, Int)]) = {
        val slices = sizes.scanLeft(0)(_ + _._2)
        sizes.zip(slices).flatMap { case ((bucket, n), from) =>
          side.slice(from, from + n).map(id => (id, 3, bucket))
        }
      }
      val delta = random(dIds) ++
        planted(dIds, Seq(90L -> 1, 91L -> 20, 92L -> 10))
      // corpus-only rows in band 3 bucket 93 and in band 4: pure-corpus
      val corpus = random(cIds) ++
        planted(cIds, Seq(90L -> 30, 91L -> 3, 92L -> 10, 93L -> 12)) ++
        cIds.take(20).map(id => (id, 4, 0L))
      val deltaDf = delta.toDF("id", "band", "bucket")
      val corpusDf = corpus.toDF("id", "band", "bucket")
      for (cap <- Seq(1000, 4);
           gate <- Seq(None, Some(0L))) {
        val got = graft.core.BroadcastGate.forced.withValue(gate) {
          Dedup.incrementalCappedPairs(deltaDf, corpusDf, cap)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        }
        val model = incrementalModel(delta, corpus, cap)
        assert(got == model, s"cap $cap, gate $gate: " +
          s"missing ${(model -- got).take(5)}, extra ${(got -- model).take(5)}")
        // the planted corpus mega-bucket: one delta doc reaches all 30
        // corpus members, past the cap through the overflow link
        val d90 = dIds.head
        cIds.take(30).foreach { c =>
          assert(got.contains((math.min(d90, c), math.max(d90, c))),
            s"cap $cap: corpus $c of the mega-bucket not linked to $d90")
        }
        assert(!got.exists(p => cIds.contains(p._1) && cIds.contains(p._2)),
          "a corpus×corpus pair")
      }
    }
  }

  test("capped LSH edge cases: duplicate input ids never emit self-" +
      "pairs, and non-integral id columns fail loudly at construction") {
    import spark.implicits._
    val dup = Seq((7L, "alpha beta gamma delta"),
      (7L, "alpha beta gamma delta"), (9L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashPairs(dup, "doc_id", "text", 3,
        numHashes = 64, bands = 16, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall(p => p._1 < p._2), s"self-pair leaked: ${pairs.toSeq}")
    assert(pairs.toSet == Set((7L, 9L)))
    val strIds = Seq(("a", "x y z w"), ("b", "x y z w"))
      .toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      Dedup.simHashPairs(strIds, "doc_id", "text", maxDist = 3)
    }
    assert(ex.getMessage.contains("integral"), ex.getMessage)
  }

  test("exact dedup keeps one representative per identical text") {
    val out = Dedup.exact(docs, "doc_id", "text")
    val n = out.count()
    val distinctTexts = docs.select(col("text")).distinct().count()
    assert(n == distinctTexts)
    // representative is the min doc_id of its group
    val firstDup = docs.groupBy(col("text")).agg(min(col("doc_id")).as("m"),
        count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("m")).collect().map(_.getLong(0)).toSet
    val kept = out.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(firstDup.subsetOf(kept))
  }

  test("byPrefixFingerprint collapses at least as much as exact dedup") {
    val nExact = Dedup.exact(docs, "doc_id", "text").count()
    val nPrefix = Dedup.byPrefixFingerprint(docs, "doc_id", "text", 200).count()
    assert(nPrefix <= nExact)
  }

  test("duplicatedNgramCoverage: toy corpus by hand + driver recompute " +
      "on the real one") {
    import spark.implicits._
    // d1/d2 share "the quick brown" (1 of each doc's 2 positions);
    // d3 is too short for any 3-gram (no row); d4/d5 are verbatim copies
    // whose within-doc repeat ALSO appears in the other doc (full
    // coverage); d6's repetition is within-doc only (zero coverage)
    val toy = Seq(
      (1L, "the quick brown fox"), (2L, "the quick brown dog"),
      (3L, "too short"), (4L, "a a a a"), (5L, "a a a a"),
      (6L, "b b b b")).toDF("doc_id", "text")
    val got = Dedup.duplicatedNgramCoverage(toy, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      1L -> ((2L, 1L, 5000L)), 2L -> ((2L, 1L, 5000L)),
      4L -> ((2L, 2L, 10000L)), 5L -> ((2L, 2L, 10000L)),
      6L -> ((2L, 0L, 0L))))

    // real corpus: exact agreement with a driver-side recompute
    val perDoc = docs.select(col("doc_id"), col("text")).collect().map { r =>
      val toks = r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty)
      r.getLong(0) -> (if (toks.length < 3) Array.empty[String]
        else toks.sliding(3).map(_.mkString(" ")).toArray)
    }
    val docFreq = perDoc.flatMap { case (id, sh) => sh.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (s, xs) => s -> xs.length }
    val expected = perDoc.collect { case (id, sh) if sh.nonEmpty =>
      val nd = sh.count(docFreq(_) >= 2).toLong
      id -> ((sh.length.toLong, nd, nd * 10000L / sh.length))
    }.toMap
    val gotReal = Dedup
      .duplicatedNgramCoverage(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(gotReal == expected)
  }

  test("jaccardShinglePairsAgainst: equals the full pair set filtered to " +
      "delta-touching pairs; corpus-internal dups stay silent") {
    import spark.implicits._
    // real corpus, delta = doc_id multiples of 7: incremental answer
    // must equal the brute-force all-pairs answer filtered to pairs
    // touching the delta
    val expected = bruteJaccard.filter { case ((a, b), _) =>
      a % 7 == 0 || b % 7 == 0 }
    val got = Dedup.jaccardShinglePairsAgainst(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", k = 3, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(got == expected)
    assert(got.nonEmpty, "delta found no duplicates at all?")

    // planted: two identical corpus docs and an unrelated delta doc —
    // the corpus-internal duplicate pair must NOT be emitted
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "one two three four five")).toDF("doc_id", "text")
    val delta = Seq((10L, "six seven eight nine ten")).toDF("doc_id", "text")
    val planted = Dedup.jaccardShinglePairsAgainst(corpus, delta,
        "doc_id", "text", k = 3, threshold = 0.6)
      .collect()
    assert(planted.isEmpty,
      s"corpus-internal pair leaked: ${planted.mkString(",")}")

    // and the same delta WITH a true match emits exactly that match
    val delta2 = Seq((10L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val hits = Dedup.jaccardShinglePairsAgainst(corpus, delta2,
        "doc_id", "text", k = 3, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((1L, 10L), (2L, 10L)))
  }

  test("minHashPairsAgainst: subset of the exact incremental with " +
      "identical jaccard, full recall on planted copies, silent on a " +
      "corpus-only mega-cluster") {
    import spark.implicits._
    val old = docs.filter(col("doc_id") % 7 =!= 0)
    val delta = docs.filter(col("doc_id") % 7 === 0)
    val exact = Dedup.jaccardShinglePairsAgainst(old, delta, "doc_id",
        "text", k = 3, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val lsh = Dedup.minHashPairsAgainst(old, delta, "doc_id", "text",
        k = 3, numHashes = 64, bands = 16, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    lsh.foreach { case (pair, j) =>
      assert(exact.contains(pair), s"false positive $pair")
      assert(exact(pair) == j, s"jaccard mismatch at $pair")
    }
    assert(lsh.nonEmpty, "LSH incremental found nothing")

    // planted: delta docs are verbatim copies of corpus docs —
    // identical shingle sets mean identical signatures, every band
    // collides, recall is exactly 1
    val base = docs.select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(20)
    val copies = base.select((col("doc_id") + 500000L).as("doc_id"),
      col("text"))
    val planted = Dedup.minHashPairsAgainst(base, copies, "doc_id",
        "text", k = 3, numHashes = 64, bands = 16, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val baseIds = base.select(col("doc_id")).collect().map(_.getLong(0))
    assert(baseIds.map(i => (i, i + 500000L)).toSet.subsetOf(planted),
      "a verbatim delta copy was missed")

    // corpus-only duplication: 100 copies in the corpus, an unrelated
    // delta — every one of the copies' buckets is untouched by the
    // delta, so nothing is generated at all
    val mega = (0L until 100L).map(i => (i, "alpha beta gamma delta " +
      "epsilon zeta eta theta")).toDF("doc_id", "text")
    val other = Seq((1000L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    assert(Dedup.minHashPairsAgainst(mega, other, "doc_id", "text",
      k = 3, numHashes = 64, bands = 16, threshold = 0.6).collect()
      .isEmpty)
  }

  test("removeDuplicatedNgrams: toy corpus by hand + driver recompute " +
      "on the real one") {
    import spark.implicits._
    val toy = Seq(
      (1L, "The quick brown fox"), (2L, "the quick brown dog"),
      (3L, "Too Short"), (4L, "a a a a"), (5L, "a a a a"),
      (6L, "b b b b")).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedNgrams(toy, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      1L -> (("fox", 4L, 1L)), 2L -> (("dog", 4L, 1L)),
      3L -> (("too short", 2L, 2L)), // under k tokens: normalized pass-through
      4L -> (("", 4L, 0L)), 5L -> (("", 4L, 0L)), // verbatim copies vanish
      6L -> (("b b b b", 4L, 4L)))) // within-doc repeats alone don't count

    // real corpus: exact agreement with a driver-side recompute
    val perDoc = docs.select(col("doc_id"), col("text")).collect().map { r =>
      r.getLong(0) ->
        r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty)
    }
    val docFreq = perDoc.flatMap { case (id, tk) =>
      (if (tk.length < 3) Array.empty[String]
       else tk.sliding(3).map(_.mkString(" ")).toArray).distinct.map(_ -> id)
    }.groupBy(_._1).map { case (s, xs) => s -> xs.length }
    val expected = perDoc.map { case (id, tk) =>
      val covered = new Array[Boolean](tk.length)
      for (i <- 0 to tk.length - 3)
        if (docFreq(tk.slice(i, i + 3).mkString(" ")) >= 2)
          (i until i + 3).foreach(covered(_) = true)
      val kept = tk.indices.filterNot(i => covered(i)).map(i => tk(i))
      id -> ((kept.mkString(" "), tk.length.toLong, kept.length.toLong))
    }.toMap
    val gotReal = Dedup
      .removeDuplicatedNgrams(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(gotReal == expected)
    // the template-heavy corpus exercises the empty-rebuild path, and
    // removal is never total across the board
    assert(gotReal.values.exists(_._3 == 0L), "no fully-covered doc?")
    assert(gotReal.values.exists(_._3 > 0L), "everything fully covered?")
  }

  test("contaminationReportBloom: never misses what the exact report " +
      "flags, and matches it exactly at a generous bitset") {
    import org.apache.spark.sql.functions._
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    val train = docs.filter(h =!= "0" && h =!= "1")
    val test = docs.filter(h === "0")

    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    val exact = key(Dedup.contaminationReport(train, test,
      "doc_id", "text", k = 3)
      .select("id", "n_shingles", "n_shared", "contaminated"))
    val bloom = key(Dedup.contaminationReportBloom(train, test,
      "doc_id", "text", k = 3, log2Bits = 24)
      .select("id", "n_shingles", "n_shared", "contaminated"))

    assert(bloom.keySet == exact.keySet)
    exact.foreach { case (id, (n, shared, flag)) =>
      val (bn, bshared, bflag) = bloom(id)
      assert(bn == n, s"doc $id shingle count")
      // one-sided error: bloom shared >= exact shared, flag never lost
      assert(bshared >= shared, s"doc $id lost shared shingles")
      if (flag) assert(bflag, s"doc $id: exact flagged, bloom missed")
    }
    // at 2^24 bits over ~30k shingles the FP rate is ~0: reports match
    assert(bloom == exact)
  }

  test("winnowedKgramPairs: the winnow screen loses nothing — equals " +
      "the UNSCREENED exact char-k-gram pairs, values included") {
    import org.apache.spark.sql.functions._
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val screened = pairs(Dedup.winnowedKgramPairs(docs, "doc_id", "text",
      k = 20, window = 16, threshold = 0.5))
    // ground truth: exact 20-gram sets for EVERY doc, no screen
    val allGrams = docs.filter(length(col("text")) >= 20)
      .select(col("doc_id"), expr(
        "transform(sequence(1, length(text) - 19), " +
          "i -> substring(text, i, 20))").as("g"))
    val unscreened = pairs(
      Dedup.jaccardSetPairs(allGrams, "doc_id", "g", threshold = 0.5))
    assert(screened == unscreened)
    assert(screened.nonEmpty, "fixture corpus should contain near-dups")
    // the emitted values are EXACT gram Jaccards of real near-dups
    screened.foreach { case (_, _, j) => assert(j >= 0.5 && j <= 1.0) }
  }

  test("verifyJaccardMelt (the corpus-scale one-pass verify) emits " +
      "exactly the two-join shape's rows, values included") {
    // the melt branch only engages when the sets cache exceeds the
    // 128 MB broadcast gate — never at spec scale — so pin its value
    // identity directly against the join shape over the real corpus
    graft.core.CacheScope.scoped {
    val sets = graft.core.CacheScope.cached(
      docs.select(col("doc_id").as("id"),
          graft.expressions.GraftFunctions.wordShingles(col("text"), 3)
            .as("sh"))
        .withColumn("n", size(col("sh"))).filter(col("n") > 0))
    // candidates: the real near-dup pairs plus planted non-pairs (to
    // exercise the below-threshold drop) plus a pair with a missing id
    // (to exercise the missing-side drop)
    val ids = docs.select(min(col("doc_id")), max(col("doc_id")))
      .collect()(0)
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val cand = Dedup.jaccardShinglePairs(docs, "doc_id", "text", 3, 0.6)
      .select(col("id1"), col("id2"))
      .unionByName(spark.createDataFrame(Seq(
        (lo, hi), (lo, lo + 1), (lo, hi + 1000))).toDF("id1", "id2"))
      .distinct()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val melt = rows(Dedup.verifyJaccardMelt(cand, sets, 0.6))
    val join = rows(Dedup.verifyJaccard(cand, sets, 0.6))
    assert(melt == join)
    assert(melt.nonEmpty)
    }
  }
}
