package graft.operators

import graft.core.{BroadcastGate, CacheScope, Checkpoints}
import graft.expressions.GraftFunctions
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for large-scale document corpora.
  *
  * Four families, in increasing fuzziness:
  *  - exact (full-content hash)
  *  - fingerprint (normalized / prefix hash)
  *  - n-gram Jaccard — EXACT set-similarity self-join via prefix
  *    filtering (AllPairs/PPJoin-style): provably complete candidate
  *    generation that prunes the quadratic shingle join to rare-shingle
  *    collisions only
  *  - MinHash-LSH and SimHash (probabilistic sub-quadratic candidate
  *    generation; candidates verified with the exact measure)
  *
  * All hash families are deterministic (xxhash64 seed 42 + fixed affine
  * constants), so results are reproducible across runs and partitionings.
  * Shingling/hashing kernels are native compiled expressions
  * ([[graft.expressions.WordShingles]] etc.) — the interpreted
  * higher-order-function forms were the round-1 bench bottleneck.
  */
object Dedup {

  /** Keep exactly one row (the minimum id) per distinct value of
    * `fingerprintCol`. ONE hash aggregation, no sort: `min_by` keeps
    * the minimum-id row per fingerprint, and partial (map-side)
    * aggregation collapses heavy duplicate groups BEFORE the exchange —
    * the previous window form shuffled every row and sorted each group,
    * and a boilerplate fingerprint with 10⁵ copies shuffled all of
    * them; this shuffles one survivor per (fingerprint, map partition).
    * Fingerprints are uniformly distributed by construction, so no
    * reducer skew at any scale either way; ids are unique by the
    * engine's document-id contract, so the minimum is deterministic.
    */
  def keepFirst(df: DataFrame, idCol: String, fingerprintCol: String)
      : DataFrame = {
    val cols = df.columns
    df.groupBy(col(fingerprintCol))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__row"))
      .select(cols.map(c => col("__row").getField(c).as(c)): _*)
  }

  /** Exact dedup on md5 of the raw text. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    keepFirst(df.withColumn("fingerprint", md5(col(textCol))), idCol,
      "fingerprint")

  /** Fingerprint dedup on the normalized text prefix — catches
    * case/punctuation/suffix variants of the same front matter.
    */
  def byPrefixFingerprint(df: DataFrame, idCol: String, textCol: String,
      prefixLen: Int): DataFrame =
    keepFirst(
      df.withColumn("fingerprint", prefixFingerprint(col(textCol), prefixLen)),
      idCol, "fingerprint")

  /** (id, shingle-set array, set size) — one compiled pass per doc.
    * Shared by the exact and MinHash paths; callers cache it.
    */
  private[operators] def shingleSets(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    df.select(col(idCol).as("id"),
        GraftFunctions.wordShingles(col(textCol), k).as("sh"))
      .withColumn("n", size(col("sh")))

  /** Prefix length for J ≥ t against a set of size n: the required
    * overlap is c ≥ ⌈t·n⌉, so the first n − ⌈t·n⌉ + 1 rarest shingles
    * must contain a common one. The tiny epsilon guards FP noise in t·n
    * the safe direction (a slightly longer prefix only adds candidates;
    * the verify step keeps the result exact).
    */
  private[operators] def prefixLenCol(n: org.apache.spark.sql.Column, t: Double) =
    n - ceil(n * t - 1e-9) + 1

  /** Rank each document's postings rarest-first under the global
    * (df, s) order and keep only the prefix — the first
    * n − ⌈t·n⌉ + 1 rows per doc — as (…extra, id, n, s, rn), via a
    * per-doc `row_number` WINDOW (one exchange keyed by id + a
    * per-partition sort). A one-hash-aggregation variant (assemble each
    * doc's (df, s) list map-side with `collect_list`, `sort_array` +
    * `slice` it in the result expression, `posexplode` back) was tried
    * and REVERTED: first-principles it shuffles one assembled row per
    * doc instead of one row per posting, but measured ~2× slower at
    * sf0.1 (x3 3.69 s vs 3.07 s isolated min) — ObjectHashAggregate's
    * per-row struct buffering costs more than the window's
    * per-partition sort, and the exchange is the same linear postings
    * shuffle either way (OPTIMIZATION_r18.md §6). Shingle sets are
    * distinct per doc, so the (df, s) order is total and rn is
    * deterministic.
    *
    * `post` must carry (id, n, s, df); `extra` names columns constant
    * per id (e.g. the incremental forms' `isNew`) to carry through.
    */
  private[operators] def prefixRanked(post: DataFrame, threshold: Double,
      extra: Seq[String] = Nil): DataFrame = {
    post
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("s"))))
      .filter(col("rn") <= prefixLenCol(col("n"), threshold))
      .select((Seq(col("id"), col("n"), col("s"), col("rn")) ++
        extra.map(col)): _*)
  }

  /** Verify candidate pairs with the exact set Jaccard: join the full
    * sets back, intersect per pair (merge-count via
    * [[graft.expressions.SortedArrayIntersectCount]] for sorted string
    * sets — O(n₁+n₂), no per-row hash set — `array_intersect` for other
    * element types), keep J ≥ threshold. Linear in the candidate count.
    * `sets` is cached by the caller.
    *
    * Join strategy (guide §3.1 "broadcast the side that fits", §8
    * "decide with small rows, move big rows once"), by the measured
    * size of the materialized `sets` cache:
    *
    *  - `sets` fits the [[graft.core.BroadcastGate]] (the
    *    verification-scale regime, every local SF): the two id joins broadcast the sets
    *    projections — the builds run CONCURRENTLY, so the whole verify
    *    is one DAG with no materialization barrier. (A candidate-side
    *    one-pass variant was A/B'd here and REVERTED: materializing the
    *    candidates to count them serializes the pipeline — x3 isolated
    *    1.63 → 3.3 s — costing far more than the two overlapped
    *    corpus-sized builds it saves. OPTIMIZATION_r19.md §"verify
    *    join".)
    *
    *  - `sets` beyond the gate (corpus scale): the old fallback
    *    shuffled the heavy shingle arrays by id TWICE. Now the
    *    candidates are materialized (one tiny job at this scale) and,
    *    when their count and estimated per-pair set payload fit the
    *    gate — the common dedup regime: candidates are O(near-dup
    *    pairs) — [[verifyJaccardMelt]] streams the corpus exactly ONCE
    *    and never shuffles or broadcasts anything corpus-sized.
    *    Oversized candidate sets keep the shuffle fallback.
    *
    * `candRows`: pass the candidate row count when the caller already
    * materialized it (e.g. the winnow screen's observe() metric) so
    * the corpus-scale branch skips its count.
    */
  private[graft] def verifyJaccard(cand0: DataFrame, sets: DataFrame,
      threshold: Double, candRows: Option[Long] = None): DataFrame = {
    // sets is cached by the caller; the gate skips its count when a
    // prior action already loaded the buffers
    if (BroadcastGate.fits("verifyJaccard: sets", sets))
      verifyJaccardJoin(cand0, sets, threshold, broadcast)
    else {
      val (cand, nCand) = candRows match {
        case Some(n) => (cand0, n)
        case None =>
          val c = CacheScope.cached(cand0)
          (c, c.count())
      }
      // both the 64 B id pairs and, after the attach, one set array
      // per pair must fit
      val candFits = BroadcastGate.rowsFit("verifyJaccard: melt", nCand,
        math.max(64L, BroadcastGate.rowBytes(sets)))
      if (candFits) verifyJaccardMelt(cand, sets, threshold)
      else verifyJaccardJoin(cand, sets, threshold, identity)
    }
  }

  /** The two-equi-join verify shape: attach each side's set by id,
    * `hint` wrapping the sets projections (broadcast under the byte
    * gate, identity at shuffle scale).
    */
  private def verifyJaccardJoin(cand: DataFrame, sets: DataFrame,
      threshold: Double, hint: DataFrame => DataFrame): DataFrame =
    verifyTail(cand
      .join(hint(sets.select(col("id").as("id1"), col("sh").as("sh1"),
        col("n").as("n1"))), "id1")
      .join(hint(sets.select(col("id").as("id2"), col("sh").as("sh2"),
        col("n").as("n2"))), "id2"), threshold)

  /** ONE-corpus-pass verify for corpus-sized `sets` with small
    * candidates: each pair melts into its two (side, id) probes, the
    * probe list broadcasts (2·nCand longs), the corpus streams ONCE
    * through the broadcast join, and the surviving candidate-doc rows
    * — gated bytes — are cached and self-joined back into (pair, both
    * sets) rows. Candidates are distinct with one sets row per id
    * everywhere (producer contract), so the (id1, id2) equi-join
    * reassembles exactly the two-join shape's output, pairs missing a
    * side dropping identically. Nothing corpus-sized is shuffled,
    * broadcast, or collected.
    */
  private[graft] def verifyJaccardMelt(cand: DataFrame,
      sets: DataFrame, threshold: Double): DataFrame = {
    val melted = cand
      .select(col("id1"), col("id2"),
        posexplode(array(col("id1"), col("id2"))))
    val hit = CacheScope.cached(sets
      .join(broadcast(melted), col("id") === col("col"))
      .select(col("id1"), col("id2"), col("pos"), col("sh"), col("n")))
    verifyTail(hit.filter(col("pos") === 0)
      .select(col("id1"), col("id2"), col("sh").as("sh1"),
        col("n").as("n1"))
      .join(broadcast(hit.filter(col("pos") === 1)
        .select(col("id1"), col("id2"), col("sh").as("sh2"),
          col("n").as("n2"))), Seq("id1", "id2")), threshold)
  }

  /** Shared verify tail over (id1, id2, sh1, n1, sh2, n2) rows: exact
    * intersection count (sorted-merge kernel for string sets), exact
    * Jaccard, threshold filter.
    */
  private def verifyTail(joined: DataFrame, threshold: Double)
      : DataFrame = {
    val isString = joined.schema("sh1").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, _) => true
      case _ => false
    }
    val interCount =
      if (isString) GraftFunctions.sortedIntersectCount(col("sh1"), col("sh2"))
      else size(array_intersect(col("sh1"), col("sh2")))
    joined
      .withColumn("c", interCount)
      .withColumn("jaccard",
        round(col("c") / (col("n1") + col("n2") - col("c")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Exact Jaccard ≥ threshold pairs over ARBITRARY per-id element sets
    * (`setsIn`: one row per id with the set as an array column) via the
    * same prefix-filter pipeline as [[jaccardShinglePairs]]. Used for
    * fingerprint sets (longs) and any other tokenization a caller
    * brings. Input arrays are normalized to sorted distinct form here —
    * the verification kernel's sorted-merge contract and the set sizes
    * both require it, and caller arrays make no such promise.
    */
  def jaccardSetPairs(setsIn: DataFrame, idCol: String, setCol: String,
      threshold: Double): DataFrame = {
    val sets = setsIn.select(col(idCol).as("id"),
        array_sort(array_distinct(col(setCol))).as("sh"))
      .withColumn("n", size(col("sh"))).filter(col("n") > 0)
    prefixFilteredPairs(CacheScope.cached(sets), threshold)
  }

  /** Winnow-SCREENED exact character-k-gram Jaccard pairs: candidates
    * come from winnowing fingerprints (Schleimer et al., SIGMOD'03 —
    * each document reduces to the window-minima of its rolling k-gram
    * hashes, ~2/(window+1) of the grams) run through the same exact
    * prefix-filter pipeline at a LOOSER `candidateThreshold`, and every
    * candidate is then verified on the FULL k-gram sets — so the
    * emitted `jaccard` is the exact character-k-gram Jaccard, not a
    * fingerprint estimate. The same screen-then-verify shape as
    * MinHash-LSH → exact verification, with winnowing as the screen:
    * corpus-sized work touches only the ~2/(window+1) fingerprint
    * sample (a naive k-gram postings self-join explodes on common
    * grams), and the full gram sets are materialized ONLY for the ids
    * the screen surfaces.
    *
    * The screen is heuristic (fingerprint-set Jaccard tracks gram-set
    * Jaccard but carries sampling variance — winnowing guarantees
    * detection of shared runs ≥ window+k−1 chars, not of high Jaccard
    * per se), so `candidateThreshold` trades candidate volume for
    * recall headroom: at the 0.25 default, every measured corpus pair
    * with exact J ≥ 0.5 carries fingerprint J ≥ 0.6 — a 2.4×
    * margin — and the spec suite asserts the screen loses nothing
    * against an unscreened exact run on the fixture corpus.
    */
  def winnowedKgramPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, window: Int, threshold: Double,
      candidateThreshold: Double = 0.25): DataFrame = {
    require(candidateThreshold <= threshold + 1e-12,
      s"screen threshold $candidateThreshold must not exceed the " +
        s"verify threshold $threshold")
    val fp = df.select(col(idCol),
      GraftFunctions.winnowFingerprints(col(textCol), k, window).as("fp"))
    // TRUNCATED, not just cached: the screened pair set feeds THREE
    // consumers (both sides of the candIds union and the final verify
    // join). The round-18 cache stopped the screen pipeline from
    // RE-EXECUTING per consumer, but every consumer's logical plan
    // still carried the whole screen subtree (fingerprint shingle → df
    // → prefix self-join → fingerprint verify) through analysis and
    // optimization — the x18 plan measured 10k formatted lines and
    // ~1.7 s of the 3.8 s isolated wall was driver-side planning. The
    // screen output is O(candidate pairs) — tiny — so an eager
    // localCheckpoint materializes it ONCE and every consumer plans
    // against a LogicalRDD leaf. The row count rides the checkpoint
    // job as an observe() metric and gates a broadcast hint (a
    // LogicalRDD carries no stats, which would otherwise flip the
    // two verify joins and the gram semi-join to shuffles).
    val screenObs = new Observation
    val candT = jaccardSetPairs(fp, idCol, "fp", candidateThreshold)
      .select(col("id1"), col("id2"))
      .observe(screenObs, count(lit(1)).as("n"))
      .localCheckpoint()
    CacheScope.onRelease(() => Checkpoints.release(candT))
    val nCand = screenObs.getAsJava.get("n").asInstanceOf[Long]
    val candSmall =
      BroadcastGate.rowsFit("winnowedKgramPairs: candidate ids", nCand, 64L)
    // exact gram sets ONLY for screened ids — the semi-join keeps the
    // k·|text| gram materialization off the unscreened corpus. The id
    // set inherits the byte gate: ≤ 2·nCand ids, hinted so the corpus
    // side is never shuffled for the semi-join when the screen is small.
    val candIds0 = candT.select(col("id1").as("__cid"))
      .unionByName(candT.select(col("id2").as("__cid"))).distinct()
    val candIds = if (candSmall) broadcast(candIds0) else candIds0
    val grams = CacheScope.cached(df
      .join(candIds, col(idCol) === col("__cid"), "left_semi")
      .filter(length(col(textCol)) >= k)
      .select(col(idCol).as("id"), array_sort(array_distinct(
        expr(s"transform(sequence(1, length($textCol) - ${k - 1}), " +
          s"i -> substring($textCol, i, $k))"))).as("sh"))
      .withColumn("n", size(col("sh"))))
    // the screen's observed count rides along: no re-count, and the
    // verify join broadcasts the checkpointed candidates directly
    verifyJaccard(candT, grams, threshold, candRows = Some(nCand))
  }

  /** Shared prefix-filter pipeline over a cached (id, sh, n) set table. */
  private def prefixFilteredPairs(sets: DataFrame, threshold: Double)
      : DataFrame = {
    val post = sets.select(col("id"), col("n"), explode(col("sh")).as("s"))
    val dfreq = CacheScope.cached(
      post.groupBy(col("s")).agg(count(lit(1)).as("df")))
    val dfHint = BroadcastGate.hint("prefix filter: dfreq", dfreq)
    // cached: the candidate self-join below reads the prefix TWICE, and
    // an uncached plan re-runs the whole shingle→df→rank pipeline per
    // side (measured in the x3 before-plan: the full prefix subtree
    // appeared twice). The cached rows carry xxhash64(s), not the
    // string: the self-join only tests EQUALITY of the prefix shingle,
    // a hash collision can only ADD a candidate pair that the exact
    // verification then rejects (equal strings always collide, so no
    // true pair is lost), and hashing after the rank is computed keeps
    // the (df, s) prefix order byte-identical — so the columnar cache
    // encodes 8-byte longs instead of multi-word shingle strings, and
    // the join compares longs
    val prefix = CacheScope.cached(
      prefixRanked(post.join(dfHint(dfreq), "s"), threshold)
        .withColumn("s", xxhash64(col("s"))))
    // positional filter (PPJoin, Xiao et al. WWW'08): a shared prefix
    // shingle at ranks (i, j) of the two docs' orderings bounds the
    // overlap at 1 + min(n1−i, n2−j), which must reach the J ≥ t
    // overlap requirement ⌈t·(n1+n2)/(1+t)⌉. Lossless: every common
    // element sits at or after the order-SMALLEST common shingle's rank
    // in both docs, so for that shingle the bound ≥ the true overlap —
    // a true pair always survives through it. On the test corpus this
    // cuts verified candidates ~3× (193k → 69k at sf0.1).
    val maxOverlap = least(col("a.n") - col("a.rn"),
      col("b.n") - col("b.rn")) + 1
    val minOverlap = ceil((col("a.n") + col("b.n"))
      * (threshold / (1 + threshold)) - 1e-9)
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          col("a.n") >= col("b.n") * threshold - 1e-9 &&
          col("b.n") >= col("a.n") * threshold - 1e-9 &&
          maxOverlap >= minOverlap)
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    // the VERIFIED pairs are cached too (near-dup output is tiny —
    // O(duplicate clusters), not O(postings)): the candidate self-join
    // + exact-verify join is the single most expensive job of this
    // pipeline, and every graph consumer of the same pair plan
    // (clusters, representatives, star contraction, seed-distance BFS)
    // re-ran it per query/action via plan-matching misses — with the
    // cache they read one materialization, same as sets/dfreq/prefix
    CacheScope.cached(verifyJaccard(cand, sets, threshold))
  }

  /** Exact n-gram Jaccard near-dup pairs: id1 < id2, J(S₁,S₂) ≥ threshold.
    *
    * Physical shape (prefix filtering after Bayardo/Ma/Srikant, "Scaling
    * Up All Pairs Similarity Search", WWW 2007, and Xiao et al.'s PPJoin
    * — exact, not approximate):
    *  1. shingle each doc once (compiled kernel), cache;
    *  2. global document frequency per shingle (one groupBy);
    *  3. order each doc's shingles rarest-first (window over the posting
    *     join) and keep only the first n − ⌈t·n⌉ + 1 — the *prefix*. Any
    *     pair with J ≥ t provably shares its order-smallest common
    *     shingle inside both prefixes, so joining prefixes loses nothing;
    *  4. equi-join prefixes on the shingle (+ size-ratio filter
    *     t·n₂ ≤ n₁ ≤ n₂/t), distinct;
    *  5. verify candidates with the exact Jaccard.
    *
    * The join degree of a shingle is its *prefix* document frequency —
    * frequent shingles sit at the end of every doc's ordering and drop
    * out, which is what kills the Σ df² blowup of the naive postings
    * self-join. Every step is linear shuffles except the prefix join,
    * which is pruned to rare-shingle collisions.
    */
  def jaccardShinglePairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double): DataFrame = {
    val sets = CacheScope.cached(shingleSets(df, idCol, textCol, k))
    prefixFilteredPairs(sets, threshold)
  }

  /** INCREMENTAL exact Jaccard near-dup pairs — the daily-increment
    * pattern: a curated `corpus` already deduplicated internally, a new
    * `delta` batch arriving, and the question "which new docs duplicate
    * anything we already have (or each other)?". Emits every pair
    * (id1 < id2, J(S₁,S₂) ≥ threshold) TOUCHING the delta — delta×delta
    * and delta×corpus — and by construction performs NO corpus×corpus
    * candidate work: the prefix join's build side carries only delta
    * prefixes, so corpus postings meet delta postings but never each
    * other. Identical semantics to filtering [[jaccardShinglePairs]]
    * over the union down to delta-touching pairs (spec-asserted), at
    * candidate cost ∝ |delta| collisions instead of |union|².
    *
    * Same exact prefix-filter + PPJoin positional-filter machinery as
    * the self-join form (document frequencies computed over the UNION —
    * both sides of a pair must order shingles identically for the
    * prefix guarantee to hold). Corpus docs still pay one linear
    * shingle+df+prefix scan per call; a service running daily
    * increments should build the corpus-side state ONCE with
    * [[DedupIndex.build]] and run [[DedupIndex.jaccardPairsAgainst]]
    * instead — identical output, no corpus rescan. Ids must be unique
    * ACROSS the two frames (delta rows are new documents, not updates).
    *
    * At 100 TB: the delta prefix side is typically small enough for the
    * byte-gated broadcast in the candidate join to kick in via AQE, and
    * nothing corpus-sized is ever paired against itself — the whole
    * point of running incrementally.
    */
  def jaccardShinglePairsAgainst(corpus: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, k: Int,
      threshold: Double): DataFrame = {
    val sets = CacheScope.cached(
      shingleSets(corpus, idCol, textCol, k)
        .withColumn("isNew", lit(false))
        .unionByName(shingleSets(delta, idCol, textCol, k)
          .withColumn("isNew", lit(true))))
    val post = sets.select(col("id"), col("n"), col("isNew"),
      explode(col("sh")).as("s"))
    val dfreq = CacheScope.cached(
      post.groupBy(col("s")).agg(count(lit(1)).as("df")))
    val dfHint = BroadcastGate.hint("incremental prefix filter: dfreq",
      dfreq)
    val prefix = prefixRanked(post.join(dfHint(dfreq), "s"), threshold,
      extra = Seq("isNew"))
    verifyJaccard(incrementalPrefixCands(prefix, threshold), sets,
      threshold)
  }

  /** Candidate pairs for the incremental exact-Jaccard forms over a
    * combined prefix table (id, n, s, rn, isNew): corpus and delta
    * prefixes on the probe side, delta prefixes only on the build side,
    * with the PPJoin positional filter — so corpus postings meet delta
    * postings but never each other. Requires BOTH sides' `rn` computed
    * under the same global shingle order (any consistent total order
    * preserves the prefix-filter completeness proof; which order only
    * affects candidate count). Shared by the recompute form
    * ([[jaccardShinglePairsAgainst]], ordering = union df) and the
    * persisted-index form ([[DedupIndex.jaccardPairsAgainst]], ordering
    * = stored corpus df).
    */
  private[operators] def incrementalPrefixCands(prefix: DataFrame,
      threshold: Double): DataFrame = {
    // the cached join key is xxhash64(s), as in the self-join form:
    // candidates only test EQUALITY of the prefix shingle and every
    // candidate passes exact verification, so collisions can only add
    // rejected candidates (equal strings always collide — no true pair
    // lost), and the columnar cache encodes 8-byte longs instead of
    // multi-word shingle strings. The round-18 A/B measured the extra
    // projection as a net loss here; re-tested in round 19 (VERDICT
    // item 8) after the prefix/pairs cache work it wins at BOTH scales
    // (TimeOne min, same host window — sf1: x59 8.48→7.23 s,
    // x62 8.66→8.09 s; sf0.1: x59 1.89→1.68 s, x62 3.15→3.01 s;
    // identical output rows everywhere).
    val prefixC = CacheScope.cached(
      prefix.withColumn("s", xxhash64(col("s"))))
    val deltaPrefix = prefixC.filter(col("isNew"))
    val maxOverlap = least(col("a.n") - col("a.rn"),
      col("b.n") - col("b.rn")) + 1
    val minOverlap = ceil((col("a.n") + col("b.n"))
      * (threshold / (1 + threshold)) - 1e-9)
    prefixC.as("a")
      .join(deltaPrefix.as("b"),
        col("a.s") === col("b.s") && col("a.id") =!= col("b.id") &&
          col("a.n") >= col("b.n") * threshold - 1e-9 &&
          col("b.n") >= col("a.n") * threshold - 1e-9 &&
          maxOverlap >= minOverlap &&
          // delta×delta pairs arrive from both directions — keep one;
          // corpus×delta pairs only ever arrive with `a` on the corpus
          // side, so they pass unconditionally
          (!col("a.isNew") || col("a.id") < col("b.id")))
      .select(least(col("a.id"), col("b.id")).as("id1"),
        greatest(col("a.id"), col("b.id")).as("id2"))
      .distinct()
  }

  /** MinHash signature column: array of `numHashes` minima of
    * hᵢ(x) = (aᵢ·xxhash64(x) + bᵢ) mod (2⁶¹−1) over the shingle set.
    * One compiled pass per row — no explode, no shuffle.
    */
  def withMinHashSignature(df: DataFrame, textCol: String, k: Int,
      numHashes: Int): DataFrame =
    df.withColumn("minhash_sig",
      GraftFunctions.minHashSignature(
        GraftFunctions.wordShingles(col(textCol), k), numHashes))

  /** (id, band, bucket[, passthrough...]) rows from a MinHash signature
    * frame — the banding step shared by the batch pair join and the
    * streaming dedup-on-ingest path. Map-only (one explode, bands× row
    * growth); `passthrough` columns (e.g. an event-time column for the
    * streaming state timeout) ride along unchanged.
    */
  private[graft] def bandedBuckets(sigDf: DataFrame, idCol: String,
      numHashes: Int, bands: Int,
      passthrough: Seq[String] = Nil): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    sigDf.select(col(idCol).as("id") +: passthrough.map(col) :+
      posexplode(GraftFunctions.minHashBandKeys(col("minhash_sig"), bands,
        r)): _*)
      .select(col("id") +: passthrough.map(col) :+
        col("pos").as("band") :+ col("col").as("bucket"): _*)
  }

  /** [[bandedBuckets]] of (id, sh, …) shingle sets, signed first. */
  private[operators] def bandedSets(sets: DataFrame, numHashes: Int,
      bands: Int, passthrough: Seq[String] = Nil): DataFrame =
    bandedBuckets(sets.withColumn("minhash_sig", GraftFunctions
      .minHashSignature(col("sh"), numHashes)), "id", numHashes, bands,
      passthrough)

  /** Default per-(band, bucket) membership cap for the batch LSH paths —
    * the batch twin of [[graft.streaming.Streaming.lshCandidateStream]]'s
    * `maxBucketSize`.
    */
  val DefaultBucketCap: Int = 4096

  /** Candidate pairs from banded bucket rows, with BOUNDED per-bucket
    * output: the first `cap` rows of a bucket in ascending (id, payload)
    * order — its members — pair fully among themselves, and every
    * OVERFLOW row beyond the cap whose id exceeds the cap-th member's
    * pairs with the bucket's minimum id only — the bucket
    * representative. Per-bucket output is therefore C(cap,2) + (n−cap),
    * never C(n,2): a corpus with 10⁵ copies of one boilerplate doc emits
    * ~10⁵ candidate rows per band instead of 10¹⁰. Output is
    * (id1, id2[, pl1, pl2]) with id1 < id2, distinct; `pl1`/`pl2` are
    * the optional long `payload` (e.g. the simhash) of `id1`/`id2`, so
    * payload-consuming callers never join back to fetch it.
    *
    * Semantics of the cap: pairs among the members are exactly the
    * uncapped pairs (buckets under the cap are untouched); an overflow
    * row's candidacy is representative-only, so a pathological
    * mega-bucket still CLUSTERS completely (every member connects to
    * the representative — connected components merges the whole
    * bucket), while pairwise output stays linear. Duplicate input ids
    * never pair with themselves; an overflow copy of the cap-th
    * member's id links nowhere new (its id is already a member). All
    * emitted pairs go through the caller's exact verification, so the
    * cap can only trade pair-level recall inside oversize buckets,
    * never precision. Audit oversize buckets with [[lshBucketOverflow]]
    * — the loud form of the boundary.
    *
    * Mechanism: the narrow (keys, id, payload) rows cross ONE hash
    * exchange on the bucket keys and are sorted within each partition
    * by (keys, id, payload); one streaming pass
    * ([[CappedPairIterator]]) then holds at most `cap` members of the
    * current bucket and emits each pair lazily, so a full bucket never
    * materializes its C(cap,2) pairs at once. No aggregation buffer, no
    * join back to the banded rows, no broadcast of them, no cache (the
    * banded rows have one consumer). [[incrementalCappedPairs]] runs
    * the same pass over sectioned rows.
    *
    * Requires long-castable ids (the engine's document-id contract, as
    * in the streaming path); a null id pairs with nothing.
    */
  private[graft] def cappedBucketPairs(banded: DataFrame,
      keys: Seq[String], cap: Int,
      payload: Option[String] = None): DataFrame = {
    val pairs = cappedPass(memberRows(banded, keys,
      payload.map(col).getOrElse(lit(0L))), keys, cap, sectioned = false)
    if (payload.isDefined) pairs.distinct()
    else pairs.select(col("id1"), col("id2")).distinct()
  }

  /** The (keys…, __id, __pl) rows the capped pass reads: non-null ids
    * as longs, `pl` as a long beside them.
    */
  private def memberRows(banded: DataFrame, keys: Seq[String],
      pl: Column): DataFrame = {
    // loud precondition, not a mid-job cast surprise: members are
    // ordered and compared as longs (the engine's document-id contract
    // — rerankTopK and the streaming paths share it). A string id would
    // cast to null and silently drop out of every pair.
    val idType = banded.schema("id").dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType)
      .contains(idType), s"capped LSH candidate generation needs an " +
        s"integral (long-castable) id column, got $idType; map string " +
        "ids to longs (e.g. xxhash64) upstream")
    banded.filter(col("id").isNotNull)
      .select(keys.map(col) :+ col("id").cast("long").as("__id") :+
        pl.cast("long").as("__pl"): _*)
  }

  /** The one capped pass: [[memberRows]] cross ONE hash exchange on the
    * bucket keys, are sorted within partitions and stream through
    * [[CappedPairIterator]]. Plain rows sort by (keys, id, payload).
    * `sectioned` rows carry the side in `__pl` (0 delta, 1 corpus);
    * after the exchange each delta row is duplicated into section 2,
    * and the rows sort by (keys, section, id).
    */
  private def cappedPass(members: DataFrame, keys: Seq[String], cap: Int,
      sectioned: Boolean): DataFrame = {
    require(cap >= 2, s"bucketCap must be >= 2, got $cap")
    val keyCols = keys.map(col)
    val exchanged = members.repartition(keyCols: _*)
    val (rows, order) =
      if (!sectioned) (exchanged, Seq("__id", "__pl"))
      else (exchanged.withColumn("__pl", explode(when(col("__pl") === 0L,
          array(lit(0), lit(2))).otherwise(array(lit(1))))),
        Seq("__pl", "__id"))
    rows.sortWithinPartitions(keyCols ++ order.map(col): _*).mapPartitions(
      it => new CappedPairIterator(it, keys.length, cap, sectioned))(
      org.apache.spark.sql.Encoders.row(CappedPairSchema))
  }

  private val CappedPairSchema =
    StructType(Seq(StructField("id1", LongType, nullable = false),
      StructField("id2", LongType, nullable = false),
      StructField("pl1", LongType), StructField("pl2", LongType)))

  /** The streaming pass of [[cappedPass]] over one partition of sorted
    * (keys…, id, payload|section) rows. It keeps the first `cap` rows of
    * the current bucket (of its section 0 when `sectioned`); a row
    * arriving while the bucket is under the cap pairs with every kept
    * member of smaller id, a later row pairs with the first member when
    * its id exceeds the cap-th member's. Sectioned buckets go on with
    * section 1, whose first `cap` ids are kept and whose later ids past
    * the cap-th link to the first section-0 member, and section 2,
    * whose every row pairs with each kept section-1 id; those pairs are
    * emitted (smaller, larger) with null payloads. One (id1, id2, pl1,
    * pl2) row per `next()`; state is at most 2·`cap` ids.
    */
  private final class CappedPairIterator(rows: Iterator[Row],
      nKeys: Int, cap: Int, sectioned: Boolean) extends Iterator[Row] {
    private val ids = new Array[Long](cap)
    private val pls = new Array[Any](cap)
    private val cids = if (sectioned) new Array[Long](cap) else null
    private val bucket = new Array[Any](nKeys)
    private var kept = -1 // members of the current bucket; -1 = none yet
    private var cKept = 0 // kept section-1 ids of the current bucket
    private var sec = 0
    private var id = 0L
    private var pl: Any = null
    // pending pairs of the current row: indexes [nextIx, end)
    private var nextIx = 0
    private var end = 0

    override def hasNext: Boolean = {
      while (nextIx >= end && rows.hasNext) advance(rows.next())
      nextIx < end
    }

    override def next(): Row = {
      if (!hasNext) throw new NoSuchElementException
      val j = nextIx
      nextIx += 1
      if (sec == 0) Row(ids(j), id, pls(j), pl)
      else {
        val other = if (sec == 1) ids(0) else cids(j)
        Row(math.min(other, id), math.max(other, id), null, null)
      }
    }

    private def advance(r: Row): Unit = {
      if (kept < 0 || (0 until nKeys).exists(k => r.get(k) != bucket(k))) {
        (0 until nKeys).foreach(k => bucket(k) = r.get(k))
        kept = 0
        cKept = 0
      }
      id = r.getLong(nKeys)
      if (sectioned) sec = r.getInt(nKeys + 1) else pl = r.get(nKeys + 1)
      nextIx = 0
      sec match {
        case 0 if kept < cap =>
          // members are ascending and <= id: the pairs are the prefix
          // of members with a strictly smaller id (no self-pairs)
          end = kept
          while (end > 0 && ids(end - 1) == id) end -= 1
          ids(kept) = id
          pls(kept) = pl
          kept += 1
        case 0 => end = if (id > ids(cap - 1)) 1 else 0
        case 1 if cKept < cap =>
          end = 0
          cids(cKept) = id
          cKept += 1
        case 1 => end = if (kept > 0 && id > cids(cap - 1)) 1 else 0
        case _ => end = cKept
      }
    }
  }

  /** Bucket-size audit for the capped LSH candidate paths: one row
    * (band, bucket, size) per bucket whose membership exceeds `cap` —
    * run/alert on this to know where [[cappedBucketPairs]]'s
    * representative-only regime applied. One linear agg, no joins.
    */
  def lshBucketOverflow(sigDf: DataFrame, idCol: String, numHashes: Int,
      bands: Int, cap: Int = DefaultBucketCap): DataFrame =
    bandedBuckets(sigDf, idCol, numHashes, bands)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("size"))
      .filter(col("size") > cap)

  /** LSH candidate pairs: the signature is cut into `bands` bands of
    * `numHashes/bands` rows; documents sharing any band hash become a
    * candidate pair, with per-bucket membership capped at `bucketCap`
    * by [[cappedBucketPairs]]. One explode (bands× row growth) + one
    * shuffle of the banded rows on the band hash. Band buckets are
    * hash-distributed → no planner-visible skew.
    */
  def lshCandidatePairs(sigDf: DataFrame, idCol: String, numHashes: Int,
      bands: Int, bucketCap: Int = DefaultBucketCap): DataFrame =
    cappedBucketPairs(bandedBuckets(sigDf, idCol, numHashes, bands),
      Seq("band", "bucket"), bucketCap)

  /** MinHash-LSH near-dup pairs, verified: candidates from
    * [[lshCandidatePairs]], then exact shingle-Jaccard on just those
    * pairs. Output matches [[jaccardShinglePairs]] up to LSH recall
    * (per-pair detection probability 1−(1−J^r)^bands — asserted against
    * the exact pairs in the spec suite, not the SQL oracle).
    */
  def minHashPairs(df: DataFrame, idCol: String, textCol: String, k: Int,
      numHashes: Int, bands: Int, threshold: Double,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val sets = CacheScope.cached(shingleSets(df, idCol, textCol, k))
    val sig = sets.withColumn("minhash_sig",
      GraftFunctions.minHashSignature(col("sh"), numHashes))
    val cand = lshCandidatePairs(sig, "id", numHashes, bands, bucketCap)
    verifyJaccard(cand, sets, threshold)
  }

  /** INCREMENTAL MinHash-LSH near-dup pairs — [[jaccardShinglePairsAgainst]]
    * at LSH scale, THE daily-increment shape for a 100 TB corpus: band
    * the union once (map-only), then generate candidates ONLY in buckets
    * where at least one delta document landed — every pure-corpus bucket
    * (the overwhelming majority when |delta| ≪ |corpus|) is pruned by
    * a semi-join against the delta's buckets before any pair work. Delta
    * and corpus members are capped SEPARATELY inside a touched bucket
    * by [[incrementalCappedPairs]]' one sorted pass, so a bucket
    * dominated by corpus docs can never demote delta docs to overflow,
    * and no corpus×corpus pair work is ever generated. Verification is
    * shared verbatim with the batch path ([[verifyJaccard]]), so
    * reported Jaccard values stay exact.
    *
    * Same recall regime as [[minHashPairs]] (per-pair detection
    * 1−(1−J^r)^bands; identical docs collide in every band), asserted in
    * the spec suite against the exact incremental form — not a SQL
    * oracle. Ids must be unique across the two frames and long-castable
    * (the capped generators' contract).
    */
  def minHashPairsAgainst(corpus: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, k: Int, numHashes: Int, bands: Int,
      threshold: Double, bucketCap: Int = DefaultBucketCap): DataFrame = {
    val sets = CacheScope.cached(
      shingleSets(corpus, idCol, textCol, k)
        .withColumn("isNew", lit(false))
        .unionByName(shingleSets(delta, idCol, textCol, k)
          .withColumn("isNew", lit(true))))
    val banded = CacheScope.cached(
      bandedSets(sets, numHashes, bands, passthrough = Seq("isNew")))
    verifyJaccard(incrementalCappedPairs(banded.filter(col("isNew")),
      banded.filter(!col("isNew")), bucketCap), sets, threshold)
  }

  /** Candidate pairs for the incremental LSH forms: `deltaBanded` and
    * `corpusBanded` are (id, band, bucket) frames for the two sides.
    * Per bucket:
    *
    *  - delta×delta pairs follow [[cappedBucketPairs]]' cap over the
    *    delta members only — a touched bucket dominated by corpus docs
    *    can never fill the cap's smallest-id slots with corpus members
    *    and demote delta docs (typically the larger/new ids) to
    *    representative-only overflow;
    *  - every delta member pairs with the bucket's `bucketCap` smallest
    *    corpus ids — per-bucket output ≤ nDelta·cap, never
    *    nDelta·nCorpus;
    *  - each corpus member past the cap links to the bucket's minimum
    *    DELTA id, so the overflow edge stays delta-touching and a
    *    mega-bucket still CLUSTERS completely after the delta filter;
    *  - a bucket with no delta member emits nothing, and no
    *    corpus×corpus pair is ever generated.
    *
    * Mechanism: the corpus rows are first pruned to TOUCHED buckets by a
    * left-semi join against the delta's (band, bucket) keys, broadcast
    * when the cached delta rows fit the [[graft.core.BroadcastGate]].
    * Then both sides cross [[cappedBucketPairs]]' one exchange on the
    * bucket keys into one sorted streaming pass in three sections per
    * bucket: the delta rows (delta×delta pairs; the first is the
    * minimum), the corpus rows (the first `bucketCap` are kept, later
    * ones link to the minimum delta id), and the delta rows again, each
    * pairing with the kept corpus ids. Shared by the recompute form
    * ([[minHashPairsAgainst]]) and the persisted-index form
    * ([[DedupIndex.minHashPairsAgainst]]). Ids must be long-castable
    * and unique across the two sides.
    */
  private[graft] def incrementalCappedPairs(deltaBanded: DataFrame,
      corpusBanded: DataFrame, bucketCap: Int): DataFrame = {
    val keys = Seq("band", "bucket")
    val delta = CacheScope.cached(memberRows(deltaBanded, keys, lit(0L)))
    val hint = BroadcastGate.hint("incremental lsh: delta buckets", delta)
    val corpus = memberRows(corpusBanded, keys, lit(1L))
      .join(hint(delta.select(keys.map(col): _*)), keys, "left_semi")
    cappedPass(delta.unionByName(corpus), keys, bucketCap, sectioned = true)
      .select(col("id1"), col("id2")).distinct()
  }

  /** The DISTINCT shingle set of a corpus as a one-column frame (s) —
    * the static membership side of contamination checks (batch and the
    * streaming [[graft.streaming.Streaming.contaminationStream]]).
    */
  def distinctShingles(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    shingleSets(df, idCol, textCol, k)
      .select(explode(col("sh")).as("s")).distinct()

  /** Train/test contamination report — the decontamination primitive of
    * an evaluation pipeline: for every test document, how much of its
    * k-shingle set also appears ANYWHERE in the training corpus.
    * Output: (id, n_shingles, n_shared, contaminated) where
    * `contaminated` ⇔ n_shared/n_shingles ≥ num/den, compared in exact
    * integer space (n_shared·den ≥ n_shingles·num) so the flag is
    * engine- and partitioning-independent. Documents too short to form a
    * shingle report (0, 0, false).
    *
    * Scale shape: the training side collapses to its DISTINCT shingle
    * set first (linear shuffle keyed by shingle — at 100 TB this is the
    * small side: shingle vocabulary grows sublinearly in corpus size),
    * then one equi-join against the exploded test shingles and one
    * per-doc count. No pairwise doc×doc work anywhere — membership in
    * the train set is all that matters, which is what makes this form
    * scale where a doc-pair overlap join would not.
    *
    * Caching: the test shingle frame is cached (it feeds two branches)
    * and, like the other operator caches here, is released by
    * `spark.catalog.clearCache()` or session end — long-lived services
    * scoring many distinct corpora should clear between corpora.
    */
  def contaminationReport(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, k: Int, num: Int = 4, den: Int = 5): DataFrame = {
    val trainShingles = distinctShingles(train, idCol, textCol, k)
    // cached: referenced twice below (explode side + the id/n base), and
    // without the cache the shingle kernel would run over every test doc
    // twice per action
    val testSets = CacheScope.cached(shingleSets(test, idCol, textCol, k))
    val shared = testSets.select(col("id"), explode(col("sh")).as("s"))
      .join(trainShingles, "s")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared"))
    testSets.select(col("id"), col("n").cast("long").as("n_shingles"))
      .join(shared, Seq("id"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("contaminated",
        col("n_shared") * den >= col("n_shingles") * num &&
          col("n_shingles") > 0)
  }

  /** Bloom-filter decontamination — [[contaminationReport]]'s semantics
    * with the train-shingle SET replaced by a fixed-size Bloom bitset:
    * the train side never shuffles its shingles at all (no distinct, no
    * membership join — shingles stream into partial bitsets map-side
    * and OR-merge into ONE row), and each test shingle probes the
    * broadcast bitset with the compiled [[graft.expressions
    * .BloomContains]] kernel. THE 100 TB decontamination shape: train
    * cost is a scan, test cost is a scan + per-doc count.
    *
    * One-sided error, the safe direction for decontamination: no false
    * negatives (a shared shingle ALWAYS probes true), so every
    * contaminated doc under the exact report is flagged here too;
    * Bloom false positives can only inflate `n_shared` and over-flag.
    * Size `log2Bits` ≥ log2(distinct train shingles) + 7 for a
    * sub-1% FP rate.
    */
  def contaminationReportBloom(train: DataFrame, test: DataFrame,
      idCol: String, textCol: String, k: Int, num: Int = 4, den: Int = 5,
      log2Bits: Int = 24, numHashes: Int = 5): DataFrame = {
    // guard BEFORE the shift: `1 << 38` wraps to 64 bits and would
    // silently saturate into an everything-is-contaminated report
    require(log2Bits >= 6 && log2Bits <= 30, s"log2Bits: $log2Bits")
    val bloomAgg = org.apache.spark.sql.functions.udaf(
      new graft.functions.Aggregators.BloomBuild(1 << log2Bits, numHashes),
      org.apache.spark.sql.Encoders.scalaLong)
    val bloom = train
      .select(explode(GraftFunctions.wordShingles(col(textCol), k)).as("s"))
      .agg(bloomAgg(xxhash64(col("s"))).as("__bloom"))
    val testSets = shingleSets(test, idCol, textCol, k)
    testSets
      .crossJoin(broadcast(bloom))
      .select(col("id"), col("n").cast("long").as("n_shingles"),
        explode_outer(col("sh")).as("s"), col("__bloom"))
      .withColumn("__hit",
        when(col("s").isNotNull && GraftFunctions.bloomContains(
          col("__bloom"), xxhash64(col("s")), numHashes), 1L).otherwise(0L))
      .groupBy(col("id"), col("n_shingles"))
      .agg(sum(col("__hit")).as("n_shared"))
      .withColumn("contaminated",
        col("n_shared") * den >= col("n_shingles") * num &&
          col("n_shingles") > 0)
  }

  /** 64-bit SimHash over whitespace tokens (weight = occurrence count).
    * One compiled pass per row.
    */
  def withSimHash(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("simhash", GraftFunctions.simHash64(col(textCol)))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, found by
    * block-blocking: 64 bits → `blocks` chunks; by pigeonhole any pair
    * within maxDist ≤ blocks−1 shares at least one exact block. Shuffle
    * on (block idx, block value) only, with per-bucket membership capped
    * by [[cappedBucketPairs]] (a block value shared by 10⁵ boilerplate
    * docs otherwise emits 10¹⁰ join rows); the Hamming filter is the
    * exact verification every candidate — including representative-only
    * overflow links — still passes through.
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, blocks: Int = 4,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    hammingPairs(withSimHash(df, textCol), idCol, "simhash", maxDist,
      blocks, bucketCap)

  /** Near-dup pairs over ANY 64-bit signature column at Hamming
    * distance ≤ maxDist — the pigeonhole block-blocking core of
    * [[simHashPairs]], generalized so every 64-bit fingerprint family
    * (SimHash over tokens, image perceptual hashes from
    * [[graft.multimodal.Multimodal.withImageDHash]], audio chroma
    * prints, …) shares one scale-shaped pair generator instead of each
    * re-deriving its own.
    *
    * Scale shape: the signature rides through the capped pair pass as
    * the pair payload, so verification needs no join back to the
    * signatures — the whole operator is the (already computed)
    * signature column + one bucket-keyed shuffle with per-bucket
    * membership capped by [[cappedBucketPairs]] + the pair distinct;
    * the exact `bit_count(xor)` filter verifies every candidate,
    * including representative-only overflow links.
    */
  def hammingPairs(df: DataFrame, idCol: String, sigCol: String,
      maxDist: Int, blocks: Int = 4,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    require(maxDist < blocks, "need maxDist < blocks for pigeonhole recall")
    require(64 % blocks == 0, s"blocks must divide 64, got $blocks")
    val w = 64 / blocks
    val mask = (1L << w) - 1
    val blocked = df
      .select(col(idCol).as("id"), col(sigCol).as("__sig"))
      .select(col("id"), col("__sig"),
        posexplode(array((0 until blocks).map(b =>
          shiftright(col("__sig"), b * w).bitwiseAND(mask)): _*)))
      .select(col("id"), col("__sig"), col("pos").as("blk"),
        col("col").as("blkval"))
    cappedBucketPairs(blocked, Seq("blk", "blkval"), bucketCap,
        payload = Some("__sig"))
      .select(col("id1"), col("id2"),
        bit_count(col("pl1").bitwiseXOR(col("pl2"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** Per-document DUPLICATED N-GRAM COVERAGE — the measurement side of
    * exact-substring dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL 2022: text repeated VERBATIM
    * across a corpus is the highest-leverage material to remove): for
    * each document, the position-level fraction of its word-k-shingles
    * whose shingle also occurs in at least `minDocs` documents
    * (including this one — so with the default 2, "appears in some
    * OTHER doc too"). Within-doc repetition alone does not count; that
    * is [[graft.operators.Repetition]]'s signal.
    *
    * Output: (id, n_shingles, n_dup, dup_bp) — occurrence counts plus
    * basis points `n_dup·10⁴ div n_shingles` in exact integer space, so
    * the score is engine- and partitioning-independent. Documents with
    * fewer than k tokens have no positions to measure and produce no
    * row.
    *
    * Scale shape: one compiled positional-shingle pass
    * ([[graft.expressions.WordShinglesSeq]]) + explode; document
    * frequency over the DISTINCT (doc, shingle) projection (one
    * shingle-keyed linear shuffle — vocabulary-sized, sublinear in
    * corpus); one shingle-keyed join back and two per-doc aggregations.
    * No doc×doc work anywhere, which is what lets the signal run where
    * the pairwise dedup forms cannot. The exploded positional frame is
    * cached (it feeds the frequency, coverage, and total branches) under
    * the standard operator-cache contract
    * ([[graft.core.CacheScope.scoped]]).
    */
  def duplicatedNgramCoverage(df: DataFrame, idCol: String,
      textCol: String, k: Int, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val pos = CacheScope.cached(df.select(col(idCol).as("id"),
      explode(GraftFunctions.wordShinglesSeq(col(textCol), k)).as("s")))
    val dupShingles = pos.select(col("id"), col("s")).distinct()
      .groupBy(col("s")).agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") >= minDocs)
      .select(col("s"))
    val nd = pos.join(dupShingles, "s")
      .groupBy(col("id")).agg(count(lit(1)).as("n_dup"))
    pos.groupBy(col("id")).agg(count(lit(1)).as("n_shingles"))
      .join(nd, Seq("id"), "left")
      .withColumn("n_dup", coalesce(col("n_dup"), lit(0L)))
      .withColumn("dup_bp", expr("n_dup * 10000L div n_shingles"))
  }

  /** Duplicated n-gram REMOVAL — the acting side of
    * [[duplicatedNgramCoverage]] (Lee et al. ACL 2022): every token
    * covered by a word-k-gram that also occurs in ≥ `minDocs` documents
    * is dropped, and each document is rebuilt from its surviving tokens
    * in NORMALIZED TOKEN SPACE (lowercased, single-spaced — the
    * representation a curation pipeline tokenizes anyway; byte-exact
    * original spans are not preserved). Documents with fewer than k
    * tokens pass through untouched (normalized), fully-duplicated
    * documents collapse to the empty string.
    *
    * Output: (id, clean_text, n_tokens, n_kept) — the rebuilt text plus
    * exact before/after token counts.
    *
    * Scale shape: identical to the coverage signal — one compiled
    * positional-shingle pass + explode, the vocabulary-sized document-
    * frequency shuffle, one join back — plus one per-doc `collect_list`
    * of duplicated START POSITIONS (bounded by the doc's own token
    * count, never corpus-sized) and a final compiled rebuild pass
    * ([[graft.expressions.RemoveCoveredTokens]], order-insensitive so
    * collect_list's nondeterministic ordering cannot leak into the
    * output). No doc×doc work anywhere.
    */
  def removeDuplicatedNgrams(df: DataFrame, idCol: String,
      textCol: String, k: Int, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val pos = CacheScope.cached(df.select(col(idCol).as("id"),
      posexplode(GraftFunctions.wordShinglesSeq(col(textCol), k))
        .as(Seq("pos", "s"))))
    val dupShingles = pos.select(col("id"), col("s")).distinct()
      .groupBy(col("s")).agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") >= minDocs)
      .select(col("s"))
    val dupStarts = pos.join(dupShingles, "s")
      .groupBy(col("id")).agg(collect_list(col("pos")).as("starts"))
    df.select(col(idCol).as("id"), col(textCol).as("__t"))
      .join(dupStarts, Seq("id"), "left")
      .select(col("id"),
        GraftFunctions.removeCoveredTokens(col("__t"),
          coalesce(col("starts"), lit(Array.empty[Int])), k)
          .as("clean_text"),
        size(tokens(col("__t"))).cast("long").as("n_tokens"))
      .withColumn("n_kept",
        size(tokens(col("clean_text"))).cast("long"))
  }
}
