package graft.queries

import graft.core.Graft
import graft.functions.{TextFunctions, UrlFunctions}
import graft.multimodal.Multimodal
import graft.operators.{Curation, Dedup, SimilaritySearch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-data-pipeline extension corpus over `documents` / `embeddings`:
  * dedup (exact, fingerprint, n-gram Jaccard, MinHash-LSH, SimHash),
  * similarity search (brute-force + LSH ANN), text analysis, multimodal.
  */
object Extensions {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Graft.table(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Graft.table(s, dir, "embeddings")

  /** x1: exact dedup — keep min doc_id per md5(text). */
  def x1DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("fingerprint"))
      .orderBy(col("doc_id"))

  /** x2: fingerprint dedup on normalized 200-char prefix (collapses the
    * seeded near-front-duplicates).
    */
  def x2DedupFingerprint(s: SparkSession, dir: String): DataFrame =
    Dedup.byPrefixFingerprint(docs(s, dir), "doc_id", "text", 200)
      .select(col("doc_id"), col("fingerprint"))
      .orderBy(col("doc_id"))

  /** x3: exact word-3-gram Jaccard near-dup pairs at ≥ 0.6. */
  def x3JaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardShinglePairs(docs(s, dir), "doc_id", "text", k = 3,
        threshold = 0.6)
      .orderBy(col("id1"), col("id2"))

  /** x4: MinHash-LSH near-dup pairs (64 hashes, 16 bands), candidates
    * verified with exact Jaccard — the sub-quadratic 100 TB path. Output
    * ⊆ x3 with identical jaccard values; recall on strong pairs
    * (J ≥ 0.8) is 1.0 on this corpus (asserted in the spec suite, not
    * the oracle — per-pair detection probability is 1−(1−J⁴)¹⁶).
    */
  def x4MinHashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashPairs(docs(s, dir), "doc_id", "text", k = 3,
        numHashes = 64, bands = 16, threshold = 0.6)
      .orderBy(col("id1"), col("id2"))

  /** x5: SimHash near-dup pairs at Hamming ≤ 3 (4-block pigeonhole). */
  def x5SimHashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashPairs(docs(s, dir), "doc_id", "text", maxDist = 3)
      .orderBy(col("id1"), col("id2"))

  /** x6: embedding-cosine near-dup pairs — EXACT n² all-pairs form.
    * VERIFICATION-ONLY: it exists to oracle-check and to measure the
    * recall of [[x14NearDupLsh]], which is the production near-dup
    * entry point (linear banding + equi-join; recall ≈ 1 asserted on
    * planted near-duplicates in the spec suite). Threshold 0.45 because
    * the synthetic embeddings are near-uniform (max pairwise cos ≈ 0.51
    * at sf0.01) — at the production 0.95 design point both engines
    * agree on an EMPTY set, which proves nothing; at 0.45 the oracle
    * checks a real non-empty pair set. Do not run x6 at corpus scale —
    * and you can't by accident: the operator measures its input and
    * refuses past [[SimilaritySearch.ExactPairsMaxRows]] rows without
    * `force = true`; [[SimilaritySearch.nearDupPairs]] is the façade
    * that picks the right variant from the same measurement.
    */
  def x6EmbeddingNearDup(s: SparkSession, dir: String): DataFrame =
    SimilaritySearch.cosineNearDupPairs(emb(s, dir), "vec_id", "embedding",
        threshold = 0.45)
      .orderBy(col("id1"), col("id2"))

  /** x14: sub-quadratic LSH-banded cosine near-dup pairs — the 100 TB
    * path for x6 (linear banding + equi-join instead of the n² pair
    * enumeration). Banding retuned for the 0.45 operating point the
    * corpus supports (24 bands × 5 bits — per-pair detection
    * 1−(1−p⁵)²⁴ ≈ 0.95 at cos 0.45, where p = 1−θ/π; the production
    * 0.95-threshold setting is 16×8, spec-asserted on planted
    * near-dups). DuckDB-oracle-checked since round 9: banding over
    * FIXED hyperplanes is deterministic once the coefficients are
    * stated as literals, so the oracle recomputes the 24 band buckets
    * and the verified pair set exactly; subset-of-x6 with identical
    * cosines additionally asserted in the spec suite.
    */
  def x14NearDupLsh(s: SparkSession, dir: String): DataFrame =
    SimilaritySearch.cosineNearDupPairsLSH(emb(s, dir), "vec_id",
        "embedding", threshold = 0.45, bands = 24, bitsPerBand = 5)
      .orderBy(col("id1"), col("id2"))

  /** x55: SemDeDup semantic dedup — coarse quantizer cells (map-side
    * compiled assign), within-cell bounded candidate pairs, exact cosine
    * verify, connected components collapsed to min-id representatives
    * carrying cluster size as a repeat-factor weight. The published
    * scale recipe for embedding dedup BELOW the near-identical regime
    * x14's banding is tuned for (Abbas et al., arXiv:2303.09540).
    *
    * DuckDB-oracle-checked via the x34/x18 construction (run the real
    * stages, pick the operating point whose answer is exactly
    * statable): `kmeansIters = 0` makes the quantizer the DETERMINISTIC
    * id-order seed centroids (the 8 lowest-vec_id embeddings), so the
    * cell boundaries — and therefore the pairs the partition MISSES,
    * SemDeDup's actual approximation — are reproducible in SQL: both
    * engines compute the same double-precision squared-L2 argmin over
    * the same stored floats (sequential accumulation both sides;
    * lowest-seed tie-break matches the kernel's lowest-index rule).
    * Every stage still executes for real — 8-cell partition, capped
    * within-cell pair generation (the cap provably never binds: no
    * cell can exceed the 500-row corpus, < the 4096 default), exact
    * compiled cosine, CC clustering, representative aggregation. The
    * Lloyd-TRAINED quantizer (iters > 0) stays spec-covered in
    * SimilaritySpec (nCells=1 ≡ exact; planted-cluster recall; cap).
    * Threshold 0.45 is this corpus's near-dup regime (x6/x14's
    * operating point) — at sf0.1 the partition keeps 48 within-cell
    * pairs and misses 96 straddling ones, so the check is non-vacuous
    * on BOTH sides of the approximation.
    */
  def x55SemanticDedup(s: SparkSession, dir: String): DataFrame =
    SimilaritySearch.semanticDedup(emb(s, dir), "vec_id", "embedding",
        threshold = 0.45, nCells = 8, kmeansIters = 0)
      .orderBy(col("vec_id"))

  /** x7: brute-force cosine top-5 for the first 10 vectors as queries. */
  def x7KnnBruteForce(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimilaritySearch.bruteForceTopK(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rk"))
  }

  /** x8: LSH ANN top-5 (6-bit hyperplane buckets, radius-2 multiprobe →
    * 22 of 64 buckets per query). DuckDB-oracle-checked since round 9
    * via the x34-style flip: the hyperplanes are FIXED deterministic
    * coefficients, so the oracle restates the bucket signs with the
    * same literal coefficients and fixed-order double sums (no
    * iterated means — the blocker that keeps x17 spec-gated); recall
    * vs x7 additionally asserted in the spec suite.
    */
  def x8KnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimilaritySearch.lshTopK(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nBits = 6)
      .orderBy(col("query_id"), col("rk"))
  }

  /** x17: IVF ANN top-5 — coarse k-means quantizer (DataFrame-native
    * Lloyd iterations), queries probe their 4 nearest of 16 cells.
    * Recall vs x7 asserted in the spec suite; no SQL oracle.
    */
  def x17KnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimilaritySearch.ivfTopK(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rk"))
  }

  /** x18: winnow-screened EXACT char-20-gram Jaccard pairs
    * ([[Dedup.winnowedKgramPairs]]): candidates from winnowing
    * rolling-hash fingerprints (k=20 char-gram Rabin-Karp, window
    * 16 — k spans several tokens of this low-entropy corpus: at k=8
    * only 838 distinct prints survive winnowing, max df 3751, 8·10⁷
    * join pairs, vs 131k prints / max df 53 at k=20), each verified on
    * the FULL gram sets — so the emitted jaccard is the exact
    * character-20-gram Jaccard, which the DuckDB oracle states with
    * the same postings-join construction as x3. The screen's
    * engine-side hash only decides which pairs get verified; the spec
    * suite asserts it loses nothing vs an unscreened exact run.
    */
  def x18WinnowPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowedKgramPairs(docs(s, dir), "doc_id", "text",
        k = 20, window = 16, threshold = 0.5)
      .orderBy(col("id1"), col("id2"))

  /** x19: composite curation pipeline — exact dedup → quality gate →
    * language ID → per-language corpus budget (doc count, BPE token
    * total, mean quality). The point is COMPOSITION: the dedup and text
    * operators chain into one declarative plan — a single dedup shuffle,
    * purely map-side scoring/filtering/tagging, and one final partial+
    * final aggregation — exactly the shape a 100 TB training-data
    * curation pass wants (no intermediate materialization, no
    * driver-side loop). Mean quality goes through an exact decimal sum
    * so the oracle compare is bit-stable across partitionings.
    */
  def x19PipelineStats(s: SparkSession, dir: String): DataFrame = {
    val deduped = Dedup.exact(docs(s, dir), "doc_id", "text")
    val scored = deduped
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
      .filter(col("quality") >= 0.5)
      .withColumn("lang_id", TextFunctions.langId(col("text")))
      .withColumn("n_bpe", TextFunctions.bpeTokenCount(col("text")))
    scored.groupBy(col("lang_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bpe")).cast("long").as("total_bpe_tokens"),
        (sum(col("quality").cast("decimal(38,6)")).cast("double") /
          count(lit(1))).as("avg_quality"))
      .orderBy(col("lang_id"))
  }

  /** x20: duplicate CLUSTERS from the exact Jaccard pairs — connected
    * components via distributed min-label propagation
    * ([[graft.operators.ConnectedComponents]]). Pairs say "these two are
    * dups"; clusters say "keep ONE representative of this whole group",
    * which is what a dedup pass actually deletes by. cluster_id = min
    * doc_id of the component (deterministic canonical representative).
    */
  def x20DedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.jaccardShinglePairs(docs(s, dir), "doc_id", "text",
      k = 3, threshold = 0.6)
    graft.operators.ConnectedComponents.clusters(pairs, "id1", "id2")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** x68: INCREMENTAL cluster maintenance — the daily-batch form of
    * x20: the corpus (doc_id % 7 ≠ 0) is clustered once (the prior
    * state a service persists), the delta batch's pairs come from the
    * incremental pair operator, and
    * [[graft.operators.ConnectedComponents.incrementalClusters]]
    * merges them into the assignment WITHOUT re-clustering the corpus
    * — only a delta-sized quotient CC plus one relabel join. The
    * result provably equals re-clustering the merged pair set, so the
    * oracle is x20's recursive-closure statement over ALL documents,
    * verbatim.
    */
  def x68IncrementalClusters(s: SparkSession, dir: String): DataFrame = {
    val (assignment, deltaPairs) = x68Fixture(s, dir)
    graft.operators.ConnectedComponents
      .incrementalClusters(assignment, deltaPairs, "id1", "id2")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  private val x68FixtureLock = new Object

  /** x68's input state, persisted once per sf dir: the PRIOR cluster
    * assignment (what a maintenance service reads from yesterday's
    * state, here derived deterministically from the corpus slice so
    * the oracle equality holds verbatim) and the delta batch's pairs
    * (x59's operator, measured there). The first call per JVM+dir
    * builds and persists both; every later call reads the parquet — so
    * min-of-N bench passes and the scale-trend harness time the
    * MAINTENANCE OPERATOR (delta-sized quotient CC + one relabel
    * join), not the corpus re-clustering the operator exists to avoid.
    * [[graft.Bench]] and [[graft.tools.ScaleTrend]] additionally call
    * this as an explicit untimed setup step.
    */
  /** Bump when the x68 fixture writer below changes shape. */
  private val X68FixtureVersion = 1

  def x68Fixture(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    x68FixtureLock.synchronized {
      val key = fixtureKey(dir, X68FixtureVersion)
      val base =
        s"${System.getProperty("java.io.tmpdir")}/graft_x68_fixture_$key"
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val done = new org.apache.hadoop.fs.Path(s"$base/_DONE")
      if (!fs.exists(done)) {
        val d = docs(s, dir)
        val corpus = d.filter(col("doc_id") % 7 =!= 0)
        val delta = d.filter(col("doc_id") % 7 === 0)
        graft.operators.ConnectedComponents.clusters(
          Dedup.jaccardShinglePairs(corpus, "doc_id", "text",
            k = 3, threshold = 0.6), "id1", "id2")
          .write.mode("overwrite").parquet(s"$base/assignment.parquet")
        Dedup.jaccardShinglePairsAgainst(corpus, delta, "doc_id", "text",
            k = 3, threshold = 0.6)
          .write.mode("overwrite").parquet(s"$base/delta_pairs.parquet")
        fs.create(done).close()
      }
      (s.read.parquet(s"$base/assignment.parquet"),
        s.read.parquet(s"$base/delta_pairs.parquet"))
    }

  /** x46: canonical dedup output — one REPRESENTATIVE per near-dup
    * cluster (min doc_id; docs in no pair are their own singleton
    * cluster), carrying the cluster size as a weight. This is the frame
    * a curation pipeline actually trains from: duplicates dropped, the
    * survivor weighted by how many copies it stood for (loss weighting /
    * repeat-factor correction). One left join of the corpus against the
    * x20 labels + a cluster-keyed agg — nothing beyond x20's own cost.
    */
  def x46DedupRepresentatives(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.jaccardShinglePairs(docs(s, dir), "doc_id", "text",
      k = 3, threshold = 0.6)
    val labels = graft.operators.ConnectedComponents
      .clusters(pairs, "id1", "id2")
      .select(col("id").as("doc_id"), col("label").as("cid"))
    docs(s, dir).select(col("doc_id"), col("n_chars"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cid"), col("doc_id")))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        sum(col("n_chars")).cast("long").as("cluster_chars"))
      .select(col("cluster_id").as("doc_id"), col("cluster_size"),
        col("cluster_chars"))
      .orderBy(col("doc_id"))
  }

  /** x56: the x20 duplicate clusters computed by ALTERNATING STAR
    * CONTRACTION ([[graft.operators.ConnectedComponents
    * .clustersStarContraction]], Kiveris et al. SoCC'14) instead of
    * min-label propagation — the escalation path for graphs whose
    * component diameter is unbounded (min-label needs O(diameter)
    * rounds; star contraction needs O(log n) alternations). The output
    * contract is identical — (doc_id, cluster_id = component min) — so
    * the same recursive-CTE oracle checks both engine paths.
    */
  def x56DedupClustersStar(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.jaccardShinglePairs(docs(s, dir), "doc_id", "text",
      k = 3, threshold = 0.6)
    graft.operators.ConnectedComponents
      .clustersStarContraction(pairs, "id1", "id2")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** x57: duplicated n-gram coverage — per doc, how much of it is
    * 3-gram material that also appears verbatim in other documents
    * ([[graft.operators.Dedup.duplicatedNgramCoverage]], the
    * measurement side of Lee-et-al exact-substring dedup). Exact
    * integer occurrence counts + basis points, so the DuckDB oracle
    * reproduces it bit-for-bit.
    */
  def x57DupNgramCoverage(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedNgramCoverage(docs(s, dir), "doc_id", "text", k = 3)
      .select(col("id").as("doc_id"), col("n_shingles"), col("n_dup"),
        col("dup_bp"))
      .orderBy(col("doc_id"))

  /** x58: duplicated n-gram REMOVAL — the acting side of x57
    * ([[graft.operators.Dedup.removeDuplicatedNgrams]]): tokens covered
    * by cross-document 3-grams dropped, docs rebuilt in normalized
    * token space with exact before/after counts. String rebuild +
    * integer counts → bit-for-bit DuckDB oracle.
    */
  def x58RemoveDupNgrams(s: SparkSession, dir: String): DataFrame =
    Dedup.removeDuplicatedNgrams(docs(s, dir), "doc_id", "text", k = 3)
      .select(col("id").as("doc_id"), col("clean_text"), col("n_tokens"),
        col("n_kept"))
      .orderBy(col("doc_id"))

  /** x59: incremental dedup — the daily-increment pattern. Docs with
    * doc_id ≡ 0 (mod 7) play the arriving delta batch, the rest the
    * existing corpus; [[graft.operators.Dedup.jaccardShinglePairsAgainst]]
    * emits exactly the delta-touching Jaccard pairs with NO
    * corpus×corpus candidate work. The oracle computes ALL pairs and
    * filters to delta-touching — same answer, the full quadratic way.
    */
  def x59IncrementalJaccard(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.jaccardShinglePairsAgainst(
        d.filter(col("doc_id") % 7 =!= 0),
        d.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", k = 3, threshold = 0.6)
      .orderBy(col("id1"), col("id2"))
  }

  /** x60: incremental MinHash-LSH dedup — x59's daily-increment pattern
    * at LSH scale ([[graft.operators.Dedup.minHashPairsAgainst]]): only
    * buckets a delta doc landed in generate candidates, so pure-corpus
    * buckets are pruned before any pair work. Probabilistic (banded
    * recall) → no SQL oracle; subset-of-exact-incremental and planted
    * recall are spec-asserted.
    */
  def x60IncrementalLsh(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.minHashPairsAgainst(
        d.filter(col("doc_id") % 7 =!= 0),
        d.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", k = 3, numHashes = 64, bands = 16,
        threshold = 0.6)
      .orderBy(col("id1"), col("id2"))
  }

  /** x61: product-quantization ANN top-5
    * ([[graft.operators.SimilaritySearch.pqTopK]], Jégou et al. TPAMI'11)
    * — 8 subspaces × 16 centroids compress each 64-dim vector to 8
    * codes (64× memory), queries score via compiled ADC table lookups.
    * Codebooks train on a HALF-rate deterministic hash sample
    * (`trainFraction = 0.5`) so the checked surface exercises the
    * sampled-training branch the 100 TB story depends on — the sample
    * is a pure map-side filter, so the result stays run-deterministic.
    * Probabilistic compression → no SQL oracle; the lossless regime,
    * recall floors, and determinism are spec-asserted.
    */
  def x61KnnPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimilaritySearch.pqTopK(e, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, trainFraction = 0.5)
      .orderBy(col("query_id"), col("rk"))
  }

  /** x62: the x59 daily-increment answer served from a PERSISTED dedup
    * index ([[graft.operators.DedupIndex]]): the corpus-side state
    * (shingle sets, document frequencies, prefix rows, LSH buckets) is
    * built once into a collection-backed index — the build cost is
    * timed as part of this query; a real service amortizes it across
    * every future delta batch — and the delta batch is then answered
    * WITHOUT rescanning the corpus source (plan-asserted in the spec
    * suite). Output is identical to x59, so it shares x59's oracle:
    * the frozen corpus-df prefix order changes candidate generation,
    * never the exact-verified pairs.
    */
  /** One stable scratch path per (query, sf dir): repeated invocations
    * (bench warmup + 3 passes, Verify) OVERWRITE the same index instead
    * of leaking one corpus-sized temp copy per call.
    */
  private def scratchIndexPath(tag: String, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_")

  def x62IndexedIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val idx = graft.operators.DedupIndex.build(
      d.filter(col("doc_id") % 7 =!= 0), "doc_id", "text", k = 3,
      threshold = 0.6, path = scratchIndexPath("x62_idx", dir))
    idx.jaccardPairsAgainst(d.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", 0.6)
      .orderBy(col("id1"), col("id2"))
  }

  /** x63: PQ ANN served from a PERSISTED index
    * ([[graft.operators.PqIndex]]): codebooks + encoded corpus built
    * once into a collection-backed index (build timed as part of this
    * query; a service amortizes it), then queries score through the
    * loaded codebooks with NO training or encode job on the query path
    * (plan-asserted). Same parameters as x61 → byte-equal results
    * (spec-asserted); engine-side k-means → no SQL oracle, like x61.
    */
  def x63KnnPqIndexed(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val idx = graft.operators.PqIndex.build(e, "vec_id", "embedding",
      trainFraction = 0.5, path = scratchIndexPath("x63_idx", dir))
      .getOrElse(sys.error("empty embeddings table"))
    idx.topK(e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rk"))
  }

  /** x113: ANN served from the COMPOSED IVF-PQ residual index
    * ([[graft.operators.IvfPqIndex]], Jégou et al. TPAMI'11 §IV —
    * IVFADC): coarse cells prune the scan to `nProbe` Hive partitions
    * AND each pruned row is a product-quantized RESIDUAL scanned via
    * compiled ADC lookups — the deployable 100 TB embedding layout
    * (flat PQ scans every code per query; raw IVF stores full-width
    * vectors). Build is timed as part of the query, like x62/x63;
    * codebooks and centroids train on a half-rate deterministic hash
    * sample. Engine-side k-means → no SQL oracle (the x61/x63
    * justification); the lossless-regime byte-equality vs exact brute
    * force, recall floor on planted twins, partition pruning, and the
    * full lifecycle are spec-asserted (AnnIndexSpec).
    */
  def x113KnnIvfPqIndexed(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val idx = graft.operators.IvfPqIndex.build(e, "vec_id", "embedding",
      nCells = 16, numSubspaces = 8, nCentroids = 16,
      trainFraction = 0.5, path = scratchIndexPath("x113_idx", dir))
      .getOrElse(sys.error("empty embeddings table"))
    idx.topK(e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5,
        nProbe = 4)
      .orderBy(col("query_id"), col("rk"))
  }

  /** x114: CONTIGUOUS trainer shards ([[graft.io.TrainerShards]]) —
    * materialized training sequences written as the flat mmap-able
    * tokens-blob + offsets-sidecar pair a data loader actually opens
    * (Megatron-style public format), one file pair per stratum in
    * deterministic seq_id order, published by the crash-safe
    * [[graft.core.Publish]] swap. The query WRITES the shards, then reads the published blobs
    * back through the binaryFile source and states their bytes: under
    * the zero-merge byte configuration (the x96 identity) each
    * stratum's width-1 blob is LITERALLY the concatenation of its
    * documents' text bytes in id order, so the oracle restates file
    * sizes, sequence counts, and the blob md5 from the documents table
    * alone — the on-disk artifact is oracle-checked end to end.
    */
  def x114TrainerShards(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    val seqs = graft.operators.Packing.materializeSequences(d, "doc_id",
      "text", "lang", seqLen = 512, merges = Nil,
      tokenPattern = TextFunctions.bpeBytePatternFull)
    val out = scratchIndexPath("x114_shards", dir)
    val manifest = graft.io.TrainerShards.write(seqs, "lang", "seq_id",
      "token_ids", width = 1, out)
    val blobs = s.read.format("binaryFile").load(out + "/*.tokens")
      .select(
        regexp_extract(col("path"), "([^/]+)\\.tokens$", 1).as("file"),
        md5(col("content")).as("content_md5"),
        col("length").as("blob_bytes"))
    manifest.join(blobs, Seq("file"))
      .select(col("stratum").as("lang"), col("n_sequences"),
        col("n_tokens"), col("token_bytes"), col("blob_bytes"),
        col("content_md5"))
      .orderBy(col("lang"))
  }

  /** The shared width-1 zero-merge shard set over the documents
    * table — the artifact x116–x119 all read or annotate, built ONCE
    * per (dir, version) under a `_DONE`-marked fixture path (the x84
    * device): the sidecar queries then time THEIR level of the
    * artifact (read-back, epoch order, blend), not a redundant
    * rebuild of the level below. x114 deliberately keeps its own
    * write — timing the shard WRITER is its point, and its oracle
    * checks that write's bytes. Epoch orders and blends are still
    * (re)published by each query that needs them: those writes swap
    * atomically and are byte-deterministic per (seed, epoch, weights,
    * factors), AND each query owns a DISTINCT epoch number (x117→1,
    * x118→2, x119→3) so their artifacts never alias: writeEpochOrder
    * retires the epoch dir (blend included) on republish, and a lazy
    * frame from one query executed after another query's swap must
    * still read its own files.
    */
  private val shardFixtureLock = new Object
  private val ShardFixtureVersion = 1
  private def sharedShardSet(s: SparkSession, dir: String): String =
    shardFixtureLock.synchronized {
      val key = fixtureKey(dir, ShardFixtureVersion)
      val base = s"${System.getProperty("java.io.tmpdir")}/" +
        s"graft_shard_fixture_$key"
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val done = new org.apache.hadoop.fs.Path(s"$base/_DONE")
      if (!fs.exists(done)) {
        val d = docs(s, dir).filter(col("text").isNotNull)
        val seqs = graft.operators.Packing.materializeSequences(d,
          "doc_id", "text", "lang", seqLen = 512, merges = Nil,
          tokenPattern = TextFunctions.bpeBytePatternFull)
        graft.io.TrainerShards.write(seqs, "lang", "seq_id",
          "token_ids", width = 1, s"$base/shards")
        fs.create(done).close()
      }
      s"$base/shards"
    }

  /** The TWO-EPOCH bound-run fixture for x120 — its own shard set
    * (never the x116–x119 one: a run manifest at a shard root binds
    * ALL epoch directories there, so the run fixture must own its
    * root): width-1 zero-merge shards over the documents table,
    * epochs 1 and 2 (seed "run", first-letter weights, no factors),
    * blends for both, `_RUN.json` binding [1, 2]. Built ONCE under a
    * `_DONE`-marked path; x120 then times the RESUME READ, not the
    * build — the build-once/read-many shape a real training run has.
    */
  private def runShardSet(s: SparkSession, dir: String): String =
    shardFixtureLock.synchronized {
      val key = fixtureKey(dir, ShardFixtureVersion)
      val base = s"${System.getProperty("java.io.tmpdir")}/" +
        s"graft_run_fixture_$key"
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val done = new org.apache.hadoop.fs.Path(s"$base/_DONE")
      if (!fs.exists(done)) {
        val d = docs(s, dir).filter(col("text").isNotNull)
        val seqs = graft.operators.Packing.materializeSequences(d,
          "doc_id", "text", "lang", seqLen = 512, merges = Nil,
          tokenPattern = TextFunctions.bpeBytePatternFull)
        val out = s"$base/shards"
        graft.io.TrainerShards.write(seqs, "lang", "seq_id",
          "token_ids", width = 1, out)
        val weights = graft.io.TrainerShards.listShards(s, out)
          .map(l => l -> (1.0 + 0.5 * (l.charAt(0) - 'a' + 1))).toMap
        Seq(1, 2).foreach { e =>
          graft.io.TrainerShards.writeEpochOrder(s, out, seed = "run",
            epoch = e)
          graft.io.TrainerShards.writeBlendSchedule(s, out, epoch = e,
            weights)
        }
        graft.io.TrainerShards.writeRunManifest(s, out, Seq(1, 2))
        fs.create(done).close()
      }
      s"$base/shards"
    }

  /** x120: the RUN-level artifact — `_RUN.json` binds the two bound
    * epochs into one consumption sequence, and
    * [[graft.io.TrainerShards.readInRunOrder]] resumes a trainer
    * checkpointed at run step ⌊2T/3⌋ — INSIDE epoch 1 — across the
    * epoch boundary from the published files alone: the rest of epoch
    * 1's blend plus all of epoch 2's, each step resolved through its
    * OWN epoch's permutation to its `.ord` position. The oracle
    * restates the entire thing from the documents table: counts via
    * the x114 packing arithmetic, the x118 closed-form interleave per
    * epoch, per-epoch md5 permutations, the prefix-sum run offset,
    * and the same ⌊2T/3⌋ cutoff — so the cross-epoch resume
    * arithmetic is oracle-certified end to end, not just
    * spec-asserted.
    */
  def x120RunResume(s: SparkSession, dir: String): DataFrame = {
    val out = runShardSet(s, dir)
    graft.io.TrainerShards.verifyRun(s, out)
    val (metas, _) = graft.io.TrainerShards.readRunMeta(s, out)
    // the checkpoint: two thirds into epoch 1 (both epochs have the
    // same total — same counts, same weights)
    val g = 2L * metas.head.totalSteps / 3L
    graft.io.TrainerShards.readInRunOrder(s, out, afterStep = g)
      .select(col("run_step"), col("epoch"),
        col("stratum").as("lang"), col("rank"), col("pos"))
      .orderBy(col("run_step"))
  }

  /** The x121/x123 fixture tokenizer: scored letter/bigram pieces,
    * the Llama normalizer pair (Prepend "▁" + Replace " "→"▁"),
    * `byte_fallback` with the FULL `<0xNN>` alphabet — so every
    * character of every document is representable and the encode is
    * lossless up to the marker rewrite (the x123 oracle's statement).
    */
  private def unigramFixtureTok(s: SparkSession, dir: String)
      : graft.operators.Unigram.UnigramTokenizer = {
    val letters = Seq(
      "e" -> -2.8, "t" -> -2.9, "a" -> -3.0, "o" -> -3.1,
      "n" -> -3.2, "i" -> -3.3, "s" -> -3.4, "r" -> -3.5,
      "h" -> -3.6, "l" -> -3.7, "d" -> -3.8, "▁the" -> -5.0,
      "▁a" -> -3.9, "▁to" -> -5.2, "the" -> -6.0, "ing" -> -6.2,
      "er" -> -5.4, "an" -> -5.5, "on" -> -5.6, "at" -> -5.7)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val vocab = mapper.createArrayNode()
    def piece(p: String, sc: Double): Unit = {
      val e = mapper.createArrayNode(); e.add(p); e.add(sc)
      vocab.add(e)
    }
    piece("<unk>", 0.0); piece("▁", -2.5)
    (0 until 256).foreach(b => piece(f"<0x$b%02X>", -12.0))
    letters.foreach { case (p, sc) => piece(p, sc) }
    val root = mapper.readTree(
      """{"version": "1.0",
        | "normalizer": {"type": "Sequence", "normalizers": [
        |   {"type": "Prepend", "prepend": "▁"},
        |   {"type": "Replace", "pattern": {"String": " "},
        |    "content": "▁"}]},
        | "pre_tokenizer": null, "post_processor": null,
        | "model": {"type": "Unigram", "unk_id": 0,
        |   "byte_fallback": true}}""".stripMargin)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.get("model")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .set[com.fasterxml.jackson.databind.JsonNode]("vocab", vocab)
    val path = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_unigram_${fixtureKey(dir, 1)}.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      mapper.writeValueAsBytes(root))
    graft.operators.Unigram.loadTokenizerJson(s, path)
  }

  /** x121: Unigram (sentencepiece-class) encode over the documents
    * corpus — the Llama-family tokenizer lineage: the
    * [[unigramFixtureTok]] `tokenizer.json` loads through
    * [[graft.operators.Unigram.loadTokenizerJson]] and encodes
    * map-side through the compiled Viterbi kernel
    * ([[graft.expressions.UnigramEncodeIds]]) — zero shuffles on the
    * encode leg. NO SQL ORACLE: Viterbi max-likelihood segmentation
    * is an iterative DP a relational restatement cannot express
    * (the x75/x76 justification class); the semantics are gated by
    * UnigramSpec's hand-computed lattice fixtures instead, and the
    * END-TO-END losslessness of the same encode is oracle-checked by
    * x123's roundtrip. Output is (doc_id, n_tokens, ids_md5) —
    * deterministic bytes, so drift still shows as a hash change in
    * the rows-only record.
    */
  def x121UnigramEncode(s: SparkSession, dir: String): DataFrame = {
    val tok = unigramFixtureTok(s, dir)
    graft.operators.Unigram.encodeIds(
      docs(s, dir).filter(col("text").isNotNull), "doc_id", "text",
      tok)
      .select(col("doc_id"),
        size(col("token_ids")).cast("long").as("n_tokens"),
        md5(graft.expressions.GraftFunctions.packedTokenBinary(
          col("token_ids"), width = 2)).as("ids_md5"))
      .orderBy(col("doc_id"))
  }

  /** x123: Unigram encode→decode round trip, ORACLE-CHECKED — the
    * x92 precedent applied to the sentencepiece lineage: every
    * document encodes through the compiled Viterbi kernel and
    * decodes through the compiled [[graft.expressions
    * .UnigramDecodeIds]] kernel (both zero-shuffle projections).
    * Under the [[unigramFixtureTok]] pipeline the composition is
    * EXACTLY `replace(text, '▁', ' ')` — the Prepend "▁" the decode
    * drops, the Replace " "→"▁" the decode un-renders (mapping any
    * literal "▁" in the input to a space too, which the oracle
    * states verbatim), and the full `<0xNN>` byte alphabet making
    * every unknown span losslessly representable. A wrong lattice
    * backtrace, a mis-fused unknown, a dropped byte piece, or a
    * decode drift anywhere hash-mismatches; `n_chars` (code points
    * both engines count independently) pins the length.
    */
  def x123UnigramRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tok = unigramFixtureTok(s, dir)
    val decoded = graft.operators.Unigram.decodeColumn(
      graft.operators.Unigram.encodeColumn(col("text"), tok), tok)
    docs(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), md5(decoded).as("roundtrip_md5"),
        length(decoded).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** x122: WordPiece (BERT-class) encode over the documents corpus —
    * the third tokenizer lineage: a constructed BERT-style
    * `tokenizer.json` (full a–z/0–9 base alphabet + `##`
    * continuations so every lowercase alphanumeric word encodes
    * without unk, common-word entries exercising the greedy
    * longest-match, the BertNormalizer pipeline, BertPreTokenizer,
    * and the `[CLS] $A [SEP]` template) loads through
    * [[graft.operators.WordPiece.loadTokenizerJson]] and encodes
    * map-side through the compiled greedy kernel. NO SQL ORACLE:
    * greedy longest-match-first is an iterative per-word procedure
    * (the x121/x75 justification class), gated by WordPieceSpec's
    * hand-computed fixtures; output is deterministic
    * (doc_id, n_tokens, ids_md5).
    */
  def x122WordPieceEncode(s: SparkSession, dir: String): DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val vocab = mapper.createObjectNode()
    var nextId = 0L
    def put(t: String): Unit = { vocab.put(t, nextId); nextId += 1 }
    Seq("[UNK]", "[CLS]", "[SEP]").foreach(put)
    ('a' to 'z').foreach(c => put(c.toString))
    ('a' to 'z').foreach(c => put("##" + c))
    ('0' to '9').foreach(c => put(c.toString))
    ('0' to '9').foreach(c => put("##" + c))
    Seq(".", ",", "!", "?", "'", "-", ":", ";").foreach(put)
    Seq("the", "##ing", "##ed", "##er", "##es", "and", "of", "to")
      .foreach(put)
    val root = mapper.readTree(
      """{"version": "1.0",
        | "normalizer": {"type": "BertNormalizer", "clean_text": true,
        |   "handle_chinese_chars": true, "strip_accents": null,
        |   "lowercase": true},
        | "pre_tokenizer": {"type": "BertPreTokenizer"},
        | "post_processor": {"type": "BertProcessing",
        |   "sep": ["[SEP]", 2], "cls": ["[CLS]", 1]},
        | "model": {"type": "WordPiece", "unk_token": "[UNK]",
        |   "continuing_subword_prefix": "##",
        |   "max_input_chars_per_word": 100}}""".stripMargin)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.get("model")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .set[com.fasterxml.jackson.databind.JsonNode]("vocab", vocab)
    val path = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_wordpiece_${fixtureKey(dir, 1)}.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      mapper.writeValueAsBytes(root))
    val tok = graft.operators.WordPiece.loadTokenizerJson(s, path)
    graft.operators.WordPiece.encodeIds(
      docs(s, dir).filter(col("text").isNotNull), "doc_id", "text",
      tok)
      .select(col("doc_id"),
        size(col("token_ids")).cast("long").as("n_tokens"),
        md5(graft.expressions.GraftFunctions.packedTokenBinary(
          col("token_ids"), width = 1)).as("ids_md5"))
      .orderBy(col("doc_id"))
  }

  /** x124: WordPiece encode→decode round trip, ORACLE-CHECKED — the
    * x92 precedent for the BERT lineage. WordPiece is LOSSY across
    * its normalizer (case/whitespace discarded), so the identity is
    * stated on a pre-cleaned input BOTH engines can compute: strip
    * every non-[A-Za-z0-9 ] character to a space (Spark side, before
    * the encode), then the Bert pipeline's lowercase is plain ASCII
    * `lower` and its whitespace split + the decoder's space-join is
    * exactly `trim` + collapse-runs — all four DuckDB-statable. The
    * fixture vocab carries the FULL a–z/0–9 alphabet with `##`
    * continuations (greedy matching can always fall to single
    * characters, so no word ever goes unk; `max_input_chars_per_word`
    * is raised to 100000 so no run-length cliff exists), plus
    * multi-char entries exercising the longest-match path, and no
    * template (ids are pure content). A greedy mis-match, a wrong
    * continuation attach, or a decode drift hash-mismatches;
    * `n_chars` pins the length.
    */
  def x124WordPieceRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val vocab = mapper.createObjectNode()
    var nextId = 0L
    def put(t: String): Unit = { vocab.put(t, nextId); nextId += 1 }
    put("[UNK]")
    ('a' to 'z').foreach(c => put(c.toString))
    ('a' to 'z').foreach(c => put("##" + c))
    ('0' to '9').foreach(c => put(c.toString))
    ('0' to '9').foreach(c => put("##" + c))
    Seq("the", "##ing", "##ed", "##er", "##es", "and", "of", "to")
      .foreach(put)
    val root = mapper.readTree(
      """{"version": "1.0",
        | "normalizer": {"type": "BertNormalizer", "clean_text": true,
        |   "handle_chinese_chars": true, "strip_accents": null,
        |   "lowercase": true},
        | "pre_tokenizer": {"type": "BertPreTokenizer"},
        | "post_processor": null,
        | "model": {"type": "WordPiece", "unk_token": "[UNK]",
        |   "continuing_subword_prefix": "##",
        |   "max_input_chars_per_word": 100000}}""".stripMargin)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.get("model")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .set[com.fasterxml.jackson.databind.JsonNode]("vocab", vocab)
    val path = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_wordpiece_rt_${fixtureKey(dir, 1)}.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      mapper.writeValueAsBytes(root))
    val tok = graft.operators.WordPiece.loadTokenizerJson(s, path)
    val cleaned = regexp_replace(col("text"), "[^A-Za-z0-9 ]", " ")
    val decoded = graft.operators.WordPiece.decodeColumn(
      graft.operators.WordPiece.encodeColumn(cleaned, tok), tok)
    docs(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), md5(decoded).as("roundtrip_md5"),
        length(decoded).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** x125: WordPiece TRAINING, oracle-checked end to end — the
    * [[graft.operators.WordPiece.train]] wordcount builder (the
    * published likelihood-scored merge loop) fitted on the cleaned
    * corpus itself, saved to `tokenizer.json`, RELOADED, and driven
    * through the x124 roundtrip: the trainer's full-histogram
    * alphabet guarantees corpus coverage (no word can go unk), so
    * decode(encode(clean(text))) must equal trim+collapse of
    * lower(clean(text)) — the same DuckDB-statable identity, now
    * certifying the TRAINED artifact instead of a constructed one. A
    * coverage gap, a malformed merge, a broken save→load, or any
    * greedy/decode drift under the fitted vocabulary hash-mismatches.
    * (The merge CHOICES themselves are pinned by WordPieceSpec's
    * hand-computed likelihood fixture — the x75/x91 split: iterative
    * argmax by spec, end results by oracle.)
    */
  def x125WordPieceTrainRoundtrip(s: SparkSession, dir: String)
      : DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    val cleaned = regexp_replace(col("text"), "[^A-Za-z0-9 ]", " ")
    val trained = graft.operators.WordPiece.train(
      d.select(cleaned.as("text")), "text", vocabSize = 500,
      minFrequency = 2L, maxInputCharsPerWord = 100000)
    val path = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_wp_trained_${fixtureKey(dir, 1)}.json"
    graft.operators.WordPiece.saveTokenizerJson(s, trained, path)
    val tok = graft.operators.WordPiece.loadTokenizerJson(s, path)
    val decoded = graft.operators.WordPiece.decodeColumn(
      graft.operators.WordPiece.encodeColumn(cleaned, tok), tok)
    d.select(col("doc_id"), md5(decoded).as("roundtrip_md5"),
        length(decoded).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** x127: WordPiece PAIR encode (the BERT two-sequence form),
    * oracle-checked — `encodePair` under the `[CLS] $A [SEP] $B:1
    * [SEP]:1` template, on planted halves of each document (the x103
    * construction: A = first half, B = second half, both pre-cleaned
    * to the x124 alphabet). The TYPE IDS are verified semantically:
    * the type-0 content slice must decode to exactly clean(A) and
    * the type-1 slice to clean(B) (one misplaced segment boundary,
    * one mistyped special, or one content token under the wrong type
    * breaks a hash), and the full decode must equal their
    * space-join — all statable in DuckDB with substr arithmetic and
    * the x124 cleaning chain, no tokenizer at all.
    */
  def x127WordPiecePairRoundtrip(s: SparkSession, dir: String)
      : DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val vocab = mapper.createObjectNode()
    var nextId = 0L
    def put(t: String): Unit = { vocab.put(t, nextId); nextId += 1 }
    Seq("[UNK]", "[CLS]", "[SEP]").foreach(put)
    ('a' to 'z').foreach(c => put(c.toString))
    ('a' to 'z').foreach(c => put("##" + c))
    ('0' to '9').foreach(c => put(c.toString))
    ('0' to '9').foreach(c => put("##" + c))
    Seq("the", "##ing", "##ed", "and", "of", "to").foreach(put)
    val root = mapper.readTree(
      """{"version": "1.0",
        | "normalizer": {"type": "BertNormalizer", "clean_text": true,
        |   "handle_chinese_chars": true, "strip_accents": null,
        |   "lowercase": true},
        | "pre_tokenizer": {"type": "BertPreTokenizer"},
        | "post_processor": {"type": "TemplateProcessing",
        |   "single": [
        |     {"SpecialToken": {"id": "[CLS]", "type_id": 0}},
        |     {"Sequence": {"id": "A", "type_id": 0}},
        |     {"SpecialToken": {"id": "[SEP]", "type_id": 0}}],
        |   "pair": [
        |     {"SpecialToken": {"id": "[CLS]", "type_id": 0}},
        |     {"Sequence": {"id": "A", "type_id": 0}},
        |     {"SpecialToken": {"id": "[SEP]", "type_id": 0}},
        |     {"Sequence": {"id": "B", "type_id": 1}},
        |     {"SpecialToken": {"id": "[SEP]", "type_id": 1}}],
        |   "special_tokens": {
        |     "[CLS]": {"id": "[CLS]", "ids": [1],
        |       "tokens": ["[CLS]"]},
        |     "[SEP]": {"id": "[SEP]", "ids": [2],
        |       "tokens": ["[SEP]"]}}},
        | "model": {"type": "WordPiece", "unk_token": "[UNK]",
        |   "continuing_subword_prefix": "##",
        |   "max_input_chars_per_word": 100000}}""".stripMargin)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.get("model")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .set[com.fasterxml.jackson.databind.JsonNode]("vocab", vocab)
    val path = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_wordpiece_pair_${fixtureKey(dir, 1)}.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      mapper.writeValueAsBytes(root))
    val tok = graft.operators.WordPiece.loadTokenizerJson(s, path)
    val n = length(col("text"))
    val h = (n / 2).cast("int")
    def clean(c: org.apache.spark.sql.Column) =
      regexp_replace(c, "[^A-Za-z0-9 ]", " ")
    val (ids, types) = graft.operators.WordPiece.encodePairColumns(
      clean(col("text").substr(lit(1), h)),
      clean(col("text").substr(h + 1, n)), tok)
    val zipped = zip_with(ids, types,
      (i, t) => struct(i.as("i"), t.as("t")))
    def sliceText(typeId: Int) =
      graft.operators.WordPiece.decodeColumn(
        transform(filter(zipped, e => e.getField("t") === typeId),
          e => e.getField("i")), tok)
    val full = graft.operators.WordPiece.decodeColumn(ids, tok)
    docs(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), md5(full).as("pair_md5"),
        md5(sliceText(0)).as("a_md5"), md5(sliceText(1)).as("b_md5"),
        length(full).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** x128: WordPiece TRUNCATION + PADDING, oracle-checked — the
    * `tokenizer.json` `truncation` (LongestFirst, max_length 24) and
    * `padding` (Fixed 24, `[PAD]`) blocks HONORED end to end, the
    * round-17 loader-contract gap closed the honest way. The fixture
    * vocab carries ONLY single characters (`a`–`z`/`0`–`9` bare +
    * `##` continuations), so a planted single-word sequence of k
    * characters encodes to exactly k tokens and the whole pair
    * arithmetic is DuckDB-statable: A/B are per-doc substr halves
    * with doc_id-varied caps (so the fits / truncates / pads regimes
    * ALL occur across the corpus), the kept lengths follow the
    * published longest-first rule in its closed form
    * (`fa = min(la, max(ceil(n/2), n−lb))` — spec-pinned equal to
    * the iterative remove-from-longer rule), the kept content
    * decodes back to `substr(half, 1, f)`, and the pad count,
    * first-pad position and type-id SUM are pure arithmetic. One
    * wrong kept length, a pad in the wrong place, a mistyped pad, or
    * an unhonored block breaks a hash.
    */
  def x128WordPieceTruncPad(s: SparkSession, dir: String)
      : DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val vocab = mapper.createObjectNode()
    var nextId = 0L
    def put(t: String): Unit = { vocab.put(t, nextId); nextId += 1 }
    Seq("[UNK]", "[CLS]", "[SEP]", "[PAD]").foreach(put)
    ('a' to 'z').foreach(c => put(c.toString))
    ('a' to 'z').foreach(c => put("##" + c))
    ('0' to '9').foreach(c => put(c.toString))
    ('0' to '9').foreach(c => put("##" + c))
    val root = mapper.readTree(
      """{"version": "1.0",
        | "truncation": {"direction": "Right", "max_length": 24,
        |   "strategy": "LongestFirst", "stride": 0},
        | "padding": {"strategy": {"Fixed": 24}, "direction": "Right",
        |   "pad_to_multiple_of": null, "pad_id": 3, "pad_type_id": 0,
        |   "pad_token": "[PAD]"},
        | "normalizer": {"type": "BertNormalizer", "clean_text": true,
        |   "handle_chinese_chars": true, "strip_accents": null,
        |   "lowercase": true},
        | "pre_tokenizer": {"type": "BertPreTokenizer"},
        | "post_processor": {"type": "TemplateProcessing",
        |   "single": [
        |     {"SpecialToken": {"id": "[CLS]", "type_id": 0}},
        |     {"Sequence": {"id": "A", "type_id": 0}},
        |     {"SpecialToken": {"id": "[SEP]", "type_id": 0}}],
        |   "pair": [
        |     {"SpecialToken": {"id": "[CLS]", "type_id": 0}},
        |     {"Sequence": {"id": "A", "type_id": 0}},
        |     {"SpecialToken": {"id": "[SEP]", "type_id": 0}},
        |     {"Sequence": {"id": "B", "type_id": 1}},
        |     {"SpecialToken": {"id": "[SEP]", "type_id": 1}}],
        |   "special_tokens": {
        |     "[CLS]": {"id": "[CLS]", "ids": [1],
        |       "tokens": ["[CLS]"]},
        |     "[SEP]": {"id": "[SEP]", "ids": [2],
        |       "tokens": ["[SEP]"]}}},
        | "model": {"type": "WordPiece", "unk_token": "[UNK]",
        |   "continuing_subword_prefix": "##",
        |   "max_input_chars_per_word": 100}}""".stripMargin)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.get("model")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .set[com.fasterxml.jackson.databind.JsonNode]("vocab", vocab)
    val path = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_wordpiece_trunc_${fixtureKey(dir, 1)}.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      mapper.writeValueAsBytes(root))
    val tok = graft.operators.WordPiece.loadTokenizerJson(s, path)
    // planted single-word halves with doc_id-varied caps so the
    // fits / truncates / pads regimes ALL occur across the corpus
    val letters = lower(regexp_replace(col("text"), "[^A-Za-z0-9]",
      ""))
    val half = (length(letters) / 2).cast("int")
    val planted = docs(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        letters.substr(lit(1),
          least(half, (lit(2) + col("doc_id") % 23).cast("int")))
          .as("a"),
        letters.substr(half + 1,
          (lit(1) + col("doc_id") % 17).cast("int")).as("b"))
    val enc = graft.operators.WordPiece.encodePairWithMask(planted,
      "doc_id", "a", "b", tok)
    val padId = lit(3L)
    val withZip = enc.select(col("doc_id"), col("token_ids"),
      col("type_ids"), col("attention_mask"),
      zip_with(col("token_ids"), col("type_ids"),
        (i, t) => struct(i.as("i"), t.as("t"))).as("_z"))
    def kept(typeId: Int) = graft.operators.WordPiece.decodeColumn(
      transform(filter(col("_z"), e =>
        e.getField("t") === typeId && e.getField("i") =!= padId),
        e => e.getField("i")), tok)
    withZip.select(col("doc_id"),
        md5(kept(0)).as("a_md5"), md5(kept(1)).as("b_md5"),
        size(col("token_ids")).cast("long").as("n_ids"),
        size(filter(col("token_ids"), i => i === padId)).cast("long")
          .as("n_pad"),
        array_position(col("token_ids"), 3L).as("first_pad"),
        aggregate(col("type_ids"), lit(0L), (acc, t) => acc + t)
          .as("type_sum"),
        // the POSITIONAL attention mask: sum = pre-padding length
        // (template + kept content); first zero = the first pad
        // position (0 when nothing is padded) — together they pin
        // both the count and the placement of the mask's ones
        aggregate(col("attention_mask"), lit(0L), (acc, m) => acc + m)
          .as("mask_sum"),
        array_position(col("attention_mask"), 0L)
          .as("mask_first_zero"))
      .orderBy(col("doc_id"))
  }

  /** x129: WordPiece token OFFSETS, oracle-checked — the
    * `encodeWithOffsets` kernel emits `(id, start, end)` per token,
    * code-point spans into the NORMALIZED text (the string the Bert
    * pre-tokenizer scans — what makes the spans relationally
    * statable, and the view the span-task consumers this serves —
    * PII token masks, contamination span reports — operate on).
    * Under a single-character fixture vocab every non-space
    * character of the normalized text is exactly one token whose id
    * (bare vs `##` continuation) and 1-character span are pure
    * positional arithmetic — so DuckDB restates the ENTIRE per-token
    * stream (id:start:end, in order) from `generate_series` over the
    * cleaned text, no tokenizer at all. Multi-character spans, unk
    * spans and template spans are pinned by WordPieceSpec's hand
    * fixtures (the x121/x122 split: closed-form surface by oracle,
    * iterative-match semantics by spec).
    */
  /** The x129/x132 fixture: a SINGLE-CHARACTER WordPiece vocab
    * (`a–z0–9` bare at 1..26/53..62, `##` continuations at
    * 27..52/63..72, `[UNK]` 0), template-free — every non-space
    * character of normalized text is exactly one token, which is
    * what lets DuckDB restate offsets and spans positionally.
    */
  private def wordPieceCharFixtureTok(s: SparkSession, dir: String)
      : graft.operators.WordPiece.WordPieceTokenizer = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val vocab = mapper.createObjectNode()
    var nextId = 0L
    def put(t: String): Unit = { vocab.put(t, nextId); nextId += 1 }
    put("[UNK]")
    ('a' to 'z').foreach(c => put(c.toString))
    ('a' to 'z').foreach(c => put("##" + c))
    ('0' to '9').foreach(c => put(c.toString))
    ('0' to '9').foreach(c => put("##" + c))
    val root = mapper.readTree(
      """{"version": "1.0",
        | "normalizer": {"type": "BertNormalizer", "clean_text": true,
        |   "handle_chinese_chars": true, "strip_accents": null,
        |   "lowercase": true},
        | "pre_tokenizer": {"type": "BertPreTokenizer"},
        | "post_processor": null,
        | "model": {"type": "WordPiece", "unk_token": "[UNK]",
        |   "continuing_subword_prefix": "##",
        |   "max_input_chars_per_word": 100000}}""".stripMargin)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.get("model")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .set[com.fasterxml.jackson.databind.JsonNode]("vocab", vocab)
    val path = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_wordpiece_off_${fixtureKey(dir, 1)}.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      mapper.writeValueAsBytes(root))
    graft.operators.WordPiece.loadTokenizerJson(s, path)
  }

  def x129WordPieceOffsets(s: SparkSession, dir: String): DataFrame = {
    val tok = wordPieceCharFixtureTok(s, dir)
    val cleaned = regexp_replace(col("text"), "[^A-Za-z0-9 ]", " ")
    val withToks = docs(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.operators.WordPiece.encodeOffsetsColumn(cleaned, tok)
          .as("toks"))
    withToks.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        md5(concat_ws(",", transform(col("toks"), t => concat_ws(":",
          t.getField("id").cast("string"),
          t.getField("start").cast("string"),
          t.getField("end").cast("string"))))).as("offsets_md5"))
      .orderBy(col("doc_id"))
  }

  /** x130: Unigram token OFFSETS, oracle-checked — the x129
    * technique on the sentencepiece lineage: `encodeWithOffsets`
    * spans index the normalized-and-rewritten LATTICE string
    * (Prepend "▁" + Replace " "→"▁" — the view the Viterbi prices).
    * Under a single-character fixture vocab (`▁` + `a–z0–9`, full
    * coverage of the pre-cleaned input, no multi-char pieces) the
    * segmentation is forced single-char, so DuckDB restates the
    * ENTIRE id:start:end stream from `generate_series` over
    * `'▁' || replace(clean, ' ', '▁')` — including the Prepend
    * empty-input no-op, stated as a CASE. Lattice-chosen multi-char
    * spans, fused-unk spans and byte-fallback span semantics are
    * pinned by UnigramSpec hand fixtures (the x129 split).
    */
  def x130UnigramOffsets(s: SparkSession, dir: String): DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val vocab = mapper.createArrayNode()
    def piece(p: String, sc: Double): Unit = {
      val e = mapper.createArrayNode(); e.add(p); e.add(sc)
      vocab.add(e)
    }
    piece("<unk>", 0.0); piece("▁", -1.0)
    ('a' to 'z').foreach(c => piece(c.toString, -2.0))
    ('0' to '9').foreach(c => piece(c.toString, -2.5))
    val root = mapper.readTree(
      """{"version": "1.0",
        | "normalizer": {"type": "Sequence", "normalizers": [
        |   {"type": "Prepend", "prepend": "▁"},
        |   {"type": "Replace", "pattern": {"String": " "},
        |    "content": "▁"}]},
        | "pre_tokenizer": null, "post_processor": null,
        | "model": {"type": "Unigram", "unk_id": 0,
        |   "byte_fallback": false}}""".stripMargin)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.get("model")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .set[com.fasterxml.jackson.databind.JsonNode]("vocab", vocab)
    val path = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_unigram_off_${fixtureKey(dir, 1)}.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      mapper.writeValueAsBytes(root))
    val tok = graft.operators.Unigram.loadTokenizerJson(s, path)
    val cleaned = lower(regexp_replace(col("text"), "[^A-Za-z0-9 ]",
      " "))
    val withToks = docs(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.operators.Unigram.encodeOffsetsColumn(cleaned, tok)
          .as("toks"))
    withToks.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        md5(concat_ws(",", transform(col("toks"), t => concat_ws(":",
          t.getField("id").cast("string"),
          t.getField("start").cast("string"),
          t.getField("end").cast("string"))))).as("offsets_md5"))
      .orderBy(col("doc_id"))
  }

  /** x132: token-window chunking WITH SOURCE SPANS, oracle-checked —
    * [[graft.operators.Chunking.tokenWindowSpans]] over the x129
    * single-character fixture: window 16 / stride 8 chunks whose
    * `(char_start, char_end)` spans, token counts, id streams and
    * delimited SUBSTRINGS are all positional arithmetic DuckDB
    * restates from `generate_series` (token k = the k-th non-space
    * character; chunk cs covers tokens [cs, cs+16); its span is
    * [pos(cs), pos(last)] and its text `substr(normalized, ...)`).
    * The provenance property this certifies: every chunk's span
    * re-extracts EXACTLY the text the chunk was built from — the
    * attribution/contamination-report contract at 100 TB.
    */
  def x132ChunkSpans(s: SparkSession, dir: String): DataFrame = {
    val tok = wordPieceCharFixtureTok(s, dir)
    val cleaned = regexp_replace(col("text"), "[^A-Za-z0-9 ]", " ")
    val chunks = graft.operators.Chunking.tokenWindowSpans(
      docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), cleaned.as("t")),
      "doc_id", "t", tok, width = 16, stride = 8)
    chunks.select(col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_tokens"),
        col("char_start"), col("char_end"),
        md5(concat_ws(",", transform(col("chunk_ids"),
          x => x.cast("string")))).as("ids_md5"),
        md5(col("chunk_text")).as("text_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** x131: Unigram PAIR encode + truncation + padding + mask,
    * oracle-checked — the x128 statement for the sentencepiece
    * lineage: a single-character coverage vocab (`▁` + `a–z0–9`)
    * with `<s>`/`</s>` pair specials, a `[<s> $A </s> $B:1 </s>:1]`
    * template, LongestFirst truncation to 24 and Fixed-24 `<pad>`
    * padding. Each planted letters-only half h lattices to
    * `▁ + chars(h)` — exactly `1 + length(h)` tokens (0 when empty,
    * the Prepend no-op) — so the kept lengths, the kept-content
    * decodes (`substr(h, 1, f−1)` after the decoder drops the
    * prepended-space marker), pad count/position, type-id sum and
    * the positional mask are all DuckDB arithmetic. The three
    * template-carrying surfaces (WordPiece single/pair, Unigram
    * single/pair) now share ONE assembly home
    * ([[graft.operators.TokenizerSurface]]) — this entry
    * certifies that home under the second lineage end to end.
    */
  def x131UnigramPairTruncPad(s: SparkSession, dir: String)
      : DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val vocab = mapper.createArrayNode()
    def piece(p: String, sc: Double): Unit = {
      val e = mapper.createArrayNode(); e.add(p); e.add(sc)
      vocab.add(e)
    }
    piece("<unk>", 0.0); piece("▁", -1.0)
    ('a' to 'z').foreach(c => piece(c.toString, -2.0))
    ('0' to '9').foreach(c => piece(c.toString, -2.5))
    piece("<s>", -20.0); piece("</s>", -20.0); piece("<pad>", -20.0)
    val root = mapper.readTree(
      """{"version": "1.0",
        | "truncation": {"direction": "Right", "max_length": 24,
        |   "strategy": "LongestFirst", "stride": 0},
        | "padding": {"strategy": {"Fixed": 24}, "direction": "Right",
        |   "pad_to_multiple_of": null, "pad_id": 40, "pad_type_id": 0,
        |   "pad_token": "<pad>"},
        | "normalizer": {"type": "Sequence", "normalizers": [
        |   {"type": "Prepend", "prepend": "▁"},
        |   {"type": "Replace", "pattern": {"String": " "},
        |    "content": "▁"}]},
        | "pre_tokenizer": null,
        | "post_processor": {"type": "TemplateProcessing",
        |   "single": [
        |     {"SpecialToken": {"id": "<s>", "type_id": 0}},
        |     {"Sequence": {"id": "A", "type_id": 0}}],
        |   "pair": [
        |     {"SpecialToken": {"id": "<s>", "type_id": 0}},
        |     {"Sequence": {"id": "A", "type_id": 0}},
        |     {"SpecialToken": {"id": "</s>", "type_id": 0}},
        |     {"Sequence": {"id": "B", "type_id": 1}},
        |     {"SpecialToken": {"id": "</s>", "type_id": 1}}],
        |   "special_tokens": {
        |     "<s>": {"id": "<s>", "ids": [38], "tokens": ["<s>"]},
        |     "</s>": {"id": "</s>", "ids": [39],
        |       "tokens": ["</s>"]}}},
        | "model": {"type": "Unigram", "unk_id": 0,
        |   "byte_fallback": false}}""".stripMargin)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.get("model")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .set[com.fasterxml.jackson.databind.JsonNode]("vocab", vocab)
    val path = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_unigram_pair_${fixtureKey(dir, 1)}.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      mapper.writeValueAsBytes(root))
    val tok = graft.operators.Unigram.loadTokenizerJson(s, path)
    val letters = lower(regexp_replace(col("text"), "[^A-Za-z0-9]",
      ""))
    val half = (length(letters) / 2).cast("int")
    val planted = docs(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        letters.substr(lit(1),
          least(half, (lit(2) + col("doc_id") % 23).cast("int")))
          .as("a"),
        letters.substr(half + 1,
          (lit(1) + col("doc_id") % 17).cast("int")).as("b"))
    val enc = graft.operators.Unigram.encodePairWithMask(planted,
      "doc_id", "a", "b", tok)
    val padId = lit(40L)
    val specialIds = Seq(38L, 39L, 40L)
    val withZip = enc.select(col("doc_id"), col("token_ids"),
      col("type_ids"), col("attention_mask"),
      zip_with(col("token_ids"), col("type_ids"),
        (i, t) => struct(i.as("i"), t.as("t"))).as("_z"))
    def kept(typeId: Int) = graft.operators.Unigram.decodeColumn(
      transform(filter(col("_z"), e =>
        e.getField("t") === typeId &&
          !e.getField("i").isin(specialIds: _*)),
        e => e.getField("i")), tok)
    withZip.select(col("doc_id"),
        md5(kept(0)).as("a_md5"), md5(kept(1)).as("b_md5"),
        size(col("token_ids")).cast("long").as("n_ids"),
        size(filter(col("token_ids"), i => i === padId)).cast("long")
          .as("n_pad"),
        array_position(col("token_ids"), 40L).as("first_pad"),
        aggregate(col("type_ids"), lit(0L), (acc, t) => acc + t)
          .as("type_sum"),
        aggregate(col("attention_mask"), lit(0L), (acc, m) => acc + m)
          .as("mask_sum"),
        array_position(col("attention_mask"), 0L)
          .as("mask_first_zero"))
      .orderBy(col("doc_id"))
  }

  /** x133: byte-level BPE PAIR encode + truncation + padding + mask,
    * oracle-checked — the x128/x131 statement for the THIRD lineage,
    * under its own published pair form (`RobertaProcessing`:
    * `<s> A </s> </s> B </s>`, token_type_ids ALL ZERO). The fixture
    * vocab is the byte-IDENTITY layout ([[graft.operators.Bpe
    * .vocabBytes]] with no merges: byte symbol b at id b, specials
    * 256–258), so an alphanumeric ASCII half of k characters encodes
    * to exactly its k byte values and the whole surface is DuckDB
    * arithmetic: kept lengths follow the longest-first closed form
    * (budget 20 = 24 − the 4 Roberta template ids), the kept CONTENT
    * decodes to `substr(a,1,fa) || substr(b,1,fb)` (template + pad
    * ids dropped — Roberta's all-zero types cannot slice A from B,
    * so the concatenation is the content book and the FIRST `</s>`
    * POSITION `2 + fa` pins the split), pad count / first-pad /
    * type-id sum / positional mask are arithmetic over (fa, fb).
    * All three template-carrying lineages now certify the ONE
    * assembly home ([[graft.operators.TokenizerSurface]])
    * end to end.
    */
  def x133BpePairTruncPad(s: SparkSession, dir: String): DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(
      """{"version": "1.0",
        | "truncation": {"direction": "Right", "max_length": 24,
        |   "strategy": "LongestFirst", "stride": 0},
        | "padding": {"strategy": {"Fixed": 24}, "direction": "Right",
        |   "pad_to_multiple_of": null, "pad_id": 258,
        |   "pad_type_id": 0, "pad_token": "<pad>"},
        | "normalizer": null,
        | "pre_tokenizer": {"type": "ByteLevel",
        |   "add_prefix_space": false, "trim_offsets": true,
        |   "use_regex": true},
        | "post_processor": {"type": "RobertaProcessing",
        |   "sep": ["</s>", 257], "cls": ["<s>", 256],
        |   "trim_offsets": true, "add_prefix_space": true},
        | "model": {"type": "BPE", "dropout": null,
        |   "unk_token": null}}""".stripMargin)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val model = root.get("model")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val vocab = mapper.createObjectNode()
    graft.operators.Bpe.vocabBytes(Nil, Seq("<s>", "</s>", "<pad>"))
      .foreach { case (t, id) => vocab.put(t, id) }
    model.set[com.fasterxml.jackson.databind.JsonNode]("vocab", vocab)
    model.set[com.fasterxml.jackson.databind.JsonNode]("merges",
      mapper.createArrayNode())
    val path = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_bpe_pair_${fixtureKey(dir, 1)}.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      mapper.writeValueAsBytes(root))
    val tok = graft.operators.Bpe.loadTokenizerJsonAssembled(s, path)
    // planted ASCII-alphanumeric halves with doc_id-varied caps so
    // the fits / truncates / pads regimes ALL occur (the x128 plant,
    // case KEPT — bytes are case-exact)
    val letters = regexp_replace(col("text"), "[^A-Za-z0-9]", "")
    val half = (length(letters) / 2).cast("int")
    val planted = docs(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        letters.substr(lit(1),
          least(half, (lit(2) + col("doc_id") % 23).cast("int")))
          .as("a"),
        letters.substr(half + 1,
          (lit(1) + col("doc_id") % 17).cast("int")).as("b"))
    val enc = graft.operators.Bpe.encodePairWithMask(planted,
      "doc_id", "a", "b", tok)
    enc.select(col("doc_id"),
        md5(graft.operators.Bpe.decodeColumn(col("token_ids"), tok))
          .as("content_md5"),
        array_position(col("token_ids"), 257L).as("first_sep"),
        size(col("token_ids")).cast("long").as("n_ids"),
        size(filter(col("token_ids"), i => i === 258L)).cast("long")
          .as("n_pad"),
        array_position(col("token_ids"), 258L).as("first_pad"),
        aggregate(col("type_ids"), lit(0L), (acc, t) => acc + t)
          .as("type_sum"),
        aggregate(col("attention_mask"), lit(0L), (acc, m) => acc + m)
          .as("mask_sum"),
        array_position(col("attention_mask"), 0L)
          .as("mask_first_zero"))
      .orderBy(col("doc_id"))
  }

  /** x134: byte-level BPE token OFFSETS, oracle-checked — the
    * x129/x130 technique for the THIRD lineage:
    * [[graft.operators.Bpe.encodeWithOffsets]] emits
    * `(id, start, end)` code-point spans into the encode-view text
    * through the SAME [[graft.expressions.BpeWordMerge]] fold as the
    * id kernel (segmentation cannot drift). Under the byte-IDENTITY
    * fixture vocab (no merges, byte symbol b at id b) over
    * `[A-Za-z0-9 ]`-cleaned text, EVERY character — spaces included,
    * the ByteLevel convention that makes decode full-fidelity — is
    * exactly one token whose id is its ASCII byte and whose span is
    * `(i−1, i)`, so DuckDB restates the ENTIRE id:start:end stream
    * from `generate_series` with `ascii()` and no tokenizer at all.
    * Merged-token spans, multi-byte/astral whole-character coverage,
    * the `add_prefix_space` view shift and the truncation/template/
    * padding books on this surface are pinned by BpeSpec hand
    * fixtures (the x129 split).
    */
  /** The x134/x135 fixture: the byte-IDENTITY template-free
    * byte-level tokenizer (no merges, byte symbol b at id b,
    * `add_prefix_space` off) — every character of ASCII text is one
    * token at its own byte value, the positional-arithmetic device.
    */
  private def bpeByteIdentityTok(s: SparkSession, dir: String)
      : graft.operators.Bpe.BpeTokenizer = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(
      """{"version": "1.0", "truncation": null, "padding": null,
        | "normalizer": null,
        | "pre_tokenizer": {"type": "ByteLevel",
        |   "add_prefix_space": false, "trim_offsets": true,
        |   "use_regex": true},
        | "post_processor": null,
        | "model": {"type": "BPE", "dropout": null,
        |   "unk_token": null}}""".stripMargin)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val model = root.get("model")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val vocab = mapper.createObjectNode()
    graft.operators.Bpe.vocabBytes(Nil, Nil)
      .foreach { case (t, id) => vocab.put(t, id) }
    model.set[com.fasterxml.jackson.databind.JsonNode]("vocab", vocab)
    model.set[com.fasterxml.jackson.databind.JsonNode]("merges",
      mapper.createArrayNode())
    val path = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_bpe_off_${fixtureKey(dir, 1)}.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      mapper.writeValueAsBytes(root))
    graft.operators.Bpe.loadTokenizerJsonAssembled(s, path)
  }

  def x134BpeOffsets(s: SparkSession, dir: String): DataFrame = {
    val tok = bpeByteIdentityTok(s, dir)
    val cleaned = regexp_replace(col("text"), "[^A-Za-z0-9 ]", " ")
    val withToks = docs(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.operators.Bpe.encodeOffsetsColumn(cleaned, tok)
          .as("toks"))
    withToks.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        md5(concat_ws(",", transform(col("toks"), t => concat_ws(":",
          t.getField("id").cast("string"),
          t.getField("start").cast("string"),
          t.getField("end").cast("string"))))).as("offsets_md5"))
      .orderBy(col("doc_id"))
  }

  /** x135: provenance chunking under the BYTE-LEVEL lineage,
    * oracle-checked — [[graft.operators.Chunking.tokenWindowSpansBpe]]
    * (the x132 contract for GPT-2-family tokenizers, the common
    * production RAG/embedding case) over the x134 byte-identity
    * fixture: window 16 / stride 8 chunks whose spans, token counts,
    * id streams and delimited SUBSTRINGS are pure positional
    * arithmetic — token k IS the (k+1)-th character (spaces
    * included, the ByteLevel full-fidelity convention), so chunk cs
    * covers characters [cs, cs+len) and its text is
    * `substr(cleaned, cs+1, len)`. Both span-chunkers share ONE
    * window-arithmetic home; this entry certifies it under the
    * second lineage end to end, including the re-extraction
    * property (span → substr → byte-equal text).
    */
  def x135BpeChunkSpans(s: SparkSession, dir: String): DataFrame = {
    val tok = bpeByteIdentityTok(s, dir)
    val cleaned = regexp_replace(col("text"), "[^A-Za-z0-9 ]", " ")
    val chunks = graft.operators.Chunking.tokenWindowSpansBpe(
      docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), cleaned.as("t")),
      "doc_id", "t", tok, width = 16, stride = 8)
    chunks.select(col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_tokens"),
        col("char_start"), col("char_end"),
        md5(concat_ws(",", transform(col("chunk_ids"),
          x => x.cast("string")))).as("ids_md5"),
        md5(col("chunk_text")).as("text_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** x136: the VERBATIM Llama-3 tokenizer.json SHAPE end to end,
    * oracle-checked — the published Split pre-tokenizer regex
    * (case-insensitive contractions, digit TRIPLES, the shape
    * `Sequence[Split, ByteLevel(use_regex=false)]`) honored verbatim
    * under Java regex semantics with the full-cover kernel guard,
    * `ignore_merges = true` honored, and a
    * `Sequence[ByteLevel, TemplateProcessing]` post-processor
    * carrying a BOS prefix — every piece of the real Llama-3 file
    * this engine loads. Under the byte-identity vocab over
    * `[A-Za-z0-9 ]` text the Split regex still covers every
    * character one-token-each (its letter/digit/whitespace
    * alternatives jointly cover — the guard would refuse otherwise),
    * so the ENTIRE offsets stream is the x134 arithmetic with the
    * template's `256:0:0` prepended. The segmentation-discriminating
    * fixtures (merges that fire only under the right split,
    * whole-word short-circuits) are pinned in BpeSpec — this entry
    * certifies the loaded pipeline relationally at corpus scale.
    */
  def x136Llama3Shape(s: SparkSession, dir: String): DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val llamaRegex =
      "(?i:'s|'t|'re|'ve|'m|'ll|'d)|[^\\r\\n\\p{L}\\p{N}]?\\p{L}+|" +
        "\\p{N}{1,3}| ?[^\\s\\p{L}\\p{N}]+[\\r\\n]*|\\s*[\\r\\n]+|" +
        "\\s+(?!\\S)|\\s+"
    val root = mapper.readTree(
      s"""{"version": "1.0", "truncation": null, "padding": null,
         | "normalizer": null,
         | "pre_tokenizer": {"type": "Sequence", "pretokenizers": [
         |   {"type": "Split",
         |    "pattern": {"Regex":
         |      ${mapper.writeValueAsString(llamaRegex)}},
         |    "behavior": "Isolated", "invert": false},
         |   {"type": "ByteLevel", "add_prefix_space": false,
         |    "trim_offsets": true, "use_regex": false}]},
         | "post_processor": {"type": "Sequence", "processors": [
         |   {"type": "ByteLevel", "trim_offsets": true},
         |   {"type": "TemplateProcessing",
         |    "single": [
         |      {"SpecialToken": {"id": "<|begin_of_text|>",
         |        "type_id": 0}},
         |      {"Sequence": {"id": "A", "type_id": 0}}],
         |    "special_tokens": {
         |      "<|begin_of_text|>": {"id": "<|begin_of_text|>",
         |        "ids": [256], "tokens": ["<|begin_of_text|>"]}}}]},
         | "model": {"type": "BPE", "dropout": null,
         |   "unk_token": null, "ignore_merges": true}}""".stripMargin)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val model = root.get("model")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val vocab = mapper.createObjectNode()
    graft.operators.Bpe.vocabBytes(Nil, Seq("<|begin_of_text|>"))
      .foreach { case (t, id) => vocab.put(t, id) }
    model.set[com.fasterxml.jackson.databind.JsonNode]("vocab", vocab)
    model.set[com.fasterxml.jackson.databind.JsonNode]("merges",
      mapper.createArrayNode())
    val path = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_bpe_llama_${fixtureKey(dir, 1)}.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      mapper.writeValueAsBytes(root))
    val tok = graft.operators.Bpe.loadTokenizerJsonAssembled(s, path)
    val cleaned = regexp_replace(col("text"), "[^A-Za-z0-9 ]", " ")
    val withToks = docs(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.operators.Bpe.encodeOffsetsColumn(cleaned, tok)
          .as("toks"))
    withToks.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        md5(concat_ws(",", transform(col("toks"), t => concat_ws(":",
          t.getField("id").cast("string"),
          t.getField("start").cast("string"),
          t.getField("end").cast("string"))))).as("offsets_md5"))
      .orderBy(col("doc_id"))
  }

  /** x137: BATCH-LONGEST padding as a DataFrame-level operator,
    * oracle-checked — the padding strategy the per-row loaders
    * REFUSE (no per-row encode can know the batch's longest
    * sequence) supplied honestly by
    * [[graft.operators.TokenizerTruncation.padBatchLongest]]: one
    * global max-length aggregate broadcast back over a pure
    * projection. Under the byte-identity fixture every planted
    * sequence's length is `length(substr(...))`, the global pad
    * length is a scalar-subquery `max()` in DuckDB, and every book —
    * padded width, pad count, first-pad position, positional mask
    * sum/placement, kept-content decode — is arithmetic over
    * (own length, global max).
    */
  def x137BatchLongestPad(s: SparkSession, dir: String): DataFrame = {
    val tok = bpeByteIdentityTok(s, dir)
    val letters = regexp_replace(col("text"), "[^A-Za-z0-9]", "")
    val planted = docs(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        letters.substr(lit(1),
          (lit(1) + col("doc_id") % 29).cast("int")).as("a"))
    val enc = graft.operators.Bpe.encodeIds(planted, "doc_id", "a",
      tok)
    val padded = graft.operators.TokenizerTruncation.padBatchLongest(
      enc, "token_ids", padId = 0L)
    padded.select(col("doc_id"),
        md5(graft.expressions.GraftFunctions.idsToText(
          filter(col("token_ids"), i => i =!= 0L), tok.vocab))
          .as("content_md5"),
        size(col("token_ids")).cast("long").as("n_ids"),
        size(filter(col("token_ids"), i => i === 0L)).cast("long")
          .as("n_pad"),
        array_position(col("token_ids"), 0L).as("first_pad"),
        aggregate(col("attention_mask"), lit(0L), (acc, m) => acc + m)
          .as("mask_sum"),
        array_position(col("attention_mask"), 0L)
          .as("mask_first_zero"))
      .orderBy(col("doc_id"))
  }

  /** x138: the WordPiece `cleanup = true` DECODE chain end to end,
    * oracle-checked — the decoder block's punctuation/contraction
    * re-attachment post-pass honored and restated RELATIONALLY:
    * under a single-character fixture vocab (letters/digits bare +
    * `##`, punctuation `.,?!'` bare — Bert isolation makes each
    * punctuation char its own pre-token), decode(encode(clean)) is
    * the space-join of alnum runs and punctuation marks, and DuckDB
    * rebuilds exactly that join with per-char replaces + whitespace
    * collapse, then applies the SAME eleven cleanup replaces in the
    * SAME order (`String.replace` and SQL `replace` share
    * sequential left-to-right literal semantics — what makes the
    * whole chain statable). One wrong replace, a reordered step, or
    * an unhonored decoder block breaks the hash.
    */
  def x138WordPieceCleanup(s: SparkSession, dir: String): DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val vocab = mapper.createObjectNode()
    var nextId = 0L
    def put(t: String): Unit = { vocab.put(t, nextId); nextId += 1 }
    put("[UNK]")
    ('a' to 'z').foreach(c => put(c.toString))
    ('a' to 'z').foreach(c => put("##" + c))
    ('0' to '9').foreach(c => put(c.toString))
    ('0' to '9').foreach(c => put("##" + c))
    Seq(".", ",", "?", "!", "'").foreach(put)
    val root = mapper.readTree(
      """{"version": "1.0",
        | "normalizer": {"type": "BertNormalizer", "clean_text": true,
        |   "handle_chinese_chars": true, "strip_accents": null,
        |   "lowercase": true},
        | "pre_tokenizer": {"type": "BertPreTokenizer"},
        | "post_processor": null,
        | "decoder": {"type": "WordPiece", "prefix": "##",
        |   "cleanup": true},
        | "model": {"type": "WordPiece", "unk_token": "[UNK]",
        |   "continuing_subword_prefix": "##",
        |   "max_input_chars_per_word": 100000}}""".stripMargin)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.get("model")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .set[com.fasterxml.jackson.databind.JsonNode]("vocab", vocab)
    val path = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_wordpiece_cleanup_${fixtureKey(dir, 1)}.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      mapper.writeValueAsBytes(root))
    val tok = graft.operators.WordPiece.loadTokenizerJson(s, path)
    val cleaned = regexp_replace(col("text"), "[^A-Za-z0-9.,?!' ]",
      " ")
    val decoded = graft.operators.WordPiece.decodeColumn(
      graft.operators.WordPiece.encodeColumn(cleaned, tok), tok)
    docs(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), md5(decoded).as("cleanup_md5"),
        length(decoded).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** x126: Unigram TRAINING, oracle-checked end to end — the
    * [[graft.operators.Unigram.train]] EM + pruning recipe
    * (distributed pre-token histogram + seed-substring counting,
    * driver forward–backward EM) fitted on the corpus, saved to
    * `tokenizer.json`, RELOADED, and driven through the x123
    * roundtrip: the trainer emits the full `<0xNN>` byte alphabet
    * and the required-singles invariant, so under the emitted Llama
    * normalizer pair the identity `decode(encode(text)) =
    * replace(text, '▁', ' ')` holds for the TRAINED artifact — the
    * same trainer-free DuckDB statement as x123. A broken M-step
    * score, a pruned required piece, a byte-namespace collision, or
    * any save→load drift hash-mismatches. (The EM arithmetic itself
    * is pinned by UnigramSpec's hand-computed posterior fixture and
    * the observed likelihood monotonicity — the x75/x91 split.)
    */
  def x126UnigramTrainRoundtrip(s: SparkSession, dir: String)
      : DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    val trained = graft.operators.Unigram.train(d, "text",
      vocabSize = 400, maxPieceLen = 6)
    val path = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_uni_trained_${fixtureKey(dir, 1)}.json"
    graft.operators.Unigram.saveTokenizerJson(s, trained, path)
    val tok = graft.operators.Unigram.loadTokenizerJson(s, path)
    val decoded = graft.operators.Unigram.decodeColumn(
      graft.operators.Unigram.encodeColumn(col("text"), tok), tok)
    d.select(col("doc_id"), md5(decoded).as("roundtrip_md5"),
        length(decoded).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** x116: trainer-shard READ-BACK — the x114 artifact re-entering the
    * engine through [[graft.io.TrainerShards.read]] (binaryFile scan +
    * the compiled [[graft.expressions.ShardSequences]] kernel), one
    * row per sequence with its byte-content md5. Write → file pair →
    * distributed read → per-sequence bytes equal the x96
    * materialization arithmetic, restated by the oracle from the
    * documents table alone — the full write/read loop is
    * oracle-certified, not just the writer (the write lands once in
    * the shared fixture; x114 times and byte-checks the writer).
    */
  def x116ShardReadback(s: SparkSession, dir: String): DataFrame = {
    val out = sharedShardSet(s, dir)
    graft.io.TrainerShards.read(s, out)
      .select(col("stratum").as("lang"),
        col("seq_idx").as("seq_id"),
        size(col("token_ids")).cast("long").as("n_tokens"),
        md5(graft.expressions.GraftFunctions.packedTokenBinary(
          col("token_ids"), width = 1)).as("seq_md5"))
      .orderBy(col("lang"), col("seq_id"))
  }

  /** x117: per-EPOCH consumption-order sidecars beside the trainer
    * shards ([[graft.io.TrainerShards.writeEpochOrder]]) — the
    * shuffle/epoch half of the Megatron-style indexed artifact: one
    * mmap-able `.ord` file per stratum under `epoch-NNNNN/`, u64 LE
    * sequence positions in consumption order, permuted by the x73
    * md5(seed:epoch:stratum:pos) construction so the file is a pure
    * function of (seed, epoch, sequence counts). The query writes
    * epoch 1's sidecars over the shared shard fixture
    * ([[sharedShardSet]] — x114 times the shard write itself) and
    * reads the PUBLISHED files back distributed ([[graft.expressions
    * .EpochOrdPositions]]); the oracle restates every (rank, pos) row
    * from the documents table alone — sequence counts via the x114
    * packing arithmetic, the permutation via the same md5 sort. A
    * trainer restarting at step G resumes from these files alone
    * (x110's prefix/remainder partition — spec-asserted).
    */
  def x117EpochOrder(s: SparkSession, dir: String): DataFrame = {
    val out = sharedShardSet(s, dir)
    graft.io.TrainerShards.writeEpochOrder(s, out, seed = "ep",
      epoch = 1)
    graft.io.TrainerShards.readEpochOrder(s, out, epoch = 1)
      .select(col("stratum").as("lang"), col("rank"), col("pos"))
      .orderBy(col("lang"), col("rank"))
  }

  /** x118: the CROSS-STRATUM blend schedule published into the epoch
    * artifact ([[graft.io.TrainerShards.writeBlendSchedule]]) — the
    * level above x117: the `.ord` sidecars fix each stratum's internal
    * consumption order; the blend parts fix WHICH STRATUM feeds each
    * global training step, as a deterministic weighted fair interleave
    * (stratum s consumes its k-th sequence at virtual time k/w_s;
    * global order sorts by virtual time, ties by stratum name) whose
    * global step has a CLOSED FORM in pure integer arithmetic — so the
    * oracle restates every (global_step, stratum, rank, pos) row from
    * the documents table alone: sequence counts via the x114 packing
    * arithmetic, weights via the same first-letter formula, the
    * closed-form strict+tie count sum, and the x117 md5 permutation
    * for the position. The query writes shards + epoch order + blend,
    * then reads the PUBLISHED files back distributed
    * ([[graft.expressions.BlendEntries]]) and joins the two sidecar
    * levels — a restarting trainer resumes the BLEND mid-epoch from
    * these files alone ([[graft.io.TrainerShards.blendCursors]] /
    * [[graft.io.TrainerShards.readInBlendOrder]], spec-asserted).
    * `en` and `es` carry EQUAL weights by construction, so the
    * virtual-time tie-break is exercised on every shared k.
    */
  def x118BlendSchedule(s: SparkSession, dir: String): DataFrame = {
    val out = sharedShardSet(s, dir)
    // epoch 2 is x118's OWN epoch number (x117 owns 1, x119 owns 3):
    // the sidecar queries share one shard fixture but must never
    // share an epoch directory — writeEpochOrder retires and replaces
    // the blend dir, so a lazily-executed frame from one query could
    // otherwise read another query's artifact mid-swap
    graft.io.TrainerShards.writeEpochOrder(s, out, seed = "ep",
      epoch = 2)
    // weights from the stratum name alone (1.0 + 0.5·alphabet position
    // of the first letter) so the oracle can restate them
    val weights = graft.io.TrainerShards.listShards(s, out)
      .map(l => l -> (1.0 + 0.5 * (l.charAt(0) - 'a' + 1))).toMap
    graft.io.TrainerShards.writeBlendSchedule(s, out, epoch = 2,
      weights)
    graft.io.TrainerShards.readBlendSchedule(s, out, epoch = 2)
      .join(graft.io.TrainerShards.readEpochOrder(s, out, epoch = 2),
        Seq("stratum", "rank"))
      .select(col("global_step"), col("stratum").as("lang"),
        col("rank"), col("pos"))
      .orderBy(col("global_step"))
  }

  /** x119: the blend schedule WITH SOURCE-EPOCHS FACTORS — x118
    * composed with the x85 [[graft.operators.Mixing.epochsPerStratum]]
    * arithmetic: stratum s contributes `m_s = ⌊n_s · r_s⌋` consumption
    * steps (en/zh ×2.0 wrap back around into the same epoch
    * permutation, fr ×0.5 consumes half its shard, de ×1.25 overruns
    * by a quarter), and every step resolves through the wraparound
    * `((rank−1) mod n_s) + 1` to its `.ord` position. The oracle
    * restates the whole thing — counts, factor quantization, the
    * closed-form interleave over m_s, and the wraparound pos — from
    * the documents table alone, integer-exact in both engines. The
    * output is [[graft.io.TrainerShards.readInBlendOrder]] minus the
    * token bytes, so the composed resume-read join chain is what is
    * actually being checked.
    */
  def x119BlendEpochs(s: SparkSession, dir: String): DataFrame = {
    val out = sharedShardSet(s, dir)
    // epoch 3: x119's own epoch number — see x118's aliasing note
    graft.io.TrainerShards.writeEpochOrder(s, out, seed = "ep",
      epoch = 3)
    val shards = graft.io.TrainerShards.listShards(s, out)
    val weights = shards
      .map(l => l -> (1.0 + 0.5 * (l.charAt(0) - 'a' + 1))).toMap
    // factor from the stratum name alone so the oracle restates it:
    // 0.5 + 0.75·(alphabet position mod 3) → de 1.25, en/es 2.0,
    // fr 0.5, zh 2.0 — wraparound, overrun, and partial consumption
    // all exercised
    val factors = shards
      .map(l => l -> (0.5 + 0.75 * ((l.charAt(0) - 'a' + 1) % 3)))
      .toMap
    graft.io.TrainerShards.writeBlendSchedule(s, out, epoch = 3,
      weights, epochsFactors = factors)
    graft.io.TrainerShards.readInBlendOrder(s, out, epoch = 3)
      .select(col("global_step"), col("stratum").as("lang"),
        col("rank"), col("pos"))
      .orderBy(col("global_step"))
  }

  /** x115: WINDOW-FREE temperature sampling ([[graft.operators.Mixing
    * .temperatureSampleApprox]]) — the 100 TB form of x108: the same
    * integer-exact n^0.5 largest-remainder apportionment, but
    * membership is the hash-RATE gate (`md5(id) prefix <
    * (16^8·tgt) div n`) instead of a per-stratum rank window, so a
    * mega-stratum never sorts under one task (plan-asserted
    * window-free in PlanSpec). Selection is STILL a pure function of
    * (id, stratum sizes) — kept counts are binomial around the
    * targets, but the kept SET is deterministic, so the oracle
    * restates the whole chain exactly: IEEE-exact sqrt weights,
    * integer apportionment, and the 8-hex-digit threshold compare via
    * the x73 strpos arithmetic.
    */
  def x115TemperatureApprox(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    graft.operators.Mixing.temperatureSampleApprox(d, "lang", "doc_id",
        budget = 300L, alpha = 0.5)
      .select(col("lang"), col("doc_id"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** x21: deterministic hash split — train/val/test assignment by the
    * first hex digit of md5(doc_id) (14/1/1 of 16). The reproducible-
    * sampling pattern for training pipelines: the split is a pure
    * function of the row key, so it is stable across runs, engines,
    * partitionings, and incremental re-ingests (a re-processed document
    * always lands in the same split — no RNG state to version). Map-only
    * except the final stats aggregation.
    */
  def x21HashSplit(s: SparkSession, dir: String): DataFrame = {
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    docs(s, dir)
      .withColumn("split",
        when(h === "0", "test").when(h === "1", "val").otherwise("train"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"), col("split"))
  }

  /** x22: training-shard assignment — pack documents into ~64 KB-of-text
    * shards per language by a running character total in deterministic
    * doc_id order (shard = floor(cumulative_chars / target)). This is
    * the "write the dataset as fixed-size shards" step of a training
    * pipeline, expressed as a PARTITIONED window (one shuffle per
    * language partition, each language's packing independent) — the
    * scalable form, unlike a global ordered window; per-language skew at
    * extreme scale is handled by sub-partitioning the same construction
    * on (lang, hash-bucket).
    */
  def x22ShardAssign(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs(s, dir)
      .withColumn("shard",
        floor((sum(col("n_chars")).over(w) - col("n_chars")) / 65536L)
          .cast("int"))
      .groupBy(col("lang"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("shard_chars"))
      .orderBy(col("lang"), col("shard"))
  }

  /** x23: per-label embedding centroids (class prototypes) — mean vector
    * per label as (label, pos, m) rows. The embedding-aggregation
    * pattern behind IVF training, prototype classifiers, and cluster
    * summaries: posexplode → per-(label,dim) partial+final agg — one
    * shuffle of |labels|·dim rows regardless of corpus size.
    *
    * Determinism: float components are quantized to 1e-8 by
    * floor(x·10⁸) and summed as exact longs, so the mean is independent
    * of partitioning AND engine — summing raw doubles is
    * order-dependent, and double→DECIMAL quantization rounds differently
    * in Spark (shortest-string) vs DuckDB (binary). floor of the same
    * IEEE product is bit-identical everywhere.
    */
  def x23LabelCentroids(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(floor(col("col").cast("double") * 1e8).cast("long"))
          .cast("double") / (count(lit(1)) * lit(1e8))).as("m"))
      .orderBy(col("label"), col("pos"))

  /** x24: TF-IDF top-3 terms per document — rare-term surfacing over the
    * corpus ([[graft.operators.Retrieval.tfIdfTopTerms]]). The planted
    * 'dup' marker token (df ≈ 5 % of docs) dominates its documents'
    * rankings, which is exactly what the operator is for. Ranking
    * happens on 1e-8-quantized integer scores → engine-exact.
    */
  def x24TfIdf(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.tfIdfTopTerms(docs(s, dir), "doc_id", "text",
        topK = 3)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"), col("score").desc, col("token"))

  /** x25: BM25 top-20 documents for a fixed query-term bag
    * ([[graft.operators.Retrieval.bm25TopDocs]]). Per-term contributions
    * quantize to integer 1e-8 units before the per-doc sum, so scores
    * and ranking are independent of partitioning and engine.
    */
  def x25Bm25(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.bm25TopDocs(docs(s, dir), "doc_id", "text",
        queryTerms = Seq("dup", "join", "fast"), topK = 20)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("score").desc, col("doc_id"))

  /** x26: exact-rate stratified sample — ⌈10 %⌉ of each language,
    * selected by md5-hash order ([[graft.operators.Sampling]]); the
    * reproducible ablation-sample pattern (pure function of the keys,
    * no RNG state).
    */
  def x26StratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSample(docs(s, dir), "lang",
        "doc_id", rateNum = 1, rateDen = 10)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("doc_id"))

  /** x37: map-only hash-threshold sample at ~10 % — the sampling form
    * with NO shuffle at all ([[graft.operators.Sampling.hashSample]]):
    * a pure filter over the scan, binomial count, deterministic
    * membership, nested across rates. The scale path; x26 is the
    * exact-count sibling.
    */
  def x37HashSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.hashSample(docs(s, dir), "doc_id",
        rateNum = 1, rateDen = 10)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** x52: deterministic weighted sampling
    * ([[graft.operators.Sampling.weightedSample]]) — 100 documents
    * drawn ∝ n_chars (longer docs proportionally likelier), Efraimidis-
    * Spirakis keys from hash-derived uniforms. The length/quality-
    * biased subsampling step of corpus curation, reproducible across
    * runs and engines. Map-only scoring + bounded top-k.
    */
  def x52WeightedSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedSample(docs(s, dir), "doc_id",
        "n_chars", k = 100)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** x38: Gopher-style repetition quality signals
    * ([[graft.operators.Repetition.repetitionStats]]) — per-document
    * token / 2-gram occurrence, distinct, and top-value counts, with the
    * repetition flag decided entirely in integer space (top token > 20 %
    * of tokens, or duplicate 2-gram occurrences > 30 %). Two linear
    * word-count-shaped passes; no windows.
    */
  def x38RepetitionStats(s: SparkSession, dir: String): DataFrame =
    graft.operators.Repetition.repetitionStats(docs(s, dir), "doc_id",
        "text")
      // int, not boolean: keeps the oracle compare type-exact in DuckDB
      .withColumn("repetitious", col("repetitious").cast("int"))
      .orderBy(col("doc_id"))

  /** x39: sequence packing ([[graft.operators.Packing.packSequences]])
    * — per-language concatenate-and-chunk at a 512-token budget: each
    * document's token interval in the packed stream, its first/last
    * training-sequence ids, and whether it straddles a cut. All-integer
    * running sums; one shuffle keyed by the stratum.
    */
  def x39PackSequences(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packSequences(docs(s, dir), "doc_id", "text",
        "lang", seqLen = 512)
      // int, not boolean: keeps the oracle compare type-exact in DuckDB
      .withColumn("straddles", col("straddles").cast("int"))
      .orderBy(col("lang"), col("doc_id"))

  /** x40: PII redaction audit ([[TextFunctions.redactPii]]) — scrub
    * emails/phones and count occurrences per document. The corpus has no
    * organic PII (closed 31-token vocab), so deterministic synthetic PII
    * is appended per doc — the REDACTION itself (regex inventory,
    * placeholder typing, pass ordering) is the operator under test.
    * Pure map, zero shuffles.
    */
  def x40PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val synth = concat(col("text"), lit(" contact user"),
      col("doc_id").cast("string"), lit("@example.com or call +1-555-"),
      lpad(col("doc_id").cast("string"), 4, "0"))
    docs(s, dir).select(
        col("doc_id"),
        TextFunctions.redactPii(synth).as("redacted"),
        TextFunctions.emailCount(synth).as("n_emails"),
        TextFunctions.phoneCount(synth).as("n_phones"))
      .orderBy(col("doc_id"))
  }

  /** x41: mixture balancing ([[graft.operators.Mixing.capPerStratum]])
    * — deterministically downsample over-represented languages to a
    * ≈100-document cap via integer-exact per-stratum hash thresholds.
    * The corpus-mix rebalancing step of a multilingual pipeline; one
    * |strata|-row agg broadcast back, the filter itself map-side.
    */
  def x41SourceMix(s: SparkSession, dir: String): DataFrame =
    graft.operators.Mixing.capPerStratum(docs(s, dir), "lang", "doc_id",
        cap = 100L)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** x42: overlapping token-window chunking
    * ([[graft.operators.Chunking.tokenWindows]]) — 64-token windows at
    * stride 48, the RAG/embedding preprocessing split. Pure map-side
    * explode, zero shuffles.
    */
  def x42ChunkWindows(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.tokenWindows(docs(s, dir), "doc_id", "text",
        width = 64, stride = 48)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** x43: corpus-wide segment-level dedup
    * ([[graft.operators.Chunking.dedupSegments]]) — CCNet-style
    * paragraph dedup with a 16-token segmenter: repeated segments keep
    * only their first corpus-wide occurrence, documents are rebuilt
    * from the survivors. One shuffle keyed by segment hash + per-doc
    * rebuild agg.
    */
  def x43SegmentDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.dedupSegments(docs(s, dir), "doc_id", "text",
        width = 16)
      .orderBy(col("doc_id"))

  /** x49: shift-robust segment dedup
    * ([[graft.operators.Chunking.dedupSegmentsCdc]]) — content-defined
    * boundaries (FastCDC over tokens: md5 of the last 4 tokens under
    * 16^8/12) instead of fixed windows, so inserted/removed tokens
    * only perturb segmentation locally and shifted duplicates still
    * collapse. Same one-shuffle shape as x43.
    */
  def x49CdcDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.dedupSegmentsCdc(docs(s, dir), "doc_id",
        "text", window = 4, avgLen = 12)
      .orderBy(col("doc_id"))

  /** x50: Bloom-pruned semi-join ([[graft.operators.BloomJoin]]) —
    * q4's exact semantics (orders with a >45-quantity lineitem) where
    * the fact side is prefiltered map-side by a broadcast Bloom bitset
    * BEFORE the join shuffle. Same oracle as q4; the different (scale-
    * shaped) physical plan is the point, like x30 vs q7.
    */
  def x50BloomSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = Graft.table(s, dir, "orders")
    val bigItems = Graft.table(s, dir, "lineitem")
      .filter(col("l_quantity") > 45).select(col("l_orderkey"))
    graft.operators.BloomJoin
      .bloomSemiJoin(orders, "o_orderkey", bigItems, "l_orderkey",
        log2Bits = 20)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** Shared shape of the x53/x54 skew-join pair: lineitem keyed by a
    * PLANTED hot key (every 4th orderkey collapses onto k = 0, so one
    * key carries ~25 % of the fact side), joined to a supplier-derived
    * dim on the same key space, aggregated to 10 buckets. Both variants
    * `hint("merge")` the dim so the join is the sort-merge shuffle join
    * it would be at 100 TB (at bench SF the dim is broadcast-small and
    * Spark would otherwise broadcast it, hiding the skew entirely —
    * which is itself the first line of defense against skew and worth
    * knowing).
    */
  private def skewJoinSides(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val li = Graft.table(s, dir, "lineitem").select(
      when(col("l_orderkey") % 4 === 0, lit(0L))
        .otherwise(pmod(col("l_orderkey"), lit(997)).cast("long")).as("k"),
      col("l_linenumber").cast("long").as("v"))
    val sup = Graft.table(s, dir, "supplier").select(
      pmod(col("s_suppkey"), lit(997)).cast("long").as("k"),
      col("s_nationkey").cast("long").as("w")).hint("merge")
    (li, sup)
  }

  /** x53: salted skew join ([[graft.operators.SkewJoin]]) on the
    * planted-hot-key shape — the hot key's rows spread over 8 salt
    * sub-keys at the cost of an 8× dim replication. Identical semantics
    * to x54's plain join (same SQL oracle); bench_detail carries the
    * timing comparison that shows when AQE alone suffices vs when the
    * explicit salt earns its replication cost (see the
    * [[graft.operators.SkewJoin]] scaladoc for the decision rule).
    */
  def x53SkewSalted(s: SparkSession, dir: String): DataFrame = {
    val (li, sup) = skewJoinSides(s, dir)
    graft.operators.SkewJoin.saltedInnerJoin(li, sup, "k", salt = 8)
      .groupBy(pmod(col("k"), lit(10)).as("kb"))
      .agg(count(lit(1)).as("cnt"), sum(col("v") + col("w")).as("sv"))
      .orderBy(col("kb"))
  }

  /** x54: the same planted-hot-key join WITHOUT salting — what Spark's
    * own machinery (AQE skew-join splitting, when partition sizes cross
    * `spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes`)
    * does with the skew. The x53/x54 bench_detail delta is the measured
    * answer to "do I need to salt here".
    */
  def x54SkewAqe(s: SparkSession, dir: String): DataFrame = {
    val (li, sup) = skewJoinSides(s, dir)
    li.join(sup, "k")
      .groupBy(pmod(col("k"), lit(10)).as("kb"))
      .agg(count(lit(1)).as("cnt"), sum(col("v") + col("w")).as("sv"))
      .orderBy(col("kb"))
  }

  /** Shared shape of the x64/x65 HEAVY skew pair — the regime where the
    * x53/x54 measurement showed AQE alone suffices is deliberately left
    * behind: 99 % of a 16×-replicated fact side (9.5 M rows) collapses
    * onto ONE key, and the post-join aggregation does real per-row work
    * (an md5 over the joined columns), so the hot partition's reduce
    * task — join + hash + partial agg of ~9.5 M rows — dominates the
    * query. The hot partition (~150 MB) sits BELOW AQE's
    * skewedPartitionThresholdInBytes (256 MB), which is exactly the
    * blind spot the decision rule's third branch names: skew painful
    * enough to serialize the stage but too small for AQE's split to
    * engage. The fact side is hash-repartitioned first so the map stage
    * is parallel in both variants and the delta isolates the reduce
    * side. All-integer output + engine-identical md5 hex → one exact
    * oracle for both variants.
    */
  private def heavySkewSides(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val li = Graft.table(s, dir, "lineitem")
      .repartition(32)
      .withColumn("rep", explode(array((0 until 16).map(lit): _*)))
      .select(
        when(col("l_orderkey") % 100 =!= 7, lit(0L))
          .otherwise(pmod(col("l_orderkey"), lit(997)).cast("long")).as("k"),
        (col("l_linenumber").cast("long") + col("rep")).as("v"))
    val sup = Graft.table(s, dir, "supplier").select(
      pmod(col("s_suppkey"), lit(997)).cast("long").as("k"),
      col("s_nationkey").cast("long").as("w")).hint("merge")
    (li, sup)
  }

  private def heavySkewAgg(j: DataFrame): DataFrame =
    j.groupBy(pmod(col("k"), lit(10)).as("kb"))
      .agg(count(lit(1)).as("cnt"), sum(col("v") + col("w")).as("sv"),
        sum(when(substring(md5(concat_ws("-", col("k"), col("v"),
          col("w"))), 1, 1) === "a", 1L).otherwise(0L)).as("na"))
      .orderBy(col("kb"))

  /** x64: the heavy-skew join SALTED (16 sub-keys) — the decision
    * rule's third branch ([[graft.operators.SkewJoin]]) demonstrated
    * with a measured crossover: bench_detail shows this variant beating
    * the plain x65 form (~4.0 s vs ~3.0 s steady-state at sf0.1,
    * local[32]) because the hot key's join+md5+partial-agg work spreads
    * over 16 tasks instead of serializing on one, at the cost of a 16×
    * replication of the 1000-row dim.
    */
  def x64SkewHeavySalted(s: SparkSession, dir: String): DataFrame = {
    val (li, sup) = heavySkewSides(s, dir)
    heavySkewAgg(
      graft.operators.SkewJoin.saltedInnerJoin(li, sup, "k", salt = 16))
  }

  /** x65: the same heavy-skew join UNSALTED — what the built-ins do
    * with a sub-threshold hot partition: AQE's skew split never fires
    * (150 MB < 256 MB), the hot reduce task serializes the stage, and
    * bench_detail records the cost x64's salt removes. Same oracle as
    * x64 (identical semantics, different physical plan) — together the
    * pair is the measured form of the salt-vs-AQE decision rule.
    */
  def x65SkewHeavyAqe(s: SparkSession, dir: String): DataFrame = {
    val (li, sup) = heavySkewSides(s, dir)
    heavySkewAgg(li.join(sup, "k"))
  }

  /** x27: inverted index over the corpus — per-term document frequency,
    * corpus frequency, and a capped ascending postings preview
    * ([[graft.operators.Retrieval.invertedIndex]]).
    */
  def x27InvertedIndex(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.invertedIndex(docs(s, dir), "doc_id", "text",
        postingsCap = 8)
      .orderBy(col("token"))

  /** x28: sequence-length histogram — documents bucketed by
    * ⌊log₂(BPE-token count)⌋ (computed exactly as the bit length of the
    * integer count, no floating log). The "what sequence lengths will
    * training see" distribution over the corpus; map-side bucket +
    * one tiny aggregation.
    */
  def x28LengthHistogram(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(TextFunctions.bpeTokenCount(col("text")).as("n_bpe"))
      .withColumn("bucket", length(bin(col("n_bpe").cast("long"))).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bpe")).cast("long").as("total_tokens"),
        min(col("n_bpe")).as("min_tokens"),
        max(col("n_bpe")).as("max_tokens"))
      .orderBy(col("bucket"))

  /** x29: train/test contamination report
    * ([[graft.operators.Dedup.contaminationReport]]) — the
    * decontamination step of an eval pipeline, run over the x21 hash
    * split (test = md5 first hex digit '0', train = the '2'..'f'
    * buckets; the 'val' bucket is excluded from both sides). A test doc
    * is contaminated when ≥ 80 % of its word-3-shingles appear anywhere
    * in train — on this corpus that is every seeded near-duplicate
    * whose twin landed in train, plus vocabulary-driven short docs.
    */
  def x29Contamination(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    val train = d.filter(h =!= "0" && h =!= "1")
    val test = d.filter(h === "0")
    Dedup.contaminationReport(train, test, "doc_id", "text", k = 3)
      .withColumnRenamed("id", "doc_id")
      // int, not boolean: keeps the oracle compare type-exact in DuckDB
      .withColumn("contaminated", col("contaminated").cast("int"))
      .orderBy(col("doc_id"))
  }

  /** x51: Bloom decontamination
    * ([[graft.operators.Dedup.contaminationReportBloom]]) — x29's
    * screen with the train-shingle set as a broadcast Bloom bitset:
    * train side never shuffles, test shingles probe map-side. At 2^24
    * bits over this corpus's ~30k distinct shingles the FP rate is
    * ~0 and the report matches x29 exactly (asserted in spec); no SQL
    * oracle (the bitset is engine-specific), like the other sketch ops.
    */
  def x51ContaminationBloom(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    val train = d.filter(h =!= "0" && h =!= "1")
    val test = d.filter(h === "0")
    Dedup.contaminationReportBloom(train, test, "doc_id", "text", k = 3)
      .withColumnRenamed("id", "doc_id")
      .withColumn("contaminated", col("contaminated").cast("int"))
      .orderBy(col("doc_id"))
  }

  /** x30: top-k per group via the bounded-state [[graft.functions
    * .Aggregators.TopKRows]] aggregator — identical results to q7's
    * ranking window (same oracle SQL), but the exchange carries at most
    * k rows per (group, partition) instead of every row, and no
    * per-group sort happens anywhere. THE form for top-k-per-key at
    * 100 TB when groups are large.
    */
  def x30TopKAgg(s: SparkSession, dir: String): DataFrame = {
    val topk = udaf(new graft.functions.Aggregators.TopKRows(3))
    Graft.table(s, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(topk(col("l_extendedprice"), col("l_orderkey"),
        col("l_linenumber").cast("long")).as("top"))
      .select(col("l_suppkey"), posexplode(col("top")))
      .select(col("l_suppkey"), (col("pos") + 1).cast("int").as("rk"),
        col("col.key1").as("l_orderkey"),
        col("col.key2").cast("int").as("l_linenumber"),
        col("col.score").as("l_extendedprice"))
      .orderBy(col("l_suppkey"), col("rk"))
  }

  /** x31: approximate percentiles via the Greenwald-Khanna sketch
    * (`percentile_approx`) — the 100 TB path for q32's exact
    * interpolated percentiles: bounded sketch state, mergeable
    * partials, no full sort of the column. Engine-specific sketch → no
    * SQL oracle; relative error vs the exact q32 values is asserted in
    * the spec suite.
    */
  def x31ApproxPercentiles(s: SparkSession, dir: String): DataFrame =
    Graft.table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(col("l_quantity"), lit(0.5), lit(1000))
          .as("median_qty"),
        percentile_approx(col("l_extendedprice"), lit(0.95), lit(1000))
          .as("p95_price"),
        percentile_approx(col("l_discount"), lit(0.25), lit(1000))
          .as("p25_disc"))
      .orderBy(col("l_returnflag"))

  /** x32: per-language token Shannon entropy + vocabulary stats — the
    * corpus-profiling diagnostic of a data-quality pipeline (collapsed
    * entropy flags templated/duplicated corpora before training sees
    * them). Per-token contributions −p·ln p are quantized to 1e-10
    * longs before the sum (same engine-exactness construction as
    * x23/x24: the sum is exact integer arithmetic, ln's last-ulp
    * wobble can only flip a floor with probability ~1e-10 per distinct
    * (c, N) pair).
    */
  def x32TokenEntropy(s: SparkSession, dir: String): DataFrame = {
    val tf = docs(s, dir)
      .select(col("lang"), explode(TextFunctions.tokens(col("text")))
        .as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("c"))
    val n = tf.groupBy(col("lang")).agg(sum(col("c")).as("n"))
    val p = col("c").cast("double") / col("n").cast("double")
    tf.join(n, "lang")
      .withColumn("q", floor(-p * log(p) * lit(1e10)).cast("long"))
      .groupBy(col("lang"), col("n"))
      .agg(count(lit(1)).as("vocab"),
        (sum(col("q")).cast("double") / lit(1e10)).as("entropy"))
      .select(col("lang"), col("n").cast("long").as("n_tokens"),
        col("vocab"), col("entropy"))
      .orderBy(col("lang"))
  }

  /** x33: int8 embedding quantization error audit — per-vector max-abs
    * scale (the symmetric int8 scheme), quantize/dequantize, and the
    * reconstruction MSE. The storage-compression sanity check of an
    * embedding pipeline (4× smaller vectors; is the error acceptable?).
    * Per-dim squared errors are quantized to 1e-12 longs before the sum
    * (engine-exact, same construction as x23); the quantized values
    * themselves are integer floor(x/scale + 0.5) — deterministic in both
    * engines. Expressed as posexplode + two vec_id-keyed aggs to mirror
    * the oracle exactly; the corpus-scale path is the compiled map-side
    * kernel [[graft.expressions.Int8QuantStats]] (one pass per row, no
    * explode, zero exchanges), proven arithmetic-identical to this
    * explode form in ExpressionSpec — this form exists because it is
    * the DuckDB-oracle-checkable twin.
    */
  def x33QuantizationError(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
      .select(col("vec_id"), explode(col("embedding")).as("val"))
      .withColumn("x", col("val").cast("double"))
    val m = e.groupBy(col("vec_id")).agg(max(abs(col("x"))).as("maxabs"))
    e.join(m, "vec_id").filter(col("maxabs") > 0)
      .withColumn("scale", col("maxabs") / lit(127.0))
      .withColumn("q", floor(col("x") / col("scale") + lit(0.5)).cast("long"))
      // dimensionless error |r| <= 0.5: quantizing r² (not the absolute
      // d²) keeps the 1e-12 fixed-point sum overflow-free at any input
      // magnitude; mse scales back by scale² at the end
      .withColumn("r", col("x") / col("scale") - col("q").cast("double"))
      .withColumn("e_q", floor(col("r") * col("r") * lit(1e12)).cast("long"))
      .groupBy(col("vec_id"), col("scale"))
      .agg(count(lit(1)).cast("int").as("dim"),
        max(col("q")).as("max_q"),
        min(col("q")).as("min_q"),
        (sum(col("e_q")).cast("double") / lit(1e12) / count(lit(1)) *
          (col("scale") * col("scale"))).as("mse"))
      .select(col("vec_id"), col("dim"), col("max_q"), col("min_q"),
        col("mse"))
      .orderBy(col("vec_id"))
  }

  /** x34: two-stage rerank ANN — coarse ranking on the first 16 of 64
    * dims, exact cosine rerank of survivors
    * ([[graft.operators.SimilaritySearch.rerankTopK]]). The ENTRY runs
    * with a corpus-covering overfetch (k·overfetch ≥ corpus), which
    * makes both stages run for real — the bounded coarse aggregation,
    * the survivor join, the rerank window — while the OUTPUT provably
    * equals exact brute force, so the DuckDB oracle can check it
    * row-for-row (the x66 trick: pick the operating point whose answer
    * is relationally statable). The production operating point
    * (overfetch ≪ corpus/k) is covered by the spec suite's recall
    * floor vs x7 on the same corpus (random-noise embeddings are the
    * worst case for a prefix coarse pass, so that floor is honest).
    */
  def x34KnnRerank(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val n = e.count()
    SimilaritySearch.rerankTopK(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, dPrefix = 16,
        overfetch = ((n + 4) / 5).toInt.max(1))
      .orderBy(col("query_id"), col("rk"))
  }

  /** x35: unigram-LM surprisal per document — the language-model
    * quality-filter primitive (a doc whose tokens are improbable under
    * the corpus unigram distribution reads as noise/garble; one whose
    * surprisal is near zero is templated boilerplate). Surprisal of a
    * token is −ln(c/N) under the corpus-wide counts; per-token values
    * quantize to 1e-10 longs before the per-doc sum (the standard
    * engine-exactness construction), and the mean divides in the same
    * order on both engines. Shape: one tokenize-explode, a vocabulary
    * aggregation, a dictionary join (AQE-broadcast), one per-doc
    * aggregation — all linear, corpus never collected.
    */
  def x35UnigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    // cached: feeds both the vocabulary aggregation and the join's left
    // side — without it the tokenizer kernel (the dominant cost) runs
    // over the corpus twice per action
    val toks = graft.core.CacheScope.cached(docs(s, dir)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text")))
        .as("token")))
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
    val total = broadcast(counts.agg(sum(col("c")).as("n_corpus")))
    toks.join(counts, "token")
      .crossJoin(total)
      .withColumn("q", floor(-log(col("c").cast("double") /
        col("n_corpus").cast("double")) * lit(1e10)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("q")).cast("double") / lit(1e10) / count(lit(1)))
          .as("avg_surprisal"))
      .orderBy(col("doc_id"))
  }

  /** x44: bigram-LM surprisal — per-doc average −ln c(w₁w₂)/c(w₁·)
    * under corpus bigram counts (c(w₁·) = occurrences of w₁ as a bigram
    * context), the next step up from x35's unigram filter: it penalizes
    * improbable word ORDER, not just rare words. Same engine-exactness
    * construction: per-bigram surprisal quantized to 1e-10 longs before
    * the per-doc sum. Two token-keyed linear aggs + two
    * dictionary-sized joins (AQE-broadcast); docs with <2 tokens drop
    * out with the explode, like every *-gram query here.
    */
  def x44BigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    // tokens bound once per row (bindOnce) — the filter+generator shape
    // used to re-evaluate the tokenize kernel up to 4x per row
    val bg = graft.expressions.GraftFunctions.bindOnce(Seq(
      ("t", TextFunctions.tokens(col("text")))))( f =>
      when(size(f("t")) >= 2,
        transform(slice(f("t"), lit(1), size(f("t")) - 1),
          (x, i) => concat(x, lit(" "), element_at(f("t"), i + 2))))
        .otherwise(array().cast("array<string>")))
    val bi = docs(s, dir)
      .select(col("doc_id"), explode(bg).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val biC = graft.core.CacheScope.cached(bi)
    val c2 = biC.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val c1 = biC.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    biC.join(c2, "bg").join(c1, "w1")
      .withColumn("q", floor(-log(col("c2").cast("double") /
        col("c1").cast("double")) * lit(1e10)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("q")).cast("double") / lit(1e10) / count(lit(1)))
          .as("avg_surprisal"))
      .orderBy(col("doc_id"))
  }

  /** x45: per-language KL divergence from the corpus token distribution
    * — Σ_w p_l(w)·ln(p_l(w)/p(w)), the distribution-shift profile of a
    * mixture ("how far is each stratum's token mix from the blend").
    * Per-term contributions (which may be negative) are quantized to
    * 1e-10 longs → the sum is exact integer arithmetic. Linear
    * word-count aggs; the corpus dictionary join is vocabulary-sized.
    */
  def x45LangKlDrift(s: SparkSession, dir: String): DataFrame = {
    val tf = docs(s, dir)
      .select(col("lang"), explode(TextFunctions.tokens(col("text")))
        .as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("cl"))
    val tfC = graft.core.CacheScope.cached(tf)
    val nl = tfC.groupBy(col("lang")).agg(sum(col("cl")).as("nl"))
    val cf = tfC.groupBy(col("token")).agg(sum(col("cl")).as("c"))
    val total = broadcast(cf.agg(sum(col("c")).as("n_corpus")))
    val pl = col("cl").cast("double") / col("nl").cast("double")
    val p = col("c").cast("double") / col("n_corpus").cast("double")
    tfC.join(nl, "lang").join(cf, "token").crossJoin(total)
      .withColumn("q", floor(pl * log(pl / p) * lit(1e10)).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("vocab"),
        (sum(col("q")).cast("double") / lit(1e10)).as("kl"))
      .orderBy(col("lang"))
  }

  /** x47: deterministic token masking
    * ([[graft.operators.Masking.maskTokens]]) — MLM-style corruption at
    * a 15% rate where each mask decision is a pure function of
    * (doc_id, position): reproducible across runs, shards, engines.
    * Pure map, zero shuffles.
    */
  def x47MaskTokens(s: SparkSession, dir: String): DataFrame =
    graft.operators.Masking.maskTokens(docs(s, dir), "doc_id", "text",
        rateNum = 3, rateDen = 20)
      .select(col("doc_id"), col("n_tokens"), col("n_masked"),
        col("masked_text"))
      .orderBy(col("doc_id"))

  /** x48: quality-budget selection — per language, keep the
    * highest-quality documents until an 8192-BPE-token budget fills
    * (quality desc, doc_id tiebreak; a document is kept iff it STARTS
    * within budget). The curation step between scoring and packing:
    * "best N tokens per stratum", not "first N docs". One partitioned
    * window per language — same scale shape as x22/x39; the quality
    * score itself is map-side.
    */
  def x48QualityBudget(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs(s, dir)
      .select(col("lang"), col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        TextFunctions.bpeTokenCount(col("text")).cast("long").as("n_bpe"))
      .withColumn("running", sum(col("n_bpe")).over(w))
      .filter(col("running") - col("n_bpe") < 8192L)
      .select(col("lang"), col("doc_id"), col("quality"), col("n_bpe"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** x15: HLL approximate distinct counting — the 100 TB substitute for
    * exact COUNT(DISTINCT) (no shuffle of distinct values; a fixed-size
    * sketch per group merges map-side). Relative error vs the exact
    * count is asserted in the spec suite; no SQL oracle (sketches are
    * engine-specific).
    */
  def x15ApproxDistinct(s: SparkSession, dir: String): DataFrame =
    Graft.table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** x16: frequent tokens via the custom Space-Saving `Aggregator`
    * (bounded sketch state instead of a full distinct-token shuffle —
    * the UDAF surface). With capacity ≥ the corpus vocabulary the sketch
    * is exact (error 0), which the oracle checks; the eviction path is
    * spec-tested separately.
    */
  def x16FrequentTokens(s: SparkSession, dir: String): DataFrame = {
    val topTokens = udaf(new graft.functions.Aggregators.FrequentItems(
      k = 20, capacity = 4096))
    docs(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("token"))
      .agg(topTokens(col("token")).as("top"))
      .select(explode(col("top")).as("f"))
      .select(col("f.item").as("token"), col("f.count").as("n"),
        col("f.error").as("err"))
      .orderBy(col("n").desc, col("token"))
  }

  /** x9: per-document text statistics. */
  def x9TextStats(s: SparkSession, dir: String): DataFrame = {
    val tk = TextFunctions.tokens(col("text"))
    docs(s, dir).select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(tk).as("n_tokens"),
        size(array_distinct(tk)).as("n_distinct_tokens"),
        TextFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** x10: language-ID heuristic (stopword overlap argmax). */
  def x10LangId(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_id"))
      .groupBy(col("lang_id"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang_id"))

  /** x11: quality score per document. */
  def x11Quality(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))

  /** x12: document fingerprints (normalized md5). */
  def x12Fingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), TextFunctions.fingerprint(col("text"))
        .as("fingerprint"))
      .orderBy(col("doc_id"))

  /** x13: multimodal payload + batched (stub) decode — the Spark-side
    * plumbing is real: binary column, metadata, per-partition batch
    * execution. The decoded dims are a deterministic function of byte
    * length, which the oracle reproduces.
    */
  def x13Multimodal(s: SparkSession, dir: String): DataFrame = {
    val withPayload = Multimodal.attachPayload(docs(s, dir), "text")
    Multimodal.decodePayloads(withPayload, "payload")
      .select(col("doc_id"), col("n_bytes"), col("sha"),
        col("decoded.width").as("width"),
        col("decoded.height").as("height"),
        col("decoded.channels").as("channels"))
      .orderBy(col("doc_id"))
  }

  /** x66: perceptual-hash media near-dup pairs — the dHash → pigeonhole
    * Hamming pipeline ([[Multimodal.imageNearDupPairs]]) run end-to-end
    * over binary payloads. The payload here is the utf-8 bytes of the
    * x2 normalized 200-char prefix, so the fingerprint collisions are
    * exactly the near-front-duplicate groups the corpus plants (17
    * pairs at sf0.01 — non-vacuous) and the oracle can reproduce the
    * pair set relationally: byte-identical payloads collide at Hamming
    * 0 (the dHash fallback is a pure 64-bit function of the bytes),
    * distinct payloads land Hamming-far with overwhelming probability.
    * On a real image corpus the same operator fingerprints decoded
    * pixels instead — asserted in the spec suite with real PNGs.
    */
  def x66ImageHashPairs(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .filter(col("text").isNotNull)
      .withColumn("payload", encode(
        substring(trim(regexp_replace(lower(col("text")),
          "[^a-z0-9]+", " ")), 1, 200), "UTF-8"))
    Multimodal.imageNearDupPairs(base, "doc_id", "payload", maxDist = 3)
      .orderBy(col("id1"), col("id2"))
  }

  /** x67: seed-distance labeling — minimum similarity-graph hops from a
    * trusted seed set ([[graft.operators.ConnectedComponents
    * .seedDistances]] frontier BFS), the primitive behind "distance
    * from curated seeds" quality propagation. Graph = the x3 Jaccard
    * pair graph; seeds = the first 100 doc ids (a stand-in for a
    * curated allowlist). Oracle = DuckDB's bounded recursive walk with
    * MIN(dist) per node.
    */
  def x67SeedDistance(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.jaccardShinglePairs(docs(s, dir), "doc_id", "text",
      k = 3, threshold = 0.6)
    val seeds = docs(s, dir).select(col("doc_id"))
      .filter(col("doc_id") < 100)
    graft.operators.ConnectedComponents
      .seedDistances(pairs, "id1", "id2", seeds, "doc_id", maxHops = 8)
      .select(col("id").as("doc_id"), col("dist"))
      .orderBy(col("doc_id"))
  }

  /** x69: WARC ingestion (the Common Crawl container) with per-document
    * content fidelity PROVEN against the oracle: the documents table is
    * serialized into 8 gzip-member-per-record WARC shards — a
    * once-per-dir fixture written executor-side through the Hadoop FS
    * API, like a re-sharding pipeline would — then read back through
    * [[graft.sources.Warc.read]] (binaryFile → streaming member-aware
    * parse → HTTP envelope split), and each record reports doc_id
    * (from its target URI), HTTP status, body byte count, and an md5
    * over the recovered body bytes. The oracle states the same four
    * values straight from `documents`, so a single flipped bit
    * anywhere in the WARC write → gzip → inflate → parse → envelope
    * split chain fails the hash compare.
    */
  def x69WarcStats(s: SparkSession, dir: String): DataFrame = {
    val warcDir = x69Fixture(s, dir)
    graft.sources.Warc.read(s, warcDir)
      .filter(col("warc_type") === "response")
      .select(
        regexp_extract(col("target_uri"), "doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("http_status"),
        col("n_bytes"),
        md5(col("payload")).as("body_md5"))
      .orderBy(col("doc_id"))
  }

  /** x70: HTML → text extraction with a SEMANTIC oracle. Each document
    * is wrapped into a realistic page IN-QUERY — escaped body between
    * head/style boilerplate, an HTML comment, a heading, and a script
    * whose code contains both `1<2` (a phantom tag opener) and a
    * literal `'</div>'` string — then run through
    * [[TextFunctions.htmlToText]]. The oracle states what extraction
    * MUST recover (the heading plus the whitespace-normalized original
    * text), not a mirror of the regex chain, so it catches
    * over-stripping (lost prose), under-stripping (leaked markup or
    * script), and entity mishandling alike, including on documents
    * whose own text carries `&amp;`-style sequences or literal tags.
    * Round 10: the wrap ALSO spells characters as NUMERIC character
    * references — every `e` in the body as decimal `&#101;`, every `o`
    * as hex `&#x6f;`, and the heading's `D` as `&#68;` — so a decoder
    * that leaves `&#8217;`-style references as literal text (real
    * crawl HTML is full of them) hash-mismatches on every document.
    */
  def x70HtmlExtract(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    // &/</> escape FIRST, then the numeric spellings (e and o never
    // occur inside the &amp;/&lt;/&gt; entity text, so the two escape
    // layers cannot corrupt each other)
    val esc = replace(replace(replace(replace(replace(col("text"),
      lit("&"), lit("&amp;")), lit("<"), lit("&lt;")),
      lit(">"), lit("&gt;")),
      lit("e"), lit("&#101;")), lit("o"), lit("&#x6f;"))
    val html = concat(
      lit("<html><head><title>t</title><style>p{margin:1px}</style>" +
        "</head><body><!-- nav\nboilerplate --><h1>&#68;oc "),
      col("doc_id").cast("string"),
      lit("</h1><p class=\"body\">"), esc,
      lit("</p><script>if(1<2){var s='</div>';}</script></body></html>"))
    d.select(col("doc_id"),
        TextFunctions.htmlToText(html).as("extracted_text"))
      .orderBy(col("doc_id"))
  }

  /** x71: REAL audio decode over synthesized WAV payloads — the audio
    * leg of the multimodal family on the same closed-form-oracle
    * pattern as x69/x70: [[Multimodal.attachWavPayload]] renders a
    * deterministic square wave per document (amplitude and length are
    * pure functions of doc_id), [[Multimodal.decodeAudio]] runs the
    * stock-JDK WAV parse + PCM reconstruction + amplitude statistics,
    * and the oracle states every reported value from first principles
    * (a ±A square wave's RMS is exactly A; the sample counts divide
    * evenly into milliseconds) — so a flipped byte anywhere in the
    * header write, endianness handling, or sample math fails the hash.
    */
  def x71AudioFeatures(s: SparkSession, dir: String): DataFrame = {
    // decode stages must NOT inherit the scan's split count: a
    // column-pruned doc_id read of documents.parquet is a few hundred
    // KB even at sf1 (openCostInBytes coalesces the files), so the
    // whole decode ran on ~1-2 tasks — the x71 sf1 superlinearity
    // (measured par 1.75 on 32 cores). Repartitioning 8-byte rows is
    // free; the decode work is what needs the cores.
    val d = docs(s, dir).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
    Multimodal.decodeAudio(
        Multimodal.attachWavPayload(d, "doc_id"), "payload")
      .select(col("doc_id"),
        col("audio.sample_rate").as("sample_rate"),
        col("audio.n_samples").as("n_samples"),
        col("audio.duration_ms").as("duration_ms"),
        col("audio.peak").as("peak"),
        col("audio.rms").as("rms"),
        col("audio.silence_ratio").as("silence_ratio"))
      .orderBy(col("doc_id"))
  }

  /** x72: URL parse / canonicalization / registered-domain blocklist —
    * the curation pass between WARC ingestion and content processing,
    * on the x70/x71 closed-form-oracle pattern: each document gets a
    * deliberately MESSY crawl URL synthesized in-query (uppercase
    * scheme and host, explicit default and non-default ports, userinfo,
    * a FQDN trailing dot, `utm_*` tracking params in every position,
    * fragments, an authority-only URL with no path), then runs the real
    * parse ([[UrlFunctions.urlHost]]), [[UrlFunctions.registeredDomain]]
    * (including the `co.uk`-style third-level case), and
    * [[UrlFunctions.normalizeUrl]], plus the broadcast blocklist flag
    * ([[Curation.markBlocklisted]]). The oracle states every output
    * from first principles in doc_id arithmetic — a wrong capture
    * group, a kept fragment, a dropped non-default port, or a
    * mis-joined query after tracking removal all hash-mismatch.
    */
  def x72UrlCuration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir).select(col("doc_id"))
    val id = col("doc_id")
    val raw = when(id % 4 === 0,
        concat(lit("HTTPS://WWW.Example.COM:443/Articles/"),
          id.cast("string"), lit("?utm_source=feed&page="),
          (id % 7).cast("string"), lit("#frag")))
      .when(id % 4 === 1,
        concat(lit("http://news.example.co.uk./"), id.cast("string"),
          lit("/story?id="), id.cast("string"), lit("&utm_campaign=x")))
      .when(id % 4 === 2,
        concat(lit("https://user:pw@CDN.Mirror.ORG:8443/assets/"),
          id.cast("string")))
      .otherwise(
        concat(lit("http://Blog.example.com?utm_medium=rss&utm_term="),
          id.cast("string")))
    val parsed = Curation.withUrlParts(d.withColumn("url", raw), "url")
    val blocklist = Seq("example.co.uk", "mirror.org").toDF("domain")
    Curation.markBlocklisted(parsed, "registered_domain", blocklist)
      .select(col("doc_id"), col("host"), col("registered_domain"),
        col("url_normalized"), col("kept"))
      .orderBy(col("doc_id"))
  }

  /** x73: deterministic corpus shuffle into training shards
    * ([[graft.operators.Sampling.shuffleShards]]) summarized per shard —
    * membership (count + doc_id checksum) and the within-shard order
    * endpoints (min/max shuffle key), so a changed hash input, a biased
    * shard scaling, or an unstable sort key all hash-mismatch. md5 hex
    * and the 16-bit scaling are engine-exact, so the oracle recomputes
    * the full assignment in SQL. The per-shard agg is the ideal 100 TB
    * plan: map-side assignment + partial agg, one 32-row exchange.
    */
  def x73ShuffleShards(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
    graft.operators.Sampling.shuffleShards(d, "doc_id", "r9", 32)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_ids"),
        min(col("__shuffle_key")).as("first_key"),
        max(col("__shuffle_key")).as("last_key"))
      .orderBy(col("shard"))
  }

  /** x74: Z-order (Morton) clustering key — [[graft.operators.Layout]]'s
    * curve computed over two scaled lineitem dimensions and aggregated
    * per curve segment (the 256 coarse buckets a 256-file layout would
    * map to). The interleave is pure integer bit arithmetic, so the
    * oracle restates Morton order's definition exactly; the
    * file-tightness property the key exists for (every file a
    * hyper-rectangle, min/max narrow in EVERY dimension) is measured in
    * the spec suite via [[graft.operators.Layout.fileSpans]].
    */
  def x74ZorderLayout(s: SparkSession, dir: String): DataFrame = {
    val li = Graft.table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
    val z = graft.operators.Layout.zValue(
      Seq(col("l_orderkey") % 1024, col("l_partkey") % 1024), 10)
    li.withColumn("zb", shiftright(z, 12).cast("int"))
      .groupBy(col("zb"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_linenumber").cast("long")).as("sum_ln"))
      .orderBy(col("zb"))
  }

  /** Memoized BPE merge tables per corpus dir, for the ENCODE entry:
    * training is a pure function of the corpus, so x76 reusing x75's
    * table changes nothing but wall clock. x75 itself always trains
    * fresh — its bench number must measure the trainer, not a memo hit.
    */
  private val bpeMergeCache =
    scala.collection.concurrent.TrieMap
      .empty[String, Seq[(Int, String, String, String, Long)]]

  private def bpeMerges(s: SparkSession,
      dir: String): Seq[(Int, String, String, String, Long)] =
    bpeMergeCache.getOrElseUpdate(dir,
      graft.operators.Bpe.train(
        docs(s, dir).filter(col("text").isNotNull), "text",
        numMerges = 30))

  /** x75: BPE tokenizer TRAINING over the corpus word histogram — 30
    * ranked merges with frequency-weighted pair counts. NO SQL oracle
    * on purpose: each merge's pair counts depend on every previous
    * merge's argmax-driven rewrite, so a relational statement would be
    * a second implementation of the trainer, not an oracle (the x4
    * argument). Gated instead by BpeSpec: the merge table equals an
    * independent driver-side dict-based reference BPE on the full
    * fixture corpus, plus hand-computed tables on closed-form corpora.
    */
  def x75BpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = graft.operators.Bpe.train(
      docs(s, dir).filter(col("text").isNotNull), "text", numMerges = 30)
    bpeMergeCache.put(dir, merges)
    merges.toDF("rank", "left", "right", "merged", "pair_count")
      .orderBy(col("rank"))
  }

  /** x76: BPE ENCODING of the corpus with the x75 merge table —
    * per-document subword token count plus an order-sensitive token
    * checksum. Spec-gated like x75 (encoded tokens equal the reference
    * encoder's on every fixture document; token counts are monotone
    * non-increasing in merge count).
    */
  def x76BpeEncode(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    graft.operators.Bpe.encode(d, "doc_id", "text", bpeMerges(s, dir))
      .select(col("doc_id"), col("n_tokens"),
        md5(array_join(col("tokens"), " ")).as("tokens_md5"))
      .orderBy(col("doc_id"))
  }

  /** x77: per-domain quota — the over-representation cap after
    * blocklisting. The synthetic domain column plants both regimes at
    * every scale: `megafarm.com` holds half the corpus (far over
    * quota — thinned to exactly 20 by md5-order rank), while the
    * `siteN` long tail sits under quota (passes whole). md5 order is
    * engine-exact, so the oracle recomputes the identical kept set;
    * [[Curation.domainQuotaApprox]] — the map-side form for
    * pathological mega-domains — is spec-gated against this exact
    * variant's regimes instead.
    */
  def x77DomainQuota(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
      .withColumn("domain",
        when(col("doc_id") % 10 < 5, lit("megafarm.com"))
          .otherwise(concat(lit("site"), (col("doc_id") % 97)
            .cast("string"))))
    Curation.domainQuota(d, "domain", "doc_id", quota = 20)
      .orderBy(col("doc_id"))
  }

  /** x78: the END-TO-END crawl pipeline — ingestion through curation
    * composed from the real operators, each in its production shape:
    * WARC read (file-parallel scan of the x69 shards) → HTML wrap +
    * [[TextFunctions.htmlToText]] extraction (map-side) → exact
    * fingerprint dedup ([[Dedup.exact]], one shuffle) → per-domain
    * quota ([[Curation.domainQuota]], one shuffle). The oracle states
    * the composition's truth end-to-end from the `documents` table:
    * extraction must recover the whitespace-normalized original text
    * out of the markup (the x70 guarantee), the fingerprint is md5 of
    * exactly that, dedup keeps the min doc_id per fingerprint, and the
    * quota keeps the md5-order top 20 per planted domain — a fault in
    * ANY stage (or in how stages hand off) hash-mismatches.
    */
  def x78CrawlPipeline(s: SparkSession, dir: String): DataFrame = {
    val warcDir = x69Fixture(s, dir)
    val ingested = graft.sources.Warc.read(s, warcDir)
      .filter(col("warc_type") === "response")
      .select(
        regexp_extract(col("target_uri"), "doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("payload").cast("string").as("raw_text"))
    // the x70-style wrap, minus the heading so extraction recovers the
    // original text EXACTLY (escaped body, comment, script with a
    // phantom tag opener and a literal closing tag in a string)
    val esc = replace(replace(replace(col("raw_text"),
      lit("&"), lit("&amp;")), lit("<"), lit("&lt;")),
      lit(">"), lit("&gt;"))
    val html = concat(
      lit("<html><body><!-- nav\nboilerplate --><p class=\"b\">"), esc,
      lit("</p><script>var s='</p>';if(1<2){}</script></body></html>"))
    val extracted = ingested
      .select(col("doc_id"), TextFunctions.htmlToText(html).as("text"))
    val deduped = Dedup.exact(extracted, "doc_id", "text")
      .select(col("doc_id"), col("fingerprint"))
    // cache the pipeline output across domainQuota's TWO passes
    // (threshold agg, then join-back filter) — without it the whole
    // upstream (WARC read → extract → dedup shuffle) executes twice,
    // the x78 round-12 regression (measured by timing the threshold
    // job and the join-back pass apart). The frame is the crawl
    // batch's survivors: bounded, and exactly what a production
    // pipeline persists before curation anyway.
    val withDomain = graft.core.CacheScope.cached(
      deduped.withColumn("domain",
        when(col("doc_id") % 10 < 5, lit("megafarm.com"))
          .otherwise(concat(lit("site"),
            (col("doc_id") % 97).cast("string")))))
    Curation.domainQuota(withDomain, "domain", "doc_id", quota = 20)
      .select(col("doc_id"), col("domain"), col("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** x79: PCA dimension reduction — train 16 components over the
    * embedding corpus (distributed covariance, driver d×d eigen),
    * project every vector through the compiled
    * [[graft.expressions.MatProject]] pass. NO SQL oracle: float
    * eigenanalysis (the x61 argument — sign/rotation ambiguity and
    * reduction-order float sums make a cross-engine restatement
    * meaningless); SimilaritySpec gates it with exact invariants
    * (orthonormality, variance ordering, compiled-pass ≡ driver
    * matmul, full-rank rotation preserving distances, reconstruction
    * error monotone in k). The entry output is FALSIFIABLE from the
    * bench side (round-10 ask): per vector it emits the top-16
    * projected squared norm (rotation/sign-invariant — the projection
    * onto the top-16 eigenSPACE is well-defined even though the
    * eigenvector signs are not) and the full-rank rotation error
    * |‖P(x−μ)‖² − ‖x−μ‖²| rounded at 1e-2 — identically 0.00 for a
    * correct orthonormal projection, and nonzero the moment
    * MatProject, the centering, or the eigenbasis breaks. Both models
    * slice ONE full-rank training (a single covariance pass).
    */
  def x79PcaProject(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Embeddings.PcaModel
    val e = emb(s, dir)
    val d = e.select(size(col("embedding"))).head().getInt(0)
    val mFull = graft.operators.Embeddings.trainPca(e, "embedding", k = d)
    val m16 = PcaModel(mFull.mean, mFull.components.take(16),
      mFull.explainedVariance.take(16))
    // identity "projection" = exact centering x−μ through the same
    // compiled kernel (same float rounding as the full-rank pass, so
    // the rotation error isolates the BASIS, not the arithmetic)
    val ident = PcaModel(mFull.mean,
      (0 until d).map(i => (0 until d).map(j =>
        if (i == j) 1.0 else 0.0)), mFull.explainedVariance)
    val p16 = graft.operators.Embeddings.pcaProject(col("embedding"), m16)
    val pFull = graft.operators.Embeddings
      .pcaProject(col("embedding"), mFull)
    val pId = graft.operators.Embeddings.pcaProject(col("embedding"), ident)
    e.select(col("vec_id"),
        size(p16).as("n_dims"),
        round(graft.expressions.GraftFunctions.vecNormSq(p16), 2)
          .as("norm16_q"),
        round(abs(graft.expressions.GraftFunctions.vecNormSq(pFull) -
          graft.expressions.GraftFunctions.vecNormSq(pId)), 2)
          .as("full_rank_err_q"))
      .orderBy(col("vec_id"))
  }

  /** x80: REAL MP4 container-metadata parse over synthesized payloads —
    * the video leg of the multimodal family on the x71 closed-form
    * pattern: [[Multimodal.attachMp4Payload]] renders a deterministic
    * ISO-BMFF container per document (timescale, duration, track list
    * and presentation size all pure functions of doc_id),
    * [[Multimodal.videoMeta]] walks the real box tree (ftyp/moov/mvhd/
    * trak/tkhd), and the oracle states every reported field from first
    * principles — a flipped byte in the box writer, a wrong offset in
    * either mvhd version, or the audio track winning the size all
    * hash-mismatch. Frame DECODE stays the documented stub (no codec
    * in the stock JDK); duration/resolution/track curation — the
    * decisions made before spending GPU decode — run on true container
    * values.
    */
  def x80VideoMeta(s: SparkSession, dir: String): DataFrame = {
    // same repartition as x71: the container parse is per-row work
    // that must not run on the id scan's 1-2 coalesced splits
    val d = docs(s, dir).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
    Multimodal.videoMeta(
        Multimodal.attachMp4Payload(d, "doc_id"), "payload")
      .select(col("doc_id"),
        col("video.container").as("container"),
        col("video.brand").as("brand"),
        col("video.duration_ms").as("duration_ms"),
        col("video.n_tracks").as("n_tracks"),
        col("video.width").as("width"),
        col("video.height").as("height"))
      .orderBy(col("doc_id"))
  }

  /** x81: learned quality scoring under FROZEN weights — the 100 TB
    * shape of a model-based filter (CCNet/DCLM style): training
    * happened once on a labeled sample (x82); the corpus pass applies
    * the frozen model as ONE compiled map-side kernel, zero exchanges.
    * Exact-integer logits (weights quantized to 1e-9 longs, md5-bucket
    * features) make the output bit-for-bit statable in DuckDB — the
    * oracle re-emits the model's longs as SQL literals (the x8/x14
    * literal-coefficient device, here with NO float summation at all).
    */
  def x81QualityScore(s: SparkSession, dir: String): DataFrame = {
    val m = graft.operators.QualityClassifier.refModel(seed = 9, dim = 64)
    graft.operators.QualityClassifier
      .score(docs(s, dir), "doc_id", "text", m)
      .orderBy(col("doc_id"))
  }

  /** x82: quality-classifier TRAINING on the labeled fixture (label =
    * a signed token-count threshold, linearly representable in the
    * hashed feature space — see the label note below), then
    * self-scoring.
    * NO SQL oracle: every iteration's gradient depends on the previous
    * weights through the transcendental σ link (the x75 iteration
    * argument); QualityClassifierSpec gates train exactly — quantized-
    * long gradient sums make the weights partitioning-independent and
    * equal to an independent driver-side reference trainer VERBATIM —
    * plus separable-corpus learnability and the overflow guard.
    */
  def x82QualityTrain(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // label: a signed token-count threshold — exactly representable by
    // a linear model over the hashed count features (the fixture's
    // lang column is NOT text-derivable: every language draws from the
    // same token soup, measured ceiling ~0.64), so training has a true
    // signal to find; accuracy ≈ 0.97-0.996 across sf fixtures
    val toks = TextFunctions.tokens(coalesce(col("text"), lit("")))
    val signed = size(filter(toks, t => t === "spark")) * 2 +
      size(filter(toks, t => t === "vector")) +
      size(filter(toks, t => t === "stream")) -
      size(filter(toks, t => t === "slow")) -
      size(filter(toks, t => t === "big"))
    val labeled = d.withColumn("y", (signed > 0).cast("int"))
    val m = graft.operators.QualityClassifier.train(labeled, "text", "y",
      dim = 256, iters = 40, lr = 0.5)
    graft.operators.QualityClassifier.score(labeled, "doc_id", "text", m)
      .join(labeled.select(col("doc_id"), col("y")), "doc_id")
      .select(col("doc_id"), col("y").cast("long").as("label"),
        col("logit_q"), col("keep").as("pred"),
        (col("keep") === (col("y") === 1)).as("correct"))
      .orderBy(col("doc_id"))
  }

  /** x83: registered-domain extraction under a PUBLIC SUFFIX LIST —
    * the round-10 production form of the x72 heuristic, oracle-checked
    * end-to-end: hosts covering every PSL rule class are synthesized
    * in-query as pure functions of doc_id (multi-level exact rule,
    * private suffix, `*.ck` wildcard, `!www.ck` exception, unlisted
    * TLD, host-equals-suffix, single label), the engine resolves them
    * through the [[graft.expressions.PslRegisteredDomain]] kernel with
    * a literal rule list, and the DuckDB oracle RESTATES THE FULL
    * publicsuffix.org ALGORITHM relationally (suffix explode → rule
    * join → exception-beats-longest-match precedence → label
    * reassembly) over the same literal rules — so a wrong precedence,
    * an off-by-one label slice, or a wildcard mismatch anywhere in the
    * kernel hash-mismatches.
    */
  def x83PslDomains(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
    val k = col("doc_id").cast("string")
    val host = when(col("doc_id") % 8 === 0,
        concat(lit("news"), k, lit(".example.co.uk")))
      .when(col("doc_id") % 8 === 1,
        concat(lit("blog.user"), k, lit(".github.io")))
      .when(col("doc_id") % 8 === 2,
        concat(lit("deep.a.shop"), k, lit(".ck")))
      .when(col("doc_id") % 8 === 3,
        concat(lit("sub"), k, lit(".www.ck")))
      .when(col("doc_id") % 8 === 4,
        concat(lit("www.ex"), k, lit(".com")))
      .when(col("doc_id") % 8 === 5,
        concat(lit("c.a"), k, lit(".zz")))
      .when(col("doc_id") % 8 === 6, lit("github.io"))
      .otherwise(concat(lit("localhost"), k))
    d.select(col("doc_id"), host.as("host"),
        UrlFunctions.registeredDomain(host, x83Psl)
          .as("registered_domain"))
      .orderBy(col("doc_id"))
  }

  /** The x83 fixture rule list — one of each PSL rule class; the
    * oracle re-emits the same rules as SQL literals.
    */
  val x83Psl: Seq[String] = Seq(
    "// x83 fixture list", "",
    "com", "uk", "co.uk", "io", "github.io", "*.ck", "!www.ck")

  /** x84: REAL video frame decode (MJPEG) — the round-10 closure of
    * the video-decode stub for the one codec the stock JDK can
    * genuinely decode, on the x71/x80 closed-form pattern:
    * [[Multimodal.attachAviPayload]] renders a deterministic MJPEG
    * AVI per document (frame count, per-frame time step, and frame
    * dimensions all pure functions of doc_id),
    * [[Multimodal.sampleFrames]] walks the real RIFF container and
    * decodes every `00dc` JPEG through the stock reader, and the
    * emitted PNG frames run through the REAL [[Multimodal
    * .decodePayloads]] pixel probe — so the oracle states the whole
    * container-write → RIFF-walk → JPEG-decode → PNG-re-encode →
    * dimension-probe chain from first principles: a wrong chunk
    * offset, a mis-read dwMicroSecPerFrame, a dropped frame, or a
    * dimension drift anywhere hash-mismatches.
    */
  def x84VideoFrames(s: SparkSession, dir: String): DataFrame = {
    val frames = Multimodal.sampleFrames(
      x84Fixture(s, dir), "payload", frameBytes = 1 << 20, everyNth = 1)
    Multimodal.decodePayloads(frames, "frame")
      .select(col("doc_id"), col("frame_idx"), col("frame_ms"),
        col("decoded.width").as("width"),
        col("decoded.height").as("height"),
        col("decoded.ok").as("decodable"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** x86: the calibration sweep — between training (x82) and the
    * deployment threshold, a quality filter ships with an operating
    * point, and choosing it needs exact confusion counts per candidate
    * ([[graft.operators.QualityClassifier.calibrationReport]]). Frozen
    * x81 weights + the SQL-statable parity label give every cell an
    * exact-integer truth; precision/recall land in basis points, so
    * the whole report is bit-for-bit oracle-checked.
    */
  def x86QualityCalibration(s: SparkSession, dir: String): DataFrame = {
    val labeled = docs(s, dir).withColumn("y",
      (length(coalesce(col("text"), lit(""))) % 2 === 0).cast("int"))
    val m = graft.operators.QualityClassifier.refModel(seed = 9, dim = 64)
    graft.operators.QualityClassifier
      .calibrationReport(labeled, "text", "y", m, x86Thresholds)
      .orderBy(col("threshold_q"))
  }

  /** x86's candidate operating points — spread across the fixture's
    * logit range so every threshold produces a distinct confusion
    * matrix; the oracle re-emits them as literals.
    */
  val x86Thresholds: Seq[Long] = Seq(-2000000000L, -500000000L,
    -50000000L, 0L, 500000000L, 2000000000L)

  /** x87: revision dedup — keep the LATEST capture per canonical URL
    * ([[Curation.latestPerUrl]]): five messy URL spellings per page
    * (default port, userinfo + fragment, utm params, trailing-dot
    * FQDN, uppercase scheme/host) all normalize to one canonical key,
    * fetch times are monotone in doc_id, so the winner per page is
    * closed-form (the group's max doc_id) and the whole
    * normalize → group → max_by pipeline is oracle-checked end-to-end.
    */
  def x87LatestPerUrl(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
      .withColumn("grp", expr("doc_id div 5"))
    val base = concat(lit("site"), col("grp").cast("string"),
      lit(".example"))
    val url = when(col("doc_id") % 5 === 0,
        concat(lit("https://"), base, lit("/page")))
      .when(col("doc_id") % 5 === 1,
        concat(lit("HTTPS://"), upper(base), lit(":443/page")))
      .when(col("doc_id") % 5 === 2,
        concat(lit("https://u:p@"), base, lit("/page#frag")))
      .when(col("doc_id") % 5 === 3,
        concat(lit("https://"), base, lit("/page?utm_source=x")))
      .otherwise(concat(lit("https://"), base, lit("./page")))
    val captures = d.select(col("doc_id"), url.as("url"),
      timestamp_seconds(lit(1700000000L) + col("doc_id")).as("fetched_at"))
    Curation.latestPerUrl(captures, "url", "fetched_at", "doc_id")
      .select(col("url_canonical"), col("doc_id"))
      .orderBy(col("url_canonical"))
  }

  /** x88: crawl snapshot diff ([[Curation.crawlDiff]]) — the
    * incremental-recrawl question, every status planted closed-form:
    * doc_id % 11 = 0 pages exist only in the NEW snapshot (`new`),
    * % 13 = 0 only in the old one (`deleted`), % 7 = 0 carry changed
    * content (`changed` — fingerprints diverge), everything else
    * `unchanged`. The oracle restates the full-outer join and the
    * fingerprint arithmetic (x2/x12's md5-normalize statement).
    */
  def x88CrawlDiff(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
      .select(concat(lit("u"), col("doc_id").cast("string")).as("url"),
        col("doc_id"), col("text"))
    val prev = d.filter(col("doc_id") % 11 =!= 0)
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .select(col("url"), col("fp"))
    val next = d.filter(col("doc_id") % 13 =!= 0)
      .withColumn("fp", TextFunctions.fingerprint(
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" changed marker")))
          .otherwise(col("text"))))
      .select(col("url"), col("fp"))
    Curation.crawlDiff(prev, next, "url", "fp")
      .orderBy(col("url"))
  }

  /** x89: Unicode NFC normalization — the canonicalization step before
    * any multilingual dedup key ([[TextFunctions.normalizeUnicode]]).
    * Each document's text gets a planted suite of the forms that
    * actually occur in crawls (decomposed e+◌́, composed é, A+◌̊,
    * precomposed Å, the Ω ohm sign whose NFC form is Greek capital
    * omega) and both engines normalize independently — Java's
    * `Normalizer` here, DuckDB's ICU `nfc_normalize` in the oracle —
    * so the hash compare proves the implementations agree on the
    * Unicode standard's answer, not on each other.
    */
  def x89UnicodeNfc(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(coalesce(col("text"), lit("")),
      lit(" e\u0301 \u00e9 A\u030A \u00C5 \u2126")) // escapes: no editor can re-normalize them
    val norm = TextFunctions.normalizeUnicode(planted, "NFC")
    docs(s, dir).select(col("doc_id"),
        md5(norm).as("nfc_md5"),
        length(norm).cast("long").as("n_chars_nfc"))
      .orderBy(col("doc_id"))
  }

  /** x90: IDN (internationalized) hosts through the PSL bridge —
    * round 11's closure of the unicode-host gap: hosts with fixed
    * non-ASCII labels (German umlaut, Cyrillic, accented Latin) and
    * variable ASCII parts resolve through
    * [[graft.expressions.PslRegisteredDomain]]'s `java.net.IDN`
    * punycode bridge against punycode rules (the form the real
    * publicsuffix.org list stores), and the oracle states each
    * registered domain from first principles — the RFC 3492 punycode
    * of every fixed label computed independently — so a skipped
    * bridge (host falls to the implicit `*`), a wrong punycode form,
    * or a case split anywhere hash-mismatches. The unicode fixtures
    * are spelled as code-point escapes on both sides (no editor or
    * transport renormalization can perturb them — the x89 device).
    */
  def x90IdnDomains(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
    val k = col("doc_id").cast("string")
    val host = when(col("doc_id") % 5 === 0,
        lit("www.m\u00fcnchen.de")) // münchen
      .when(col("doc_id") % 5 === 1, // пример.рф
        lit("\u043f\u0440\u0438\u043c\u0435\u0440.\u0440\u0444"))
      .when(col("doc_id") % 5 === 2, // bücher.<ascii>.com
        concat(lit("b\u00fccher.ex"), k, lit(".com")))
      .when(col("doc_id") % 5 === 3,
        lit("caf\u00e9.github.io")) // café
      .otherwise(concat(lit("plain"), k, lit(".de")))
    d.select(col("doc_id"),
        UrlFunctions.registeredDomain(host, x90Psl)
          .as("registered_domain"))
      .orderBy(col("doc_id"))
  }

  /** The x90 rule list — punycode forms only, as the real list. */
  val x90Psl: Seq[String] = Seq("de", "com", "io", "github.io",
    "xn--p1ai")

  /** Memoized byte-BPE merge tables per corpus dir (the [[bpeMerges]]
    * contract: training is a pure function of the corpus, so x92
    * reusing x91's table changes nothing but wall clock; x91 itself
    * always trains fresh).
    */
  private val bpeByteMergeCache =
    scala.collection.concurrent.TrieMap
      .empty[String, Seq[(Int, String, String, String, Long)]]

  private def bpeByteMerges(s: SparkSession,
      dir: String): Seq[(Int, String, String, String, Long)] =
    bpeByteMergeCache.getOrElseUpdate(dir,
      graft.operators.Bpe.trainBytes(
        docs(s, dir).filter(col("text").isNotNull), "text",
        numMerges = 30))

  /** x91: BYTE-level BPE training ([[graft.operators.Bpe
    * .trainBytes]], GPT-2 lineage — the tokenizer form real LLM
    * pipelines train) — 30 ranked merges over UTF-8 byte symbols in
    * the printable-unicode rendering. NO SQL oracle for the same
    * structural reason as x75 (each merge's counts depend on every
    * prior argmax rewrite); gated by BpeSpec: the merge table equals
    * an independent dict-based reference byte-BPE on the full fixture
    * corpus and on mixed emoji/CJK corpora, on both merge-loop homes.
    * The byte path's END results are oracle-checked through x92.
    */
  def x91BpeBytesTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = graft.operators.Bpe.trainBytes(
      docs(s, dir).filter(col("text").isNotNull), "text", numMerges = 30)
    bpeByteMergeCache.put(dir, merges)
    merges.toDF("rank", "left", "right", "merged", "pair_count")
      .orderBy(col("rank"))
  }

  /** x92: byte-BPE round trip, ORACLE-CHECKED — the no-`<unk>`
    * losslessness contract stated relationally despite the iterative
    * trainer: encode every document with the x91 byte merge table,
    * reassemble (`array_join` → [[graft.expressions.ByteUnmap]] →
    * UTF-8 decode), and hash. Because the pre-tokenization's three
    * alternatives jointly cover every non-whitespace character in
    * order, the concatenated words are EXACTLY the text minus ASCII
    * whitespace — which the oracle states directly as
    * `regexp_replace(text, '[ \t\n\x0b\f\r]', '', 'g')` (the
    * explicit Java-`\s` class: RE2's `\s` shorthand excludes U+000B,
    * which the engine's Java-regex pre-tokenizer drops) with no BPE
    * at all. A
    * lossy merge application, a non-bijective byte mapping, a dropped
    * token, or a mis-ordered reassembly anywhere in
    * train→encode→decode hash-mismatches; `n_bytes` (the UTF-8 length
    * both engines compute independently) pins the byte decomposition
    * itself.
    */
  def x92BpeBytesRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    val decoded = graft.expressions.GraftFunctions.byteUnmap(
      array_join(col("tokens"), ""))
    graft.operators.Bpe.encodeBytes(d, "doc_id", "text",
        bpeByteMerges(s, dir))
      .select(col("doc_id"), md5(decoded).as("roundtrip_md5"),
        octet_length(decoded).cast("long").as("n_bytes"))
      .orderBy(col("doc_id"))
  }

  /** Fixture cache key: the FULL sanitized data-dir string (a 32-bit
    * hashCode can alias two dirs to one fixture) plus a generator
    * VERSION — bump the version when the generating code changes so a
    * stale fixture can never silently feed old bytes to an entry.
    */
  private def fixtureKey(dir: String, version: Int): String =
    dir.replaceAll("[^A-Za-z0-9._-]", "_") + s"_v$version"

  /** x93: FULL-FIDELITY byte-BPE round trip — the GPT-2 convention
    * end-to-end: [[graft.functions.TextFunctions.bpeBytePatternFull]]
    * pre-tokenizes with leading-space words and whitespace-run tokens
    * (the space byte renders as `Ġ` under the byte map), so the
    * decoded token stream reconstructs the ENTIRE document
    * byte-for-byte — and the oracle is literally `md5(text)`: no
    * tokenizer, no regex, no byte map on the oracle side at all. The
    * strongest statement the engine makes about its tokenizer: train
    * → encode → decode is the identity on raw documents, certified
    * against an independent engine's hash of the untouched input.
    */
  def x93BpeBytesFullFidelity(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    val merges = graft.operators.Bpe.trainBytes(d, "text",
      numMerges = 30,
      tokenPattern = TextFunctions.bpeBytePatternFull)
    bpeFullMergeCache.put(dir, merges)
    val decoded = graft.expressions.GraftFunctions.byteUnmap(
      array_join(col("tokens"), ""))
    graft.operators.Bpe.encodeBytes(d, "doc_id", "text", merges,
        tokenPattern = TextFunctions.bpeBytePatternFull)
      .select(col("doc_id"), md5(decoded).as("text_md5"),
        octet_length(decoded).cast("long").as("n_bytes"))
      .orderBy(col("doc_id"))
  }

  /** Memoized full-pattern byte merge tables (the x75/x76 contract:
    * x94 reusing x93's table changes wall clock only).
    */
  private val bpeFullMergeCache =
    scala.collection.concurrent.TrieMap
      .empty[String, Seq[(Int, String, String, String, Long)]]

  private def bpeFullMerges(s: SparkSession,
      dir: String): Seq[(Int, String, String, String, Long)] =
    bpeFullMergeCache.getOrElseUpdate(dir,
      graft.operators.Bpe.trainBytes(
        docs(s, dir).filter(col("text").isNotNull), "text",
        numMerges = 30,
        tokenPattern = TextFunctions.bpeBytePatternFull))

  /** x94: the MAP-SIDE encoder ([[graft.operators.Bpe
    * .encodeMapSide]] — the zero-shuffle production serving shape,
    * compiled [[graft.expressions.BpeEncodeTokens]] kernel, per-thread
    * word LRU) through the same full-fidelity round trip as x93: if
    * the kernel's rank-order application diverges from the join-based
    * encoder ANYWHERE on the corpus — a wrong lowest-rank choice, an
    * overlapping merge, a cache aliasing bug — the reconstruction
    * hash-mismatches `md5(text)`. PlanSpec pins the zero-shuffle
    * claim; BpeSpec pins token-level equality with the join encoder.
    */
  def x94BpeMapSide(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    val decoded = graft.expressions.GraftFunctions.byteUnmap(
      array_join(col("tokens"), ""))
    graft.operators.Bpe.encodeMapSide(d, "doc_id", "text",
        bpeFullMerges(s, dir), byteLevel = true,
        tokenPattern = TextFunctions.bpeBytePatternFull)
      .select(col("doc_id"), md5(decoded).as("text_md5"),
        octet_length(decoded).cast("long").as("n_bytes"))
      .orderBy(col("doc_id"))
  }

  /** x95: sequence packing budgeted by the REAL tokenizer
    * ([[graft.operators.Packing.packSequencesBpe]]) — per-language
    * packed streams cut into 512-token training sequences, with
    * `n_bpe` counted by the map-side BPE kernel. The zero-merge
    * full-fidelity configuration makes every byte its own token, so
    * `n_bpe` = the document's UTF-8 byte count and the ENTIRE
    * offset/cut/straddle chain is stated relationally by the oracle
    * (octet_length + a window prefix sum + integer division) — a
    * wrong count anywhere in regex→bytes→kernel, a mis-ordered
    * window, or an off-by-one at a cut boundary hash-mismatches.
    * Trained-merge budgeting is the same code path with a different
    * table (BpeSpec gates the kernel's counts against the join
    * encoder).
    */
  def x95PackTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    graft.operators.Packing.packSequencesBpe(d, "doc_id", "text",
        "lang", seqLen = 512, merges = Nil, byteLevel = true,
        tokenPattern = TextFunctions.bpeBytePatternFull)
      .orderBy(col("lang"), col("doc_id"))
  }

  /** x96: MATERIALIZED training sequences ([[graft.operators.Packing
    * .materializeSequences]]) — the artifact a trainer's data loader
    * consumes, oracle-checked END-TO-END including the document-
    * boundary straddle logic where the off-by-ones live. The
    * zero-merge full-fidelity byte configuration makes every token id
    * a raw UTF-8 byte value, so each sequence's packed `width = 1`
    * binary ([[graft.expressions.PackedTokenBinary]]) is LITERALLY
    * bytes `[seq_id·512, (seq_id+1)·512)` of the stratum's
    * concatenated document stream — which the oracle restates with
    * `string_agg` + `substr` arithmetic and hashes, alongside the
    * span provenance (`doc:pos:n` per contributing fragment, in
    * stream order) and the `complete` flag. A wrong slice bound, a
    * dropped or duplicated straddle fragment, a mis-sorted fragment
    * list, or a wrong id anywhere mismatches the md5.
    */
  def x96MaterializeSequences(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    graft.operators.Packing.materializeSequences(d, "doc_id", "text",
        "lang", seqLen = 512, merges = Nil,
        tokenPattern = TextFunctions.bpeBytePatternFull)
      .select(col("lang"), col("seq_id"), col("n_tokens"),
        col("complete"),
        md5(graft.expressions.GraftFunctions.packedTokenBinary(
          col("token_ids"), width = 1)).as("seq_md5"),
        array_join(expr("transform(doc_spans, f -> " +
          "concat(f.doc, ':', f.pos, ':', f.n))"), ",")
          .as("doc_spans"))
      .orderBy(col("lang"), col("seq_id"))
  }

  /** x97: SEQUENCE-LEVEL decontamination ([[graft.operators.Packing
    * .sequenceContamination]]) — the screen that catches what
    * document-level screening cannot: packing concatenates fragments
    * across document boundaries, so a training SEQUENCE can contain
    * benchmark shingles that no single document does. Sequences come
    * from x96's materialization; the benchmark split is the md5-bucket
    * device (first hex digit of md5(doc_id) = '0', the x29 idiom);
    * each sequence's ids decode map-side and shingle through the same
    * probe as the document-level report. The oracle rebuilds every
    * sequence's text with the x96 substr arithmetic, shingles BOTH
    * sides in list SQL, and recomputes the shared counts — decode,
    * packing, shingling, and the threshold compare are all on the
    * hook at once.
    */
  def x97SequenceContamination(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    val seqs = graft.operators.Packing.materializeSequences(d,
      "doc_id", "text", "lang", seqLen = 512, merges = Nil,
      tokenPattern = TextFunctions.bpeBytePatternFull)
    val benchmark = d.filter(
      substring(md5(col("doc_id").cast("string")), 1, 1) === "0")
    graft.operators.Packing.sequenceContamination(seqs, "lang",
        benchmark, "text", merges = Nil, k = 3, num = 1, den = 10)
      .select(col("lang"), col("seq_id"),
        col("n_shingles").cast("long").as("n_shingles"),
        col("n_shared").cast("long").as("n_shared"),
        col("contaminated").cast("int").as("contaminated"))
      .orderBy(col("lang"), col("seq_id"))
  }

  /** x98: materialized sequences WITH DOCUMENT SEPARATORS — the GPT-2
    * `<|endoftext|>` convention: every document's token stream ends
    * with the separator's reserved id, which counts toward the
    * `seqLen` budget and straddles cuts exactly like content. The
    * oracle re-derives the whole chain with per-document stride
    * `n + 1` (content bytes plus one separator): offsets, fragment
    * bounds, span strings, the per-sequence separator COUNT (a
    * fragment carries its separator iff it reaches the document
    * interval's end), and the md5 of the sequence's NON-separator
    * byte content (`content_md5` — engine-side the separator ids are
    * filtered before the width-1 packed binary, oracle-side the
    * content substr stops one short of each interval end). Any
    * misplacement of a separator — dropped, doubled, attributed to
    * the wrong sequence — breaks either the count or the md5.
    */
  def x98SeparatorSequences(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    val eot = "<|endoftext|>"
    val sepId = 256L // zero merges, one special ⇒ first reserved id
    graft.operators.Packing.materializeSequences(d, "doc_id", "text",
        "lang", seqLen = 512, merges = Nil,
        specialTokens = Seq(eot), docSeparator = Some(eot),
        tokenPattern = TextFunctions.bpeBytePatternFull)
      .select(col("lang"), col("seq_id"), col("n_tokens"),
        col("complete"),
        size(filter(col("token_ids"), t => t === sepId)).cast("long")
          .as("n_sep"),
        md5(graft.expressions.GraftFunctions.packedTokenBinary(
          filter(col("token_ids"), t => t =!= sepId), width = 1))
          .as("content_md5"),
        array_join(expr("transform(doc_spans, f -> " +
          "concat(f.doc, ':', f.pos, ':', f.n))"), ",")
          .as("doc_spans"))
      .orderBy(col("lang"), col("seq_id"))
  }

  /** x99: corpus token-frequency profile under the byte tokenizer
    * ([[graft.operators.Bpe.tokenFrequencyBytes]]) — the
    * post-tokenization statistic vocabulary decisions key on. The
    * zero-merge configuration makes every emitted token a single
    * (self-mapped printable-ASCII) byte symbol, so the oracle is a
    * plain per-character count over whitespace-stripped text with
    * `ascii()` as the id — the kernel's pre-tokenization, the byte
    * mapping, the vocab id hop, and the aggregate are all on the
    * hook. Trained-merge profiles are the same code path (BpeSpec
    * gates the kernel against the join encoder).
    */
  def x99TokenFrequency(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    graft.operators.Bpe.tokenFrequencyBytes(d, "text", merges = Nil)
      .select(col("token"), col("id"), col("n").cast("long").as("n"))
      .orderBy(col("token"))
  }

  /** x101: NO-STRADDLE (T5-style) packing ([[graft.operators.Packing
    * .packNoStraddle]]) — first-fit placement of whole documents, a
    * genuinely SEQUENTIAL per-stratum fold (each placement depends on
    * the previous fill), which is why the oracle is a DuckDB
    * RECURSIVE CTE advancing every stratum one document per
    * iteration: the engine's streamed O(1)-state fold must equal the
    * relational restatement row for row — truncation clamps, new-
    * sequence resets, and in-sequence offsets all included. The
    * zero-merge byte configuration makes the count octet_length, so
    * the ONLY engine-specific input is the fold itself.
    */
  def x101PackNoStraddle(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    graft.operators.Packing.packNoStraddle(d, "doc_id", "text", "lang",
        seqLen = 512, merges = Nil,
        tokenPattern = TextFunctions.bpeBytePatternFull)
      .orderBy(col("lang"), col("doc_id"))
  }

  /** x103: SFT loss-masked examples ([[graft.operators.Sft
    * .lossMaskedExamples]]) — chat transcripts parsed into role
    * turns, each turn's content tokenized independently, loss mask 1
    * on assistant content only (never markers, never user turns).
    * The transcripts are built IN-QUERY from documents (user = first
    * half, assistant = second half — the planted-construction
    * idiom), so the oracle can restate everything with substr
    * arithmetic: turn count, token count (content bytes + one marker
    * id per turn under the zero-merge byte config), masked count,
    * and the md5 of BOTH mask classes' content bytes (masked =
    * assistant half, unmasked-content = user half; marker ids ≥ 256
    * are excluded by the id filter). A mask misaligned by even one
    * token breaks a hash.
    */
  def x103SftLossMask(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    val n = length(col("text"))
    val h = (n / 2).cast("int")
    val chat = concat(lit("<|user|>"), col("text").substr(lit(1), h),
      lit("<|assistant|>"), col("text").substr(h + 1, n))
    graft.operators.Sft.lossMaskedExamples(
        d.select(col("doc_id"), chat.as("chat")), "doc_id", "chat",
        roles = Seq("user", "assistant"), maskRole = "assistant",
        merges = Nil, tokenPattern = TextFunctions.bpeBytePatternFull)
      .select(col("doc_id"), col("n_turns"), col("n_tokens"),
        col("n_masked"),
        md5(graft.expressions.GraftFunctions.packedTokenBinary(
          expr("filter(zip_with(token_ids, loss_mask, " +
            "(t, m) -> IF(m = 1, t, -1L)), x -> x >= 0)"), width = 1))
          .as("masked_md5"),
        md5(graft.expressions.GraftFunctions.packedTokenBinary(
          expr("filter(zip_with(token_ids, loss_mask, " +
            "(t, m) -> IF(m = 0 AND t < 256, t, -1L)), x -> x >= 0)"),
          width = 1)).as("user_md5"))
      .orderBy(col("doc_id"))
  }

  /** x104: PACKED SFT sequences ([[graft.operators.Sft
    * .packExamples]]) — x103's loss-masked examples placed whole by
    * the no-straddle first-fit fold, with the token stream, the
    * aligned mask, and position ids that RESET at every example
    * boundary, padded to the fixed shape. Same in-query transcript
    * construction as x103 (user = first half, assistant = second
    * half), so the oracle restates the x101 recursive-CTE assignment
    * with per-doc token count `length + 2` and then, per sequence:
    * example/token/mask/pad counts, `sum(position_ids)` as the
    * closed-form `Σ n(n-1)/2` (positions must restart per example or
    * the sum breaks), the md5 of both mask classes' content bytes in
    * PLACEMENT order, and the spans string. Truncation clips the
    * mask and the positions identically because all three ride the
    * same fold.
    */
  def x104PackedSft(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    val n = length(col("text"))
    val h = (n / 2).cast("int")
    val chat = concat(lit("<|user|>"), col("text").substr(lit(1), h),
      lit("<|assistant|>"), col("text").substr(h + 1, n))
    graft.operators.Sft.packExamples(
        d.select(col("lang"), col("doc_id"), chat.as("chat")),
        "doc_id", "chat", "lang", seqLen = 512,
        roles = Seq("user", "assistant"), maskRole = "assistant",
        merges = Nil, padToken = "<|pad|>",
        tokenPattern = TextFunctions.bpeBytePatternFull)
      .select(col("lang"), col("seq_id"), col("n_examples"),
        col("n_tokens"), col("n_masked"), col("n_pad"),
        expr("aggregate(position_ids, CAST(0 AS BIGINT), " +
          "(a, x) -> a + x)").as("sum_positions"),
        // pad id = 258 (zero merges, specials user/assistant/pad)
        size(filter(col("padded_ids"), t => t === 258L)).cast("long")
          .as("n_pad_ids"),
        md5(graft.expressions.GraftFunctions.packedTokenBinary(
          expr("filter(zip_with(token_ids, loss_mask, " +
            "(t, m) -> IF(m = 1, t, -1L)), x -> x >= 0)"), width = 1))
          .as("masked_md5"),
        md5(graft.expressions.GraftFunctions.packedTokenBinary(
          expr("filter(zip_with(token_ids, loss_mask, " +
            "(t, m) -> IF(m = 0 AND t < 256, t, -1L)), x -> x >= 0)"),
          width = 1)).as("user_md5"),
        array_join(expr("transform(doc_spans, f -> concat(f.doc, " +
          "':', f.pos, ':', f.n, ':', f.truncated))"), ",")
          .as("doc_spans"))
      .orderBy(col("lang"), col("seq_id"))
  }

  /** x105: DPO preference pairs ([[graft.operators.Sft
    * .preferencePairs]]) — (prompt, chosen, rejected) built in-query
    * as thirds of `text` (the planted-construction idiom), so every
    * output restates as substr arithmetic under the zero-merge byte
    * config: stream lengths with the eos id, whole-stream clipping at
    * `maxLen = 256` with per-side flags, eos survival (= the
    * unclipped stream fits), and the md5 of each side's KEPT content
    * bytes (prompt ∥ completion prefix — the id filter drops the eos).
    * A boundary merge, an off-by-one clip, or a lost eos breaks a
    * hash or a flag.
    */
  def x105PreferencePairs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    val l = length(col("text"))
    val a = (l / 3).cast("int")
    val b = (l * 2 / 3).cast("int")
    val eosId = 256L // zero merges, one special ⇒ first reserved id
    graft.operators.Sft.preferencePairs(
        d.select(col("doc_id"), col("text").substr(lit(1), a).as("p"),
          col("text").substr(a + 1, b - a).as("c"),
          col("text").substr(b + 1, l).as("r")),
        "doc_id", "p", "c", "r", merges = Nil, maxLen = 256,
        eosToken = Some("<|eos|>"), specialTokens = Seq("<|eos|>"),
        tokenPattern = TextFunctions.bpeBytePatternFull)
      .select(col("doc_id"), col("n_prompt"), col("n_chosen"),
        col("n_rejected"), col("chosen_truncated"),
        col("rejected_truncated"),
        (element_at(col("chosen_ids"), -1) === eosId)
          .as("chosen_has_eos"),
        (element_at(col("rejected_ids"), -1) === eosId)
          .as("rejected_has_eos"),
        md5(graft.expressions.GraftFunctions.packedTokenBinary(
          filter(col("chosen_ids"), t => t < 256L), width = 1))
          .as("chosen_md5"),
        md5(graft.expressions.GraftFunctions.packedTokenBinary(
          filter(col("rejected_ids"), t => t < 256L), width = 1))
          .as("rejected_md5"))
      .orderBy(col("doc_id"))
  }

  /** x106: tokenizer fertility/compression profile ([[graft.operators
    * .Bpe.fertilityStats]]) under a PLANTED one-merge table
    * `(i, n) → in`: adjacent `i n` letters can never be split by the
    * GPT-2 pre-tokenizer (letter runs are atomic; the contraction
    * alternation needs an apostrophe), instances of a two-distinct-
    * char pair are always disjoint, and a merge never creates a new
    * `(i, n)` adjacency — so the engine's iterative merge loop
    * removes EXACTLY the non-overlapping occurrence count, and the
    * oracle restates the token total as
    * `bytes − occurrences("in")` via `replace` arithmetic. Words use
    * the explicit shared whitespace class. The ratios are integer
    * milli-values, so no float crosses engines.
    */
  def x106TokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    graft.operators.Bpe.fertilityStats(d, "text", "lang",
        merges = Seq((0, "i", "n", "in", 1L)),
        tokenPattern = TextFunctions.bpeBytePatternFull)
      .orderBy(col("lang"))
  }

  /** x107: length-grouped batches ([[graft.operators.Packing
    * .lengthGroupedBatches]]) — examples sorted by token count
    * descending within a stratum and chunked into batches of 8, each
    * padding to its own maximum. Zero-merge byte config makes the
    * count `octet_length`, so the whole assignment (rank, batch id,
    * per-batch max, per-example padding) restates as ROW_NUMBER/MAX
    * window arithmetic in DuckDB.
    */
  def x107LengthBatches(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    graft.operators.Packing.lengthGroupedBatches(d, "doc_id", "text",
        "lang", batchSize = 8, merges = Nil,
        tokenPattern = TextFunctions.bpeBytePatternFull)
      .orderBy(col("lang"), col("doc_id"))
  }

  /** x108: temperature-based mixture sampling ([[graft.operators
    * .Mixing.temperatureSample]]) — a 300-row budget apportioned over
    * languages ∝ n^0.5 by largest remainder, winners the md5-order
    * prefix per language. α = 0.5 keeps the whole chain engine-exact
    * (IEEE sqrt is correctly rounded, everything after is integer
    * arithmetic), so the oracle restates weights, apportionment, and
    * the per-language rank cut verbatim in window SQL.
    */
  def x108TemperatureSample(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    graft.operators.Mixing.temperatureSample(d, "lang", "doc_id",
        budget = 300L, alpha = 0.5)
      .select(col("lang"), col("doc_id"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** x109: best-of-n preference construction ([[graft.operators.Sft
    * .bestOfN]]) — three candidate completions per document planted
    * in-query (prefixes of 1/4, 1/2, 3/4 of the text) with reward
    * `4·length + k` (always distinct — the id tiebreak is exercised by
    * the spec, not the oracle), argmax → chosen, argmin → rejected.
    * The oracle restates the construction with substr arithmetic and
    * the arg-extrema as ROW_NUMBER windows.
    */
  def x109BestOfN(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    val cands = d.select(col("doc_id"), col("text"))
      .withColumn("k", explode(array(lit(1), lit(2), lit(3))))
      .withColumn("cand", expr(
        "substr(text, 1, greatest(1, (octet_length(text) * k) div 4))"))
      .withColumn("cand_id", col("doc_id") * 4 + col("k"))
      .withColumn("reward",
        (octet_length(col("cand")) * 4 + col("k")).cast("double"))
    graft.operators.Sft.bestOfN(cands, "doc_id", "cand_id", "cand",
        "reward")
      .select(col("doc_id"), col("n_candidates"), col("chosen_id"),
        col("rejected_id"), col("margin"),
        md5(col("chosen")).as("chosen_md5"),
        md5(col("rejected")).as("rejected_md5"))
      .orderBy(col("doc_id"))
  }

  /** x110: mid-epoch shuffle resume ([[graft.operators.Sampling
    * .resumeShuffle]]) — the x73 deterministic shuffle (seed r12,
    * 32 shards) checkpointed at per-shard position 7: the operator
    * emits exactly the unconsumed remainder with shard + position.
    * Oracle = x73's strpos hex arithmetic for the shard, ROW_NUMBER
    * over the hash for the position, and the skip as a plain filter.
    */
  def x110ResumeShuffle(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.operators.Sampling.resumeShuffle(d, "doc_id", "r12",
        numShards = 32, skipPerShard = 7L)
      .select(col("shard"), col("position"), col("doc_id"))
      .orderBy(col("shard"), col("position"))
  }

  /** x112: BPE token-window chunking ([[graft.operators.Chunking
    * .tokenWindowsBpe]]) — width 128, stride 64 over real token ids,
    * chunk text decoded byte-exactly. Zero-merge byte config under
    * the full-fidelity pre-tokenization makes window i's decoded text
    * EXACTLY `substr(text, i·64 + 1, 128)`, so the oracle states
    * index, count, and content md5 with plain substring arithmetic.
    */
  def x112TokenWindowsBpe(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    graft.operators.Chunking.tokenWindowsBpe(d, "doc_id", "text",
        width = 128, stride = 64, merges = Nil,
        tokenPattern = TextFunctions.bpeBytePatternFull)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
        md5(col("chunk_text")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** x111: DSIR importance weights ([[graft.operators.Selection
    * .dsirWeights]]) — raw pool = every document, target = the
    * English subset, 1024 hashed-bigram buckets. The models are
    * counting fits and every log term quantizes to a 1e-10 long
    * before the per-document sum, so DuckDB restates the whole chain:
    * bigrams in list SQL, the bucket hash via the strpos hex
    * arithmetic, smoothed counts, and the quantized term sums.
    */
  def x111DsirWeights(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    graft.operators.Selection.dsirWeights(
        d, d.filter(col("lang") === "en"), "doc_id", "text",
        numBuckets = 1024)
      .orderBy(col("doc_id"))
  }

  /** x102: MATERIALIZED no-straddle sequences ([[graft.operators
    * .Packing.materializeNoStraddle]]) — x101's assignment carried to
    * the padded trainer artifact: per sequence, the placed documents'
    * (truncation-clamped) byte ids in placement order, the pad fill
    * to exactly 512, and span provenance with truncation flags. The
    * oracle extends x101's recursive CTE one step: group the fold's
    * rows by sequence, concatenate `substr(text, 1, n)` in placement
    * order (truncation IS the clamp, so content md5 follows
    * relationally), count padding as `512 − Σn`, and restate every
    * span — a dropped document, a mis-sliced truncation, a wrong pad
    * id, or a broken placement order all hash-mismatch.
    */
  def x102MaterializeNoStraddle(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    val pad = "<pad>"
    val padId = 256L // zero merges, one special ⇒ first reserved id
    graft.operators.Packing.materializeNoStraddle(d, "doc_id", "text",
        "lang", seqLen = 512, merges = Nil,
        specialTokens = Seq(pad), padToken = Some(pad),
        tokenPattern = TextFunctions.bpeBytePatternFull)
      .select(col("lang"), col("seq_id"), col("n_tokens"), col("n_pad"),
        size(col("padded_ids")).cast("long").as("padded_len"),
        size(filter(col("padded_ids"), t => t === padId)).cast("long")
          .as("n_pad_ids"),
        md5(graft.expressions.GraftFunctions.packedTokenBinary(
          col("token_ids"), width = 1)).as("content_md5"),
        array_join(expr("transform(doc_spans, f -> concat(f.doc, " +
          "':', f.pos, ':', f.n, ':', f.truncated))"), ",")
          .as("doc_spans"))
      .orderBy(col("lang"), col("seq_id"))
  }

  /** x100: fill-in-the-middle transform ([[graft.operators.Masking
    * .fimTransform]]) — the FIM pretraining objective's
    * prefix/middle/suffix split at rate 1/2, every decision a pure
    * 16-bit md5 function of the doc id. The oracle recomputes the
    * gate, both cut points, and the reassembly from first principles
    * (the x73 strpos hex arithmetic), then compares part lengths and
    * the joined-parts md5 — a shifted cut, a wrong mod, an off-by-one
    * at either boundary, or a leaked transform on a short document
    * all hash-mismatch.
    */
  def x100FimTransform(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("text").isNotNull)
    graft.operators.Masking.fimTransform(d, "doc_id", "text",
        rateNum = 1, rateDen = 2)
      .select(col("doc_id"), col("fim"),
        length(col("prefix")).cast("long").as("n_prefix"),
        length(col("middle")).cast("long").as("n_middle"),
        length(col("suffix")).cast("long").as("n_suffix"),
        md5(concat_ws("|", col("prefix"), col("middle"),
          col("suffix"))).as("parts_md5"))
      .orderBy(col("doc_id"))
  }

  private val x84FixtureLock = new Object

  /** Bump when [[Multimodal.attachAviPayload]]/[[Multimodal
    * .aviMjpegBytes]] (the fixture GENERATORS) change shape.
    */
  private val AviFixtureVersion = 1

  /** x84's AVI corpus, persisted once per sf dir (the x68/x69 caching
    * contract): generating the fixture JPEG-encodes every frame —
    * WRITER work that is not the operator under test — so the entry
    * times the decode chain (RIFF walk → JPEG decode → PNG re-encode →
    * dimension probe) against a stable on-disk corpus, exactly the
    * shape of a real video table.
    */
  def x84Fixture(s: SparkSession, dir: String): DataFrame =
    x84FixtureLock.synchronized {
      val key = fixtureKey(dir, AviFixtureVersion)
      val base =
        s"${System.getProperty("java.io.tmpdir")}/graft_avi_fixture_$key"
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val done = new org.apache.hadoop.fs.Path(s"$base/_DONE")
      if (!fs.exists(done)) {
        Multimodal.attachAviPayload(
            docs(s, dir).select(col("doc_id")), "doc_id")
          .write.mode("overwrite").parquet(s"$base/avi.parquet")
        fs.create(done).close()
      }
      s.read.parquet(s"$base/avi.parquet")
    }

  /** x85: mixture EPOCHS — the upsampling half of the data-mix recipe
    * ([[graft.operators.Mixing.epochsPerStratum]]): en ×2.5 (2 copies
    * + a hash-gated third for half the ids), de ×1 (untouched via the
    * default), fr ×0.25 (deterministic quarter), es ×0 (dropped), zh
    * default ×1. The fractional thresholds are exact powers of two of
    * the 16^8 gate, so the oracle restates the whole multiset —
    * including every copy_idx — with the engine's own lexicographic
    * md5-prefix compare. Map-side explode, zero shuffles.
    */
  def x85SourceEpochs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("lang"))
    graft.operators.Mixing.epochsPerStratum(d, "lang", "doc_id",
        Map("en" -> 2.5, "fr" -> 0.25, "es" -> 0.0), defaultFactor = 1.0)
      .orderBy(col("doc_id"), col("copy_idx"))
  }

  private val x69FixtureLock = new Object

  /** x69's WARC shards, persisted once per sf dir (see [[x68Fixture]]
    * for the caching contract). Written from executors via the Hadoop
    * FS API — the same code path works against an object store on a
    * real cluster; only record CONTENT is oracle-relevant, so the
    * hash-partitioned file assignment need not be stable.
    */
  /** Bump when the WARC fixture writer below changes shape. */
  private val WarcFixtureVersion = 1

  def x69Fixture(s: SparkSession, dir: String): String =
    x69FixtureLock.synchronized {
      val key = fixtureKey(dir, WarcFixtureVersion)
      val base =
        s"${System.getProperty("java.io.tmpdir")}/graft_warc_fixture_$key"
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val done = new org.apache.hadoop.fs.Path(s"$base/_DONE")
      if (!fs.exists(done)) {
        fs.mkdirs(new org.apache.hadoop.fs.Path(base))
        val sconf = new org.apache.spark.sql.graftbridge
          .SerializableHadoopConf(s.sparkContext.hadoopConfiguration)
        docs(s, dir).filter(col("text").isNotNull)
          .select(col("doc_id"), col("text"))
          .repartition(8, col("doc_id"))
          .sortWithinPartitions(col("doc_id"))
          .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
            val rows = it.toSeq
            if (rows.nonEmpty) {
              val recs = rows.map { r =>
                graft.sources.Warc.WarcRecord("response",
                  s"<urn:graft:${r.getLong(0)}>",
                  s"http://example.com/doc/${r.getLong(0)}",
                  "2024-01-01T00:00:00Z",
                  "application/http; msgtype=response", 200,
                  "text/plain; charset=utf-8",
                  r.getString(1).getBytes("UTF-8"))
              }
              val part = org.apache.spark.TaskContext.getPartitionId()
              val p = new org.apache.hadoop.fs.Path(base,
                f"part-$part%05d.warc.gz")
              val out = p.getFileSystem(sconf.value).create(p, true)
              try out.write(graft.sources.Warc.writeBytes(recs,
                gzipPerRecord = true))
              finally out.close()
            }
          }
        fs.create(done).close()
      }
      base
    }

  /** x139: PQ ADC scoring under the SEEDED codebooks — `kmeansIters = 0`
    * freezes each subspace codebook at the deterministic id-order init
    * (the 16 lowest-vec_id embeddings, sliced per subspace: the x55
    * flip), so the ENTIRE scored surface — per-subspace squared-L2
    * argmin encode ([[graft.expressions.NearestCells]]), the per-query
    * ADC dot tables, the compiled [[graft.expressions.PqAdcDot]] lookup
    * sum, norm-ratio cosine, bounded top-k — is exact double arithmetic
    * over stored floats that DuckDB restates verbatim. This puts the PQ
    * encode+score kernels (the x61/x63/x113 hot path) under the SQL
    * oracle; Lloyd TRAINING stays spec-gated (iterated float means are
    * the x17 blocker) and is additionally pinned by a hand-computed
    * planted-fixture trajectory in SimilaritySpec.
    */
  def x139PqAdcSeeded(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimilaritySearch.pqTopK(e, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, kmeansIters = 0)
      .orderBy(col("query_id"), col("rk"))
  }

  /** x140: IVF probe + exact-cosine scoring under the SEEDED quantizer —
    * `kmeansIters = 0` makes the 16 coarse centroids the id-order seeds
    * (the x55 device), so cell assignment, the query's 4-of-16 probe
    * set (same argmin kernel, ranked ties → lower cell), the exact
    * cosine over probed members, and the bounded top-k are all statable
    * in SQL. Puts the IVF assign/probe path (x17/x113's structure)
    * under the DuckDB oracle; the Lloyd-trained quantizer stays
    * spec-gated.
    */
  def x140KnnIvfSeeded(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimilaritySearch.ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, kmeansIters = 0)
      .orderBy(col("query_id"), col("rk"))
  }
}
