package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training and application — the
  * tokenization leg of a training-data pipeline (Sennrich et al.,
  * "Neural Machine Translation of Rare Words with Subword Units",
  * ACL 2016).
  *
  * Scale design: training NEVER iterates over the corpus. One shuffle
  * builds the word HISTOGRAM (vocab-sized — grows sublinearly in corpus
  * bytes, the reason corpus-scale BPE training is feasible at all), and
  * the merge loop runs over that histogram. The loop itself has two
  * homes, picked by a MEASURED bound on the histogram size:
  *
  *  - '''driver path''' (histogram rows ≤ `maxDriverWords`, default
  *    10⁶): the histogram is collected once and the merge loop runs in
  *    memory with incrementally-maintained pair counts and a
  *    pair→words index, so each merge touches only the words that
  *    contain the merged pair. This is the practical path for real
  *    vocab sizes — 32k–100k merges as in-memory map updates instead
  *    of 2 Spark jobs per merge (collect-argmax + rewrite), which at
  *    production merge counts is ~10⁵ driver-round-trip jobs of pure
  *    scheduling overhead on a vocab-sized frame. The bound is sized
  *    to the loop's REAL footprint, which is dominated not by the
  *    collected rows but by the pair→words index: ~one boxed HashSet
  *    entry per adjacent-pair slot per distinct word (≈ avg word
  *    length − 1 ≈ 7 entries/word at ~50 bytes each), so the default
  *    10⁶ words cost ≈ 0.5 GB of driver heap including the pair-count
  *    map and the queue — raise the bound only with the heap to match
  *    (each 10⁶ words ≈ +0.5 GB). BPE training corpora are normally a
  *    SAMPLE anyway (tokenizers train on ~10⁹ chars, not the full
  *    corpus), so 10⁶ distinct words covers the standard recipe.
  *  - '''distributed path''' (above the bound, or `maxDriverWords = 0`
  *    to force it): the original per-merge pair-count agg + argmax +
  *    regexp rewrite over the cached histogram frame — correct at any
  *    histogram size, paying per-merge job latency.
  *
  * Both paths are exact and produce IDENTICAL merge tables (asserted
  * against each other and against an independent reference trainer in
  * BpeSpec): pair counts are frequency-weighted longs, ties break
  * deterministically, and merge application is leftmost-first
  * non-overlapping in both.
  *
  * Encoding mirrors the histogram trick: distinct words are encoded
  * ONCE (vocab-sized work) and joined back to the corpus — the
  * per-document cost is a join probe, independent of the merge-table
  * size. The distinct-word table joins back through
  * [[graft.core.BroadcastGate]]: distinct words in a web corpus are
  * 10⁷–10⁸ rows (typos, URLs, hashes), so above the gate the join
  * falls back to a shuffle join on the word.
  *
  * Words are [[TextFunctions.bpeTokenPattern]] matches (letter runs,
  * digit runs, single marks) — the same pre-tokenization the rest of
  * the engine uses. Symbols within a word start as single characters;
  * merges apply within words only, in rank order, leftmost-first.
  */
object Bpe extends TokenizerSurface {

  type Tok = BpeTokenizer

  /** Regex-literal quote for a symbol (symbols can be `.`/`+`/... from
    * punctuation words).
    */
  private def q(s: String): String = java.util.regex.Pattern.quote(s)

  /** Replacement-literal quote (`$` and `\` are group refs otherwise). */
  private def qr(s: String): String =
    java.util.regex.Matcher.quoteReplacement(s)

  /** Word histogram with each word exploded into space-joined,
    * space-padded single-character symbols (`" h i "`): the padded form
    * makes "adjacent pair" a regexp-visible property with zero-width
    * boundaries, so merge application is one codegen'd regexp_replace.
    */
  def wordHistogram(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(regexp_extract_all(col(textCol),
        lit(TextFunctions.bpeTokenPattern), lit(0))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("weight"))
      .withColumn("syms", charPad(col("word")))

  /** `"hi"` → `" h i "`: single-char symbols, space-joined and padded.
    * regexp_extract_all('.') rather than split("") — the latter leaves
    * a trailing empty element under Spark's limit=-1 semantics.
    */
  private def charPad(word: org.apache.spark.sql.Column) =
    concat(lit(" "),
      array_join(regexp_extract_all(word, lit("."), lit(0)), " "),
      lit(" "))

  /** One iteration's pair counts over the histogram: adjacent symbol
    * pairs weighted by word frequency. Exposed for the oracle-side
    * story and specs; the distributed merge loop uses it internally.
    */
  def pairCounts(hist: DataFrame): DataFrame = {
    val syms = split(trim(col("syms")), " ")
    hist.select(col("weight"), syms.as("a"))
      .select(col("weight"), col("a"),
        posexplode(col("a")).as(Seq("i", "left")))
      .withColumn("right", try_element_at(col("a"), col("i") + 2))
      .filter(col("right").isNotNull)
      .groupBy(col("left"), col("right"))
      .agg(sum(col("weight")).as("pair_count"))
  }

  /** The trained merge table: `numMerges` rows of (rank, left, right,
    * merged, pair_count), rank 1 first. Ties break deterministically
    * (count desc, then left asc, right asc) so training is a pure
    * function of the corpus. Stops early when no adjacent pair occurs
    * at least `minCount` times (default 2 — merging singletons only
    * bloats the vocab).
    *
    * Dispatch: one distributed shuffle builds the histogram; its row
    * count picks the merge-loop home (see the class doc) — in-memory
    * on the driver when it fits `maxDriverWords`, the distributed
    * per-merge loop otherwise. `maxDriverWords = 0` forces the
    * distributed path (the spec device proving both paths identical).
    */
  def train(df: DataFrame, textCol: String, numMerges: Int,
      minCount: Long = 2L,
      maxDriverWords: Long = 1000000L)
      : Seq[(Int, String, String, String, Long)] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(maxDriverWords >= 0,
      s"maxDriverWords must be >= 0, got $maxDriverWords")
    val hist = wordHistogram(df, textCol).localCheckpoint()
    val n = hist.count()
    if (n <= maxDriverWords) {
      val rows = hist.select(col("word"), col("weight")).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      trainDriver(rows, numMerges, minCount)
    } else {
      warnDistributedFallback(n, maxDriverWords)
      trainDistributed(hist, numMerges, minCount)
    }
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The driver→distributed dispatch is a silent ~10⁵× per-merge
    * latency cliff (2 Spark jobs per merge vs in-memory map updates),
    * so crossing it must be VISIBLE: histograms that would fit a
    * raised bound get a warning with the exact heap arithmetic needed
    * to stay on the fast path (≈ 0.5 GB driver heap per 10⁶ words —
    * the class-doc footprint).
    */
  private def warnDistributedFallback(n: Long,
      maxDriverWords: Long): Unit =
    if (maxDriverWords > 0 && n <= 20000000L)
      log.warn(s"BPE histogram has $n distinct words > maxDriverWords=" +
        s"$maxDriverWords; using the DISTRIBUTED merge loop (~2 Spark " +
        "jobs per merge). Raising maxDriverWords to cover it costs " +
        f"~${n / 1e6 * 0.5}%.1f GB of driver heap and keeps training " +
        "in-memory.")

  /** Unicode code-point split of a word into single-character symbol
    * strings — the same unit Spark's regexp `.` (and therefore the
    * distributed path's charPad) produces, surrogate pairs kept whole.
    */
  private def codePoints(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** Leftmost-first non-overlapping merge of adjacent (l, r) in a
    * symbol array — the driver-path twin of [[applyMerge]]'s regexp.
    */
  private def mergeSyms(syms: Array[String], l: String,
      r: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** In-memory merge loop over a collected histogram. Pair counts are
    * maintained INCREMENTALLY: a pair→containing-words index means each
    * merge re-pairs only the words it actually rewrites, and the
    * argmax comes from a LAZY-INVALIDATION priority queue (the classic
    * fast-BPE bookkeeping): every pair whose count changes in a merge
    * re-enqueues at its new count, and stale queue entries (count no
    * longer live) discard on pop — so a merge costs the affected-word
    * mass plus O(log) queue work, NOT a scan of the whole pair table.
    * At a web-vocab histogram (10⁶–10⁷ live pairs) × 32k merges, the
    * scan alternative is ~10¹¹ comparisons — the cliff this queue
    * removes. All arithmetic is exact longs and the queue order is the
    * strict (count desc, left asc, right asc) tiebreak, so the result
    * is independent of hash-map iteration order.
    *
    * QUEUE MEMORY BOUND: stale snapshots accumulate until popped, so
    * without intervention the queue's worst case is O(merges × pairs
    * touched per merge) — unbounded relative to the live pair table on
    * a high-churn corpus. The loop therefore REBUILDS the queue from
    * the live counts whenever its size exceeds
    * `queueRebuildSlack × pairs` (one O(P log P) pass, amortized
    * free at the default slack 4: a rebuild only fires after ≥
    * (slack−1)×P pushes, which themselves cost O(log) each), so queue
    * memory is always ≤ slack × |pairs|. The rebuild cannot change any
    * result: the queue after a rebuild contains exactly the live
    * ≥-minCount snapshots, a subset of what lazy validation would have
    * accepted anyway (spec-asserted with slack 1, which forces
    * rebuilds on a churn-heavy corpus).
    */
  private[graft] def trainDriver(histRows: Array[(String, Long)],
      numMerges: Int, minCount: Long, queueRebuildSlack: Int = 4)
      : Seq[(Int, String, String, String, Long)] = {
    require(queueRebuildSlack >= 1,
      s"queueRebuildSlack must be >= 1, got $queueRebuildSlack")
    import scala.collection.mutable
    val syms: Array[Array[String]] = histRows.map(r => codePoints(r._1))
    val weights: Array[Long] = histRows.map(_._2)
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords =
      mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    // pairs whose count changed since their last enqueue (per merge)
    val touched = mutable.HashSet.empty[(String, String)]

    def addWord(wi: Int): Unit = {
      val s = syms(wi); val w = weights(wi)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        pairCount.updateWith(p)(c => Some(c.getOrElse(0L) + w))
        pairWords.getOrElseUpdate(p, mutable.HashSet.empty) += wi
        touched += p
        i += 1
      }
    }
    // full removal before rewrite (then full re-add) keeps the index
    // exact even when a word contains the merged pair at several
    // positions; entries that reach zero leave the maps so only live
    // pairs can ever validate on pop
    def removeWord(wi: Int): Unit = {
      val s = syms(wi); val w = weights(wi)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        val left = pairCount(p) - w
        if (left == 0L) { pairCount.remove(p); pairWords.remove(p) }
        else { pairCount(p) = left; pairWords.get(p).foreach(_ -= wi) }
        touched += p
        i += 1
      }
    }

    var wi = 0
    while (wi < syms.length) { addWord(wi); wi += 1 }
    // (count, left, right) max-queue with the deterministic tiebreak;
    // entries are snapshots — validity is checked against pairCount
    val queue = new java.util.PriorityQueue[(Long, String, String)](
      math.max(16, pairCount.size),
      new java.util.Comparator[(Long, String, String)] {
        override def compare(a: (Long, String, String),
            b: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(b._1, a._1) // count desc
          if (c != 0) c
          else {
            val l = a._2.compareTo(b._2) // left asc
            if (l != 0) l else a._3.compareTo(b._3) // right asc
          }
        }
      })
    pairCount.foreach { case ((l, r), c) =>
      if (c >= minCount) queue.add((c, l, r))
    }
    touched.clear()

    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      // pop until a live entry surfaces: stale snapshots (count moved
      // since enqueue) discard; the first live one IS the argmax under
      // the strict order
      var best: (Long, String, String) = null
      while (best == null && !queue.isEmpty) {
        val top = queue.poll()
        if (pairCount.get((top._2, top._3)).contains(top._1) &&
            top._1 >= minCount) best = top
      }
      if (best == null) done = true
      else {
        val (c, l, r) = best
        merges += ((rank, l, r, l + r, c))
        val affected = pairWords((l, r)).toArray
        java.util.Arrays.sort(affected)
        var j = 0
        while (j < affected.length) {
          val w2 = affected(j)
          removeWord(w2)
          syms(w2) = mergeSyms(syms(w2), l, r)
          addWord(w2)
          j += 1
        }
        // re-enqueue every pair this merge touched at its live count
        touched.foreach { p =>
          pairCount.get(p).foreach(c2 =>
            if (c2 >= minCount) queue.add((c2, p._1, p._2)))
        }
        touched.clear()
        // bound the queue: when stale entries dominate, rebuild it
        // from the live counts (see the scaladoc's amortization)
        if (queue.size.toLong >
            queueRebuildSlack.toLong * pairCount.size) {
          queue.clear()
          pairCount.foreach { case ((l2, r2), c2) =>
            if (c2 >= minCount) queue.add((c2, l2, r2))
          }
        }
        rank += 1
      }
    }
    merges.result()
  }

  /** Distributed merge loop — the giant-histogram fallback.
    *
    * Driver work per iteration: ONE collected row (the argmax). Each
    * iteration TRUNCATES LINEAGE with `localCheckpoint` — a persisted
    * chain keeps the full logical plan, and because both cache printing
    * and pair-count expression inlining reference the previous
    * iteration's symbols more than once, the composed plan DOUBLES per
    * merge (measured: 376 MB of plan text by merge 18 on a 31-word
    * vocabulary, then driver OOM). Truncation makes each histogram a
    * plan leaf: constant-size plans for any merge count, and the
    * materialized frame stays vocab-sized — same device as
    * [[ConnectedComponents]]' per-round truncation. Superseded
    * generations are unpersisted EXPLICITLY
    * ([[graft.core.Checkpoints.release]]) the moment their
    * replacement materializes, so the block manager holds at most
    * two histogram generations regardless of merge count (the
    * context cleaner only reclaims lazily, after driver GC). The
    * argmax collect is already bounded: `orderBy(...).limit(1)` —
    * raw integer counts compare exactly server-side, so unlike the
    * WordPiece likelihood loop no driver-side tie window exists to
    * cap.
    */
  private def trainDistributed(hist0: DataFrame, numMerges: Int,
      minCount: Long): Seq[(Int, String, String, String, Long)] = {
    var hist = hist0
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      val top = pairCounts(hist)
        .filter(col("pair_count") >= minCount)
        .orderBy(col("pair_count").desc, col("left"), col("right"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += ((rank, l, r, l + r, c))
        val prev = hist
        hist = applyMerge(hist, l, r).localCheckpoint()
        // free the superseded generation deterministically (the
        // caller's hist0 is left alone — it owns that checkpoint)
        if (prev ne hist0) graft.core.Checkpoints.release(prev)
        rank += 1
      }
    }
    merges.result()
  }

  /** Rewrite the histogram's padded symbol strings for one merge:
    * leftmost-first non-overlapping replacement of adjacent (l, r),
    * zero-width space boundaries so back-to-back occurrences all merge
    * in one pass (`" a b a b "` → `" ab ab "`).
    */
  private[operators] def applyMerge(hist: DataFrame, l: String,
      r: String): DataFrame =
    hist.withColumn("syms", regexp_replace(col("syms"),
      s"(?<= )${q(l)} ${q(r)}(?= )", qr(l + r)))

  /** Token-id vocabulary for a trained merge table: id 0 is the
    * reserved `<unk>`, ids 1..B are the training corpus's distinct
    * single-character base symbols in code-point-string sort order,
    * and ids B+1..B+M are the merged tokens in rank order — the
    * conventional BPE vocab layout, a pure function of (corpus,
    * merges) so two runs (or two engines) agree id-for-id. One
    * vocab-sized job (distinct chars of the distinct words); the
    * result is driver-resident like the merge table itself.
    */
  def vocab(df: DataFrame, textCol: String,
      merges: Seq[(Int, String, String, String, Long)])
      : Seq[(String, Long)] = {
    val baseChars = df.select(explode(regexp_extract_all(col(textCol),
        lit(TextFunctions.bpeTokenPattern), lit(0))).as("word"))
      .select(explode(regexp_extract_all(col("word"), lit("."), lit(0)))
        .as("ch"))
      .distinct().collect().map(_.getString(0)).sorted
    ("<unk>", 0L) +:
      (baseChars.zipWithIndex.map { case (c, i) => (c, i + 1L) } ++
        merges.sortBy(_._1).zipWithIndex.map { case (m, i) =>
          (m._4, baseChars.length + 1L + i)
        }).toSeq
  }

  /** [[encode]] plus the id hop a trainer actually consumes: every row
    * gets `token_ids` (long ids through `vocabTable` via the compiled
    * [[graft.expressions.TokenIds]] lookup — O(1) per token, no join)
    * alongside `tokens`/`n_tokens`. Tokens outside the vocabulary
    * (characters training never saw) map to id 0 = `<unk>`, never an
    * error.
    */
  def encodeIds(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(Int, String, String, String, Long)],
      vocabTable: Seq[(String, Long)]): DataFrame =
    encode(df, idCol, textCol, merges)
      .withColumn("token_ids", graft.expressions.GraftFunctions
        .tokenIds(col("tokens"), vocabTable, unkId = 0L))

  /** Encode a corpus with a trained merge table: every row gets
    * `tokens` (the word's subword symbols, in order, words
    * concatenated) and `n_tokens`. Distinct words are encoded once by
    * folding the ranked merges into a chain of regexp passes over the
    * padded symbol form, then joined back onto the exploded corpus —
    * per-document work is a join probe, so encoding cost scales with
    * corpus size + vocab size, never their product.
    *
    * The encoded distinct-word table is cached and joined back through
    * [[graft.core.BroadcastGate]] — at web-corpus distinct-word counts
    * (10⁷–10⁸ rows) an unconditional broadcast is a driver OOM.
    */
  def encode(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(Int, String, String, String, Long)]): DataFrame =
    encodeWith(df, idCol, textCol, merges, w => charPad(w))

  /** The shared encode plan: [[encode]] (char symbols) and
    * [[encodeBytes]] (byte symbols) differ ONLY in how a distinct word
    * becomes its padded symbol string — `symize` — everything else
    * (distinct-word table, merge fold, gated join-back, per-doc
    * reassembly) is identical by construction.
    */
  private def encodeWith(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(Int, String, String, String, Long)],
      symize: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      tokenPattern: String = TextFunctions.bpeTokenPattern)
      : DataFrame = {
    val words = df.select(col(idCol),
        posexplode(regexp_extract_all(col(textCol),
          lit(tokenPattern), lit(0)))
          .as(Seq("word_pos", "word")))
    val distinctWords = words.select(col("word")).distinct()
      .withColumn("syms", symize(col("word")))
    val encoded = graft.core.CacheScope.cached(
      merges.sortBy(_._1).foldLeft(distinctWords) {
        case (acc, (_, l, r, _, _)) => applyMerge(acc, l, r)
      }.withColumn("word_tokens", split(trim(col("syms")), " "))
        .select(col("word").as("__w"), col("word_tokens")))
    val hint = graft.core.BroadcastGate.hint("bpe encode: words", encoded)
    words.join(hint(encoded), col("word") === col("__w"))
      .groupBy(col(idCol))
      .agg(flatten(array_sort(collect_list(
          struct(col("word_pos"), col("word_tokens"))))
          .getField("word_tokens")).as("tokens"))
      .withColumn("n_tokens", size(col("tokens")))
  }

  // ---- byte-level BPE (GPT-2 lineage, round 11) --------------------
  //
  // The tokenizer form real LLM pipelines actually train: symbols are
  // UTF-8 BYTES (rendered as the printable-unicode alphabet of
  // [[graft.expressions.ByteUnicode]]), so the base vocabulary is the
  // CLOSED set of 256 byte values and there is NO <unk> — any novel
  // codepoint at encode time decomposes into bytes that are always in
  // vocabulary and round-trips exactly. Char-level [[train]]/[[encode]]
  // silently loses unseen characters to <unk>; this path cannot.
  //
  // Machinery is shared by construction: the byte path transforms each
  // word through the ByteRemap kernel ONCE (per distinct histogram /
  // distinct-word row — vocab-sized work), and the identical merge
  // loops ([[trainDriver]] / [[trainDistributed]]) and encode plan run
  // over the mapped symbol strings. BpeSpec gates both paths against
  // an independent reference byte-BPE trainer and proves emoji/CJK
  // round-trips.

  /** [[train]] with byte symbols: the merge table's left/right/merged
    * strings are in the mapped printable-byte alphabet. Same measured
    * driver/distributed dispatch, same exact-long counts and
    * deterministic tiebreak. `tokenPattern` picks the pre-tokenizer:
    * the default drops whitespace (word-level round trips, x92); pass
    * [[TextFunctions.bpeBytePatternFull]] for the GPT-2 convention —
    * leading-space words (`" the"` as one unit, space rendering as
    * `Ġ`) and whitespace runs as tokens, which makes decode
    * reconstruct the ENTIRE document byte-for-byte (x93's oracle is
    * literally `md5(text)`).
    */
  def trainBytes(df: DataFrame, textCol: String, numMerges: Int,
      minCount: Long = 2L,
      maxDriverWords: Long = 1000000L,
      tokenPattern: String = TextFunctions.bpeTokenPattern)
      : Seq[(Int, String, String, String, Long)] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(maxDriverWords >= 0,
      s"maxDriverWords must be >= 0, got $maxDriverWords")
    val hist = df.select(explode(regexp_extract_all(col(textCol),
        lit(tokenPattern), lit(0))).as("word0"))
      // group on the MAPPED word (the mapping is injective, so the
      // histogram is identical either way) — both merge-loop homes
      // then see only byte-symbol strings
      .select(graft.expressions.GraftFunctions.byteRemap(col("word0"))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("weight"))
      .withColumn("syms", charPad(col("word")))
      .localCheckpoint()
    val n = hist.count()
    if (n <= maxDriverWords) {
      val rows = hist.select(col("word"), col("weight")).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      trainDriver(rows, numMerges, minCount)
    } else {
      warnDistributedFallback(n, maxDriverWords)
      trainDistributed(hist, numMerges, minCount)
    }
  }

  /** [[encode]] with byte symbols under a [[trainBytes]] merge table:
    * `tokens` are mapped-alphabet strings (GPT-2's visible vocab
    * form), `n_tokens` counts them. Every token — including for text
    * full of codepoints training never saw — is representable, because
    * un-merged symbols are single bytes.
    */
  def encodeBytes(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(Int, String, String, String, Long)],
      tokenPattern: String = TextFunctions.bpeTokenPattern)
      : DataFrame =
    encodeWith(df, idCol, textCol, merges,
      w => charPad(graft.expressions.GraftFunctions.byteRemap(w)),
      tokenPattern)

  /** Byte-BPE vocabulary: ids 0–255 are the 256 byte symbols in byte
    * order (the conventional layout), ids 256… the merged tokens in
    * rank order, then `specialTokens` (control markers like
    * `<|endoftext|>` — reserved ids a trainer emits at document
    * boundaries; they are NEVER produced by encoding, which only
    * emits byte/merge symbols, so reserving them cannot collide with
    * text). A pure function of (merges, specials) — NO corpus scan
    * and no `<unk>`: the byte alphabet is closed, so every encodable
    * token is in vocabulary by construction.
    */
  def vocabBytes(merges: Seq[(Int, String, String, String, Long)],
      specialTokens: Seq[String] = Nil): Seq[(String, Long)] = {
    val base = (0 until 256).map(b =>
      (graft.expressions.ByteUnicode.byteToChar(b).toString, b.toLong)) ++
      merges.sortBy(_._1).zipWithIndex.map { case (m, i) =>
        (m._4, 256L + i)
      }
    val known = base.map(_._1).toSet
    specialTokens.foreach(t => require(!known.contains(t),
      s"special token '$t' collides with a vocab symbol"))
    require(specialTokens.distinct == specialTokens,
      "duplicate special tokens")
    base ++ specialTokens.zipWithIndex.map { case (t, i) =>
      (t, 256L + merges.size + i)
    }
  }

  /** Decode token IDS back to text through a [[vocabBytes]] table —
    * the inverse of [[encodeIdsBytes]]'s id hop: ids → token strings
    * → [[decodeTokens]]. Special-token ids render as their literal
    * marker strings (they carry no bytes). Unknown ids are a caller
    * bug and fail loudly — byte vocab has no `<unk>` to hide behind.
    */
  def decodeIds(ids: Seq[Long],
      vocabTable: Seq[(String, Long)]): String = {
    val byId = vocabTable.map { case (t, i) => (i, t) }.toMap
    // byte/merge symbols decode through the byte unmap; a token whose
    // chars leave the byte alphabet is a special marker and renders
    // literally (ASCII-only markers unmap to the same literal text —
    // printable ASCII is self-mapped — so the branch is equivalent
    // for them either way)
    val sb = new StringBuilder
    val pending = new StringBuilder // consecutive byte-symbol tokens
    def flush(): Unit = if (pending.nonEmpty) {
      sb.append(new String(
        graft.expressions.ByteUnicode.unmap(pending.toString),
        java.nio.charset.StandardCharsets.UTF_8))
      pending.clear()
    }
    ids.foreach { id =>
      val t = byId.getOrElse(id,
        sys.error(s"id $id is not in the vocabulary"))
      if (t.forall(_ < 0x400) &&
          (try { graft.expressions.ByteUnicode.unmap(t); true }
          catch { case _: IllegalArgumentException => false }))
        pending.append(t)
      else { flush(); sb.append(t) } // special marker: literal
    }
    flush()
    sb.toString
  }

  /** [[encodeBytes]] plus `token_ids` through [[vocabBytes]]. The
    * sentinel −1 is unreachable (closed byte alphabet ⇒ every token
    * resolves — spec-asserted); it exists so an impossible miss would
    * be loud, not a silent wrong id.
    */
  def encodeIdsBytes(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(Int, String, String, String, Long)],
      tokenPattern: String = TextFunctions.bpeTokenPattern)
      : DataFrame =
    encodeBytes(df, idCol, textCol, merges, tokenPattern)
      .withColumn("token_ids", graft.expressions.GraftFunctions
        .tokenIds(col("tokens"), vocabBytes(merges), unkId = -1L))

  /** Decode byte-BPE tokens back to text: concatenate, unmap to the
    * original UTF-8 bytes, decode. Exact inverse of the word-level
    * encoding (the round-trip BpeSpec pins on emoji/CJK corpora) —
    * the property char-level BPE's `<unk>` cannot give.
    */
  def decodeTokens(tokens: Seq[String]): String =
    new String(graft.expressions.ByteUnicode.unmap(tokens.mkString),
      java.nio.charset.StandardCharsets.UTF_8)

  /** MAP-SIDE encoding — the production serving shape: `tokens` +
    * `n_tokens` as a pure projection through the compiled
    * [[graft.expressions.BpeEncodeTokens]] kernel. ZERO shuffles at
    * any corpus size (the join-based [[encode]]/[[encodeBytes]] cost
    * two — distinct-words + per-doc reassembly), and because it is a
    * projection it composes with STREAMING unchanged
    * (tokenize-on-ingest is a `withColumn`; spec-driven through
    * MemoryStream). Output is spec-proven identical to the join-based
    * encoders on full corpora for any trained/loaded merge table
    * (each rank applied leftmost-first non-overlapping, absent ranks
    * skipped).
    *
    * Trade-off: per-row work is O(tokens) with a per-thread LRU for
    * repeated words, vs the join form's vocab-sized encode +
    * join-back. The map form wins when the corpus is huge relative to
    * its vocabulary (the common case — and the only form a stream can
    * use); the join form wins when distinct words dominate rows.
    */
  def encodeMapSide(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(Int, String, String, String, Long)],
      byteLevel: Boolean = false,
      tokenPattern: String = TextFunctions.bpeTokenPattern)
      : DataFrame =
    df.select(col(idCol),
        graft.expressions.GraftFunctions.bpeEncode(col(textCol),
          merges.sortBy(_._1).map(m => (m._1, m._2, m._3)),
          tokenPattern, byteLevel).as("tokens"))
      .withColumn("n_tokens", size(col("tokens")))

  /** Corpus-wide token-frequency profile under a trained byte-level
    * tokenizer: one row per distinct vocabulary token actually
    * emitted, with its id and occurrence count — the post-tokenization
    * corpus statistic every vocabulary decision keys on (dead merges
    * to prune, head tokens to verify, coverage audits before a
    * training run commits its token budget).
    *
    * Scale shape: the map-side kernel encodes as a pure projection,
    * then ONE token-keyed aggregate — vocab-sized output
    * (≤ 256 + merges + specials rows by construction), partial-merged
    * map-side, so the exchange carries at most a vocabulary per
    * partition regardless of corpus size. The id hop is a map-side
    * hash probe ([[graft.expressions.TokenIds]]), never a join.
    */
  def tokenFrequencyBytes(df: DataFrame, textCol: String,
      merges: Seq[(Int, String, String, String, Long)],
      specialTokens: Seq[String] = Nil,
      tokenPattern: String = TextFunctions.bpeTokenPattern)
      : DataFrame =
    df.select(explode(graft.expressions.GraftFunctions.bpeEncode(
        col(textCol), merges.sortBy(_._1).map(m => (m._1, m._2, m._3)),
        tokenPattern, byteLevel = true)).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .withColumn("id", element_at(
        graft.expressions.GraftFunctions.tokenIds(array(col("token")),
          vocabBytes(merges, specialTokens), unkId = -1L), 1))

  // ---- tokenizer artifact persistence ------------------------------
  //
  // A tokenizer is trained ONCE and shipped to every downstream job
  // (training cluster, eval harness, serving) — the merge table is the
  // artifact. Parquet keeps it engine-portable and diffable; the
  // round trip is exact (strings + longs, no floats), so a loaded
  // table encodes bit-identically to the in-memory one
  // (spec-asserted, both char- and byte-level).

  /** Persist a merge table (char- or byte-level — the format is the
    * same 5 columns either way) as ONE parquet file at `path`.
    */
  def saveMerges(spark: SparkSession,
      merges: Seq[(Int, String, String, String, Long)],
      path: String): Unit = {
    import spark.implicits._
    merges.toDF("rank", "left", "right", "merged", "pair_count")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveMerges]] table, rank-ordered — ready for
    * [[encode]]/[[encodeBytes]]/[[vocab]]/[[vocabBytes]]. Merge tables
    * are vocab-sized (≤ ~10⁵ rows) by construction, so the collect is
    * bounded; a corpus-sized path here is caller error and the guard
    * is loud.
    */
  def loadMerges(spark: SparkSession, path: String,
      maxRows: Long = 10000000L)
      : Seq[(Int, String, String, String, Long)] = {
    val df = spark.read.parquet(path)
    val n = df.count()
    require(n <= maxRows,
      s"merge table at $path has $n rows > $maxRows — not a merge " +
        "table; pass the saveMerges output, not a corpus")
    df.select(col("rank"), col("left"), col("right"), col("merged"),
        col("pair_count")).orderBy(col("rank")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
  }

  // ---- GPT-2 artifact interop (vocab.json + merges.txt) ------------
  //
  // The PUBLIC tokenizer exchange format (the artifact pair the GPT-2
  // release established and the ecosystem's byte-BPE tooling reads):
  // `vocab.json` maps token string → id, `merges.txt` lists merge
  // pairs one per line in rank order under a `#version` header, both
  // in the printable-byte alphabet ([[graft.expressions.ByteUnicode]]
  // — the same GPT-2 convention the byte path already renders, so
  // tokens serialize verbatim). Export lets an engine-trained
  // tokenizer drive external pipelines; import lets a published
  // tokenizer load for encode parity — both ends round-trip exactly
  // (spec-asserted) because the formats carry precisely the engine's
  // (merges, vocab) state minus the pair counts, which encoding never
  // uses.

  /** Write a BYTE-level merge table as the GPT-2 artifact pair:
    * `<dir>/vocab.json` ([[vocabBytes]]'s token → id map, insertion
    * order preserved) and `<dir>/merges.txt` (`#version: 0.2` header,
    * then `left right` per merge in rank order). Space in a token is
    * impossible by construction (byte 0x20 renders as `Ġ`), so the
    * line format is unambiguous — guarded loudly anyway against a
    * hand-built table. Files go through the Hadoop FS API, so `dir`
    * may be any filesystem the session reaches. Driver-side IO:
    * tokenizer artifacts are vocab-sized (≤ ~10⁵ entries) by
    * construction.
    */
  def saveGpt2(spark: SparkSession,
      merges: Seq[(Int, String, String, String, Long)],
      dir: String, specialTokens: Seq[String] = Nil): Unit = {
    val ordered = merges.sortBy(_._1)
    ordered.foreach { m =>
      require(!(m._2 + m._3).exists(c => c == ' ' || c == '\n' ||
          c == '\r'),
        s"merge pair ('${m._2}', '${m._3}') contains whitespace — " +
          "not a byte-level table (the byte alphabet has none); " +
          "saveGpt2 is defined for trainBytes tables only")
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    vocabBytes(ordered, specialTokens).foreach { case (t, i) =>
      node.put(t, i)
    }
    val vocabOut = fs.create(
      new org.apache.hadoop.fs.Path(dir, "vocab.json"), true)
    try vocabOut.write(mapper.writeValueAsBytes(node))
    finally vocabOut.close()
    val sb = new StringBuilder("#version: 0.2\n")
    ordered.foreach(m => sb.append(m._2).append(' ').append(m._3)
      .append('\n'))
    val mergesOut = fs.create(
      new org.apache.hadoop.fs.Path(dir, "merges.txt"), true)
    try mergesOut.write(
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally mergesOut.close()
  }

  /** Load a GPT-2 artifact pair: `(merges, vocab)` ready for
    * [[encodeBytes]] / [[encodeIdsBytes]] / [[decodeIds]]. Merge rank
    * = line order (a first-line `#version` header and blank lines are
    * skipped — ONLY those: a '#'-leading merge line is real data, the
    * '#' byte symbol); `merged` = the
    * concatenation (the GPT-2 convention — the format carries no
    * separate merged string); pair counts are not part of the format
    * and load as 0. The vocab keeps FILE order, and ids are checked
    * unique and every merge's result present — a truncated or
    * mismatched artifact pair fails loudly instead of encoding to
    * silently-wrong ids.
    */
  def loadGpt2(spark: SparkSession, dir: String)
      : (Seq[(Int, String, String, String, Long)], Seq[(String, Long)]) = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readAll(name: String): String = {
      val in = fs.open(new org.apache.hadoop.fs.Path(dir, name))
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    val allLines = readAll("merges.txt").split("\n").toSeq
      .map(_.stripSuffix("\r"))
    // only the FIRST line may be the '#version' header — '#' is a
    // legitimate printable byte symbol ('# #' is a real merge in
    // published GPT-2 artifacts, producing the '##' token), so
    // filtering every '#'-leading line would silently drop merges and
    // break encode parity with the source tokenizer
    val body = allLines match {
      case h +: t if h.startsWith("#version") => t
      case other => other
    }
    val merges = body.iterator
      .filter(_.nonEmpty)
      .zipWithIndex.map { case (line, i) =>
        val sp = line.indexOf(' ')
        require(sp > 0 && line.indexOf(' ', sp + 1) < 0,
          s"merges.txt line ${i + 1} is not 'left right': '$line'")
        val l = line.substring(0, sp)
        val r = line.substring(sp + 1)
        // ranks are 1-based — the engine's train convention, so a
        // round-tripped table compares equal field-for-field
        (i + 1, l, r, l + r, 0L)
      }.toSeq
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = mapper.readTree(readAll("vocab.json"))
    require(tree.isObject, "vocab.json is not a JSON object")
    val vocab = {
      val b = Seq.newBuilder[(String, Long)]
      val it = tree.fieldNames()
      while (it.hasNext) {
        val k = it.next()
        val v = tree.get(k)
        require(v.canConvertToLong,
          s"vocab.json id for '$k' is not an integer")
        b += ((k, v.asLong()))
      }
      b.result()
    }
    val ids = vocab.map(_._2)
    require(ids.distinct.size == ids.size,
      "vocab.json has duplicate ids")
    val known = vocab.map(_._1).toSet
    merges.foreach(m => require(known.contains(m._4),
      s"merge result '${m._4}' (rank ${m._1}) is missing from " +
        "vocab.json — mismatched artifact pair"))
    (merges, vocab)
  }

  /** Load a Hugging Face single-file `tokenizer.json` (the public
    * `tokenizers` serialization — the artifact most published models
    * actually ship) for the BYTE-LEVEL BPE subset: `(merges, vocab)`
    * ready for [[encodeIdsBytes]] / [[decodeIds]], exactly like
    * [[loadGpt2]]'s pair. Supported and checked:
    *
    *  - `model.type` must be `"BPE"` with no dropout, no
    *    continuing-subword prefix/end-of-word suffix, no
    *    `ignore_merges` (Llama-3/Qwen2-style whole-word vocab skips),
    *    no `byte_fallback` (sentencepiece alphabet), and no
    *    unk_token/fuse_unk (byte-level BPE has no unknowns) — a
    *    Unigram/WordPiece/WordLevel file, or BPE under semantics this
    *    engine does not implement, is REJECTED loudly, never decoded
    *    to silently-wrong ids.
    *  - the pre-tokenizer must be PRESENT and `ByteLevel` (directly
    *    or inside a `Sequence`) — the byte alphabet is what makes the
    *    vocab's `Ġ`-mapped symbols meaningful; an absent pipeline
    *    (Llama-2-style sentencepiece files) cannot be confirmed
    *    byte-level and is refused.
    *  - `model.vocab` keeps FILE iteration order; `added_tokens`
    *    (specials) merge in when absent; ids checked unique.
    *  - `model.merges` accepts BOTH public spellings: `"left right"`
    *    strings (tokenizers < 0.20) and `["left", "right"]` pairs
    *    (0.20+). Rank = array order; every merge's concatenation must
    *    be in vocabulary (mismatched artifact fails loudly).
    *
    * Pair counts are not part of the format and load as 0, as with
    * [[loadGpt2]]; encode parity between the two formats carrying the
    * same tokenizer is spec-asserted.
    */
  def loadTokenizerJson(spark: SparkSession, path: String)
      : (Seq[(Int, String, String, String, Long)], Seq[(String, Long)]) = {
    val (merges, vocab, needsNfc) = loadTokenizerJsonPipeline(spark,
      path)
    require(!needsNfc,
      s"$path carries an NFC normalizer — this entry point returns " +
        "only (merges, vocab) and its callers encode RAW bytes, which " +
        "would silently mis-encode any input NFC rewrites; load " +
        "through loadTokenizerJsonPipeline and encode through " +
        "encodeIdsBytesPipeline (it NFC-normalizes first)")
    (merges, vocab)
  }

  /** [[loadTokenizerJson]] with the normalization pipeline surfaced:
    * returns (merges, vocab, needsNfc). `needsNfc = true` means the
    * file carries a pure-NFC normalizer (`{type: NFC}`, or a
    * `Sequence` of only those) — common in the published ecosystem —
    * and inputs must be NFC-normalized before encode to reproduce the
    * source tokenizer's ids ([[encodeIdsBytesPipeline]] does exactly
    * that, through the engine's compiled NFC kernel — the x89
    * machinery). Every OTHER normalizer (Lowercase, Replace, NFD/
    * NFKC/NFKD, Sequences containing any of them) is still REJECTED
    * loudly: each rewrites text in ways this engine does not
    * reproduce, the silent-mis-encode class the loader exists to
    * refuse.
    */
  def loadTokenizerJsonPipeline(spark: SparkSession, path: String)
      : (Seq[(Int, String, String, String, Long)], Seq[(String, Long)],
        Boolean) = {
    val p = parseTokenizerTree(spark, path)
    // truncation/padding blocks: the GPT-2 lineage ships without
    // them and this loader's tuple-shaped API has no place to carry
    // them — refused loudly, never silently ignored (the loader
    // contract; WordPiece/Unigram and the assembled loader
    // [[loadTokenizerJsonAssembled]] HONOR the blocks)
    TokenizerTruncation.rejectBlocks(p.tree, path, "byte-level BPE")
    // the ByteLevel OPTIONS that change the id stream: this loader's
    // callers encode with a caller-chosen pattern over the raw text,
    // so a file demanding a prepended space or no regex split would
    // silently mis-encode — refused here, HONORED by the assembled
    // loader
    require(!p.addPrefixSpace,
      s"$path pre-tokenizer sets add_prefix_space=true — this " +
        "entry point's callers encode the raw text and would " +
        "silently drop the prepended space; load through " +
        "loadTokenizerJsonAssembled, which honors it")
    require(p.split.isEmpty,
      s"$path carries a Split pre-tokenizer (the Llama-3/Qwen2 " +
        "custom-regex shape) — this entry point's callers pick " +
        "their own pattern and would silently mis-segment; load " +
        "through loadTokenizerJsonAssembled, which honors it")
    require(p.useRegex,
      s"$path pre-tokenizer sets use_regex=false — the whole text " +
        "as one merge unit is a different segmentation from every " +
        "pattern this loader's callers pass; refusing to mis-encode")
    require(!p.ignoreMerges,
      s"$path sets ignore_merges=true — whole-word vocab hits skip " +
        "merging, an encode semantics this entry point's callers " +
        "do not run; load through loadTokenizerJsonAssembled, " +
        "which honors it")
    val post = p.tree.get("post_processor")
    require(isIdNeutralPost(post),
      s"$path post-processor type '${Option(post.get("type"))
        .map(_.asText()).getOrElse("?")}' injects or rewrites token " +
        "ids (TemplateProcessing-class BOS/EOS templates especially) " +
        "— this entry point emits the raw BPE id stream; " +
        "loadTokenizerJsonAssembled honors template-carrying files")
    (p.merges, p.vocab, p.needsNfc)
  }

  /** The parsed single-file serialization both loader stances share:
    * the raw tree (for the block/post checks each stance applies),
    * the (merges, vocab) model state, the surfaced NFC flag, and the
    * ByteLevel pre-tokenizer options.
    */
  private case class ParsedBpeJson(
      tree: com.fasterxml.jackson.databind.JsonNode,
      merges: Seq[(Int, String, String, String, Long)],
      vocab: Seq[(String, Long)], needsNfc: Boolean,
      addPrefixSpace: Boolean, useRegex: Boolean,
      split: Option[String], ignoreMerges: Boolean)

  /** Post-processor shapes that change NO ids: absent, `ByteLevel`
    * (offset trimming only), or a Sequence composed purely of those.
    */
  private def isIdNeutralPost(
      node: com.fasterxml.jackson.databind.JsonNode): Boolean = {
    if (node == null || node.isNull) true
    else Option(node.get("type")).map(_.asText()) match {
      case Some("ByteLevel") => true
      case Some("Sequence") =>
        val ps = node.get("processors")
        ps != null && ps.isArray && {
          val it = ps.elements()
          var ok = true
          while (it.hasNext && ok) ok = isIdNeutralPost(it.next())
          ok
        }
      case _ => false
    }
  }

  private def parseTokenizerTree(spark: SparkSession, path: String)
      : ParsedBpeJson = {
    val tree = Tokenizer.readJson(spark, path)
    val model = tree.get("model")
    require(model != null && model.isObject,
      s"$path has no tokenizer model object")
    val kind = Option(model.get("type")).map(_.asText()).getOrElse("BPE")
    require(kind == "BPE",
      s"unsupported tokenizer model type '$kind' in $path — only " +
        "byte-level BPE is supported; refusing to mis-encode")
    require(model.get("dropout") == null || model.get("dropout").isNull,
      s"$path uses BPE dropout — a stochastic encode this engine " +
        "does not implement")
    for (f <- Seq("continuing_subword_prefix", "end_of_word_suffix")) {
      val v = model.get(f)
      require(v == null || v.isNull || v.asText() == "",
        s"$path sets $f='${v.asText()}' — WordPiece-style semantics " +
          "this engine does not implement")
    }
    // BPE options that change encode semantics: byte_fallback
    // (sentencepiece-style <0xNN> fallback, a different alphabet) and
    // fuse_unk (byte-level BPE has no unknowns) stay refused here;
    // ignore_merges (Llama-3/Qwen2-style whole-word vocab hits skip
    // merging) is PARSED and surfaced — the assembled loader honors
    // it, the tuple loaders refuse it
    for (f <- Seq("byte_fallback", "fuse_unk")) {
      val v = model.get(f)
      require(v == null || v.isNull || !v.asBoolean(false),
        s"$path sets $f=true — encode semantics this engine does " +
          "not implement; refusing to mis-encode")
    }
    val ignoreMerges = {
      val v = model.get("ignore_merges")
      v != null && !v.isNull && v.asBoolean(false)
    }
    require(model.get("unk_token") == null ||
      model.get("unk_token").isNull,
      s"$path carries an unk_token — byte-level BPE has no unknowns; " +
        "this is not a byte-level artifact")
    // pre-tokenizer: ByteLevel, possibly nested in a Sequence whose
    // OTHER members may only be `Split` nodes (the Llama-3/Qwen2
    // shape: a custom regex Split, then ByteLevel with
    // use_regex=false — SURFACED here, honored by the assembled
    // loader, refused by the tuple loaders). Anything else
    // (Whitespace, Punctuation, …) is a segmentation this engine
    // does not reproduce.
    def flag(n: com.fasterxml.jackson.databind.JsonNode,
        name: String, dflt: Boolean): Boolean = {
      val v = n.get(name)
      if (v == null || v.isNull) dflt else v.asBoolean(dflt)
    }
    var sawByteLevel = false
    var allKnown = true
    var addPrefixSpace = false
    var useRegex = true
    val splits = Seq.newBuilder[String]
    def walkPre(node: com.fasterxml.jackson.databind.JsonNode)
        : Unit = {
      if (node == null || node.isNull) { allKnown = false; return }
      Option(node.get("type")).map(_.asText()) match {
        case Some("ByteLevel") =>
          sawByteLevel = true
          // strictest reading across members: any member setting
          // add_prefix_space or clearing use_regex counts
          addPrefixSpace ||= flag(node, "add_prefix_space",
            dflt = false)
          useRegex &&= flag(node, "use_regex", dflt = true)
        case Some("Split") =>
          val behavior = Option(node.get("behavior"))
            .filterNot(_.isNull).map(_.asText()).getOrElse("Isolated")
          require(behavior == "Isolated",
            s"$path Split pre-tokenizer behavior '$behavior' — only " +
              "Isolated (matches become the pieces) is reproducible " +
              "with a find-all scan; refusing to mis-encode")
          require(!flag(node, "invert", dflt = false),
            s"$path Split pre-tokenizer sets invert=true — the " +
              "complemented segmentation this engine does not " +
              "implement")
          val pat = node.get("pattern")
          require(pat != null && pat.isObject,
            s"$path Split pre-tokenizer without a pattern object")
          if (pat.get("Regex") != null && !pat.get("Regex").isNull)
            splits += pat.get("Regex").asText()
          else if (pat.get("String") != null &&
              !pat.get("String").isNull)
            splits += java.util.regex.Pattern.quote(
              pat.get("String").asText())
          else throw new IllegalArgumentException(
            s"$path Split pattern is neither Regex nor String")
        case Some("Sequence") =>
          val ps = node.get("pretokenizers")
          if (ps == null || !ps.isArray || ps.size() == 0)
            allKnown = false
          else {
            val it = ps.elements()
            while (it.hasNext) walkPre(it.next())
          }
        case _ => allKnown = false
      }
    }
    // an ABSENT pre-tokenizer is a rejection too: Llama-2-style
    // sentencepiece-BPE files carry normalizer-only pipelines whose
    // vocab symbols are not the byte alphabet — nothing confirms
    // byte-level, so loading would silently mis-encode
    val pre = tree.get("pre_tokenizer")
    if (pre != null && !pre.isNull) walkPre(pre)
    require(pre != null && !pre.isNull && sawByteLevel && allKnown,
      s"$path pre-tokenizer is ${if (pre == null || pre.isNull)
        "absent" else "not ByteLevel"} — its vocab symbols are " +
        "not (or cannot be confirmed to be) the byte alphabet this " +
        "engine encodes with")
    val splitList = splits.result()
    require(splitList.size <= 1,
      s"$path carries ${splitList.size} Split pre-tokenizers — " +
        "more than one is a composed segmentation this engine does " +
        "not reproduce")
    val split = splitList.headOption
    // a Split AND a regexing ByteLevel would double-split; published
    // files pair Split with use_regex=false
    require(split.isEmpty || !useRegex,
      s"$path carries BOTH a Split pre-tokenizer and a ByteLevel " +
        "with use_regex=true — a double segmentation this engine " +
        "does not reproduce")
    // the OTHER two pipeline stages that change the id stream. A
    // normalizer rewrites the TEXT before pre-tokenization — this
    // engine encodes raw bytes, so accepting one silently would
    // produce ids that differ from the source tokenizer on any input
    // the normalizer touches: exactly the silent mis-encode this
    // loader promises to reject. ONE normalizer is reproducible with
    // engine machinery: pure NFC (the compiled x89 kernel) — it is
    // SURFACED as `needsNfc` instead of rejected, and
    // [[encodeIdsBytesPipeline]] applies it before encode. Everything
    // else (Lowercase, Replace, NFD/NFKC/NFKD, mixed Sequences) stays
    // rejected. The post-processor stance is per-loader: the tuple
    // entry points emit the raw id stream and refuse anything not
    // id-neutral; [[loadTokenizerJsonAssembled]] parses and HONORS
    // the template-carrying shapes.
    def isNfcOnly(node: com.fasterxml.jackson.databind.JsonNode)
        : Boolean = {
      if (node == null || node.isNull) false
      else Option(node.get("type")).map(_.asText()) match {
        case Some("NFC") => true
        case Some("Sequence") =>
          val ns = node.get("normalizers")
          ns != null && ns.isArray && ns.size() > 0 && {
            val it = ns.elements()
            var ok = true
            while (it.hasNext && ok) ok = isNfcOnly(it.next())
            ok
          }
        case _ => false
      }
    }
    val norm = tree.get("normalizer")
    val needsNfc = norm != null && !norm.isNull && {
      require(isNfcOnly(norm),
        s"$path carries a normalizer (type '${Option(norm.get("type"))
          .map(_.asText()).getOrElse("?")}') this engine does not " +
          "reproduce — only an absent or pure-NFC normalizer is " +
          "supported; loading would silently mis-encode any input " +
          "the normalizer rewrites")
      true
    }
    val vocabNode = model.get("vocab")
    require(vocabNode != null && vocabNode.isObject,
      s"$path model.vocab is not a JSON object")
    val vocabBuilder = Seq.newBuilder[(String, Long)]
    val names = vocabNode.fieldNames()
    while (names.hasNext) {
      val k = names.next()
      val v = vocabNode.get(k)
      require(v.canConvertToLong, s"$path vocab id for '$k' is not " +
        "an integer")
      vocabBuilder += ((k, v.asLong()))
    }
    var vocab = vocabBuilder.result()
    val known = scala.collection.mutable.LinkedHashSet(
      vocab.map(_._1): _*)
    val added = tree.get("added_tokens")
    if (added != null && added.isArray) {
      val it = added.elements()
      while (it.hasNext) {
        val t = it.next()
        val content = t.get("content").asText()
        if (!known.contains(content)) {
          vocab = vocab :+ ((content, t.get("id").asLong()))
          known += content
        }
      }
    }
    val ids = vocab.map(_._2)
    require(ids.distinct.size == ids.size,
      s"$path carries duplicate token ids")
    val mergesNode = model.get("merges")
    require(mergesNode != null && mergesNode.isArray,
      s"$path model.merges is not an array")
    val merges = {
      val b = Seq.newBuilder[(Int, String, String, String, Long)]
      val it = mergesNode.elements()
      var rank = 1
      while (it.hasNext) {
        val m = it.next()
        val (l, r) =
          if (m.isArray) {
            require(m.size() == 2,
              s"$path merge $rank is not a [left, right] pair")
            (m.get(0).asText(), m.get(1).asText())
          } else {
            val line = m.asText()
            val sp = line.indexOf(' ')
            require(sp > 0 && line.indexOf(' ', sp + 1) < 0,
              s"$path merge $rank is not 'left right': '$line'")
            (line.substring(0, sp), line.substring(sp + 1))
          }
        require(known.contains(l + r),
          s"merge result '${l + r}' (rank $rank) is missing from " +
            s"$path's vocab — mismatched artifact")
        b += ((rank, l, r, l + r, 0L))
        rank += 1
      }
      b.result()
    }
    // the `decoder` block — previously IGNORED silently: the
    // byte-level decode this engine implements (concatenate, unmap
    // the printable-byte alphabet to UTF-8) IS the published
    // `ByteLevel` decoder, so absent/ByteLevel (possibly a Sequence
    // of only those) passes; anything else would decode differently
    // and refuses loudly.
    def isByteLevelDecoder(
        node: com.fasterxml.jackson.databind.JsonNode): Boolean =
      Option(node.get("type")).map(_.asText()) match {
        case Some("ByteLevel") => true
        case Some("Sequence") =>
          val ds = node.get("decoders")
          ds != null && ds.isArray && ds.size() > 0 && {
            val it = ds.elements()
            var ok = true
            while (it.hasNext && ok) ok = isByteLevelDecoder(it.next())
            ok
          }
        case _ => false
      }
    val dec = tree.get("decoder")
    require(dec == null || dec.isNull || isByteLevelDecoder(dec),
      s"$path decoder type '${Option(dec.get("type"))
        .map(_.asText()).getOrElse("?")}' is not the ByteLevel " +
        "byte-unmap decode this engine implements; refusing to " +
        "silently decode differently")
    ParsedBpeJson(tree, merges, vocab, needsNfc, addPrefixSpace,
      useRegex, split, ignoreMerges)
  }

  /** [[encodeIdsBytes]] honoring a [[loadTokenizerJsonPipeline]]
    * artifact's normalization flag: when `needsNfc`, the text column
    * is NFC-normalized FIRST (the compiled x89 kernel — a pure
    * map-side projection, zero extra shuffles) so the emitted ids
    * match the source tokenizer on every input, composed or
    * decomposed (encode-parity spec-asserted on a decomposed-accent
    * fixture).
    */
  def encodeIdsBytesPipeline(df: DataFrame, idCol: String,
      textCol: String,
      merges: Seq[(Int, String, String, String, Long)],
      vocabTable: Seq[(String, Long)], needsNfc: Boolean,
      tokenPattern: String = TextFunctions.bpeTokenPattern)
      : DataFrame = {
    val input =
      if (!needsNfc) df
      else df.withColumn(textCol,
        TextFunctions.normalizeUnicode(col(textCol), "NFC"))
    encodeIdsBytes(input, idCol, textCol, merges, vocabTable, tokenPattern)
  }

  // ---- the ASSEMBLED tokenizer.json surface (round 18) --------------
  //
  // The third lineage's full pipeline contract, completing the
  // WordPiece/Unigram symmetry: published byte-level files (GPT-2,
  // RoBERTa) carry post-processor templates, truncation and padding
  // blocks the tuple-shaped loaders above refuse — this surface
  // HONORS them: the encode surfaces come from [[TokenizerSurface]]
  // and the template parse/emit from [[Tokenizer]], shared with the
  // other two lineages. Pre-tokenization
  // is the PUBLISHED ByteLevel regex
  // ([[TextFunctions.bpeByteLevelGpt2Pattern]] — contractions, \p{L}/
  // \p{N} runs), with `add_prefix_space` honored.

  /** A fully-loaded byte-level tokenizer: the (merges, vocab) model
    * state, the surfaced NFC flag, the ByteLevel `add_prefix_space`
    * option, single/pair templates, and the truncation/padding
    * blocks — every stage of the published pipeline either honored
    * or refused at load. `tokenPattern` is the ByteLevel split
    * (`use_regex = true`, the only loadable setting).
    */
  case class BpeTokenizer(
      merges: Seq[(Int, String, String, String, Long)],
      vocab: Seq[(String, Long)], needsNfc: Boolean,
      addPrefixSpace: Boolean,
      prefixIds: Seq[Long], suffixIds: Seq[Long],
      pair: Option[WordPiece.PairTemplate] = None,
      truncation: Option[TokenizerTruncation.Truncation] = None,
      padding: Option[TokenizerTruncation.Padding] = None,
      tokenPattern: String = TextFunctions.bpeByteLevelGpt2Pattern,
      ignoreMerges: Boolean = false, splitPre: Boolean = false)
      extends Tokenizer

  /** Load a single-file byte-level `tokenizer.json` with the FULL
    * pipeline honored: the blocks the tuple loaders refuse —
    * post-processor templates (`RobertaProcessing`'s fixed
    * `<s> A </s>` / `<s> A </s> </s> B </s>` form with all-zero type
    * ids, or single+pair `TemplateProcessing` via the shared
    * [[Tokenizer.parseTemplateProcessing]] parser), `truncation` /
    * `padding` (the [[TokenizerTruncation]] semantics), and the
    * ByteLevel `add_prefix_space` option — all load here; everything
    * neither honorable nor id-neutral still refuses loudly
    * (`use_regex = false`, BatchLongest padding, non-zero stride,
    * unknown processors — the loader contract). The vocab must cover
    * the full 256-symbol byte alphabet (published byte-level
    * artifacts always do) so every content token resolves to an id
    * by construction — checked loudly at load, never a silent −1.
    */
  def loadTokenizerJsonAssembled(spark: SparkSession, path: String)
      : BpeTokenizer = {
    val p = parseTokenizerTree(spark, path)
    // the segmentation: a file-supplied Split regex (the
    // Llama-3/Qwen2 shape — honored VERBATIM under Java regex
    // semantics, with a per-row full-cover guard in the kernels:
    // a pattern leaving gaps fails loudly instead of silently
    // dropping text), else the ByteLevel use_regex=true GPT-2 split
    val pattern = p.split match {
      case Some(r) =>
        // fail at LOAD on a syntactically-invalid pattern, not at
        // the first encode task
        try java.util.regex.Pattern.compile(r)
        catch {
          case e: java.util.regex.PatternSyntaxException =>
            throw new IllegalArgumentException(
              s"$path Split regex does not compile under Java " +
                s"regex semantics: ${e.getMessage}")
        }
        r
      case None =>
        require(p.useRegex,
          s"$path pre-tokenizer sets use_regex=false with no Split " +
            "— the whole text as one merge unit is a segmentation " +
            "this engine does not implement; refusing to mis-encode")
        TextFunctions.bpeByteLevelGpt2Pattern
    }
    val vocabMap = p.vocab.toMap
    (0 until 256).foreach { b =>
      val sym = graft.expressions.ByteUnicode.byteToChar(b).toString
      require(vocabMap.contains(sym),
        s"$path vocab is missing byte symbol $b ('$sym') — not a " +
          "complete byte-level alphabet; content tokens could fail " +
          "to resolve to ids")
    }
    // post-processor: id-neutral shapes pass template-free; ONE
    // template-carrying member (RobertaProcessing or
    // TemplateProcessing) is honored, including inside a Sequence of
    // otherwise-id-neutral members (the Llama-3 shape:
    // Sequence[ByteLevel, TemplateProcessing]); two templates or an
    // unknown member refuse loudly
    def parseTemplated(node: com.fasterxml.jackson.databind.JsonNode)
        : Option[(Seq[Long], Seq[Long],
          Option[WordPiece.PairTemplate])] =
      if (node == null || node.isNull) None
      else Option(node.get("type")).map(_.asText()) match {
        case Some("ByteLevel") => None
        case Some("RobertaProcessing") =>
          // the published fixed form: single `<s> A </s>`, pair
          // `<s> A </s> </s> B </s>`, token_type_ids ALL ZERO
          // (RoBERTa does not use segment embeddings)
          def pairId(name: String): Long = {
            val v = node.get(name)
            require(v != null && v.isArray && v.size() == 2,
              s"$path RobertaProcessing.$name is not a [token, id] " +
                "pair")
            v.get(1).asLong()
          }
          val (cls, sep) = (pairId("cls"), pairId("sep"))
          Some((Seq(cls), Seq(sep),
            Some(WordPiece.PairTemplate(Seq((cls, 0L)),
              Seq((sep, 0L), (sep, 0L)), Seq((sep, 0L)),
              typeA = 0L, typeB = 0L))))
        case Some("TemplateProcessing") =>
          Some(Tokenizer.parseTemplateProcessing(node, vocabMap.get,
            path))
        case Some("Sequence") =>
          val ps = node.get("processors")
          require(ps != null && ps.isArray,
            s"$path post-processor Sequence without processors")
          var found: Option[(Seq[Long], Seq[Long],
            Option[WordPiece.PairTemplate])] = None
          val it = ps.elements()
          while (it.hasNext) {
            parseTemplated(it.next()).foreach { t =>
              require(found.isEmpty,
                s"$path post-processor Sequence carries more than " +
                  "one template — a composed id injection this " +
                  "engine does not reproduce")
              found = Some(t)
            }
          }
          found
        case other => throw new IllegalArgumentException(
          s"$path post-processor type '${other.getOrElse("?")}' is " +
            "not reproducible — only absent/ByteLevel (id-neutral), " +
            "RobertaProcessing, or TemplateProcessing is supported")
      }
    val (prefixIds, suffixIds, pairTemplate)
        : (Seq[Long], Seq[Long], Option[WordPiece.PairTemplate]) =
      parseTemplated(p.tree.get("post_processor"))
        .getOrElse((Seq.empty, Seq.empty, None))
    BpeTokenizer(p.merges, p.vocab, p.needsNfc, p.addPrefixSpace,
      prefixIds, suffixIds, pairTemplate,
      TokenizerTruncation.parseTruncation(p.tree, path),
      TokenizerTruncation.parsePadding(p.tree, path, vocabMap.get),
      pattern, p.ignoreMerges, splitPre = p.split.isDefined)
  }

  /** Export a loaded [[BpeTokenizer]] back to the single-file
    * serialization — save→load identity (spec-asserted; a
    * RobertaProcessing load re-emits as the equivalent
    * TemplateProcessing, which loads back to the identical template
    * ids).
    */
  def saveTokenizerJsonAssembled(spark: SparkSession,
      tok: BpeTokenizer, path: String): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("version", "1.0")
    TokenizerTruncation.emitTruncation(mapper, root, tok.truncation)
    TokenizerTruncation.emitPadding(mapper, root, tok.padding,
      id => tok.vocab.find(_._2 == id).map(_._1))
    if (!tok.needsNfc) root.putNull("normalizer")
    else {
      val n = mapper.createObjectNode()
      n.put("type", "NFC")
      root.set[com.fasterxml.jackson.databind.JsonNode]("normalizer",
        n)
    }
    def byteLevelPre(useRegex: Boolean) = {
      val n = mapper.createObjectNode()
      n.put("type", "ByteLevel")
      n.put("add_prefix_space", tok.addPrefixSpace)
      n.put("trim_offsets", true)
      n.put("use_regex", useRegex)
      n
    }
    val pre: com.fasterxml.jackson.databind.JsonNode =
      if (!tok.splitPre) byteLevelPre(useRegex = true)
      else {
        // the Llama-3/Qwen2 shape this tokenizer was loaded from:
        // the file's own Split regex, then a non-regexing ByteLevel
        val seq = mapper.createObjectNode()
        seq.put("type", "Sequence")
        val arr = mapper.createArrayNode()
        val split = mapper.createObjectNode()
        split.put("type", "Split")
        val pat = mapper.createObjectNode()
        pat.put("Regex", tok.tokenPattern)
        split.set[com.fasterxml.jackson.databind.JsonNode]("pattern",
          pat)
        split.put("behavior", "Isolated")
        split.put("invert", false)
        arr.add(split)
        arr.add(byteLevelPre(useRegex = false))
        seq.set[com.fasterxml.jackson.databind.JsonNode](
          "pretokenizers", arr)
        seq
      }
    root.set[com.fasterxml.jackson.databind.JsonNode]("pre_tokenizer",
      pre)
    Tokenizer.emitPostProcessor(mapper, root, tok,
      tok.vocab.map(_.swap).toMap.get)
    val model = mapper.createObjectNode()
    model.put("type", "BPE")
    model.putNull("dropout")
    model.putNull("unk_token")
    model.putNull("continuing_subword_prefix")
    model.putNull("end_of_word_suffix")
    model.put("fuse_unk", false)
    model.put("byte_fallback", false)
    model.put("ignore_merges", tok.ignoreMerges)
    val vNode = mapper.createObjectNode()
    tok.vocab.foreach { case (t, id) => vNode.put(t, id) }
    model.set[com.fasterxml.jackson.databind.JsonNode]("vocab", vNode)
    val mergesArr = mapper.createArrayNode()
    tok.merges.sortBy(_._1).foreach { m =>
      val pairN = mapper.createArrayNode()
      pairN.add(m._2); pairN.add(m._3)
      mergesArr.add(pairN)
    }
    model.set[com.fasterxml.jackson.databind.JsonNode]("merges",
      mergesArr)
    root.set[com.fasterxml.jackson.databind.JsonNode]("model", model)
    Tokenizer.writeJson(spark, path, root)
  }

  /** The content ids — NFC when the file demands it, the ByteLevel
    * `add_prefix_space` prepend (a space is prepended unless the text
    * already starts with one — the published behaviour, which makes
    * `"word"` and `" word"` encode identically), the file's split
    * pattern, the merge fold, and the id hop. One compiled-kernel
    * projection.
    */
  protected def contentIds(text: Column, tok: BpeTokenizer): Column =
    graft.expressions.GraftFunctions.tokenIds(
      graft.expressions.GraftFunctions.bpeEncodeFull(
        encodeView(text, tok), rankedMerges(tok), tok.tokenPattern,
        ignoreMergesVocab =
          if (tok.ignoreMerges) tok.vocab.map(_._1) else Nil,
        requireCover = tok.splitPre),
      tok.vocab, unkId = -1L)

  /** Content spans in code points into the ENCODE-VIEW text (see
    * [[graft.expressions.BpeEncodeOffsets]] for the exact convention:
    * untrimmed byte coverage, multi-byte splits covered whole, a
    * documented divergence from the reference's trim_offsets).
    */
  protected def contentOffsets(text: Column, tok: BpeTokenizer)
      : Column =
    graft.expressions.GraftFunctions.bpeEncodeOffsets(
      encodeView(text, tok), rankedMerges(tok), tok.tokenPattern,
      tok.vocab, ignoreMerges = tok.ignoreMerges,
      requireCover = tok.splitPre)

  private def rankedMerges(tok: BpeTokenizer): Seq[(Int, String, String)] =
    tok.merges.sortBy(_._1).map(m => (m._1, m._2, m._3))

  /** The encode-view text the kernels scan: NFC when the file
    * demands it, then the `add_prefix_space` prepend — offsets index
    * THIS string.
    */
  private[operators] def encodeView(text: Column, tok: BpeTokenizer)
      : Column = {
    val t1 =
      if (!tok.needsNfc) text
      else TextFunctions.normalizeUnicode(text, "NFC")
    if (!tok.addPrefixSpace) t1
    else when(t1.startsWith(" "), t1).otherwise(concat(lit(" "), t1))
  }

  /** The decode column for assembled sequences: the
    * [[TokenizerSurface]] skip set dropped, remaining
    * content ids unmapped to their original UTF-8 bytes through the
    * compiled [[graft.expressions.IdsToText]] kernel (special-token
    * markers outside the byte alphabet render literally). With no
    * merges applied mid-character, decode ∘ encode is the byte-exact
    * identity on the encode-view text — the x92/x93 property this
    * lineage keeps under templates. Zero shuffles.
    */
  def decodeColumn(ids: Column, tok: BpeTokenizer,
      skipTemplateIds: Boolean = true): Column = {
    val skip = decodeSkipIds(tok, skipTemplateIds)
    val content =
      if (skip.isEmpty) ids
      else filter(ids, i => !i.isInCollection(skip))
    graft.expressions.GraftFunctions.idsToText(content, tok.vocab)
  }

  /** Export a BYTE-level merge table as a Hugging Face single-file
    * `tokenizer.json` — the serialization the public `tokenizers`
    * library reads, and the single-file format most tooling now
    * consumes (the gap the GPT-2 pair export left). Field shapes
    * follow that library's published serialization: `model.type =
    * "BPE"` with the vocab in insertion order and merges as
    * `[left, right]` pairs (the 0.20+ spelling [[loadTokenizerJson]]
    * also accepts), a `ByteLevel` pre-tokenizer/post-processor/decoder
    * triple, `normalizer: null` (the engine encodes raw bytes — see
    * the matching [[loadTokenizerJson]] rejection), and specials as
    * `added_tokens` entries with `special: true`. Round trip is exact:
    * save → [[loadTokenizerJson]] ≡ the (merges, vocab) that
    * [[saveGpt2]] + [[loadGpt2]] carry for the same table
    * (spec-asserted, plus encode parity across formats). Driver-side
    * IO through the Hadoop FS API — tokenizer artifacts are
    * vocab-sized by construction.
    */
  def saveTokenizerJson(spark: SparkSession,
      merges: Seq[(Int, String, String, String, Long)],
      path: String, specialTokens: Seq[String] = Nil): Unit = {
    val ordered = merges.sortBy(_._1)
    ordered.foreach { m =>
      require(!(m._2 + m._3).exists(c => c == ' ' || c == '\n' ||
          c == '\r'),
        s"merge pair ('${m._2}', '${m._3}') contains whitespace — " +
          "not a byte-level table; saveTokenizerJson is defined for " +
          "trainBytes tables only")
    }
    val vocab = vocabBytes(ordered, specialTokens)
    val byId = vocab.toMap
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("version", "1.0")
    root.putNull("truncation")
    root.putNull("padding")
    val addedArr = mapper.createArrayNode()
    specialTokens.foreach { t =>
      val n = mapper.createObjectNode()
      n.put("id", byId(t))
      n.put("content", t)
      n.put("single_word", false)
      n.put("lstrip", false)
      n.put("rstrip", false)
      n.put("normalized", false)
      n.put("special", true)
      addedArr.add(n)
    }
    root.set[com.fasterxml.jackson.databind.JsonNode]("added_tokens",
      addedArr)
    root.putNull("normalizer")
    def byteLevelNode(addPrefixSpace: Boolean) = {
      val n = mapper.createObjectNode()
      n.put("type", "ByteLevel")
      n.put("add_prefix_space", addPrefixSpace)
      n.put("trim_offsets", true)
      n.put("use_regex", true)
      n
    }
    root.set[com.fasterxml.jackson.databind.JsonNode]("pre_tokenizer",
      byteLevelNode(addPrefixSpace = false))
    root.set[com.fasterxml.jackson.databind.JsonNode]("post_processor",
      byteLevelNode(addPrefixSpace = true))
    root.set[com.fasterxml.jackson.databind.JsonNode]("decoder",
      byteLevelNode(addPrefixSpace = true))
    val model = mapper.createObjectNode()
    model.put("type", "BPE")
    model.putNull("dropout")
    model.putNull("unk_token")
    model.putNull("continuing_subword_prefix")
    model.putNull("end_of_word_suffix")
    model.put("fuse_unk", false)
    model.put("byte_fallback", false)
    model.put("ignore_merges", false)
    val vNode = mapper.createObjectNode()
    // specials ship as added_tokens ONLY — model.vocab carries the
    // trained table, exactly the split loadTokenizerJson re-merges
    val specialSet = specialTokens.toSet
    vocab.foreach { case (t, id) =>
      if (!specialSet.contains(t)) vNode.put(t, id)
    }
    model.set[com.fasterxml.jackson.databind.JsonNode]("vocab", vNode)
    val mergesArr = mapper.createArrayNode()
    ordered.foreach { m =>
      val pair = mapper.createArrayNode()
      pair.add(m._2); pair.add(m._3)
      mergesArr.add(pair)
    }
    model.set[com.fasterxml.jackson.databind.JsonNode]("merges",
      mergesArr)
    root.set[com.fasterxml.jackson.databind.JsonNode]("model", model)
    Tokenizer.writeJson(spark, path, root)
  }

  /** [[encodeIdsBytes]] under an EXPLICIT vocabulary (a [[loadGpt2]]
    * artifact's id assignment, which need not follow [[vocabBytes]]'s
    * layout). The sentinel −1 still marks the impossible miss — for a
    * well-formed artifact every byte symbol and merge result is in
    * vocabulary.
    */
  def encodeIdsBytes(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(Int, String, String, String, Long)],
      vocabTable: Seq[(String, Long)], tokenPattern: String): DataFrame =
    encodeBytes(df, idCol, textCol, merges, tokenPattern)
      .withColumn("token_ids", graft.expressions.GraftFunctions
        .tokenIds(col("tokens"), vocabTable, unkId = -1L))

  /** Tokenizer EVALUATION profile — the numbers teams grade a trained
    * tokenizer by, per stratum (usually language): document/byte/
    * word/token totals plus the two derived ratios, `fertility`
    * (tokens per word — how many pieces the tokenizer shatters a word
    * into; high fertility on a language means that language pays more
    * sequence budget per sentence) and `compression` (bytes per token
    * — how much text one token carries). Both are emitted as
    * INTEGER-EXACT milli-ratios (`(a * 1000) div b`) so cross-engine
    * comparison never hinges on float formatting; null when the
    * denominator is empty.
    *
    * Words are maximal runs of non-whitespace under the EXPLICIT
    * class `[ \t\n\f\r]` (Java's `\s` and RE2's differ on
    * U+000B, so the class is spelled out — the x92 lesson). Token
    * counts come from the compiled map-side kernel, so the profile
    * measures exactly what [[encodeBytes]]/the packers produce.
    *
    * Scale shape: one pure map projection + ONE stratum-keyed
    * aggregate (partial map-side) — no join, no window, linear at any
    * corpus size.
    */
  def fertilityStats(df: DataFrame, textCol: String, strataCol: String,
      merges: Seq[(Int, String, String, String, Long)],
      byteLevel: Boolean = true,
      tokenPattern: String =
        graft.functions.TextFunctions.bpeTokenPattern): DataFrame = {
    val toks = size(graft.expressions.GraftFunctions.bpeEncode(
      col(textCol), merges.sortBy(_._1).map(m => (m._1, m._2, m._3)),
      tokenPattern, byteLevel)).cast("long")
    val runs = regexp_replace(col(textCol),
      "[^ \t\n\f\r]+", "w")
    val words = (length(runs) - length(translate(runs, "w", "")))
      .cast("long")
    df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(octet_length(col(textCol)).cast("long")).as("n_bytes"),
        sum(toks).as("n_tokens"),
        sum(words).as("n_words"))
      .withColumn("fertility_milli",
        expr("(n_tokens * 1000) div nullif(n_words, 0)"))
      .withColumn("compression_milli",
        expr("(n_bytes * 1000) div nullif(n_tokens, 0)"))
  }
}
