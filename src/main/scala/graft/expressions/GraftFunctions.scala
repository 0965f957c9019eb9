package graft.expressions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Column-API wrappers + SQL registration for graft's native expressions.
  *
  * Two entry paths:
  *  - Scala: `GraftFunctions.vecDot(a, b)` → `Column` (via ColumnBridge)
  *  - SQL:   `SELECT graft_vec_dot(a, b)` after
  *    [[GraftFunctions.register]] is injected through
  *    `SparkSession.builder.withExtensions` (see
  *    [[graft.core.Graft.session]]).
  */
object GraftFunctions {

  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def e(col: Column): Expression = ColumnBridge.expression(col)

  /** Let-binding for Column expressions: evaluate each named expression
    * in `exprs` exactly ONCE per row and build `body` from the bound
    * results (a one-element array + `transform` — the results arrive as
    * lambda variables, so the evaluation count is structural, not
    * CSE-dependent). Shields expensive kernels from Catalyst's
    * collapse/pushdown re-evaluation: a non-empty filter pushed below a
    * projection, or a collapsed Project/Generate, would otherwise
    * inline the kernel once per reference (measured 3-4 evaluations per
    * row on the chunking and bigram paths).
    */
  def bindOnce(exprs: Seq[(String, Column)])(
      body: (String => Column) => Column): Column = {
    import org.apache.spark.sql.functions.{array, element_at, struct, transform}
    element_at(transform(
      array(struct(exprs.map { case (n, col) => col.as(n) }: _*)),
      x => body(n => x.getField(n))), 1)
  }

  def vecDot(a: Column, b: Column): Column = c(VecDot(e(a), e(b)))
  def matProject(a: Column, mean: Seq[Double],
      components: Seq[Seq[Double]]): Column =
    c(MatProject(e(a), mean, components))
  def vecNormSq(a: Column): Column = c(VecNormSq(e(a)))
  def vecL2Sq(a: Column, b: Column): Column = c(VecL2Sq(e(a), e(b)))
  def hyperplaneBucket(a: Column, nBits: Int, dim: Int = -1): Column =
    c(HyperplaneBucket(e(a), nBits, dim))
  def residualVec(vec: Column, cell: Column,
      centroids: Seq[Seq[Float]]): Column =
    c(ResidualVec(e(vec), e(cell), centroids))
  def pqAdcTable(vec: Column, codebooks: Seq[Seq[Seq[Float]]],
      nCentroids: Int): Column =
    c(PqAdcTable(e(vec), codebooks, nCentroids))
  def nearestCells(a: Column, centroids: Seq[Seq[Float]], nProbe: Int): Column =
    c(NearestCells(e(a), centroids, nProbe))
  def hyperplaneBands(a: Column, bands: Int, bitsPerBand: Int): Column =
    c(HyperplaneBands(e(a), bands, bitsPerBand))
  def wordShingles(text: Column, k: Int): Column = c(WordShingles(e(text), k))
  def wordShinglesSeq(text: Column, k: Int): Column =
    c(WordShinglesSeq(e(text), k))
  def removeCoveredTokens(text: Column, starts: Column, k: Int): Column =
    c(RemoveCoveredTokens(e(text), e(starts), k))
  def pqAdcDot(codes: Column, table: Column, nCentroids: Int): Column =
    c(PqAdcDot(e(codes), e(table), nCentroids))
  def minHashSignature(shingles: Column, numHashes: Int): Column =
    c(MinHashSignature(e(shingles), numHashes))
  def minHashBandKeys(sig: Column, bands: Int, rows: Int): Column =
    c(MinHashBandKeys(e(sig), bands, rows))
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    c(QualityScore(e(text), stopwords))
  def simHash64(text: Column): Column = c(SimHash64(e(text)))
  def htmlNcrDecode(text: Column): Column = c(HtmlNcrDecode(e(text)))
  def pslRegisteredDomain(host: Column, rules: Seq[String]): Column =
    c(PslRegisteredDomain(e(host), rules))
  def tokenIds(tokens: Column, vocab: Seq[(String, Long)],
      unkId: Long): Column = c(TokenIds(e(tokens), vocab, unkId))
  def unicodeNormalize(text: Column, form: String): Column =
    c(UnicodeNormalize(e(text), form))
  def byteRemap(text: Column): Column = c(ByteRemap(e(text)))
  def byteUnmap(text: Column): Column = c(ByteUnmap(e(text)))
  def idnAscii(host: Column): Column = c(IdnAscii(e(host)))
  def bpeEncode(text: Column, merges: Seq[(Int, String, String)],
      pattern: String, byteLevel: Boolean): Column =
    c(BpeEncodeTokens(e(text), merges, pattern, byteLevel))
  def bpeEncodeOffsets(text: Column,
      merges: Seq[(Int, String, String)], pattern: String,
      vocab: Seq[(String, Long)], ignoreMerges: Boolean = false,
      requireCover: Boolean = false): Column =
    c(BpeEncodeOffsets(e(text), merges, pattern, vocab,
      ignoreMerges = ignoreMerges, requireCover = requireCover))
  def bpeEncodeFull(text: Column,
      merges: Seq[(Int, String, String)], pattern: String,
      ignoreMergesVocab: Seq[String], requireCover: Boolean): Column =
    c(BpeEncodeTokens(e(text), merges, pattern, byteLevel = true,
      ignoreMergesVocab = ignoreMergesVocab,
      requireCover = requireCover))
  def unigramEncode(text: Column,
      tok: graft.operators.Unigram.UnigramTokenizer): Column =
    c(UnigramEncodeIds(e(text), tok.pieces.toSeq, tok.unkId,
      tok.byteFallback, tok.norms, tok.metaspace))
  def wordPieceEncode(text: Column,
      tok: graft.operators.WordPiece.WordPieceTokenizer): Column =
    c(WordPieceEncodeIds(e(text), tok.vocab, tok.unkId,
      tok.contPrefix, tok.maxInputCharsPerWord, tok.cleanText,
      tok.handleChineseChars, tok.stripAccents, tok.lowercase))
  def bertNormalize(text: Column,
      tok: graft.operators.WordPiece.WordPieceTokenizer): Column =
    c(BertNormalize(e(text), tok.cleanText, tok.handleChineseChars,
      tok.stripAccents, tok.lowercase))
  def unigramEncodeOffsets(text: Column,
      tok: graft.operators.Unigram.UnigramTokenizer): Column =
    c(UnigramEncodeOffsets(e(text), tok.pieces.toSeq, tok.unkId,
      tok.byteFallback, tok.norms, tok.metaspace))
  def wordPieceEncodeOffsets(text: Column,
      tok: graft.operators.WordPiece.WordPieceTokenizer): Column =
    c(WordPieceEncodeOffsets(e(text), tok.vocab, tok.unkId,
      tok.contPrefix, tok.maxInputCharsPerWord, tok.cleanText,
      tok.handleChineseChars, tok.stripAccents, tok.lowercase))
  def unigramDecode(ids: Column,
      tok: graft.operators.Unigram.UnigramTokenizer): Column =
    c(UnigramDecodeIds(e(ids), tok.pieces.map(_._1),
      tok.norms, tok.metaspace))
  def wordPieceDecode(ids: Column,
      tok: graft.operators.WordPiece.WordPieceTokenizer,
      skipIds: Seq[Long] = Seq.empty,
      cleanup: Boolean = false): Column =
    c(WordPieceDecodeIds(e(ids), tok.vocab, tok.contPrefix, skipIds,
      cleanup))
  def allSubstrings(text: Column, maxLen: Int): Column =
    c(AllSubstrings(e(text), maxLen))
  def unigramEStep(word: Column, pieces: Seq[String],
      logp: Seq[Double], maxPieceLen: Int): Column =
    c(UnigramEStep(e(word), pieces, logp, maxPieceLen))
  def bertPreTokens(text: Column, cleanText: Boolean,
      handleChineseChars: Boolean, stripAccents: Boolean,
      lowercase: Boolean): Column =
    c(BertPreTokens(e(text), cleanText, handleChineseChars,
      stripAccents, lowercase))
  def decimalSortKey(v: Column, precision: Int, scale: Int): Column =
    c(DecimalSortKey(e(v), precision, scale))
  def sortKeyDecimal(v: Column, precision: Int, scale: Int): Column =
    c(SortKeyDecimal(e(v), precision, scale))
  def doubleSortKey(v: Column): Column = c(DoubleSortKey(e(v)))
  def sortKeyDouble(v: Column): Column = c(SortKeyDouble(e(v)))
  def floatSortKey(v: Column): Column = c(FloatSortKey(e(v)))
  def sortKeyFloat(v: Column): Column = c(SortKeyFloat(e(v)))
  def shardSequences(blob: Column, idx: Column): Column =
    c(ShardSequences(e(blob), e(idx)))
  def epochOrdPositions(ord: Column): Column =
    c(EpochOrdPositions(e(ord)))
  def blendEntries(blob: Column): Column =
    c(BlendEntries(e(blob)))
  def packedTokenBinary(ids: Column, width: Int): Column =
    c(PackedTokenBinary(e(ids), width))
  def idsToText(ids: Column, vocab: Seq[(String, Long)]): Column =
    c(IdsToText(e(ids), vocab))
  def sortedIntersectCount(a: Column, b: Column): Column =
    c(SortedArrayIntersectCount(e(a), e(b)))
  def winnowFingerprints(text: Column, k: Int, w: Int): Column =
    c(WinnowFingerprints(e(text), k, w))
  def hashedLinearLogit(text: Column, weightsQ: Seq[Long],
      biasQ: Long): Column =
    c(HashedLinearLogit(e(text), weightsQ, biasQ))
  def hashedBucketCounts(text: Column, dim: Int): Column =
    c(HashedBucketCounts(e(text), dim))
  def int8QuantStats(a: Column): Column = c(Int8QuantStats(e(a)))
  def bloomSharedCount(shingles: Column, bits: Column,
      numHashes: Int): Column =
    c(BloomSharedCount(e(shingles), e(bits), numHashes))
  def bloomContains(bits: Column, hash: Column, numHashes: Int): Column =
    c(BloomContains(e(bits), e(hash), numHashes))

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[VecDot].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  private def lit(e: Expression): Int = e.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"expected integer literal, got $other")
  }

  /** SQL-surface registration (used with
    * `SparkSession.builder.withExtensions(GraftFunctions.register)`).
    */
  def register(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("graft_vec_dot"),
      info("graft_vec_dot", "dot product of two float vectors"),
      (args: Seq[Expression]) => VecDot(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_vec_normsq"),
      info("graft_vec_normsq", "squared L2 norm of a float vector"),
      (args: Seq[Expression]) => VecNormSq(args(0))))
    ext.injectFunction((FunctionIdentifier("graft_vec_l2sq"),
      info("graft_vec_l2sq", "squared L2 distance of two float vectors"),
      (args: Seq[Expression]) => VecL2Sq(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_hyperplane_bucket"),
      info("graft_hyperplane_bucket", "sign-bit LSH bucket of a float vector"),
      (args: Seq[Expression]) => HyperplaneBucket(args(0), lit(args(1)))))
    ext.injectFunction((FunctionIdentifier("graft_word_shingles"),
      info("graft_word_shingles", "distinct word-k-shingles of a text"),
      (args: Seq[Expression]) => WordShingles(args(0), lit(args(1)))))
    ext.injectFunction((FunctionIdentifier("graft_minhash_sig"),
      info("graft_minhash_sig", "MinHash signature of a string set"),
      (args: Seq[Expression]) => MinHashSignature(args(0), lit(args(1)))))
    ext.injectFunction((FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64", "64-bit SimHash of a text"),
      (args: Seq[Expression]) => SimHash64(args(0))))
    ext.injectFunction((FunctionIdentifier("graft_html_ncr_decode"),
      info("graft_html_ncr_decode",
        "decode HTML numeric character references (&#NNNN; / &#xHH;)"),
      (args: Seq[Expression]) => HtmlNcrDecode(args(0))))
    ext.injectFunction((FunctionIdentifier("graft_sorted_intersect_count"),
      info("graft_sorted_intersect_count",
        "|A∩B| of two sorted distinct string arrays"),
      (args: Seq[Expression]) => SortedArrayIntersectCount(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_hyperplane_bands"),
      info("graft_hyperplane_bands",
        "per-band sign-bit LSH buckets of a float vector"),
      (args: Seq[Expression]) =>
        HyperplaneBands(args(0), lit(args(1)), lit(args(2)))))
    ext.injectFunction((FunctionIdentifier("graft_winnow_fingerprints"),
      info("graft_winnow_fingerprints",
        "winnowed rolling-hash fingerprints of a text"),
      (args: Seq[Expression]) =>
        WinnowFingerprints(args(0), lit(args(1)), lit(args(2)))))
    ext.injectFunction((FunctionIdentifier("graft_int8_quant_stats"),
      info("graft_int8_quant_stats",
        "int8 max-abs quantization audit struct(dim,max_q,min_q,mse)"),
      (args: Seq[Expression]) => Int8QuantStats(args(0))))
    ext.injectFunction((FunctionIdentifier("graft_bloom_contains"),
      info("graft_bloom_contains",
        "membership probe against a BloomBuild bitset"),
      (args: Seq[Expression]) =>
        BloomContains(args(0), args(1), lit(args(2)))))
    ext.injectFunction((FunctionIdentifier("graft_byte_remap"),
      info("graft_byte_remap",
        "UTF-8 bytes as byte-BPE printable-unicode symbols"),
      (args: Seq[Expression]) => ByteRemap(args(0))))
    ext.injectFunction((FunctionIdentifier("graft_byte_unmap"),
      info("graft_byte_unmap",
        "byte-BPE printable-unicode symbols back to text"),
      (args: Seq[Expression]) => ByteUnmap(args(0))))
    ext.injectFunction((FunctionIdentifier("graft_idn_ascii"),
      info("graft_idn_ascii",
        "lowercased punycode (IDNA) grouping form of a host"),
      (args: Seq[Expression]) => IdnAscii(args(0))))
    // optimizer rule: HOF dot-product pattern → compiled VecDot kernel
    ext.injectOptimizerRule(_ => VecKernelRewrite)
  }
}
