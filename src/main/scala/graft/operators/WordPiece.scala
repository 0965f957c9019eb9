package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WordPiece tokenizer support — the BERT lineage, completing the
  * engine's tokenizer trifecta (byte-BPE [[Bpe]], sentencepiece
  * [[Unigram]], WordPiece here): `tokenizer.json` files with
  * `model.type = "WordPiece"` (greedy longest-match-first encode with
  * `##` continuations, whole-word unk on any stuck position), the
  * serialization BERT-family models ship.
  *
  * Same contract as the other two loaders: exactly-reproducible
  * pipelines load, everything else refuses LOUDLY. Supported:
  *  - `WordPiece` models (object vocab, `unk_token` resolved against
  *    it, `continuing_subword_prefix`, `max_input_chars_per_word`);
  *  - normalizer: absent or `BertNormalizer` (clean_text /
  *    handle_chinese_chars / strip_accents — the published
  *    null-follows-lowercase default — / lowercase), reproduced
  *    in-kernel; other normalizers rejected;
  *  - pre-tokenizer: `BertPreTokenizer` REQUIRED (whitespace split +
  *    punctuation isolation — the split WordPiece's greedy match is
  *    defined over; an absent pre-tokenizer would make the whole
  *    text one word, a different artifact class);
  *  - post-processor: absent, `TemplateProcessing` (BERT's
  *    `[CLS] $A [SEP]`, plus the pair template when the file defines
  *    one), or the legacy `BertProcessing` (cls/sep pairs).
  *
  * Honest bound, documented on the kernel: Unicode category lookups
  * use the JDK's tables; a `tokenizers` build pinned to a different
  * Unicode version could classify an exotic codepoint differently.
  */
object WordPiece extends TokenizerSurface {

  type Tok = WordPieceTokenizer

  /** The PAIR post-processing template (BERT's
    * `[CLS] $A [SEP] $B:1 [SEP]:1` shape): fixed (id, type_id)
    * tokens BEFORE A, BETWEEN A and B, and AFTER B, plus the type
    * ids the two sequences' content tokens carry.
    */
  case class PairTemplate(pre: Seq[(Long, Long)],
      mid: Seq[(Long, Long)], post: Seq[(Long, Long)],
      typeA: Long, typeB: Long)

  /** A loaded WordPiece tokenizer. `pair` is the two-sequence
    * template when the file defines one — [[encodePair]]'s contract;
    * single-sequence encode ignores it. `truncation` / `padding` are
    * the file's top-level blocks when present — honored by every
    * [[TokenizerSurface]] encode, never silently ignored.
    */
  case class WordPieceTokenizer(vocab: Seq[(String, Long)],
      unkId: Long, contPrefix: String, maxInputCharsPerWord: Int,
      cleanText: Boolean, handleChineseChars: Boolean,
      stripAccents: Boolean, lowercase: Boolean,
      prefixIds: Seq[Long], suffixIds: Seq[Long],
      pair: Option[PairTemplate] = None,
      truncation: Option[TokenizerTruncation.Truncation] = None,
      padding: Option[TokenizerTruncation.Padding] = None,
      decoderCleanup: Option[Boolean] = None)
      extends Tokenizer

  def loadTokenizerJson(spark: SparkSession, path: String)
      : WordPieceTokenizer = {
    val tree = Tokenizer.readJson(spark, path)
    val model = tree.get("model")
    require(model != null && model.isObject,
      s"$path has no tokenizer model object")
    val kind = Option(model.get("type")).map(_.asText()).getOrElse("")
    require(kind == "WordPiece",
      s"unsupported tokenizer model type '$kind' in $path — this " +
        "loader reads WordPiece (BERT-class) models; byte-level BPE " +
        "loads through Bpe.loadTokenizerJson, Unigram through " +
        "Unigram.loadTokenizerJson")

    val vocabNode = model.get("vocab")
    require(vocabNode != null && vocabNode.isObject,
      s"$path model.vocab is not a JSON object — not a WordPiece " +
        "serialization")
    val vocab = {
      val b = Seq.newBuilder[(String, Long)]
      val it = vocabNode.fields()
      while (it.hasNext) {
        val e = it.next()
        require(e.getValue.canConvertToLong,
          s"$path vocab id for '${e.getKey}' is not an integer")
        b += ((e.getKey, e.getValue.asLong()))
      }
      b.result()
    }
    require(vocab.map(_._2).distinct.size == vocab.size,
      s"$path carries duplicate token ids")
    val vocabMap = vocab.toMap
    val unkToken = {
      val v = model.get("unk_token")
      require(v != null && v.isTextual,
        s"$path WordPiece model without an unk_token — greedy " +
          "matching is undefined without one")
      v.asText()
    }
    val unkId = vocabMap.getOrElse(unkToken,
      throw new IllegalArgumentException(
        s"$path unk_token '$unkToken' is missing from the vocab"))
    val contPrefix = {
      val v = model.get("continuing_subword_prefix")
      if (v == null || v.isNull) "##" else v.asText()
    }
    val maxChars = {
      val v = model.get("max_input_chars_per_word")
      if (v == null || v.isNull) 100
      else {
        require(v.canConvertToInt && v.asInt() >= 1,
          s"$path max_input_chars_per_word is not a positive integer")
        v.asInt()
      }
    }

    val norm = tree.get("normalizer")
    val (cleanText, handleCjk, stripAccents, lowercase) =
      if (norm == null || norm.isNull) (false, false, false, false)
      else {
        require(Option(norm.get("type")).map(_.asText())
            .contains("BertNormalizer"),
          s"$path carries a normalizer (type '${Option(norm.get("type"))
            .map(_.asText()).getOrElse("?")}') this loader does not " +
            "reproduce — only absent or BertNormalizer is supported " +
            "for WordPiece; refusing to mis-encode")
        def flag(name: String, dflt: Boolean): Boolean = {
          val v = norm.get(name)
          if (v == null || v.isNull) dflt else v.asBoolean(dflt)
        }
        val lc = flag("lowercase", dflt = true)
        // the published default: strip_accents follows lowercase
        // when the file leaves it null
        val sa = {
          val v = norm.get("strip_accents")
          if (v == null || v.isNull) lc else v.asBoolean(lc)
        }
        (flag("clean_text", dflt = true),
          flag("handle_chinese_chars", dflt = true), sa, lc)
      }

    val pre = tree.get("pre_tokenizer")
    require(pre != null && !pre.isNull &&
      Option(pre.get("type")).map(_.asText())
        .contains("BertPreTokenizer"),
      s"$path pre-tokenizer is ${if (pre == null || pre.isNull)
        "absent" else s"'${Option(pre.get("type")).map(_.asText())
          .getOrElse("?")}'"} — WordPiece greedy matching is defined " +
        "over the BertPreTokenizer split (whitespace + punctuation " +
        "isolation); anything else is a different segmentation; " +
        "refusing to mis-encode")

    val post = tree.get("post_processor")
    val (prefixIds, suffixIds, pairTemplate)
        : (Seq[Long], Seq[Long], Option[PairTemplate]) =
      if (post == null || post.isNull) (Seq.empty, Seq.empty, None)
      else Option(post.get("type")).map(_.asText()) match {
        case Some("BertProcessing") =>
          // legacy shape: {"sep": ["[SEP]", id], "cls": ["[CLS]", id]}
          // — its pair form is FIXED by the format:
          // [CLS]:0 A:0 [SEP]:0 B:1 [SEP]:1
          def pairId(name: String): Long = {
            val v = post.get(name)
            require(v != null && v.isArray && v.size() == 2,
              s"$path BertProcessing.$name is not a [token, id] pair")
            v.get(1).asLong()
          }
          val (cls, sep) = (pairId("cls"), pairId("sep"))
          (Seq(cls), Seq(sep),
            Some(PairTemplate(Seq((cls, 0L)), Seq((sep, 0L)),
              Seq((sep, 1L)), typeA = 0L, typeB = 1L)))
        case Some("TemplateProcessing") =>
          Tokenizer.parseTemplateProcessing(post, vocabMap.get, path)
        case other => throw new IllegalArgumentException(
          s"$path post-processor type '${other.getOrElse("?")}' is " +
            "not reproducible — only absent, BertProcessing, or " +
            "TemplateProcessing is supported")
      }

    // the `decoder` block — previously IGNORED silently (the last
    // loader-contract gap): verified structurally here. Absent →
    // None (the engine's space-join convention applies). A WordPiece
    // decoder must carry THIS tokenizer's continuation prefix (a
    // different prefix would re-attach the wrong tokens); its
    // `cleanup` flag is recorded — [[decodeColumn]] refuses
    // cleanup=true unless the caller explicitly accepts the
    // space-join form, because the published cleanup post-pass is a
    // convention this engine does not reproduce and silently
    // skipping it would diverge from the source tokenizer's decode
    // on punctuation. Any other decoder type refuses loudly.
    val decoderCleanup: Option[Boolean] = {
      val d = tree.get("decoder")
      if (d == null || d.isNull) None
      else {
        val kind = Option(d.get("type")).map(_.asText()).getOrElse("?")
        require(kind == "WordPiece",
          s"$path decoder type '$kind' is not the WordPiece " +
            "space-join convention this engine decodes with; " +
            "refusing to silently decode differently")
        val pfx = Option(d.get("prefix")).filterNot(_.isNull)
          .map(_.asText()).getOrElse("##")
        require(pfx == contPrefix,
          s"$path decoder prefix '$pfx' differs from the model's " +
            s"continuing_subword_prefix '$contPrefix' — the file " +
            "contradicts itself; refusing to guess")
        // the published default when the flag is absent is cleanup
        // ON — resolving absent to false would silently diverge
        Some(Option(d.get("cleanup")).filterNot(_.isNull)
          .map(_.asBoolean(true)).getOrElse(true))
      }
    }
    WordPieceTokenizer(vocab, unkId, contPrefix, maxChars, cleanText,
      handleCjk, stripAccents, lowercase, prefixIds, suffixIds,
      pairTemplate,
      TokenizerTruncation.parseTruncation(tree, path),
      TokenizerTruncation.parsePadding(tree, path, vocabMap.get),
      decoderCleanup)
  }

  /** Export a loaded WordPiece tokenizer back to the single-file
    * `tokenizer.json` serialization — save→load identity
    * (spec-asserted). The normalizer re-emits as a BertNormalizer
    * when any stage is on (strip_accents written EXPLICITLY so the
    * null-follows-lowercase default cannot re-resolve differently),
    * the pre-tokenizer is always BertPreTokenizer (the load
    * requirement), and templates re-emit as single-sequence
    * TemplateProcessing.
    */
  def saveTokenizerJson(spark: SparkSession, tok: WordPieceTokenizer,
      path: String): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("version", "1.0")
    TokenizerTruncation.emitTruncation(mapper, root, tok.truncation)
    TokenizerTruncation.emitPadding(mapper, root, tok.padding,
      id => tok.vocab.find(_._2 == id).map(_._1))
    if (!tok.cleanText && !tok.handleChineseChars &&
        !tok.stripAccents && !tok.lowercase)
      root.putNull("normalizer")
    else {
      val n = mapper.createObjectNode()
      n.put("type", "BertNormalizer")
      n.put("clean_text", tok.cleanText)
      n.put("handle_chinese_chars", tok.handleChineseChars)
      n.put("strip_accents", tok.stripAccents)
      n.put("lowercase", tok.lowercase)
      root.set[com.fasterxml.jackson.databind.JsonNode]("normalizer", n)
    }
    val pre = mapper.createObjectNode()
    pre.put("type", "BertPreTokenizer")
    root.set[com.fasterxml.jackson.databind.JsonNode]("pre_tokenizer",
      pre)
    Tokenizer.emitPostProcessor(mapper, root, tok,
      tok.vocab.map(_.swap).toMap.get)
    tok.decoderCleanup match {
      case None => root.putNull("decoder")
      case Some(cu) =>
        val d = mapper.createObjectNode()
        d.put("type", "WordPiece")
        d.put("prefix", tok.contPrefix)
        d.put("cleanup", cu)
        root.set[com.fasterxml.jackson.databind.JsonNode]("decoder",
          d)
    }
    val model = mapper.createObjectNode()
    model.put("type", "WordPiece")
    val unkTok = tok.vocab.find(_._2 == tok.unkId).map(_._1)
      .getOrElse(throw new IllegalStateException(
        s"unk id ${tok.unkId} has no vocab entry"))
    model.put("unk_token", unkTok)
    model.put("continuing_subword_prefix", tok.contPrefix)
    model.put("max_input_chars_per_word", tok.maxInputCharsPerWord)
    val vocab = mapper.createObjectNode()
    tok.vocab.foreach { case (t, i) => vocab.put(t, i) }
    model.set[com.fasterxml.jackson.databind.JsonNode]("vocab", vocab)
    root.set[com.fasterxml.jackson.databind.JsonNode]("model", model)
    Tokenizer.writeJson(spark, path, root)
  }

  /** The content ids: the compiled greedy-match kernel (Bert
    * normalizer, BertPreTokenizer split, longest-match-first).
    */
  protected def contentIds(text: Column, tok: WordPieceTokenizer)
      : Column =
    graft.expressions.GraftFunctions.wordPieceEncode(text, tok)

  /** Content spans in code points into the normalized text (see
    * [[graft.expressions.WordPieceEncodeOffsets]] for the exact
    * convention and its documented divergence from the reference's
    * original-string byte offsets).
    */
  protected def contentOffsets(text: Column, tok: WordPieceTokenizer)
      : Column =
    graft.expressions.GraftFunctions.wordPieceEncodeOffsets(text, tok)

  /** The decode column — the published `decoders.WordPiece` join
    * convention (space-join, continuation prefix attaches), the
    * [[TokenizerSurface]] skip set dropped. Zero shuffles. Decode
    * is lossy across the Bert normalizer (case/accents/whitespace
    * discarded by the ENCODE); on pre-normalized in-coverage text
    * decode ∘ encode is the identity — the x124 oracle's statement.
    *
    * A tokenizer whose file carries a `cleanup = true` decoder block
    * decodes through the reference decoder's cleanup chain
    * ([[graft.expressions.WordPieceDecodeIds.cleanupChain]] — the
    * punctuation/contraction re-attachment replaces, applied in the
    * published order, quirks included), so decode matches the source
    * tokenizer on punctuation too — oracle-checked by x138, which
    * restates the ENTIRE chain as SQL `replace` calls. Pass
    * `acceptSpaceJoin = true` to take the PRE-cleanup space-join
    * form knowingly (the raw join, useful when downstream tooling
    * does its own detokenization).
    */
  def decodeColumn(ids: Column, tok: WordPieceTokenizer,
      skipTemplateIds: Boolean = true,
      acceptSpaceJoin: Boolean = false): Column =
    graft.expressions.GraftFunctions.wordPieceDecode(ids, tok,
      decodeSkipIds(tok, skipTemplateIds),
      cleanup = tok.decoderCleanup.contains(true) && !acceptSpaceJoin)

  /** PAIR encode as two columns, `(token_ids, type_ids)`, under the
    * tokenizer's pair template — the [[encodePair]] assembly without
    * its DataFrame. Both returned columns reference the two encode
    * kernels directly, so a consumer projecting both may evaluate
    * each O(len²) encode more than once unless codegen subexpression
    * elimination fuses them; [[encodePair]] is the production path.
    */
  def encodePairColumns(a: Column, b: Column,
      tok: WordPieceTokenizer): (Column, Column) = {
    val (ids, types) = pairAssembled(contentIds(a, tok),
      contentIds(b, tok), tok.truncation, requirePair(tok))
    padPair(ids, types, tok)
  }

  /** Distributed decode: `(idCol, text)` — [[encodeIds]]'s inverse
    * shape (the skip set dropped).
    */
  def decodeIdsDf(df: DataFrame, idCol: String, idsCol: String,
      tok: WordPieceTokenizer): DataFrame =
    df.select(col(idCol), decodeColumn(col(idsCol), tok).as("text"))

  // ---- training -----------------------------------------------------

  /** The trainer's corpus view: Bert pre-tokens (the SAME compiled
    * [[graft.expressions.BertPreTokens]] pipeline the encode kernel
    * runs — histogram and encoder can never drift) → (word, weight).
    * One distributed shuffle, vocabulary-sized result.
    */
  def wordHistogram(df: DataFrame, textCol: String,
      cleanText: Boolean = true, handleChineseChars: Boolean = true,
      stripAccents: Option[Boolean] = None, lowercase: Boolean = true)
      : DataFrame =
    df.select(explode(graft.expressions.GraftFunctions.bertPreTokens(
        col(textCol), cleanText, handleChineseChars,
        stripAccents.getOrElse(lowercase), lowercase)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("weight"))

  /** Train a WordPiece vocabulary from a raw corpus — the published
    * wordcount builder (the HF `WordPieceTrainer` algorithm): words
    * split into a word-start symbol plus `contPrefix`-marked
    * continuations; merges pick the pair maximizing the LIKELIHOOD
    * score `count(pair) / (count(left) · count(right))` (the
    * WordPiece criterion — BPE's raw-count argmax is [[Bpe.train]]'s
    * job), merged token = left + right-minus-prefix, until the
    * vocabulary reaches `vocabSize` or no pair has
    * `count ≥ minFrequency`. Ids are insertion order: specials, the
    * corpus alphabet (sorted), then merges — the HF layout.
    * Deterministic: score ties compare EXACTLY (cross-multiplied
    * integers, never floats) and then break (left, right) ascending,
    * so training is a pure function of the corpus. (HF's own heap
    * order is insertion-dependent on exact ties; the engine pins a
    * total order instead — documented divergence, fixture-pinned.)
    *
    * Scale shape, the [[Bpe.train]] split: the corpus-sized work (the
    * pre-token histogram and the alphabet scan) is DISTRIBUTED; the
    * merge loop runs on the driver over the collected histogram when
    * it fits `maxDriverWords` (≈0.5 GB heap per 10⁶ distinct words),
    * and falls back to the DISTRIBUTED per-merge loop above the
    * bound — loudly (the ~10⁵× per-merge latency cliff is warned
    * with the exact heap arithmetic and the `histogramMinCount`
    * lever), with `maxDriverWords = 0` forcing it (the spec device
    * proving both homes pick identical merge sequences). The
    * ALPHABET always comes from the FULL histogram (never pruned), so
    * a trained tokenizer covers every character the corpus contains —
    * no word can go unk for coverage reasons; `histogramMinCount > 1`
    * only thins the MERGE statistics (documented approximation:
    * pair mass from sub-threshold words is ignored).
    */
  def train(df: DataFrame, textCol: String, vocabSize: Int,
      minFrequency: Long = 2L,
      specials: Seq[String] = Seq("[UNK]"),
      unkToken: String = "[UNK]", contPrefix: String = "##",
      maxInputCharsPerWord: Int = 100,
      cleanText: Boolean = true, handleChineseChars: Boolean = true,
      stripAccents: Option[Boolean] = None, lowercase: Boolean = true,
      histogramMinCount: Long = 1L,
      maxDriverWords: Long = 1000000L,
      maxTieWindow: Int = 100000): WordPieceTokenizer = {
    require(maxTieWindow >= 1,
      s"maxTieWindow must be >= 1: $maxTieWindow")
    require(vocabSize >= 1, s"vocabSize must be >= 1: $vocabSize")
    require(minFrequency >= 1,
      s"minFrequency must be >= 1: $minFrequency")
    require(histogramMinCount >= 1,
      s"histogramMinCount must be >= 1: $histogramMinCount")
    require(specials.contains(unkToken),
      s"unkToken '$unkToken' must be among the specials " +
        s"${specials.mkString("[", ", ", "]")}")
    require(specials.distinct == specials,
      s"duplicate specials: ${specials.mkString(", ")}")
    val sa = stripAccents.getOrElse(lowercase)
    val hist = wordHistogram(df, textCol, cleanText,
      handleChineseChars, Some(sa), lowercase).localCheckpoint()
    // the alphabet from the FULL histogram — full character coverage
    // regardless of any merge-side pruning; char-sized result
    val firstSyms = hist
      .select(regexp_extract(col("word"), "^.", 0).as("sym"))
      .distinct()
    val contSyms = hist
      .select(explode(regexp_extract_all(
        regexp_replace(col("word"), "^.", ""), lit("."), lit(0)))
        .as("ch"))
      .distinct()
      .select(concat(lit(contPrefix), col("ch")).as("sym"))
    val alphabet = firstSyms.union(contSyms).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val pruned =
      if (histogramMinCount <= 1L) hist
      else hist.filter(col("weight") >= histogramMinCount)
    val n = pruned.count()
    // the Bpe.train dispatch: in-memory driver loop when the
    // histogram fits, the distributed per-merge loop otherwise
    // (maxDriverWords = 0 forces it — the spec device proving both
    // homes identical); crossing the cliff is VISIBLE, never silent
    val tokens =
      if (n <= maxDriverWords && maxDriverWords > 0) {
        val rows = pruned.select(col("word"), col("weight")).collect()
          .map(r => (r.getString(0), r.getLong(1)))
        trainDriver(rows, alphabet, vocabSize, minFrequency,
          specials, contPrefix)
      } else {
        if (maxDriverWords > 0)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"WordPiece histogram has $n distinct words > " +
              s"maxDriverWords=$maxDriverWords; using the " +
              "DISTRIBUTED merge loop (~4 Spark jobs per merge). " +
              "Raising maxDriverWords to cover it costs " +
              f"~${n / 1e6 * 0.5}%.1f GB of driver heap and keeps " +
              "training in-memory; histogramMinCount prunes the " +
              "rare-word tail first.")
        trainDistributed(pruned, alphabet, vocabSize, minFrequency,
          specials, contPrefix, maxTieWindow)
      }
    val unkId = tokens.indexOf(unkToken).toLong
    WordPieceTokenizer(
      tokens.zipWithIndex.map { case (t, i) => (t, i.toLong) },
      unkId, contPrefix, maxInputCharsPerWord, cleanText,
      handleChineseChars, sa, lowercase, Seq.empty, Seq.empty)
  }

  /** The driver merge loop — package-private so the spec can pin the
    * hand-computed likelihood argmax directly. Returns the token list
    * in id order: specials, alphabet (as given), then merges.
    */
  private[graft] def trainDriver(histRows: Array[(String, Long)],
      alphabet: Seq[String], vocabSize: Int, minFrequency: Long,
      specials: Seq[String], contPrefix: String): Seq[String] = {
    import scala.collection.mutable

    def codePoints(w: String): Array[String] = {
      val b = Array.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val n = Character.charCount(w.codePointAt(i))
        b += w.substring(i, i + n)
        i += n
      }
      b.result()
    }
    def splitWord(w: String): Array[String] = {
      val cps = codePoints(w)
      var i = 1
      while (i < cps.length) { cps(i) = contPrefix + cps(i); i += 1 }
      cps
    }

    val syms: Array[Array[String]] = histRows.map(r => splitWord(r._1))
    val weights: Array[Long] = histRows.map(_._2)
    val symCount = mutable.HashMap.empty[String, Long]
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords =
      mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]

    def addWord(wi: Int): Unit = {
      val s = syms(wi); val w = weights(wi)
      var i = 0
      while (i < s.length) {
        symCount.updateWith(s(i))(c => Some(c.getOrElse(0L) + w))
        if (i < s.length - 1) {
          val p = (s(i), s(i + 1))
          pairCount.updateWith(p)(c => Some(c.getOrElse(0L) + w))
          pairWords.getOrElseUpdate(p, mutable.HashSet.empty) += wi
        }
        i += 1
      }
    }
    def removeWord(wi: Int): Unit = {
      val s = syms(wi); val w = weights(wi)
      var i = 0
      while (i < s.length) {
        val left = symCount(s(i)) - w
        if (left == 0L) symCount.remove(s(i)) else symCount(s(i)) = left
        if (i < s.length - 1) {
          val p = (s(i), s(i + 1))
          val c = pairCount(p) - w
          if (c == 0L) { pairCount.remove(p); pairWords.remove(p) }
          else { pairCount(p) = c; pairWords.get(p).foreach(_ -= wi) }
        }
        i += 1
      }
    }
    def mergeSyms(s: Array[String], l: String, r: String,
        merged: String): Array[String] = {
      val b = Array.newBuilder[String]
      var i = 0
      while (i < s.length) {
        if (i < s.length - 1 && s(i) == l && s(i + 1) == r) {
          b += merged; i += 2
        } else { b += s(i); i += 1 }
      }
      b.result()
    }

    var wi = 0
    while (wi < syms.length) { addWord(wi); wi += 1 }

    val vocab = mutable.ArrayBuffer.empty[String]
    val seen = mutable.HashSet.empty[String]
    (specials ++ alphabet).foreach(t => if (seen.add(t)) vocab += t)
    require(vocab.size <= vocabSize,
      s"vocabSize $vocabSize cannot hold the ${specials.size} " +
        s"specials + ${alphabet.size}-symbol corpus alphabet " +
        s"(${vocab.size} tokens before any merge) — raise vocabSize")

    var continue = true
    while (vocab.size < vocabSize && continue) {
      // the likelihood argmax: count(pair) / (count(l)·count(r)).
      // Scan once with cheap doubles to find the ceiling, then hand
      // the near-tie window to the EXACT selector shared with the
      // distributed home ([[argmaxPair]]). Equal rationals always
      // land on equal doubles, so no true tie can escape the window;
      // the epsilon only admits false candidates for the exact pass
      // to reject.
      var ceil = -1.0
      pairCount.foreach { case (p, c) =>
        if (c >= minFrequency) {
          val s = c.toDouble /
            (symCount(p._1).toDouble * symCount(p._2).toDouble)
          if (s > ceil) ceil = s
        }
      }
      val window = Seq.newBuilder[(String, String, Long, Long, Long)]
      if (ceil >= 0.0) {
        val floor = ceil * (1.0 - 1e-12)
        pairCount.foreach { case (p, c) =>
          if (c >= minFrequency) {
            val l = symCount(p._1); val r = symCount(p._2)
            if (c.toDouble / (l.toDouble * r.toDouble) >= floor)
              window += ((p._1, p._2, c, l, r))
          }
        }
      }
      argmaxPair(window.result()) match {
        case None => continue = false
        case Some((bl, br, _)) =>
          val best = (bl, br)
          val merged = mergedToken(bl, br, contPrefix)
          // two merge paths can produce the same string (a+##bc and
          // ab+##c both yield "abc") — the id is assigned once, the
          // rewrite still happens
          if (seen.add(merged)) vocab += merged
          val affected = pairWords.get(best).map(_.toArray)
            .getOrElse(Array.empty[Int])
          affected.foreach { w =>
            removeWord(w)
            syms(w) = mergeSyms(syms(w), best._1, best._2, merged)
            addWord(w)
          }
      }
    }
    vocab.toSeq
  }

  /** The DISTRIBUTED merge loop — the [[Bpe.trainDistributed]] shape
    * for likelihood scores: the histogram never leaves the cluster;
    * each merge runs pair counts + symbol counts (vocab-sized aggs),
    * joins the likelihood score, pulls only the NEAR-TIE WINDOW of
    * the double-score maximum to the driver, and selects exactly via
    * the shared [[argmaxPair]] — so this home and the driver loop
    * provably pick the same merge sequence (spec-asserted on the
    * fixture corpus with `maxDriverWords = 0`). ~4 Spark jobs per
    * merge — the documented ~10⁵× per-merge latency cliff vs the
    * in-memory loop; it exists for histograms the driver heap cannot
    * hold, not for speed.
    *
    * The window collect is BOUNDED by `maxTieWindow` (the maxStrata
    * idiom): on a pathological corpus where a corpus-sized set of
    * pairs shares the exact maximum score, a naive collect would be
    * corpus-sized — instead the loop refuses LOUDLY at the cap (the
    * exact argmax is undecidable without the full tie set, and
    * guessing would silently fork the two homes' merge sequences).
    * Superseded `localCheckpoint` generations are unpersisted
    * explicitly ([[graft.core.Checkpoints.release]]) so the block
    * manager holds at most two histogram generations at any moment,
    * not one per completed merge.
    */
  private def trainDistributed(hist: DataFrame, alphabet: Seq[String],
      vocabSize: Int, minFrequency: Long, specials: Seq[String],
      contPrefix: String, maxTieWindow: Int): Seq[String] = {
    def quote(s: String): String = java.util.regex.Pattern.quote(s)
    def quoteRepl(s: String): String =
      java.util.regex.Matcher.quoteReplacement(s)
    // padded symbol string " h ##u ##g " — word-start char bare,
    // continuations prefixed; the space-joined form one regexp pass
    // per merge can rewrite (the Bpe.applyMerge idiom)
    val restSyms = transform(
      regexp_extract_all(regexp_replace(col("word"), "^.", ""),
        lit("."), lit(0)),
      ch => concat(lit(contPrefix), ch))
    var h = hist.select(col("weight"),
      concat(lit(" "), array_join(
        concat(array(regexp_extract(col("word"), "^.", 0)), restSyms),
        " "), lit(" ")).as("syms"))
      .localCheckpoint()

    val vocab = scala.collection.mutable.ArrayBuffer.empty[String]
    val seen = scala.collection.mutable.HashSet.empty[String]
    (specials ++ alphabet).foreach(t => if (seen.add(t)) vocab += t)
    require(vocab.size <= vocabSize,
      s"vocabSize $vocabSize cannot hold the ${specials.size} " +
        s"specials + ${alphabet.size}-symbol corpus alphabet " +
        s"(${vocab.size} tokens before any merge) — raise vocabSize")

    var continue = true
    while (vocab.size < vocabSize && continue) {
      val symArr = split(trim(col("syms")), " ")
      val symCounts = h
        .select(explode(symArr).as("sym"), col("weight"))
        .groupBy(col("sym")).agg(sum(col("weight")).as("scnt"))
      val pairCounts = h
        .select(col("weight"), symArr.as("a"))
        .select(col("weight"), col("a"),
          posexplode(col("a")).as(Seq("i", "left")))
        .withColumn("right", try_element_at(col("a"), col("i") + 2))
        .filter(col("right").isNotNull)
        .groupBy(col("left"), col("right"))
        .agg(sum(col("weight")).as("pc"))
        .filter(col("pc") >= minFrequency)
      val scored = pairCounts
        .join(broadcast(symCounts
          .withColumnRenamed("sym", "left")
          .withColumnRenamed("scnt", "lc")), Seq("left"))
        .join(broadcast(symCounts
          .withColumnRenamed("sym", "right")
          .withColumnRenamed("scnt", "rc")), Seq("right"))
        .withColumn("score", col("pc").cast("double") /
          (col("lc").cast("double") * col("rc").cast("double")))
        .localCheckpoint()
      val mx = scored.agg(max(col("score"))).head()
      if (mx.isNullAt(0)) continue = false
      else {
        // only the double-score near-tie window reaches the driver —
        // BOUNDED: limit(cap + 1) and refuse loudly on saturation
        // (an all-tie corpus makes the window the entire pair table;
        // a truncated window could pick a different exact winner
        // than the driver home, a silent fork this loop refuses)
        val window = scored
          .filter(col("score") >= mx.getDouble(0) * (1.0 - 1e-12))
          .select(col("left"), col("right"), col("pc"), col("lc"),
            col("rc"))
          .limit(maxTieWindow + 1)
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getLong(3), r.getLong(4))).toSeq
        if (window.size > maxTieWindow)
          throw new IllegalStateException(
            s"WordPiece distributed merge loop: more than " +
              s"maxTieWindow=$maxTieWindow pairs tie at the maximum " +
              "likelihood score (a near-uniform corpus — every pair " +
              "equally likely). Collecting the full tie set would " +
              "be corpus-sized; refusing. Raise maxTieWindow to " +
              "cover the tie set, prune the histogram with " +
              "histogramMinCount, or raise maxDriverWords so the " +
              "in-memory loop (which holds all pairs anyway) " +
              "handles this corpus.")
        argmaxPair(window) match {
          case None => continue = false
          case Some((l, r, _)) =>
            val merged = mergedToken(l, r, contPrefix)
            if (seen.add(merged)) vocab += merged
            val prev = h
            h = h.withColumn("syms", regexp_replace(col("syms"),
              s"(?<= )${quote(l)} ${quote(r)}(?= )",
              quoteRepl(merged))).localCheckpoint()
            graft.core.Checkpoints.release(prev)
        }
      }
      graft.core.Checkpoints.release(scored)
    }
    vocab.toSeq
  }

  /** left + right-minus-continuation-prefix — the published merged
    * token shape, shared by both merge-loop homes.
    */
  private def mergedToken(l: String, r: String,
      contPrefix: String): String =
    l + (if (contPrefix.nonEmpty && r.startsWith(contPrefix))
           r.substring(contPrefix.length)
         else r)

  /** The EXACT likelihood argmax over a candidate window — shared by
    * the driver loop and the distributed loop so the two homes can
    * never disagree: the winner maximizes count/(lc·rc) compared via
    * BigInt cross-multiplication (counts can overflow a Long
    * product), ties broken (left, right) ascending. Input tuples are
    * (left, right, pairCount, leftCount, rightCount).
    */
  private[graft] def argmaxPair(
      cands: Seq[(String, String, Long, Long, Long)])
      : Option[(String, String, Long)] = {
    var best: (String, String, Long, Long, Long) = null
    cands.foreach { cand =>
      val better =
        if (best == null) true
        else {
          val lhs = BigInt(cand._3) * BigInt(best._4) * BigInt(best._5)
          val rhs = BigInt(best._3) * BigInt(cand._4) * BigInt(cand._5)
          if (lhs != rhs) lhs > rhs
          else {
            val cl = cand._1.compareTo(best._1)
            if (cl != 0) cl < 0 else cand._2.compareTo(best._2) < 0
          }
        }
      if (better) best = cand
    }
    Option(best).map(b => (b._1, b._2, b._3))
  }
}
