package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Unigram (sentencepiece-class) tokenizer support — the Llama-family
  * lineage the byte-BPE loader deliberately refuses: `tokenizer.json`
  * files with `model.type = "Unigram"` (scored pieces, Viterbi
  * maximum-likelihood encode, byte fallback), the conversion format
  * of sentencepiece models in the public `tokenizers` ecosystem.
  *
  * Same contract as [[Bpe.loadTokenizerJson]]: everything the engine
  * can reproduce EXACTLY loads; everything else is REJECTED loudly at
  * load, never silently mis-encoded. Supported exactly:
  *  - `Unigram` models (vocab `[[piece, score], ...]`, ids = array
  *    index, `unk_id`, `byte_fallback`);
  *  - normalizers: absent, `Prepend`, literal-`Replace`, pure `NFC`
  *    (leading only — applied through the engine's compiled x89
  *    kernel), and `Sequence`s of those — the Llama lineage is
  *    `[Prepend "▁", Replace " " → "▁"]`;
  *  - pre-tokenizer: ABSENT (the Llama lineage runs the lattice over
  *    the whole normalized sentence) or `Metaspace` (the T5 lineage:
  *    " "→replacement rewrite, scheme-gated prepend, and with
  *    `split` a per-pre-token lattice — pieces never span pre-token
  *    boundaries); `ByteLevel`/`Whitespace`/other splits are
  *    different segmentations — rejected;
  *  - post-processor: absent, id-neutral, or `TemplateProcessing` —
  *    the single template's fixed special ids around one `A`
  *    sequence (Llama's `<s> $A` BOS shape) are emitted exactly, and
  *    a `pair` template (A-then-B with type ids) loads through the
  *    shared [[Tokenizer.parseTemplateProcessing]] state machine for
  *    [[encodePair]]; a `$B` in the SINGLE template is still
  *    rejected.
  *
  * The encode itself is the compiled map-side
  * [[graft.expressions.UnigramEncodeIds]] kernel — zero shuffles,
  * whole-stage codegen, the [[Bpe.encodeMapSide]] shape. Reference:
  * the public sentencepiece Viterbi algorithm and the HF `tokenizers`
  * Unigram serialization; quirk parity (unk fusing ⇔ unk_id, the
  * −10.0 unknown penalty, `<0xNN>` fallback precedence) is pinned by
  * hand-computed lattice fixtures in UnigramSpec.
  */
object Unigram extends TokenizerSurface {

  type Tok = UnigramTokenizer

  /** A loaded Unigram tokenizer: pieces in id order (id = index),
    * `unkId < 0` = none, kernel-resident normalizer ops in file
    * order, `needsNfc` = a leading pure-NFC stage (applied upstream
    * of the kernel), the template's fixed prefix/suffix ids, and —
    * when the file defines one — the PAIR template
    * ([[encodePair]]'s contract; the [[WordPiece.PairTemplate]]
    * shape, shared across the template-carrying lineages).
    */
  case class UnigramTokenizer(pieces: IndexedSeq[(String, Double)],
      unkId: Int, byteFallback: Boolean,
      norms: Seq[(String, String, String)], needsNfc: Boolean,
      prefixIds: Seq[Long], suffixIds: Seq[Long],
      metaspace: Option[(String, Boolean, String)] = None,
      truncation: Option[TokenizerTruncation.Truncation] = None,
      padding: Option[TokenizerTruncation.Padding] = None,
      pair: Option[WordPiece.PairTemplate] = None)
      extends Tokenizer

  /** Load a `tokenizer.json` carrying a Unigram model, rejecting
    * loudly anything the engine cannot reproduce exactly — see the
    * object doc for the accepted surface.
    */
  def loadTokenizerJson(spark: SparkSession, path: String)
      : UnigramTokenizer = {
    val tree = Tokenizer.readJson(spark, path)
    val model = tree.get("model")
    require(model != null && model.isObject,
      s"$path has no tokenizer model object")
    val kind = Option(model.get("type")).map(_.asText()).getOrElse("")
    require(kind == "Unigram",
      s"unsupported tokenizer model type '$kind' in $path — this " +
        "loader reads Unigram (sentencepiece-class) models; " +
        "byte-level BPE loads through Bpe.loadTokenizerJson")

    // vocab: [[piece, score], ...]; ids are array positions
    val vocabNode = model.get("vocab")
    require(vocabNode != null && vocabNode.isArray &&
      vocabNode.size() > 0,
      s"$path model.vocab is not a non-empty array — not a Unigram " +
        "serialization")
    val pieces = {
      val b = IndexedSeq.newBuilder[(String, Double)]
      val it = vocabNode.elements()
      while (it.hasNext) {
        val e = it.next()
        require(e.isArray && e.size() == 2 && e.get(0).isTextual &&
          e.get(1).isNumber,
          s"$path vocab entry is not [piece, score]")
        b += ((e.get(0).asText(), e.get(1).asDouble()))
      }
      b.result()
    }
    require(pieces.map(_._1).distinct.size == pieces.size,
      s"$path carries duplicate pieces — ids (array positions) " +
        "would be ambiguous")
    val unkNode = model.get("unk_id")
    val unkId =
      if (unkNode == null || unkNode.isNull) -1
      else {
        require(unkNode.canConvertToInt &&
          unkNode.asInt() >= 0 && unkNode.asInt() < pieces.size,
          s"$path unk_id ${unkNode.asText()} outside the " +
            s"${pieces.size}-piece vocab")
        unkNode.asInt()
      }
    val byteFallback = {
      val v = model.get("byte_fallback")
      v != null && !v.isNull && v.asBoolean(false)
    }

    // normalizers: Prepend / literal Replace / leading pure NFC /
    // Sequences of those
    def flattenNorms(node: com.fasterxml.jackson.databind.JsonNode)
        : Seq[com.fasterxml.jackson.databind.JsonNode] =
      Option(node.get("type")).map(_.asText()) match {
        case Some("Sequence") =>
          val ns = node.get("normalizers")
          require(ns != null && ns.isArray,
            s"$path Sequence normalizer without a normalizers array")
          val b = Seq.newBuilder[com.fasterxml.jackson.databind.JsonNode]
          val it = ns.elements()
          while (it.hasNext) b ++= flattenNorms(it.next())
          b.result()
        case Some(_) => Seq(node)
        case None => throw new IllegalArgumentException(
          s"$path normalizer entry has no type")
      }
    val normNode = tree.get("normalizer")
    val atoms =
      if (normNode == null || normNode.isNull) Seq.empty
      else flattenNorms(normNode)
    val nfcPrefix = atoms.takeWhile(n => n.get("type").asText() == "NFC")
    val needsNfc = nfcPrefix.nonEmpty
    val norms = atoms.drop(nfcPrefix.size).map { n =>
      n.get("type").asText() match {
        case "Prepend" =>
          val p = n.get("prepend")
          require(p != null && p.isTextual,
            s"$path Prepend normalizer without a prepend string")
          ("prepend", p.asText(), "")
        case "Replace" =>
          val pat = n.get("pattern")
          require(pat != null && pat.isObject &&
            pat.get("String") != null && pat.get("String").isTextual,
            s"$path Replace normalizer with a non-literal pattern " +
              "(Regex) — a rewrite this engine does not reproduce; " +
              "refusing to mis-encode")
          val c = n.get("content")
          require(c != null && c.isTextual,
            s"$path Replace normalizer without a content string")
          ("replace", pat.get("String").asText(), c.asText())
        case "NFC" => throw new IllegalArgumentException(
          s"$path carries NFC after a non-NFC normalizer stage — " +
            "the engine applies NFC upstream of the kernel, so only " +
            "a LEADING pure-NFC stage is reproducible; refusing to " +
            "mis-encode")
        case other => throw new IllegalArgumentException(
          s"$path carries a normalizer (type '$other') this engine " +
            "does not reproduce — only Prepend, literal Replace and " +
            "a leading NFC are supported; loading would silently " +
            "mis-encode any input the normalizer rewrites")
      }
    }

    // pre-tokenizer: absent (Llama lineage — the lattice runs over
    // the whole normalized sentence) or Metaspace (T5 lineage —
    // space→replacement rewrite, scheme-gated prepend, and with
    // `split` a per-pre-token lattice); anything else is a different
    // segmentation — rejected
    val pre = tree.get("pre_tokenizer")
    val metaspace: Option[(String, Boolean, String)] =
      if (pre == null || pre.isNull) None
      else Option(pre.get("type")).map(_.asText()) match {
        case Some("Metaspace") =>
          val repl = {
            val r = pre.get("replacement")
            if (r == null || r.isNull) "▁"
            else {
              require(r.isTextual && r.asText().nonEmpty,
                s"$path Metaspace replacement is not a non-empty " +
                  "string")
              r.asText()
            }
          }
          val split = {
            val v = pre.get("split")
            v == null || v.isNull || v.asBoolean(true)
          }
          val scheme = {
            val ps = pre.get("prepend_scheme")
            if (ps != null && !ps.isNull) ps.asText()
            else {
              // legacy field: add_prefix_space true (the default) is
              // the "always" scheme
              val aps = pre.get("add_prefix_space")
              if (aps == null || aps.isNull || aps.asBoolean(true))
                "always"
              else "never"
            }
          }
          require(scheme == "always" || scheme == "first" ||
            scheme == "never",
            s"$path Metaspace prepend_scheme '$scheme' is not a " +
              "published scheme (always/first/never) — refusing to " +
              "mis-encode")
          Some((repl, split, scheme))
        case other =>
          throw new IllegalArgumentException(
            s"$path carries a pre-tokenizer (type " +
              s"'${other.getOrElse("?")}') this engine does not " +
              "reproduce — only absent (whole-sentence lattice) or " +
              "Metaspace is supported; a ByteLevel/Whitespace/split " +
              "stage is a different segmentation; refusing to " +
              "mis-encode")
      }

    // post-processor: absent, or a TemplateProcessing (single
    // template, optional pair) through the shared parser; vocab ids
    // are piece positions
    val pieceIdOf = pieces.map(_._1).zipWithIndex.toMap
    val vocabIdOf: String => Option[Long] =
      t => pieceIdOf.get(t).map(_.toLong)
    val post = tree.get("post_processor")
    val (prefixIds, suffixIds, pairTemplate)
        : (Seq[Long], Seq[Long], Option[WordPiece.PairTemplate]) =
      if (post == null || post.isNull)
        (Seq.empty[Long], Seq.empty[Long], None)
      else {
        require(Option(post.get("type")).map(_.asText())
            .contains("TemplateProcessing"),
          s"$path post-processor type '${Option(post.get("type"))
            .map(_.asText()).getOrElse("?")}' is not reproducible — " +
            "only absent or TemplateProcessing is supported")
        Tokenizer.parseTemplateProcessing(post, vocabIdOf, path)
      }

    // truncation / padding blocks: honored (the loader-contract
    // close); only_second is meaningful only on the pair surface —
    // a single-sequence encode under it refuses at ENCODE
    // ([[TokenizerTruncation.truncateSingle]])
    val truncation = TokenizerTruncation.parseTruncation(tree, path)
    val padding = TokenizerTruncation.parsePadding(tree, path, vocabIdOf)

    // the `decoder` block — previously IGNORED silently: verified
    // structurally here. The engine's decode ([[graft.expressions
    // .UnigramDecode]]: byte-fallback fuse, marker→space, prepend
    // strip) IS the published chain both lineage shapes serialize —
    // `Metaspace` (T5) and the Llama `Sequence[Replace, ByteFallback,
    // Fuse, Strip]` — so both are ACCEPTED when their parameters
    // match this tokenizer's own marker; anything else would decode
    // differently and refuses loudly. (Replace-then-ByteFallback vs
    // fuse-then-replace order is immaterial: `<0xNN>` pieces never
    // contain the marker.)
    {
      val marker = graft.expressions.UnigramDecode.spaceMarker(norms,
        metaspace)
      def checkMember(n: com.fasterxml.jackson.databind.JsonNode)
          : Unit = Option(n.get("type")).map(_.asText()) match {
        case Some("Replace") =>
          val pat = n.get("pattern")
          val from =
            if (pat != null && pat.isObject &&
                pat.get("String") != null) pat.get("String").asText()
            else "?"
          val to = Option(n.get("content")).filterNot(_.isNull)
            .map(_.asText()).getOrElse("?")
          require(from == marker && to == " ",
            s"$path decoder Replace rewrites '$from'→'$to' but this " +
              s"tokenizer's space marker is '$marker'→' ' — the " +
              "file contradicts itself; refusing to guess")
        case Some("ByteFallback") | Some("Fuse") => ()
        case Some("Strip") =>
          val content = Option(n.get("content")).filterNot(_.isNull)
            .map(_.asText()).getOrElse(" ")
          require(content == " ",
            s"$path decoder Strip removes '$content' — only the " +
              "prepended space strip is the engine's decode")
        case other => throw new IllegalArgumentException(
          s"$path decoder member type '${other.getOrElse("?")}' is " +
            "not the Metaspace/Replace-ByteFallback-Fuse-Strip " +
            "decode this engine implements; refusing to silently " +
            "decode differently")
      }
      val d = tree.get("decoder")
      if (d != null && !d.isNull)
        Option(d.get("type")).map(_.asText()) match {
          case Some("Metaspace") =>
            val repl = Option(d.get("replacement"))
              .filterNot(_.isNull).map(_.asText()).getOrElse("▁")
            require(repl == marker,
              s"$path decoder Metaspace replacement '$repl' differs " +
                s"from this tokenizer's marker '$marker' — the file " +
                "contradicts itself; refusing to guess")
          case Some("Sequence") =>
            val ds = d.get("decoders")
            require(ds != null && ds.isArray,
              s"$path decoder Sequence without decoders")
            val it = ds.elements()
            while (it.hasNext) checkMember(it.next())
          case other => throw new IllegalArgumentException(
            s"$path decoder type '${other.getOrElse("?")}' is not " +
              "the Metaspace / Replace-chain decode this engine " +
              "implements; refusing to silently decode differently")
        }
    }
    UnigramTokenizer(pieces, unkId, byteFallback, norms, needsNfc,
      prefixIds, suffixIds, metaspace, truncation, padding,
      pairTemplate)
  }

  /** Export a loaded Unigram tokenizer back to the single-file
    * `tokenizer.json` serialization — the [[Bpe.saveTokenizerJson]]
    * contract for this lineage: save→load is the identity
    * (spec-asserted), field shapes follow the public `tokenizers`
    * serialization (vocab as [piece, score] pairs in id order, the
    * normalizer sequence reconstructed from the loaded ops — leading
    * NFC, Prepend, Replace — Metaspace with its explicit
    * replacement/split/prepend_scheme, and a single-sequence
    * TemplateProcessing when the tokenizer carries template ids).
    */
  def saveTokenizerJson(spark: SparkSession, tok: UnigramTokenizer,
      path: String): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("version", "1.0")
    TokenizerTruncation.emitTruncation(mapper, root, tok.truncation)
    def nameOf(id: Long): Option[String] =
      if (id >= 0 && id < tok.pieces.size) Some(tok.pieces(id.toInt)._1)
      else None
    TokenizerTruncation.emitPadding(mapper, root, tok.padding, nameOf)
    // normalizer
    val atoms = mapper.createArrayNode()
    if (tok.needsNfc) {
      val n = mapper.createObjectNode(); n.put("type", "NFC")
      atoms.add(n)
    }
    tok.norms.foreach {
      case ("prepend", v, _) =>
        val n = mapper.createObjectNode()
        n.put("type", "Prepend"); n.put("prepend", v); atoms.add(n)
      case ("replace", from, to) =>
        val n = mapper.createObjectNode()
        n.put("type", "Replace")
        val pat = mapper.createObjectNode(); pat.put("String", from)
        n.set[com.fasterxml.jackson.databind.JsonNode]("pattern", pat)
        n.put("content", to); atoms.add(n)
      case (k, _, _) => throw new IllegalStateException(
        s"unknown normalizer op '$k'")
    }
    if (atoms.size() == 0)
      root.putNull("normalizer")
    else if (atoms.size() == 1)
      root.set[com.fasterxml.jackson.databind.JsonNode]("normalizer",
        atoms.get(0))
    else {
      val seq = mapper.createObjectNode()
      seq.put("type", "Sequence")
      seq.set[com.fasterxml.jackson.databind.JsonNode]("normalizers",
        atoms)
      root.set[com.fasterxml.jackson.databind.JsonNode]("normalizer",
        seq)
    }
    // pre-tokenizer
    tok.metaspace match {
      case None => root.putNull("pre_tokenizer")
      case Some((repl, split, scheme)) =>
        val n = mapper.createObjectNode()
        n.put("type", "Metaspace"); n.put("replacement", repl)
        n.put("split", split); n.put("prepend_scheme", scheme)
        root.set[com.fasterxml.jackson.databind.JsonNode](
          "pre_tokenizer", n)
    }
    Tokenizer.emitPostProcessor(mapper, root, tok, nameOf)
    // model
    val model = mapper.createObjectNode()
    model.put("type", "Unigram")
    if (tok.unkId < 0) model.putNull("unk_id")
    else model.put("unk_id", tok.unkId)
    model.put("byte_fallback", tok.byteFallback)
    val vocab = mapper.createArrayNode()
    tok.pieces.foreach { case (px, sc) =>
      val e = mapper.createArrayNode(); e.add(px); e.add(sc)
      vocab.add(e)
    }
    model.set[com.fasterxml.jackson.databind.JsonNode]("vocab", vocab)
    root.set[com.fasterxml.jackson.databind.JsonNode]("model", model)
    Tokenizer.writeJson(spark, path, root)
  }

  /** The lattice input: NFC upstream when the file demands it (the
    * compiled x89 kernel — still a pure projection).
    */
  private def latticeText(text: Column, tok: UnigramTokenizer): Column =
    if (tok.needsNfc) TextFunctions.normalizeUnicode(text, "NFC")
    else text

  /** The content ids: the Viterbi kernel over the lattice input. */
  protected def contentIds(text: Column, tok: UnigramTokenizer)
      : Column =
    graft.expressions.GraftFunctions.unigramEncode(
      latticeText(text, tok), tok)

  /** Content spans in code points into the normalized-and-rewritten
    * lattice string (see [[graft.expressions.UnigramEncodeOffsets]]
    * for the exact convention — byte-fallback tokens carry their
    * whole span's offsets).
    */
  protected def contentOffsets(text: Column, tok: UnigramTokenizer)
      : Column =
    graft.expressions.GraftFunctions.unigramEncodeOffsets(
      latticeText(text, tok), tok)

  /** Driver-side decode — the sentencepiece convention, shared with
    * the distributed kernel through
    * [[graft.expressions.UnigramDecode]]: ids → pieces, `<0xNN>` runs
    * decode as UTF-8 bytes, the tokenizer's OWN space marker (the
    * Metaspace replacement when set, else the `Replace " "→X`
    * content, else "▁") renders as a space, and ONE leading space
    * drops when the pipeline prepended one (a Prepend normalizer or
    * a Metaspace `always`/`first` scheme). Unknown-id positions
    * render as the unk piece (information the encode discarded —
    * decode is lossy exactly there, nowhere else).
    */
  def decodeIds(ids: Seq[Long], tok: UnigramTokenizer): String =
    graft.expressions.UnigramDecode.decode(ids.toArray,
      tok.pieces.map(_._1),
      graft.expressions.UnigramDecode.spaceMarker(tok.norms,
        tok.metaspace),
      graft.expressions.UnigramDecode.dropsLeading(tok.norms,
        tok.metaspace))

  /** The decode column — the distributed inverse of
    * [[encodeColumn]] (sans template ids: strip them first, or
    * encode without a template). Zero shuffles.
    */
  def decodeColumn(ids: Column, tok: UnigramTokenizer): Column =
    graft.expressions.GraftFunctions.unigramDecode(ids, tok)

  /** Distributed decode: `(idCol, text)` — [[encodeIds]]'s inverse
    * shape for token-id arrays carrying NO template ids.
    */
  def decodeIdsDf(df: DataFrame, idCol: String, idsCol: String,
      tok: UnigramTokenizer): DataFrame =
    df.select(col(idCol), decodeColumn(col(idsCol), tok).as("text"))

  // ---- training -----------------------------------------------------

  /** The trainer's corpus view: Metaspace-style pre-tokens under the
    * Llama normalizer shape — every single-space-delimited unit gets
    * the "▁" marker (consecutive spaces yield bare "▁" units, exactly
    * what the Prepend + Replace " "→"▁" pipeline feeds the lattice).
    * One distributed shuffle, vocabulary-sized result.
    */
  def wordHistogram(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ", -1)).as("w"))
      .select(concat(lit("▁"), col("w")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("weight"))

  /** Train a Unigram (sentencepiece-class) vocabulary from a raw
    * corpus — the published EM + pruning recipe: seed with the
    * highest-mass substrings (count × length, the sentencepiece seed
    * heuristic, enumerated and counted DISTRIBUTED; only the top
    * `seedSize` reach the driver), then alternate EM over the
    * pre-token histogram (forward–backward expected piece counts,
    * maximum-likelihood M-step — corpus log-likelihood is
    * NON-DECREASING per step, spec-asserted) with pruning rounds that
    * drop the lowest-expected-count pieces until the learned budget
    * fits, then a final EM polish. Single code points (and "▁") are
    * REQUIRED pieces — never pruned — so every corpus string stays
    * representable and EM lattices stay reachable by construction.
    *
    * Pruning uses the sentencepiece LIKELIHOOD-LOSS criterion: each
    * piece's loss is its expected mass times the log-probability gap
    * to its best alternative segmentation (the cost of rerouting the
    * piece through the rest of the vocabulary); the lowest-loss
    * pieces go first — a frequent-but-cheaply-decomposable piece
    * prunes BEFORE a rarer piece whose characters are expensive
    * (spec-pinned by a discriminating fixture).
    *
    * The M-step is sentencepiece's BAYESIANIZED update by default —
    * `logp_i = ψ(E_i) − ψ(ΣE)` ([[mStepBayes]], the implicit-
    * Dirichlet-prior EM; `bayesianMStep = false` selects plain ML,
    * which carries the raw-likelihood monotonicity guarantee the
    * spec observes). Documented simplifications vs sentencepiece
    * (the algorithm is the public one; these are scope bounds, not
    * silent drift): pre-tokens aggregate as Metaspace units, so
    * learned pieces never span a "▁" boundary (multi-word pieces are
    * not learnable); and low-expected-mass pieces are kept for the
    * loss-criterion pruning to judge rather than dropped at the
    * sentencepiece 0.5-expected-count threshold. The RESULT is
    * certified two ways: the hand-computed forward–backward and
    * digamma fixtures in UnigramSpec pin the EM arithmetic, and
    * x126's oracle roundtrip certifies the trained artifact end to
    * end.
    *
    * Scale shape (the [[Bpe.train]] split): pre-token histogram,
    * seed-substring counting, and the top-N selection are
    * distributed; EM runs on the driver over the collected histogram
    * when it fits `maxDriverWords`, and FALLS BACK to the distributed
    * E-step kernel ([[graft.expressions.UnigramEStep]] — one explode
    * + vocab-sized aggregate per iteration; the histogram never
    * leaves the cluster) above the bound, loudly, with
    * `maxDriverWords = 0` forcing it (the spec device proving both
    * homes agree). The [[trainLoop]] M-step/pruning is shared, so
    * only the E-step's execution home differs.
    *
    * Output ids: `<unk>` at 0, the `<0xNN>` byte alphabet when
    * `byteFallback` (scored below every learned piece), then learned
    * pieces by score descending (piece ascending on exact ties).
    * Learned pieces colliding with the `<0xNN>` byte-piece NAMESPACE
    * are excluded at seed time (they would mis-decode).
    */
  def train(df: DataFrame, textCol: String, vocabSize: Int,
      maxPieceLen: Int = 8, seedSize: Int = 0, emIters: Int = 2,
      pruneFraction: Double = 0.25, byteFallback: Boolean = true,
      maxDriverWords: Long = 1000000L,
      bayesianMStep: Boolean = true): UnigramTokenizer = {
    require(vocabSize >= 2, s"vocabSize must be >= 2: $vocabSize")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1: $maxPieceLen")
    require(emIters >= 1, s"emIters must be >= 1: $emIters")
    require(pruneFraction > 0.0 && pruneFraction < 1.0,
      s"pruneFraction must be in (0, 1): $pruneFraction")
    val spark = df.sparkSession
    val hist = wordHistogram(df, textCol).localCheckpoint()
    val n = hist.count()
    val learnedBudget = vocabSize - 1 - (if (byteFallback) 256 else 0)
    // required singles: every code point the corpus contains (plus
    // the marker, which is itself a pre-token head) — char-sized
    val singles = hist
      .select(explode(regexp_extract_all(col("word"), lit("."),
        lit(0))).as("ch"))
      .distinct().collect().map(_.getString(0)).toSet
    require(learnedBudget > singles.size,
      s"vocabSize $vocabSize leaves a learned budget of " +
        s"$learnedBudget but the corpus needs ${singles.size} " +
        "required single-code-point pieces (plus <unk>" +
        (if (byteFallback) " and 256 byte pieces" else "") +
        ") — raise vocabSize")
    val seedN = if (seedSize > 0) seedSize
      else math.max(4 * learnedBudget, singles.size + learnedBudget)
    // seed: top substrings by count×len — counted distributed, only
    // the winners collected; byte-piece-namespace collisions excluded
    val seedRows = hist
      .select(explode(graft.expressions.GraftFunctions.allSubstrings(
        col("word"), maxPieceLen)).as("piece"), col("weight"))
      .groupBy(col("piece")).agg(sum(col("weight")).as("cnt"))
      .filter(!col("piece").rlike("^<0x[0-9A-Fa-f]{2}>$"))
      .orderBy((col("cnt") * length(col("piece"))).desc, col("piece"))
      .limit(seedN)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // EM home dispatch (the Bpe.train / WordPiece.train idiom): the
    // in-memory E-step when the histogram fits the driver, the
    // DISTRIBUTED E-step kernel otherwise (maxDriverWords = 0 forces
    // it — the spec device) — same trainLoop either way, so the
    // algorithm cannot fork between homes
    val learned =
      if (n <= maxDriverWords && maxDriverWords > 0) {
        val words = hist.select(col("word"), col("weight")).collect()
          .map(r => (r.getString(0), r.getLong(1)))
        trainDriver(words.map(_._1), words.map(_._2),
          seedRows, singles, learnedBudget, maxPieceLen, emIters,
          pruneFraction, bayesianMStep)
      } else {
        if (maxDriverWords > 0)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"Unigram pre-token histogram has $n distinct units > " +
              s"maxDriverWords=$maxDriverWords; running the " +
              "DISTRIBUTED E-step (one Spark job per EM iteration). " +
              "Raising maxDriverWords to cover it costs " +
              f"~${n / 1e6 * 0.5}%.1f GB of driver heap and keeps " +
              "EM in-memory.")
        trainLoop(seedRows, singles, learnedBudget, maxPieceLen,
          emIters, pruneFraction,
          (ps, lp) => emStepDistributed(hist, ps, lp, maxPieceLen),
          if (bayesianMStep) mStepBayes else mStepMl)
      }
    require(learned.forall(p => java.lang.Double.isFinite(p._2)),
      "trainer produced a non-finite piece score — invariant broken")
    // assembly: <unk>, bytes (scored just below the learned floor so
    // an id listing never ranks them above real pieces), learned by
    // score desc / piece asc
    val b = IndexedSeq.newBuilder[(String, Double)]
    b += (("<unk>", 0.0))
    val floor = learned.map(_._2).min - 10.0
    if (byteFallback)
      (0 until 256).foreach(x => b += ((f"<0x$x%02X>", floor)))
    learned.sortBy { case (p, sc) => (-sc, p) }
      .foreach { case (p, sc) => b += ((p, sc)) }
    UnigramTokenizer(b.result(), unkId = 0, byteFallback,
      norms = Seq(("prepend", "▁", ""), ("replace", " ", "▁")),
      needsNfc = false, prefixIds = Seq.empty, suffixIds = Seq.empty,
      metaspace = None)
  }

  /** One EM step over the pre-token histogram — package-private so
    * the spec can pin the forward–backward arithmetic against a
    * hand-computed fixture. Returns (expected counts per piece,
    * corpus log-likelihood UNDER THE INPUT scores). Every word must
    * be reachable (singles present) — refused loudly otherwise.
    */
  private[graft] def emStep(words: Array[String],
      weights: Array[Long], pieces: Array[String],
      logp: Array[Double], maxPieceLen: Int)
      : (Array[Double], Double) = {
    val idx = new java.util.HashMap[String, Integer](pieces.length * 2)
    pieces.zipWithIndex.foreach { case (p, i) =>
      idx.put(p, Integer.valueOf(i)) }
    val expected = new Array[Double](pieces.length)
    var loglik = 0.0
    var wi = 0
    while (wi < words.length) {
      val c = weights(wi)
      val z = graft.expressions.UnigramEm.wordExpected(words(wi), idx,
        logp, maxPieceLen, (i, e) => expected(i) += e * c)
      loglik += c * z
      wi += 1
    }
    (expected, loglik)
  }

  /** The DISTRIBUTED E-step — the same [[graft.expressions.UnigramEm]]
    * per-word core through the compiled [[graft.expressions
    * .UnigramEStep]] kernel: one explode + one vocab-sized aggregate
    * per call; the histogram never leaves the cluster. The `(-1, Z)`
    * sentinel rows aggregate into the corpus log-likelihood.
    */
  private[graft] def emStepDistributed(hist: DataFrame,
      pieces: Array[String], logp: Array[Double], maxPieceLen: Int)
      : (Array[Double], Double) = {
    val kv = graft.expressions.GraftFunctions.unigramEStep(
      col("word"), pieces.toSeq, logp.toSeq, maxPieceLen)
    val rows = hist.select(explode(kv).as("kv"), col("weight"))
      .select(col("kv.id").as("id"),
        (col("kv.e") * col("weight")).as("we"))
      .groupBy(col("id")).agg(sum(col("we")).as("e"))
      .collect()
    val expected = new Array[Double](pieces.length)
    var loglik = 0.0
    rows.foreach { r =>
      val id = r.getInt(0)
      if (id < 0) loglik = r.getDouble(1)
      else expected(id) = r.getDouble(1)
    }
    (expected, loglik)
  }

  /** The driver EM + pruning loop — package-private for the spec:
    * [[trainLoop]] over the in-memory E-step. Returns learned
    * (piece, log-probability) pairs, `budget` of them at most,
    * singles always included.
    */
  private[graft] def trainDriver(words: Array[String],
      weights: Array[Long], seed: Array[(String, Long)],
      singles: Set[String], budget: Int, maxPieceLen: Int,
      emIters: Int, pruneFraction: Double,
      bayesianMStep: Boolean = true): Array[(String, Double)] =
    trainLoop(seed, singles, budget, maxPieceLen, emIters,
      pruneFraction,
      (ps, lp) => emStep(words, weights, ps, lp, maxPieceLen),
      if (bayesianMStep) mStepBayes else mStepMl)

  /** ψ(x), the digamma function — the standard public algorithm
    * (upward recurrence below 7, then the asymptotic expansion
    * around x − 1/2; the same shape sentencepiece's own `Digamma`
    * uses). Domain x > 0. Package-private so the spec can pin it
    * against the closed forms (ψ(1) = −γ, ψ(1/2) = −γ − 2 ln 2, …)
    * and the recurrence ψ(x+1) = ψ(x) + 1/x.
    */
  private[graft] def digamma(x0: Double): Double = {
    require(x0 > 0.0, s"digamma domain is x > 0: $x0")
    var x = x0
    var r = 0.0
    while (x < 7.0) { r -= 1.0 / x; x += 1.0 }
    x -= 0.5
    val xx = 1.0 / x
    val xx2 = xx * xx
    val xx4 = xx2 * xx2
    r + math.log(x) + (1.0 / 24.0) * xx2 - (7.0 / 960.0) * xx4 +
      (31.0 / 8064.0) * xx4 * xx2 - (127.0 / 30720.0) * xx4 * xx4
  }

  /** The Bayesianized M-step — sentencepiece's update: `logp_i =
    * ψ(E_i) − ψ(ΣE)` (the implicit-Dirichlet-prior EM that sharpens
    * low-mass pieces faster than plain ML). Zero expected mass
    * floors at the −1e9 sentinel (ψ(0⁺) → −∞ is unserializable and
    * unorderable — the same rule as the ML step).
    */
  private[graft] def mStepBayes(expected: Array[Double])
      : Array[Double] = {
    val tot = expected.sum
    if (tot <= 0.0) expected.map(_ => -1e9)
    else {
      val dTot = digamma(tot)
      expected.map(x =>
        if (x <= 0.0) -1e9
        else math.max(digamma(x) - dTot, -1e9))
    }
  }

  /** The plain maximum-likelihood M-step — `logp_i = log E_i −
    * log ΣE`, computed as the DIFFERENCE of logs (a positive-but-
    * subnormal ratio underflows the division to 0.0 and log would
    * emit −Infinity — unserializable and unorderable), floored at
    * the −1e9 sentinel. Kept reachable (`bayesianMStep = false`)
    * because only ML carries the raw-likelihood monotonicity
    * guarantee the spec observes — the Bayesian update optimizes a
    * variational bound, not the raw likelihood.
    */
  private[graft] def mStepMl(expected: Array[Double])
      : Array[Double] = {
    val logTot = math.log(expected.sum)
    expected.map(x =>
      if (x <= 0.0) -1e9
      else math.max(math.log(x) - logTot, -1e9))
  }

  /** The EM + pruning loop over an ABSTRACT E-step and M-step — the
    * one loop both homes run (driver in-memory vs distributed
    * kernel), so the algorithm cannot fork between them; only the
    * E-step's execution home differs, and the M-step is one of the
    * two published updates ([[mStepBayes]] / [[mStepMl]]).
    */
  private def trainLoop(seed: Array[(String, Long)],
      singles: Set[String], budget: Int, maxPieceLen: Int,
      emIters: Int, pruneFraction: Double,
      emFn: (Array[String], Array[Double]) => (Array[Double], Double),
      mStep: Array[Double] => Array[Double])
      : Array[(String, Double)] = {
    // seed probabilities from the substring counts; singles forced in
    val seedMap = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    seed.foreach { case (p, c) => seedMap(p) = c.toDouble }
    singles.foreach(ch =>
      if (!seedMap.contains(ch)) seedMap(ch) = 1.0)
    var pieces = seedMap.keys.toArray
    var logp = {
      val tot = seedMap.values.sum
      pieces.map(p => math.log(seedMap(p) / tot))
    }
    def emRounds(k: Int): Unit = {
      var r = 0
      while (r < k) {
        val (e, _) = emFn(pieces, logp)
        logp = mStep(e)
        r += 1
      }
    }
    // the sentencepiece pruning criterion: a piece's LOSS is the
    // corpus log-likelihood cost of removing it — approximated (as
    // sentencepiece itself does) by rerouting the piece's own
    // expected mass through its best ALTERNATIVE segmentation:
    // loss_i = E_i · (logp_i − viterbi(piece_i, vocab \ {i})).
    // A frequent piece whose constituents are themselves cheap
    // carries LESS loss than a rarer piece whose characters are
    // expensive — exactly the distinction expected-count ranking
    // misses (spec-pinned by a discriminating fixture).
    def altScore(s: String, excluded: Int,
        idx: java.util.HashMap[String, Integer],
        lp: Array[Double]): Double = {
      val nn = s.length
      val NEG = Double.NegativeInfinity
      val best = Array.fill(nn + 1)(NEG); best(0) = 0.0
      var i = 0
      while (i < nn) {
        if (best(i) != NEG) {
          var end = i; var len = 0
          while (end < nn && len < maxPieceLen) {
            end += Character.charCount(s.codePointAt(end)); len += 1
            val pi = idx.get(s.substring(i, end))
            if (pi != null && pi.intValue() != excluded) {
              val sc = best(i) + lp(pi.intValue())
              if (sc > best(end)) best(end) = sc
            }
          }
        }
        i += Character.charCount(s.codePointAt(i))
      }
      best(nn)
    }
    while (pieces.length > budget) {
      emRounds(emIters)
      val (e, _) = emFn(pieces, logp)
      val idx = new java.util.HashMap[String, Integer](pieces.length * 2)
      pieces.zipWithIndex.foreach { case (p, i) =>
        idx.put(p, Integer.valueOf(i)) }
      val required = pieces.zipWithIndex.filter { case (p, _) =>
        singles.contains(p) }
      val optional = pieces.zipWithIndex.filterNot { case (p, _) =>
        singles.contains(p) }
      val loss = optional.map { case (p, i) =>
        val alt = altScore(p, i, idx, logp)
        // no alternative path (cannot happen while singles are
        // required) would make removal infinitely costly
        val l = if (alt == Double.NegativeInfinity)
          Double.PositiveInfinity
        else e(i) * (logp(i) - alt)
        (p, i, l)
      }
      // keep the HIGHEST-loss optional pieces — at least down to the
      // budget, at most pruneFraction pruned per round
      val keepOptional = math.max(budget - required.length,
        math.ceil(optional.length * (1.0 - pruneFraction)).toInt
          .min(optional.length - 1))
      val kept = (required ++ loss.sortBy { case (p, _, l) =>
        (-l, p) }.take(math.max(keepOptional, 0))
        .map { case (p, i, _) => (p, i) })
        .sortBy(_._2)
      val keptLogp = kept.map { case (_, i) => logp(i) }
      pieces = kept.map(_._1)
      logp = keptLogp
    }
    emRounds(emIters)
    pieces.zip(logp)
  }
}
