package graft.operators

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The lineage-independent half of a loaded `tokenizer.json`: the
  * post-processor's single and pair templates and the top-level
  * truncation and padding blocks. [[Bpe.BpeTokenizer]],
  * [[Unigram.UnigramTokenizer]] and [[WordPiece.WordPieceTokenizer]]
  * carry these next to their model state.
  */
trait Tokenizer {
  def prefixIds: Seq[Long]
  def suffixIds: Seq[Long]
  def pair: Option[WordPiece.PairTemplate]
  def truncation: Option[TokenizerTruncation.Truncation]
  def padding: Option[TokenizerTruncation.Padding]
}

/** The `tokenizer.json` pieces every lineage shares: the file read and
  * write, and the `TemplateProcessing` post-processor parse and emit.
  */
object Tokenizer {

  /** Read a tokenizer file through the Hadoop FS API (tokenizer
    * artifacts are vocab-sized, so driver-side IO).
    */
  private[operators] def readJson(spark: SparkSession, path: String)
      : JsonNode = {
    val p = new Path(path)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .open(p)
    try new ObjectMapper().readTree(in)
    finally in.close()
  }

  /** Write `root` to `path`, pretty-printed, replacing any file there. */
  private[operators] def writeJson(spark: SparkSession, path: String,
      root: JsonNode): Unit = {
    val p = new Path(path)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(root))
    finally out.close()
  }

  /** Parse a TemplateProcessing PAIR template — fixed (id, type_id)
    * tokens before A, between A and B, and after B, plus the content
    * type ids. `idOf` resolves a special-token name.
    */
  private def parsePairTemplate(post: JsonNode, idOf: String => Long,
      path: String): Option[WordPiece.PairTemplate] = {
    val pairNode = post.get("pair")
    if (pairNode == null || pairNode.isNull ||
        !pairNode.isArray || pairNode.size() == 0) None
    else {
      def typeOf(item: JsonNode, key: String): Long = {
        val t = item.get(key).get("type_id")
        if (t == null || t.isNull) 0L else t.asLong()
      }
      val pre1 = Seq.newBuilder[(Long, Long)]
      val mid1 = Seq.newBuilder[(Long, Long)]
      val post1 = Seq.newBuilder[(Long, Long)]
      var typeA = 0L; var typeB = 1L
      var state = 0 // 0 = before A, 1 = between, 2 = after B
      val pit = pairNode.elements()
      while (pit.hasNext) {
        val item = pit.next()
        if (item.get("SpecialToken") != null) {
          val id = idOf(item.get("SpecialToken").get("id").asText())
          val ty = typeOf(item, "SpecialToken")
          state match {
            case 0 => pre1 += ((id, ty))
            case 1 => mid1 += ((id, ty))
            case _ => post1 += ((id, ty))
          }
        } else if (item.get("Sequence") != null) {
          val sid = item.get("Sequence").get("id").asText()
          val ty = typeOf(item, "Sequence")
          if (sid == "A") {
            require(state == 0,
              s"$path pair template references A out of " +
                "order — only A-then-B is reproducible")
            typeA = ty; state = 1
          } else if (sid == "B") {
            require(state == 1,
              s"$path pair template references B before A " +
                "or twice — only A-then-B is reproducible")
            typeB = ty; state = 2
          } else throw new IllegalArgumentException(
            s"$path pair template references sequence " +
              s"'$sid' — only A and B exist in a pair")
        } else throw new IllegalArgumentException(
          s"$path pair template item is neither " +
            "SpecialToken nor Sequence")
      }
      require(state == 2,
        s"$path pair template must reference A then B")
      Some(WordPiece.PairTemplate(pre1.result(), mid1.result(),
        post1.result(), typeA, typeB))
    }
  }

  /** Parse a full TemplateProcessing node — the SINGLE template's
    * fixed prefix/suffix ids (around exactly one A) plus the PAIR
    * template — the one parser every template-carrying loader uses,
    * so the state machines and their refusals cannot drift between
    * lineages. A special-token name resolves through the processor's
    * own `special_tokens` table, then `vocabIdOf`.
    */
  private[operators] def parseTemplateProcessing(post: JsonNode,
      vocabIdOf: String => Option[Long], path: String)
      : (Seq[Long], Seq[Long], Option[WordPiece.PairTemplate]) = {
    val single = post.get("single")
    require(single != null && single.isArray,
      s"$path TemplateProcessing without a single template")
    val specialIds: Map[String, Long] = {
      val m = Map.newBuilder[String, Long]
      val st = post.get("special_tokens")
      if (st != null && st.isObject) {
        val it = st.fields()
        while (it.hasNext) {
          val e = it.next()
          val ids = e.getValue.get("ids")
          require(ids != null && ids.isArray && ids.size() == 1,
            s"$path template special '${e.getKey}' maps to " +
              "more than one id — not reproducible")
          m += (e.getKey -> ids.get(0).asLong())
        }
      }
      m.result()
    }
    def idOf(name: String): Long =
      specialIds.getOrElse(name, vocabIdOf(name).getOrElse(
        throw new IllegalArgumentException(
          s"$path template names special '$name' with no id")))
    val pre0 = Seq.newBuilder[Long]
    val post0 = Seq.newBuilder[Long]
    var seenA = false
    val it = single.elements()
    while (it.hasNext) {
      val item = it.next()
      if (item.get("SpecialToken") != null) {
        val id = idOf(item.get("SpecialToken").get("id").asText())
        if (seenA) post0 += id else pre0 += id
      } else if (item.get("Sequence") != null) {
        val sid = item.get("Sequence").get("id").asText()
        require(sid == "A" && !seenA,
          s"$path SINGLE template references '$sid' — the " +
            "single form takes exactly one A sequence (the " +
            "pair form is the separate `pair` template)")
        seenA = true
      } else throw new IllegalArgumentException(
        s"$path template item is neither SpecialToken nor " +
          "Sequence")
    }
    require(seenA, s"$path template never references sequence A")
    (pre0.result(), post0.result(),
      parsePairTemplate(post, idOf, path))
  }

  /** Emit the `post_processor` node: null for a template-free
    * tokenizer, else a single+pair TemplateProcessing — the
    * [[parseTemplateProcessing]] inverse, so load(save(tok)) carries
    * identical template ids. `tokenOf` names an id; an unnamed id is
    * emitted as `<special:id>` with its id pinned in `special_tokens`.
    */
  private[operators] def emitPostProcessor(mapper: ObjectMapper,
      root: ObjectNode, tok: Tokenizer,
      tokenOf: Long => Option[String]): Unit =
    if (tok.prefixIds.isEmpty && tok.suffixIds.isEmpty &&
        tok.pair.isEmpty) root.putNull("post_processor")
    else root.set[JsonNode]("post_processor",
      templateProcessing(mapper, tok, tokenOf))

  private def templateProcessing(mapper: ObjectMapper, tok: Tokenizer,
      tokenOf: Long => Option[String]): ObjectNode = {
    val post = mapper.createObjectNode()
    post.put("type", "TemplateProcessing")
    val specials = mapper.createObjectNode()
    def specialItem(arr: ArrayNode, id: Long, typeId: Long): Unit = {
      val name = tokenOf(id).getOrElse(s"<special:$id>")
      val it = mapper.createObjectNode()
      val st = mapper.createObjectNode()
      st.put("id", name); st.put("type_id", typeId)
      it.set[JsonNode]("SpecialToken", st)
      arr.add(it)
      if (!specials.has(name)) {
        val entry = mapper.createObjectNode()
        entry.put("id", name)
        val ids = mapper.createArrayNode(); ids.add(id)
        entry.set[JsonNode]("ids", ids)
        val toks = mapper.createArrayNode(); toks.add(name)
        entry.set[JsonNode]("tokens", toks)
        specials.set[JsonNode](name, entry)
      }
    }
    def seqItem(arr: ArrayNode, name: String, typeId: Long): Unit = {
      val it = mapper.createObjectNode()
      val ref = mapper.createObjectNode()
      ref.put("id", name); ref.put("type_id", typeId)
      it.set[JsonNode]("Sequence", ref)
      arr.add(it)
    }
    val single = mapper.createArrayNode()
    tok.prefixIds.foreach(specialItem(single, _, 0L))
    seqItem(single, "A", 0L)
    tok.suffixIds.foreach(specialItem(single, _, 0L))
    post.set[JsonNode]("single", single)
    tok.pair.foreach { pt =>
      val pairArr = mapper.createArrayNode()
      pt.pre.foreach { case (id, ty) => specialItem(pairArr, id, ty) }
      seqItem(pairArr, "A", pt.typeA)
      pt.mid.foreach { case (id, ty) => specialItem(pairArr, id, ty) }
      seqItem(pairArr, "B", pt.typeB)
      pt.post.foreach { case (id, ty) => specialItem(pairArr, id, ty) }
      post.set[JsonNode]("pair", pairArr)
    }
    post.set[JsonNode]("special_tokens", specials)
    post
  }
}

/** The encode surface every tokenizer lineage shares, in the shape of
  * the published pipeline (normalizer → pre-tokenizer → model →
  * post-processor): a lineage supplies only its model — the content
  * ids of one text ([[contentIds]]) and the same with code-point spans
  * ([[contentOffsets]]) — and this trait assembles the template,
  * truncation, padding, attention mask, pair and offsets once, so the
  * three lineages cannot drift. Decoders and trainers belong to the
  * model and stay per lineage.
  *
  * Contracts, stated here once:
  *  - '''order''': truncation cuts the CONTENT to `max_length` minus
  *    the template's fixed ids, the template is added, then Fixed
  *    padding lengthens the assembled sequence
  *    ([[TokenizerTruncation]]);
  *  - '''attention mask''': POSITIONAL — 1 for every pre-padding
  *    position, 0 for pads, honoring the padding direction — and never
  *    matched by value against `pad_id`, which may collide with a
  *    content id (`[UNK]`-as-pad files); without a padding block it is
  *    all ones;
  *  - '''one kernel run per row''': the DataFrame surfaces put the
  *    unpadded assembly (`_graft_ids`, `_graft_types`) or the two
  *    content encodes of a pair (`_graft_ea`, `_graft_eb`) in an
  *    intermediate projection, which the optimizer does not inline
  *    (non-cheap aliases referenced more than once are never
  *    collapsed), so each O(len²) kernel runs once per row however
  *    often the assembly references it;
  *  - '''offsets''': template specials and pads carry the published
  *    `(0, 0)` span; truncation and padding apply exactly as to
  *    [[encodeColumn]];
  *  - '''decode skip set''': the template ids (single and pair) plus
  *    the padding block's `pad_id` ([[decodeSkipIds]]).
  *
  * Every surface is a pure projection: zero shuffles. A pair surface
  * refuses loudly when the tokenizer defines no pair template
  * (encoding a pair under a single-sequence template would fabricate
  * segment structure).
  */
trait TokenizerSurface {

  /** The lineage's loaded tokenizer. */
  type Tok <: Tokenizer

  /** The model's content ids for one text: normalizer, pre-tokenizer
    * and model — no template, no truncation, no padding.
    */
  protected def contentIds(text: Column, tok: Tok): Column

  /** [[contentIds]] as `(id, start, end)` structs, spans in code points
    * into the lineage's encode-view text.
    */
  protected def contentOffsets(text: Column, tok: Tok): Column

  /** Truncated content + template, unpadded; `fixed` renders template
    * ids in the content's element type.
    */
  private def withTemplate(core0: Column, tok: Tok,
      fixed: Seq[Long] => Column): Column = {
    val core = tok.truncation match {
      case Some(t) => TokenizerTruncation.truncateSingle(core0, t,
        tok.prefixIds.size + tok.suffixIds.size)
      case None => core0
    }
    if (tok.prefixIds.isEmpty && tok.suffixIds.isEmpty) core
    else concat(fixed(tok.prefixIds), core, fixed(tok.suffixIds))
  }

  /** The unpadded assembly [[encodeColumn]] pads and
    * [[encodeWithMask]] masks from.
    */
  private def assembledColumn(text: Column, tok: Tok): Column =
    withTemplate(contentIds(text, tok), tok, typedLit(_))

  private def padded(ids: Column, tok: Tok): Column =
    tok.padding match {
      case Some(p) => TokenizerTruncation.pad(ids, p, p.padId)
      case None => ids
    }

  /** Single-sequence encode: template ids, truncation, Fixed padding. */
  def encodeColumn(text: Column, tok: Tok): Column =
    padded(assembledColumn(text, tok), tok)

  /** Distributed encode: `(idCol, token_ids)`. */
  def encodeIds(df: DataFrame, idCol: String, textCol: String,
      tok: Tok): DataFrame =
    df.select(col(idCol),
      encodeColumn(col(textCol), tok).as("token_ids"))

  /** Distributed encode with the attention mask: `(idCol, token_ids,
    * attention_mask)`.
    */
  def encodeWithMask(df: DataFrame, idCol: String, textCol: String,
      tok: Tok): DataFrame = {
    val enc = df.select(col(idCol),
      assembledColumn(col(textCol), tok).as("_graft_ids"))
    enc.select(col(idCol), padded(col("_graft_ids"), tok).as("token_ids"),
      TokenizerTruncation.attentionMask(col("_graft_ids"),
        tok.padding).as("attention_mask"))
  }

  protected def requirePair(tok: Tok): WordPiece.PairTemplate =
    tok.pair.getOrElse(throw new IllegalArgumentException(
      "this tokenizer defines no PAIR template — single-sequence " +
        "encode is encodeColumn; refusing to fabricate segment " +
        "structure for a two-sequence input"))

  /** Apply the Fixed padding block (when set) to an assembled pair. */
  protected def padPair(ids: Column, types: Column, tok: Tok)
      : (Column, Column) =
    (padded(ids, tok), tok.padding match {
      case Some(p) => TokenizerTruncation.pad(types, p, p.padTypeId)
      case None => types
    })

  /** Assemble the pair (token_ids, type_ids) from two ALREADY
    * MATERIALIZED content encodes: template ids, content tokens
    * carrying the template's A/B type ids, and the published
    * longest-first / only-first / only-second truncation of the
    * content. Unpadded.
    */
  protected def pairAssembled(ea: Column, eb: Column,
      trunc: Option[TokenizerTruncation.Truncation],
      pt: WordPiece.PairTemplate): (Column, Column) = {
    val nTemplate = pt.pre.size + pt.mid.size + pt.post.size
    val (ka, kb) = trunc match {
      case Some(t) =>
        val budget = TokenizerTruncation.contentBudget(t, nTemplate)
        val (fa, fb) = TokenizerTruncation.pairKeepLengths(
          size(ea), size(eb), budget, t.strategy)
        (TokenizerTruncation.keepSeq(ea, fa, t.direction),
          TokenizerTruncation.keepSeq(eb, fb, t.direction))
      case None => (ea, eb)
    }
    val ids = concat(typedLit(pt.pre.map(_._1)), ka,
      typedLit(pt.mid.map(_._1)), kb, typedLit(pt.post.map(_._1)))
    val types = concat(typedLit(pt.pre.map(_._2)),
      array_repeat(lit(pt.typeA), size(ka)),
      typedLit(pt.mid.map(_._2)),
      array_repeat(lit(pt.typeB), size(kb)),
      typedLit(pt.post.map(_._2)))
    (ids, types)
  }

  /** The two content encodes behind one projection, and the unpadded
    * pair assembled over them.
    */
  private def pairProjected(df: DataFrame, idCol: String, aCol: String,
      bCol: String, tok: Tok): (DataFrame, Column, Column) = {
    val pt = requirePair(tok)
    val enc = df.select(col(idCol),
      contentIds(col(aCol), tok).as("_graft_ea"),
      contentIds(col(bCol), tok).as("_graft_eb"))
    val (ids, types) = pairAssembled(col("_graft_ea"),
      col("_graft_eb"), tok.truncation, pt)
    (enc, ids, types)
  }

  /** Pair encode: `(idCol, token_ids, type_ids)` under the tokenizer's
    * pair template.
    */
  def encodePair(df: DataFrame, idCol: String, aCol: String,
      bCol: String, tok: Tok): DataFrame = {
    val (enc, ids, types) = pairProjected(df, idCol, aCol, bCol, tok)
    val (pids, ptypes) = padPair(ids, types, tok)
    enc.select(col(idCol), pids.as("token_ids"),
      ptypes.as("type_ids"))
  }

  /** [[encodePair]] plus the attention mask: `(idCol, token_ids,
    * type_ids, attention_mask)`.
    */
  def encodePairWithMask(df: DataFrame, idCol: String, aCol: String,
      bCol: String, tok: Tok): DataFrame = {
    val (enc, ids, types) = pairProjected(df, idCol, aCol, bCol, tok)
    val mid = enc.select(col(idCol), ids.as("_graft_ids"),
      types.as("_graft_types"))
    val (pids, ptypes) = padPair(col("_graft_ids"),
      col("_graft_types"), tok)
    mid.select(col(idCol), pids.as("token_ids"),
      ptypes.as("type_ids"),
      TokenizerTruncation.attentionMask(col("_graft_ids"),
        tok.padding).as("attention_mask"))
  }

  /** The encode-with-offsets column: `(id, start, end)` structs. */
  def encodeOffsetsColumn(text: Column, tok: Tok): Column = {
    def spanless(id: Long): Column =
      struct(lit(id).as("id"), lit(0).as("start"), lit(0).as("end"))
    val full = withTemplate(contentOffsets(text, tok), tok,
      ids => array(ids.map(spanless): _*))
    tok.padding match {
      case Some(p) =>
        TokenizerTruncation.padWith(full, p, spanless(p.padId))
      case None => full
    }
  }

  /** Distributed encode with offsets: `(idCol, tokens)`, the
    * `(id, start, end)` struct array.
    */
  def encodeWithOffsets(df: DataFrame, idCol: String,
      textCol: String, tok: Tok): DataFrame =
    df.select(col(idCol),
      encodeOffsetsColumn(col(textCol), tok).as("tokens"))

  /** The decode skip set: every fixed id the tokenizer's templates
    * can emit (unless `skipTemplateIds = false`) plus the padding
    * block's pad id, so a padded encode decodes like the unpadded one.
    */
  protected def decodeSkipIds(tok: Tok, skipTemplateIds: Boolean)
      : Seq[Long] = {
    val template =
      if (!skipTemplateIds) Nil
      else tok.prefixIds ++ tok.suffixIds ++ tok.pair.toSeq.flatMap(pt =>
        (pt.pre ++ pt.mid ++ pt.post).map(_._1))
    (template ++ tok.padding.map(_.padId)).distinct
  }
}
