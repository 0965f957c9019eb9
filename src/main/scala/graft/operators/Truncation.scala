package graft.operators

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The `tokenizer.json` TRUNCATION and PADDING blocks — the two
  * top-level pipeline stages the three loaders previously ignored
  * SILENTLY, the one gap in the reproduce-exactly-or-reject loader
  * contract (a published file carrying a truncation block would
  * encode unbounded sequences and diverge from the source tokenizer).
  * One shared home so the WordPiece and Unigram loaders (which HONOR
  * the blocks) and the Bpe loader (which REJECTS them — the GPT-2
  * lineage ships without them) cannot drift on the parse.
  *
  * Reference: the public `tokenizers` serialization
  * (`TruncationParams` / `PaddingParams`). Honored exactly:
  *  - truncation: `max_length` + strategy `LongestFirst` /
  *    `OnlyFirst` / `OnlySecond` + direction `Right` / `Left`,
  *    `stride` 0. A non-zero stride emits overflow segments this
  *    engine does not reproduce — rejected loudly.
  *  - padding: the `Fixed(n)` strategy (pad_id / pad_type_id /
  *    direction), `pad_to_multiple_of` absent. `BatchLongest` pads to
  *    the longest sequence OF THE BATCH — a function of batch
  *    composition, not of the row, so no per-row encode can
  *    reproduce it — rejected loudly (the batch is not a concept a
  *    declarative plan preserves).
  *
  * Semantics (the published order): truncation applies to the CONTENT
  * encodes before the post-processor's template ids are added — the
  * content budget is `max_length` minus the template's fixed-token
  * count; padding applies AFTER the template, to the assembled
  * sequence, and only ever lengthens (a sequence already at or above
  * the pad length is left alone).
  *
  * The pair LongestFirst arithmetic is the published iterative rule —
  * remove one token at a time from the LONGER sequence, ties from the
  * SECOND — in closed form so it runs as column arithmetic (no UDF,
  * no per-row loop): `fa = min(la, max(ceil(n/2), n - lb))`,
  * `fb = min(la + lb, n) - fa`. The closed form is spec-pinned EQUAL
  * to the iterative rule over an exhaustive (la, lb, n) grid
  * (WordPieceSpec) — the oracle entry (x128) then restates it in
  * DuckDB on planted fixtures.
  */
object TokenizerTruncation {

  /** A parsed truncation block: strategy ∈ {longest_first, only_first,
    * only_second}, direction ∈ {right, left}.
    */
  case class Truncation(maxLength: Int, strategy: String,
      direction: String)

  /** A parsed Fixed-strategy padding block. */
  case class Padding(length: Int, padId: Long, padTypeId: Long,
      direction: String)

  /** Parse the top-level `truncation` block; absent/null → None,
    * anything not exactly reproducible refuses loudly.
    */
  def parseTruncation(tree: JsonNode, path: String)
      : Option[Truncation] = {
    val t = tree.get("truncation")
    if (t == null || t.isNull) None
    else {
      require(t.isObject, s"$path truncation block is not an object")
      val maxLen = {
        val v = t.get("max_length")
        require(v != null && v.canConvertToInt && v.asInt() >= 1,
          s"$path truncation.max_length is not a positive integer")
        v.asInt()
      }
      val strategy = Option(t.get("strategy")).filterNot(_.isNull)
        .map(_.asText()).getOrElse("LongestFirst") match {
        case "LongestFirst" => "longest_first"
        case "OnlyFirst" => "only_first"
        case "OnlySecond" => "only_second"
        case other => throw new IllegalArgumentException(
          s"$path truncation.strategy '$other' is not a published " +
            "strategy (LongestFirst/OnlyFirst/OnlySecond) — " +
            "refusing to mis-encode")
      }
      val direction = Option(t.get("direction")).filterNot(_.isNull)
        .map(_.asText()).getOrElse("Right") match {
        case "Right" => "right"
        case "Left" => "left"
        case other => throw new IllegalArgumentException(
          s"$path truncation.direction '$other' is not Right or Left")
      }
      val stride = Option(t.get("stride")).filterNot(_.isNull)
        .map(_.asInt(0)).getOrElse(0)
      require(stride == 0,
        s"$path truncation.stride=$stride — a non-zero stride emits " +
          "overflowing segments this engine does not reproduce; " +
          "refusing to silently drop them")
      Some(Truncation(maxLen, strategy, direction))
    }
  }

  /** Parse the top-level `padding` block; absent/null → None. Only
    * the Fixed strategy is a per-row function — BatchLongest depends
    * on batch composition and refuses loudly. When the file carries
    * both `pad_token` and `pad_id` and the token exists in the vocab
    * under a DIFFERENT id, the file contradicts itself — refused.
    */
  def parsePadding(tree: JsonNode, path: String,
      vocabIdOf: String => Option[Long]): Option[Padding] = {
    val p = tree.get("padding")
    if (p == null || p.isNull) None
    else {
      require(p.isObject, s"$path padding block is not an object")
      val strat = p.get("strategy")
      val length =
        if (strat != null && strat.isObject &&
            strat.get("Fixed") != null) {
          val v = strat.get("Fixed")
          require(v.canConvertToInt && v.asInt() >= 0,
            s"$path padding.strategy.Fixed is not a non-negative " +
              "integer")
          v.asInt()
        } else throw new IllegalArgumentException(
          s"$path padding.strategy " +
            s"'${if (strat == null) "?" else strat.toString}' — only " +
            "Fixed-length padding is a per-row function; " +
            "BatchLongest pads to the longest sequence of the BATCH, " +
            "a property of batch composition no per-row encode can " +
            "reproduce; refusing to mis-encode")
      val multiple = p.get("pad_to_multiple_of")
      require(multiple == null || multiple.isNull ||
        (multiple.canConvertToInt && multiple.asInt() == 0),
        s"$path padding.pad_to_multiple_of is set — a rounding rule " +
          "this engine does not reproduce; refusing to mis-encode")
      val padId = Option(p.get("pad_id")).filterNot(_.isNull)
        .map(_.asLong()).getOrElse(0L)
      val padTypeId = Option(p.get("pad_type_id")).filterNot(_.isNull)
        .map(_.asLong()).getOrElse(0L)
      val direction = Option(p.get("direction")).filterNot(_.isNull)
        .map(_.asText()).getOrElse("Right") match {
        case "Right" => "right"
        case "Left" => "left"
        case other => throw new IllegalArgumentException(
          s"$path padding.direction '$other' is not Right or Left")
      }
      Option(p.get("pad_token")).filterNot(_.isNull)
        .map(_.asText()).foreach { tokn =>
          vocabIdOf(tokn).foreach(vid => require(vid == padId,
            s"$path padding.pad_token '$tokn' is id $vid in the " +
              s"vocab but pad_id is $padId — the file contradicts " +
              "itself; refusing to guess"))
        }
      Some(Padding(length, padId, padTypeId, direction))
    }
  }

  /** The Bpe loader's stance: the byte-level GPT-2 lineage ships
    * without these blocks, and that loader's callers encode through
    * tuple-shaped APIs with no place to carry them — so a file that
    * DOES carry one refuses loudly instead of being silently
    * ignored (the loader contract).
    */
  def rejectBlocks(tree: JsonNode, path: String, lineage: String)
      : Unit =
    for (block <- Seq("truncation", "padding")) {
      val v = tree.get(block)
      require(v == null || v.isNull,
        s"$path carries a $block block — the $lineage loader does " +
          "not honor it and refuses to silently ignore it; strip " +
          "the block (set it null) to load, or encode through a " +
          "lineage that honors it (WordPiece/Unigram)")
    }

  /** JSON emit for [[Truncation]] — save→load identity. */
  def emitTruncation(
      mapper: com.fasterxml.jackson.databind.ObjectMapper,
      root: com.fasterxml.jackson.databind.node.ObjectNode,
      t: Option[Truncation]): Unit = t match {
    case None => root.putNull("truncation")
    case Some(tr) =>
      val n = mapper.createObjectNode()
      n.put("direction", if (tr.direction == "left") "Left" else "Right")
      n.put("max_length", tr.maxLength)
      n.put("strategy", tr.strategy match {
        case "only_first" => "OnlyFirst"
        case "only_second" => "OnlySecond"
        case _ => "LongestFirst"
      })
      n.put("stride", 0)
      root.set[JsonNode]("truncation", n)
  }

  /** JSON emit for [[Padding]] — save→load identity. */
  def emitPadding(
      mapper: com.fasterxml.jackson.databind.ObjectMapper,
      root: com.fasterxml.jackson.databind.node.ObjectNode,
      p: Option[Padding], tokenOfId: Long => Option[String]): Unit =
    p match {
      case None => root.putNull("padding")
      case Some(pd) =>
        val n = mapper.createObjectNode()
        val strat = mapper.createObjectNode()
        strat.put("Fixed", pd.length)
        n.set[JsonNode]("strategy", strat)
        n.put("direction",
          if (pd.direction == "left") "Left" else "Right")
        n.putNull("pad_to_multiple_of")
        n.put("pad_id", pd.padId)
        n.put("pad_type_id", pd.padTypeId)
        tokenOfId(pd.padId).foreach(t => n.put("pad_token", t))
        root.set[JsonNode]("padding", n)
    }

  /** Content budget under a template: `max_length` minus the fixed
    * template tokens. A template alone exceeding `max_length` is not
    * truncatable (truncation removes CONTENT, never template ids) —
    * refused loudly at plan time.
    */
  def contentBudget(t: Truncation, nTemplateIds: Int): Int = {
    require(t.maxLength >= nTemplateIds,
      s"truncation max_length=${t.maxLength} cannot hold the " +
        s"$nTemplateIds fixed template ids — truncation removes " +
        "content tokens, never the template; this tokenizer cannot " +
        "emit a sequence that short")
    t.maxLength - nTemplateIds
  }

  /** Keep `keep` tokens of a single content encode, from the head
    * (direction right — the published default: truncation REMOVES
    * from the named direction's end... the `Right` direction removes
    * the tail, keeping the head) or the tail (`left`).
    */
  def keepSeq(arr: Column, keep: Column, direction: String): Column =
    when(size(arr) <= keep, arr).otherwise(
      if (direction == "left") slice(arr, size(arr) - keep + 1, keep)
      else slice(arr, lit(1), keep))

  /** Truncate a SINGLE-sequence content encode. `only_second` has no
    * second sequence here — the published behaviour is an error, and
    * the loaders that cannot ever see a pair refuse it at load.
    */
  def truncateSingle(core: Column, t: Truncation, nTemplateIds: Int)
      : Column = {
    require(t.strategy != "only_second",
      "truncation strategy only_second cannot apply to a " +
        "single-sequence encode — there is no second sequence; " +
        "encode a pair or fix the tokenizer.json")
    keepSeq(core, lit(contentBudget(t, nTemplateIds)), t.direction)
  }

  /** The longest-first closed form on plain ints — the SAME formula
    * [[pairKeepLengths]] runs as column arithmetic, factored out so
    * the spec can pin it against the published iterative rule
    * exhaustively and against the Column form directly (the two
    * homes share one statement of the formula in documentation but
    * live in different type systems — the spec is the bridge).
    */
  private[graft] def pairKeep(la: Int, lb: Int, budget: Int)
      : (Int, Int) =
    if (la + lb <= budget) (la, lb)
    else {
      val fa = math.min(la, math.max((budget + 1) / 2, budget - lb))
      (fa, math.min(la + lb, budget) - fa)
    }

  /** The PAIR kept-lengths (fa, fb) under a content budget `n` — the
    * published rules in closed form (column arithmetic, no per-row
    * loop):
    *  - longest_first: remove one at a time from the longer, ties
    *    from the SECOND ⇒ `fa = min(la, max(ceil(n/2), n − lb))`,
    *    `fb = min(la+lb, n) − fa` (spec-pinned equal to the
    *    iterative rule over an exhaustive grid);
    *  - only_first / only_second: all removals hit the named side;
    *    if it cannot absorb them the published behaviour is an
    *    error — raised loudly per row.
    */
  def pairKeepLengths(la: Column, lb: Column, budget: Int,
      strategy: String): (Column, Column) = {
    val n = lit(budget)
    val fits = (la + lb) <= n
    strategy match {
      case "longest_first" =>
        val ceilHalf = lit((budget + 1) / 2)
        val fa = when(fits, la)
          .otherwise(least(la, greatest(ceilHalf, n - lb)))
        val fb = least(la + lb, n) - fa
        (fa, fb)
      case "only_first" =>
        val fa = when(fits, la).otherwise(
          when(lb > n, raise_error(concat(
            lit("truncation only_first: the second sequence alone (" ),
            lb.cast("string"),
            lit(s" tokens) exceeds the content budget $budget — " +
              "cannot truncate the first sequence below zero")))
            .cast("int")).otherwise(n - lb))
        (fa, lb)
      case "only_second" =>
        val fb = when(fits, lb).otherwise(
          when(la > n, raise_error(concat(
            lit("truncation only_second: the first sequence alone ("),
            la.cast("string"),
            lit(s" tokens) exceeds the content budget $budget — " +
              "cannot truncate the second sequence below zero")))
            .cast("int")).otherwise(n - la))
        (la, fb)
      case other => throw new IllegalArgumentException(
        s"unknown truncation strategy '$other'")
    }
  }

  /** The attention mask for an assembled sequence — POSITIONAL,
    * computed from the PRE-PADDING length (never by matching pad_id
    * values: pad_id may collide with a legitimate content id — the
    * `[UNK]`-as-pad files — and a value match would silently zero
    * real tokens; spec-pinned by exactly that fixture). Without a
    * padding block every position is real.
    */
  def attentionMask(unpadded: Column, p: Option[Padding]): Column =
    p match {
      case None => array_repeat(lit(1L), size(unpadded))
      case Some(pd) => maskTo(unpadded, lit(pd.length), pd.direction)
    }

  private def maskTo(unpadded: Column, length: Column,
      direction: String): Column = {
    val ones = array_repeat(lit(1L), size(unpadded))
    val zeros = array_repeat(lit(0L), length - size(unpadded))
    when(size(unpadded) >= length, ones).otherwise(
      if (direction == "left") concat(zeros, ones)
      else concat(ones, zeros))
  }

  /** Pad an assembled sequence to the Fixed length with `padVal`
    * (the id for token arrays, the type id for type arrays) —
    * lengthen-only, the published Fixed semantics.
    */
  def pad(arr: Column, p: Padding, padVal: Long): Column =
    padWith(arr, p, lit(padVal))

  /** [[pad]] with any element: the offsets surface pads with
    * `(pad_id, 0, 0)` structs.
    */
  private[operators] def padWith(arr: Column, p: Padding, fill: Column)
      : Column = padTo(arr, lit(p.length), p.direction, fill)

  private def padTo(arr: Column, length: Column, direction: String,
      fill: Column): Column = {
    val pads = array_repeat(fill, length - size(arr))
    when(size(arr) >= length, arr).otherwise(
      if (direction == "left") concat(pads, arr)
      else concat(arr, pads))
  }

  /** `BatchLongest` padding as what it actually IS: a property of the
    * BATCH, not of the row — so the loaders refuse it per-row (no
    * per-row encode can know the longest sequence), and THIS operator
    * supplies it honestly as a two-pass DataFrame operation: one
    * global max-length aggregate (partial map-side, a 1-row
    * exchange), broadcast back, then a pure projection padding every
    * `idsCol` to that length and attaching the POSITIONAL
    * `attention_mask` (from the pre-padding length, never pad-id
    * matching — the [[attentionMask]] rule). `typeIdsCol`, when
    * given, pads with `padTypeId` to the same length. Rows whose
    * array is null refuse loudly (a null sequence has no length to
    * pad to — encode upstream, don't guess). Empty input yields
    * empty output. Scale shape: the only exchange is the 1-row max —
    * no window, no sort, no per-row driver work.
    */
  def padBatchLongest(df: org.apache.spark.sql.DataFrame,
      idsCol: String, padId: Long, direction: String = "right",
      typeIdsCol: Option[String] = None, padTypeId: Long = 0L)
      : org.apache.spark.sql.DataFrame = {
    require(direction == "right" || direction == "left",
      s"direction must be right or left: $direction")
    val guarded = when(col(idsCol).isNull, raise_error(lit(
      s"padBatchLongest: $idsCol is null — a null sequence has no " +
        "length to pad to")).cast(df.schema(idsCol).dataType))
      .otherwise(col(idsCol))
    val maxDf = df.agg(
      coalesce(max(size(col(idsCol))), lit(0)).as("__graft_maxlen"))
    val maxLen = col("__graft_maxlen")
    val joined = df
      .withColumn(idsCol, guarded)
      .crossJoin(org.apache.spark.sql.functions.broadcast(maxDf))
    val withIds = joined
      .withColumn("attention_mask", maskTo(col(idsCol), maxLen, direction))
      .withColumn(idsCol, padTo(col(idsCol), maxLen, direction, lit(padId)))
    val withTypes = typeIdsCol match {
      case Some(tc) => withIds.withColumn(tc,
        padTo(col(tc), maxLen, direction, lit(padTypeId)))
      case None => withIds
    }
    withTypes.drop("__graft_maxlen")
  }
}
