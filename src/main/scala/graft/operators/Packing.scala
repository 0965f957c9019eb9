package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Concatenate-and-chunk sequence packing — the standard pretraining
  * batching step: documents are concatenated in a deterministic order
  * within a stratum and the token stream is cut into fixed-budget
  * training sequences; a document may straddle a cut (GPT-style packing,
  * as opposed to padding each document to the budget).
  *
  * The assignment is a pure function of (stratum, id order, token
  * counts): every offset is an exact integer running sum, so shards can
  * be packed independently, re-runs are byte-stable, and a downstream
  * loader can seek any sequence id directly. Ids are assumed UNIQUE
  * within a stratum ("id order" is otherwise ill-defined); the offset
  * windows use an explicit ROWS frame so a violated assumption yields
  * disjoint per-row intervals rather than silently overlapping ones.
  *
  * Scale shape: one shuffle keyed by the stratum column, then a
  * per-stratum prefix sum (ordered window). The stratum IS the
  * parallelism unit — at 100 TB you pack per shard/language/source (the
  * x22 shard assignment produces exactly such strata), never globally:
  * a single global token stream would serialize the scan.
  */
object Packing {

  /** Assign each document its `[begin_offset, begin_offset + n_bpe)`
    * token interval in its stratum's packed stream, plus the first/last
    * training-sequence ids it lands in under `seqLen`-token cuts and a
    * `straddles` flag (document crosses a cut). Zero-token documents
    * carry the offset where they sit and never straddle.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      strataCol: String, seqLen: Int): DataFrame =
    packCounts(df.select(col(strataCol), col(idCol),
        TextFunctions.bpeTokenCount(col(textCol)).cast("long")
          .as("n_bpe")),
      idCol, strataCol, seqLen)

  /** [[packSequences]] budgeted by the REAL tokenizer: `n_bpe` comes
    * from the map-side BPE kernel ([[graft.expressions
    * .BpeEncodeTokens]]) under a trained merge table, so the packing
    * currency is actual model tokens, not the regex approximation —
    * at 100 TB a 2× count mismatch is a 2× sequence-budget error, so
    * real pipelines pack by the tokenizer they train with. Same
    * deterministic offsets, same one-shuffle-per-stratum shape (the
    * count itself is a pure projection — zero extra shuffles).
    *
    * With `merges = Nil` under [[TextFunctions.bpeBytePatternFull]]
    * and `byteLevel`, `n_bpe` is EXACTLY the document's UTF-8 byte
    * count (every byte its own token) — the oracle-checkable identity
    * x95 uses to certify the whole offset/cut/straddle chain
    * relationally; trained-merge counts are gated by BpeSpec's
    * kernel ≡ join-encoder equality instead.
    */
  def packSequencesBpe(df: DataFrame, idCol: String, textCol: String,
      strataCol: String, seqLen: Int,
      merges: Seq[(Int, String, String, String, Long)],
      byteLevel: Boolean = true,
      tokenPattern: String = TextFunctions.bpeTokenPattern): DataFrame =
    packCounts(df.select(col(strataCol), col(idCol),
        size(graft.expressions.GraftFunctions.bpeEncode(col(textCol),
          merges.sortBy(_._1).map(m => (m._1, m._2, m._3)),
          tokenPattern, byteLevel)).cast("long").as("n_bpe")),
      idCol, strataCol, seqLen)

  /** MATERIALIZE the packed training sequences — the artifact a data
    * loader actually consumes: one row per `seqLen`-token training
    * sequence of each stratum's packed stream, with the sequence's
    * `token_ids`, its provenance `doc_spans` (which documents
    * contributed which token range), and a `complete` flag (only the
    * last sequence of a stratum can be partial). This is the hop past
    * [[packSequencesBpe]]'s per-DOCUMENT offsets: a document that
    * straddles a cut contributes a fragment to EACH sequence it
    * overlaps, so the sequence contents cross document boundaries
    * exactly as GPT-style packing demands.
    *
    * Tokens are byte-level BPE ids under `merges` +
    * [[graft.operators.Bpe.vocabBytes]] (closed alphabet — every
    * token has an id by construction; the kernel is the zero-shuffle
    * map-side encoder, so counting and materializing can never
    * disagree). `doc_spans` is ordered by position; each span is
    * `(pos, doc, n)`: the document's tokens occupy
    * `[pos, pos + n)` within the sequence. Zero-token documents
    * contribute no span.
    *
    * `docSeparator` (the GPT-2 `<|endoftext|>` convention) appends
    * the named special token's id after EVERY document — the boundary
    * marker a trainer's loss masking and attention-reset logic key
    * on. The separator belongs to its document's token interval (a
    * straddle can place it in the next sequence), counts toward the
    * budget exactly like a content token, and makes empty documents
    * contribute their lone separator instead of vanishing. The token
    * must be listed in `specialTokens` — ids come from the same
    * vocabulary either way, so serving and packing can never disagree
    * on what the separator's id is.
    *
    * Scale shape: encode is a pure projection; then ONE window
    * shuffle per stratum for the offsets (the [[packSequencesBpe]]
    * shuffle) and ONE `(strata, seq_id)`-keyed shuffle to assemble
    * sequences — whose per-group state is bounded by `seqLen` tokens
    * plus at most `seqLen + 1` span structs, so assembly never holds
    * more than one sequence's worth of tokens per group regardless
    * of document or domain skew. A single document larger than
    * executor memory is a row-size problem upstream of this operator
    * (its `token_ids` array already is the row), not a grouping one.
    */
  def materializeSequences(df: DataFrame, idCol: String,
      textCol: String, strataCol: String, seqLen: Int,
      merges: Seq[(Int, String, String, String, Long)],
      specialTokens: Seq[String] = Nil,
      dropIncomplete: Boolean = false,
      docSeparator: Option[String] = None,
      tokenPattern: String = TextFunctions.bpeTokenPattern): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val vocab = graft.operators.Bpe.vocabBytes(merges, specialTokens)
    val sepId = docSeparator.map { t =>
      vocab.find(_._1 == t).map(_._2).getOrElse(sys.error(
        s"docSeparator '$t' is not in specialTokens — the separator " +
          "id must come from the shared vocabulary"))
    }
    val encoded = graft.expressions.GraftFunctions.tokenIds(
      graft.expressions.GraftFunctions.bpeEncode(col(textCol),
        merges.sortBy(_._1).map(m => (m._1, m._2, m._3)),
        tokenPattern, byteLevel = true),
      vocab, unkId = -1L)
    val withSep = sepId match {
      case Some(id) => concat(encoded, array(lit(id)))
      case None => encoded
    }
    val enc = df.select(col(strataCol), col(idCol),
        withSep.as("__ids"))
      .withColumn("__n", size(col("__ids")).cast("long"))
    // ROWS frame, not the orderBy default RANGE: under RANGE, rows
    // sharing an id would all receive the LAST duplicate's running sum
    // as __end, yielding overlapping fragments with no error. Ids are
    // documented unique per stratum; the ROWS frame makes a violation
    // produce disjoint (if order-arbitrary) intervals instead of
    // silently corrupt sequences.
    val w = Window.partitionBy(col(strataCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val frags = enc
      .withColumn("__end", sum(col("__n")).over(w))
      .withColumn("__begin", col("__end") - col("__n"))
      .filter(col("__n") > 0) // zero-token docs contribute nothing
      .select(col(strataCol), col(idCol), col("__ids"), col("__begin"),
        col("__end"),
        explode(sequence(expr(s"__begin div $seqLen"),
          expr(s"(__end - 1) div $seqLen"))).as("seq_id"))
      .withColumn("__fb", greatest(col("__begin"),
        col("seq_id") * seqLen))
      .withColumn("__fe", least(col("__end"),
        (col("seq_id") + 1) * seqLen))
      .select(col(strataCol), col("seq_id"),
        // pos FIRST: sort_array on structs orders by leading fields,
        // and pos is unique within a sequence — fragment order is the
        // packed stream order (compiled sort_array, not the lambda-
        // backed array_sort; no fragment is null, so null placement
        // never matters)
        struct((col("__fb") - col("seq_id") * seqLen).as("pos"),
          col(idCol).as("doc"),
          (col("__fe") - col("__fb")).as("n"),
          slice(col("__ids"), (col("__fb") - col("__begin") + 1)
            .cast("int"), (col("__fe") - col("__fb")).cast("int"))
            .as("ids")).as("__frag"))
    val seqs = frags.groupBy(col(strataCol), col("seq_id"))
      .agg(sort_array(collect_list(col("__frag")), asc = true).as("__frags"))
      .select(col(strataCol), col("seq_id"),
        flatten(col("__frags.ids")).as("token_ids"),
        expr("transform(__frags, f -> " +
          "named_struct('pos', f.pos, 'doc', f.doc, 'n', f.n))")
          .as("doc_spans"))
      .withColumn("n_tokens", size(col("token_ids")).cast("long"))
      .withColumn("complete", col("n_tokens") === seqLen)
    if (dropIncomplete) seqs.filter(col("complete")) else seqs
  }

  /** SEQUENCE-LEVEL decontamination: screen MATERIALIZED training
    * sequences (not documents) against a benchmark — packing can
    * concatenate two individually-clean fragments into a contaminated
    * sequence across a document boundary, which document-level
    * screening ([[Dedup.contaminationReport]] over the corpus) can
    * never see. Each sequence's `token_ids` decode map-side
    * ([[graft.expressions.IdsToText]] — a pure projection) and the
    * decoded text runs through the SAME shingle probe as the
    * document-level report: a sequence is contaminated when ≥
    * `num/den` of its word `k`-shingles appear in the benchmark.
    * Output: one row per sequence, keyed by (`strataCol`, `seq_id`),
    * with `n_shingles`, `n_shared`, `contaminated`.
    *
    * Scale shape inherits [[Dedup.contaminationReport]]'s: benchmark
    * shingles distinct once (benchmark-sized), sequence shingles
    * shuffle once on the shingle key. For 100 TB corpora use the
    * Bloom form's bitset against the decoded sequences instead; this
    * exact form is the oracle-checkable reference.
    */
  def sequenceContamination(seqs: DataFrame, strataCol: String,
      benchmark: DataFrame, benchTextCol: String,
      merges: Seq[(Int, String, String, String, Long)],
      k: Int, num: Int = 4, den: Int = 5,
      specialTokens: Seq[String] = Nil): DataFrame = {
    val vocab = graft.operators.Bpe.vocabBytes(merges, specialTokens)
    val decoded = seqs.select(
      concat_ws(" ", col(strataCol), col("seq_id")).as("__sk"),
      col(strataCol), col("seq_id"),
      graft.expressions.GraftFunctions.idsToText(col("token_ids"),
        vocab).as("__text"))
    val bench = benchmark.select(
      monotonically_increasing_id().as("__sk"),
      col(benchTextCol).as("__text"))
    val report = Dedup.contaminationReport(bench, decoded, "__sk",
      "__text", k, num, den)
    decoded.select(col("__sk"), col(strataCol), col("seq_id"))
      .join(report.withColumnRenamed("id", "__sk"), Seq("__sk"))
      .select(col(strataCol), col("seq_id"), col("n_shingles"),
        col("n_shared"), col("contaminated"))
  }

  /** NO-STRADDLE (T5-style) packing — the other packing discipline:
    * documents are placed WHOLE by first-fit in id order (a document
    * opens a new sequence when it no longer fits the current one),
    * so no example ever crosses a sequence boundary and the loader
    * needs no span bookkeeping; the price is padding (the tail of
    * every sequence a next document didn't fit). Documents longer
    * than `seqLen` are truncated to the budget and flagged — the
    * convention encoder-style pipelines use, where over-long examples
    * were clipped upstream anyway.
    *
    * Output: per document — `n_tokens` (post-truncation), `truncated`,
    * `seq_id`, `begin` (offset inside its sequence). The assignment
    * is a pure fold over (stratum, id order, counts): re-runs and
    * repartitioning are byte-stable, and x101's oracle restates the
    * whole fold as a DuckDB RECURSIVE CTE.
    *
    * Scale shape: counting is a pure projection (the map-side BPE
    * kernel); then ONE shuffle keyed by stratum and a STREAMED
    * per-partition fold with O(1) state (current stratum, seq id,
    * fill) — first-fit is inherently sequential per stratum, which is
    * exactly the parallelism unit the offset-window variants already
    * use (pack per shard/language at 100 TB, never globally). Spark's
    * partition sort is spill-safe; the fold never materializes a
    * group.
    */
  def packNoStraddle(df: DataFrame, idCol: String, textCol: String,
      strataCol: String, seqLen: Int,
      merges: Seq[(Int, String, String, String, Long)],
      byteLevel: Boolean = true,
      tokenPattern: String = TextFunctions.bpeTokenPattern): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val counts = df.select(col(strataCol), col(idCol),
      size(graft.expressions.GraftFunctions.bpeEncode(col(textCol),
        merges.sortBy(_._1).map(m => (m._1, m._2, m._3)),
        tokenPattern, byteLevel)).cast("long").as("__n0"))
    firstFit(counts, seqLen, carryArrays = 0)
  }

  /** The streamed first-fit fold shared by [[packNoStraddle]] (counts
    * only), [[materializeNoStraddle]] (ids carried through, sliced at
    * the truncation clamp), and [[Sft.packExamples]] (ids AND the
    * aligned loss mask carried): input is `(strata, id, __n0)` when
    * `carryArrays = 0`, else `(strata, id, <carryArrays aligned array
    * columns>)` where the FIRST array's length is the token count and
    * every carried array truncates to `seqLen` identically. Output
    * appends `n_tokens`, `truncated`, `seq_id`, `begin` (and keeps
    * the truncated arrays when carried). One stratum-keyed shuffle,
    * spill-safe partition sort, O(1) fold state — no group ever
    * materializes.
    */
  private[operators] def firstFit(in: DataFrame, seqLen: Int,
      carryArrays: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val outSchema = StructType(
      in.schema.fields.take(2 + carryArrays) ++ Seq(
        StructField("n_tokens", LongType, nullable = false),
        StructField("truncated", BooleanType, nullable = false),
        StructField("seq_id", LongType, nullable = false),
        StructField("begin", LongType, nullable = false)))
    val strataName = in.columns(0)
    val idName = in.columns(1)
    in.repartition(col(strataName))
      .sortWithinPartitions(col(strataName), col(idName))
      .mapPartitions { it =>
        // O(1) fold state; strata are contiguous under the sort, so a
        // key change resets the sequence counter
        var started = false
        var curKey: Any = null
        var seqId = 0L
        var fill = 0L
        it.map { r =>
          val k = r.get(0)
          if (!started || k != curKey) {
            started = true; curKey = k; seqId = 0L; fill = 0L
          }
          val arrs: Seq[Seq[Any]] =
            (0 until carryArrays).map(j => r.getSeq[Any](2 + j))
          val n0 =
            if (carryArrays > 0) arrs.head.length.toLong else r.getLong(2)
          val n = math.min(n0, seqLen.toLong)
          val begin =
            if (fill + n <= seqLen) fill
            else { seqId += 1; 0L }
          fill = begin + n
          val tail = Seq(n, n0 > seqLen, seqId, begin)
          org.apache.spark.sql.Row.fromSeq(
            Seq(r.get(0), r.get(1)) ++
              arrs.map(_.take(seqLen)) ++ tail)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** MATERIALIZE the no-straddle sequences — [[packNoStraddle]]'s
    * assignment carried to the trainer artifact: one row per sequence
    * with the documents' (truncation-clamped) token ids concatenated
    * in placement order, provenance `doc_spans`, and — when
    * `padToken` is given — `padded_ids` filled to exactly `seqLen`
    * with the reserved pad id (the fixed-shape tensor a T5-style
    * loader consumes; `n_pad` counts the fill). No document crosses a
    * sequence boundary by construction, so spans never split.
    *
    * Scale shape: encode is a pure projection; the first-fit fold is
    * the [[packNoStraddle]] shuffle with ids riding along (row width
    * grows by the document's ids — the same data any materialization
    * must move exactly once); assembly is ONE `(strata, seq_id)`-keyed
    * aggregate whose per-group state is bounded by `seqLen` tokens.
    */
  def materializeNoStraddle(df: DataFrame, idCol: String,
      textCol: String, strataCol: String, seqLen: Int,
      merges: Seq[(Int, String, String, String, Long)],
      specialTokens: Seq[String] = Nil,
      padToken: Option[String] = None,
      tokenPattern: String = TextFunctions.bpeTokenPattern): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val vocab = graft.operators.Bpe.vocabBytes(merges, specialTokens)
    val padId = padToken.map { t =>
      vocab.find(_._1 == t).map(_._2).getOrElse(sys.error(
        s"padToken '$t' is not in specialTokens — the pad id must " +
          "come from the shared vocabulary"))
    }
    val enc = df.select(col(strataCol), col(idCol),
      graft.expressions.GraftFunctions.tokenIds(
        graft.expressions.GraftFunctions.bpeEncode(col(textCol),
          merges.sortBy(_._1).map(m => (m._1, m._2, m._3)),
          tokenPattern, byteLevel = true),
        vocab, unkId = -1L).as("__ids"))
    val assigned = firstFit(enc, seqLen, carryArrays = 1)
    val seqs = assigned
      .select(col(strataCol), col("seq_id"),
        struct(col("begin").as("pos"), col(assigned.columns(1)).as("doc"),
          col("n_tokens").as("n"), col("truncated"),
          col("__ids").as("ids")).as("__frag"))
      .groupBy(col(strataCol), col("seq_id"))
      // compiled sort_array, as in materializeSequences: pos leads the
      // struct and no fragment is null
      .agg(sort_array(collect_list(col("__frag")), asc = true)
        .as("__frags"))
      .select(col(strataCol), col("seq_id"),
        flatten(col("__frags.ids")).as("token_ids"),
        expr("transform(__frags, f -> named_struct('pos', f.pos, " +
          "'doc', f.doc, 'n', f.n, 'truncated', f.truncated))")
          .as("doc_spans"))
      .withColumn("n_tokens", size(col("token_ids")).cast("long"))
    padId match {
      case Some(id) => seqs
        .withColumn("n_pad", lit(seqLen.toLong) - col("n_tokens"))
        .withColumn("padded_ids", concat(col("token_ids"),
          array_repeat(lit(id), (lit(seqLen) - size(col("token_ids")))
            .cast("int"))))
      case None => seqs
    }
  }

  /** LENGTH-GROUPED batching ("smart batching") — the dynamic-padding
    * alternative to fixed-shape packing for variable-length examples:
    * within a stratum, examples sort by token count DESCENDING (id as
    * the tiebreak) and chunk into batches of `batchSize`; each batch
    * pads only to ITS OWN longest member, so similar-length examples
    * share a batch and the padding waste collapses versus
    * arrival-order batching. Output per example: `n_tokens`,
    * `batch_id`, `batch_max` (the batch's pad target), `padding`
    * (this example's waste). Descending order also puts the most
    * expensive batch first — the OOM probe a trainer wants early.
    *
    * Scale shape — NO per-stratum window (a stratum is a
    * language/source; at corpus scale one stratum can be half the
    * data, and `row_number() OVER (PARTITION BY stratum)` would sort
    * it under ONE task, the mega-stratum serialization the window-free
    * domainQuota eliminated for domains). The global rank decomposes
    * exactly: a per-(stratum, n_tokens) HISTOGRAM (bounded by
    * |strata| × |distinct lengths| — lengths are budget-bounded small
    * integers, so this frame is tiny vs the corpus) carries each
    * length bucket's starting rank via a prefix sum over the
    * histogram; the corpus then pays one exchange keyed
    * (strata, n_tokens) for the WITHIN-TIE rank (id order) — tie
    * groups, not strata, are the sort unit — plus the
    * (strata, batch_id) window for the batch maximum, whose partitions
    * are ≤ batchSize rows by construction. Output is identical to the
    * single-window form (same total order, same batches — x107's
    * oracle is unchanged); the residual bound is the largest TIE group
    * (one length inside one stratum), which is the operator's
    * irreducible sort unit.
    */
  def lengthGroupedBatches(df: DataFrame, idCol: String,
      textCol: String, strataCol: String, batchSize: Int,
      merges: Seq[(Int, String, String, String, Long)],
      byteLevel: Boolean = true,
      tokenPattern: String = TextFunctions.bpeTokenPattern): DataFrame = {
    require(batchSize > 0, "batchSize must be positive")
    val n = size(graft.expressions.GraftFunctions.bpeEncode(
      col(textCol), merges.sortBy(_._1).map(m => (m._1, m._2, m._3)),
      tokenPattern, byteLevel)).cast("long")
    val counted = df.select(col(strataCol), col(idCol), n.as("n_tokens"))
    // per-(stratum, length) histogram: the only corpus-wide pass is a
    // partial-merged count agg; the prefix sum runs over the tiny
    // histogram frame, DESC so start = rows with strictly longer length
    val wHist = Window.partitionBy(col(strataCol))
      .orderBy(col("n_tokens").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = graft.core.CacheScope.cached(
      counted.groupBy(col(strataCol), col("n_tokens"))
        .agg(count(lit(1)).as("__cnt"))
        .withColumn("__end", sum(col("__cnt")).over(wHist))
        .select(col(strataCol), col("n_tokens"),
          (col("__end") - col("__cnt")).as("__start")))
    val hint = graft.core.BroadcastGate.hint("lengthGroupedBatches: offsets",
      offsets)
    val tieRank = Window.partitionBy(col(strataCol), col("n_tokens"))
      .orderBy(col(idCol))
    val w2 = Window.partitionBy(col(strataCol), col("batch_id"))
    // NULL-SAFE join on both keys: a null stratum (and a null count
    // from null text) formed a window partition in the replaced
    // single-window form — a plain equi-join would silently drop
    // those rows (the domainQuota null-key class)
    val off = offsets.withColumnRenamed(strataCol, "__s")
      .withColumnRenamed("n_tokens", "__l")
    counted
      .join(hint(off), col(strataCol) <=> col("__s") &&
        col("n_tokens") <=> col("__l"))
      .drop("__s", "__l")
      .withColumn("__rn",
        col("__start") + row_number().over(tieRank).cast("long"))
      .withColumn("batch_id",
        expr(s"CAST((__rn - 1) div $batchSize AS BIGINT)"))
      .withColumn("batch_max", max(col("n_tokens")).over(w2))
      .withColumn("padding", col("batch_max") - col("n_tokens"))
      .select(col(strataCol), col(idCol), col("n_tokens"),
        col("batch_id"), col("batch_max"), col("padding"))
  }

  /** The shared offset/cut/straddle chain over a (strata, id, n_bpe)
    * frame — every packing variant differs only in how it counts.
    */
  private def packCounts(counts: DataFrame, idCol: String,
      strataCol: String, seqLen: Int): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    // ROWS frame — see materializeSequences: the default RANGE frame
    // gives duplicate ids identical end offsets (overlapping intervals)
    val w = Window.partitionBy(col(strataCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("end_offset", sum(col("n_bpe")).over(w))
      .withColumn("begin_offset", col("end_offset") - col("n_bpe"))
      .withColumn("seq_id", expr(s"begin_offset div $seqLen"))
      .withColumn("seq_last",
        when(col("n_bpe") > 0, expr(s"(end_offset - 1) div $seqLen"))
          .otherwise(col("seq_id")))
      .withColumn("straddles", col("seq_id") =!= col("seq_last"))
      .drop("end_offset")
  }
}
