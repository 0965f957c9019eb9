package graft

import graft.operators.{Bpe, TokenizerSurface, TokenizerTruncation, Unigram,
  WordPiece}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The shared encode surface ([[graft.operators.TokenizerSurface]])
  * driven table-first across the three lineages: one small tokenizer
  * per lineage with a single and a pair template, LongestFirst
  * truncation to 8 and Fixed padding to 10, and the invariants that tie
  * the surfaces to each other.
  */
class TokenizerSurfaceSpec extends SparkSpec {

  private val padLen = 10
  private val trunc = TokenizerTruncation.Truncation(8, "longest_first",
    "right")
  private def fixed(padId: Long) =
    TokenizerTruncation.Padding(padLen, padId, 0L, "right")

  /** One lineage's tokenizer: `tok(padId)` carries both templates,
    * truncation and Fixed padding; `unpadded` is the same without the
    * padding block. `collidingPadId` is a content id the texts encode
    * to.
    */
  private abstract class Lineage(val name: String) {
    val surface: TokenizerSurface
    def tok(padId: Long): surface.Tok
    def unpadded: surface.Tok
    def noPair: surface.Tok
    val padId: Long
    val collidingPadId: Long
  }

  // [UNK]=0 [CLS]=1 [SEP]=2 [PAD]=3
  private val wpBase = WordPiece.WordPieceTokenizer(
    Seq("[UNK]", "[CLS]", "[SEP]", "[PAD]", "the", "cat", "sat", "on",
      "mat", "##s").zipWithIndex.map { case (t, i) => (t, i.toLong) },
    unkId = 0L, contPrefix = "##", maxInputCharsPerWord = 100,
    cleanText = false, handleChineseChars = false, stripAccents = false,
    lowercase = false, prefixIds = Seq(1L), suffixIds = Seq(2L),
    pair = Some(WordPiece.PairTemplate(Seq((1L, 0L)), Seq((2L, 0L)),
      Seq((2L, 1L)), typeA = 0L, typeB = 1L)),
    truncation = Some(trunc))

  private val wordPiece = new Lineage("WordPiece") {
    val surface: WordPiece.type = WordPiece
    def tok(padId: Long) = wpBase.copy(padding = Some(fixed(padId)))
    def unpadded = wpBase
    def noPair = tok(padId).copy(pair = None)
    val padId = 3L
    val collidingPadId = 5L // "cat"
  }

  // <unk>=0 <s>=1 </s>=2 <pad>=3, the Llama normalizer shape
  private val unigram = new Lineage("Unigram") {
    val surface: Unigram.type = Unigram
    private val base = Unigram.UnigramTokenizer(
      IndexedSeq(("<unk>", 0.0), ("<s>", 0.0), ("</s>", 0.0),
        ("<pad>", 0.0), ("▁the", -1.0), ("▁cat", -1.0), ("▁sat", -1.0),
        ("▁on", -1.0), ("▁mat", -1.0), ("s", -2.0), ("▁", -3.0)),
      unkId = 0, byteFallback = false,
      norms = Seq(("prepend", "▁", ""), ("replace", " ", "▁")),
      needsNfc = false, prefixIds = Seq(1L), suffixIds = Seq(2L),
      truncation = Some(trunc),
      pair = Some(WordPiece.PairTemplate(Seq((1L, 0L)), Seq((2L, 0L)),
        Seq((2L, 1L)), typeA = 0L, typeB = 1L)))
    def tok(padId: Long) = base.copy(padding = Some(fixed(padId)))
    def unpadded = base
    def noPair = tok(padId).copy(pair = None)
    val padId = 3L
    val collidingPadId = 5L // "▁cat"
  }

  // byte alphabet 0-255, merges 256-260, <s>=261 </s>=262 <pad>=263
  private val bpeMerges = Seq(("t", "h", "th"), ("th", "e", "the"),
    ("Ġ", "c", "Ġc"), ("Ġc", "a", "Ġca"), ("Ġca", "t", "Ġcat"))
    .zipWithIndex.map { case ((l, r, m), i) => (i, l, r, m, 1L) }
  private val bpeBase = Bpe.BpeTokenizer(bpeMerges,
    Bpe.vocabBytes(bpeMerges, Seq("<s>", "</s>", "<pad>")),
    needsNfc = false, addPrefixSpace = false,
    prefixIds = Seq(261L), suffixIds = Seq(262L),
    pair = Some(WordPiece.PairTemplate(Seq((261L, 0L)),
      Seq((262L, 0L), (262L, 0L)), Seq((262L, 0L)), typeA = 0L,
      typeB = 0L)),
    truncation = Some(trunc))

  private val bpe = new Lineage("BPE") {
    val surface: Bpe.type = Bpe
    def tok(padId: Long) = bpeBase.copy(padding = Some(fixed(padId)))
    def unpadded = bpeBase
    def noPair = tok(padId).copy(pair = None)
    val padId = 263L
    val collidingPadId = 260L // "Ġcat"
  }

  private val lineages = Seq(wordPiece, unigram, bpe)

  // fits, fills the budget exactly, truncates, unknown words, empty
  private lazy val texts: DataFrame = {
    import spark.implicits._
    Seq((1L, "the cat sat on the mat"), (2L, "cats"),
      (3L, "the cat sat on the mat the cat sat"), (4L, "zzz the cat"),
      (5L, "")).toDF("id", "t")
  }

  private lazy val pairs: DataFrame = {
    import spark.implicits._
    Seq((1L, "the cat", "sat on the mat"), (2L, "cats", ""),
      (3L, "the cat sat on the mat", "the cat sat on the mat"))
      .toDF("id", "a", "b")
  }

  private def longs(r: Row, f: String): Seq[Long] =
    r.getSeq[Long](r.fieldIndex(f)).toSeq
  private def structs(r: Row, f: String): Seq[Row] =
    r.getSeq[Row](r.fieldIndex(f)).toSeq

  test("encodeWithMask's token_ids equal encodeColumn, and the mask is " +
      "positional: its sum is the unpadded length even when the pad id " +
      "collides with a content id") {
    for (l <- lineages; padId <- Seq(l.padId, l.collidingPadId)) {
      val tok = l.tok(padId)
      val rows = l.surface.encodeWithMask(texts, "id", "t", tok)
        .join(texts.select(col("id"),
          l.surface.encodeColumn(col("t"), tok).as("col_ids"),
          l.surface.encodeColumn(col("t"), l.unpadded).as("unpadded")),
          "id")
        .collect()
      assert(rows.length == 5)
      rows.foreach { r =>
        val ids = longs(r, "token_ids")
        val mask = longs(r, "attention_mask")
        val n = longs(r, "unpadded").size
        val what = s"${l.name} pad=$padId row ${r.getAs[Long]("id")}"
        assert(ids == longs(r, "col_ids"), what)
        assert(ids.size == padLen && n < padLen, what)
        assert(mask.sum == n, what)
        assert(mask == Seq.fill(n)(1L) ++ Seq.fill(padLen - n)(0L), what)
        assert(ids.drop(n).forall(_ == padId), what)
      }
      if (padId == l.collidingPadId)
        assert(rows.exists(r => longs(r, "unpadded").contains(padId)),
          s"${l.name}: the colliding pad id never occurs in the content")
    }
  }

  test("encodeOffsetsColumn carries encodeColumn's ids, with (0, 0) " +
      "spans on template and pad rows and non-empty spans on content") {
    for (l <- lineages) {
      val tok = l.tok(l.padId)
      val rows = texts.select(col("id"),
          l.surface.encodeOffsetsColumn(col("t"), tok).as("o"),
          l.surface.encodeColumn(col("t"), tok).as("ids"),
          l.surface.encodeColumn(col("t"), l.unpadded).as("unpadded"))
        .join(l.surface.encodeWithOffsets(texts, "id", "t", tok), "id")
        .collect()
      rows.foreach { r =>
        val what = s"${l.name} row ${r.getAs[Long]("id")}"
        val spans = structs(r, "o").map(s =>
          (s.getAs[Long]("id"), s.getAs[Int]("start"), s.getAs[Int]("end")))
        assert(structs(r, "o") == structs(r, "tokens"), what)
        assert(spans.map(_._1) == longs(r, "ids"), what)
        val n = longs(r, "unpadded").size
        spans.zipWithIndex.foreach { case ((_, start, end), i) =>
          val content = i >= tok.prefixIds.size &&
            i < n - tok.suffixIds.size
          if (content) assert(end > start, s"$what position $i")
          else assert((start, end) == (0, 0), s"$what position $i")
        }
      }
    }
  }

  test("encodePairWithMask's ids and types equal encodePair, the mask " +
      "sum is the unpadded pair length, and no plan has an exchange") {
    for (l <- lineages) {
      val tok = l.tok(l.padId)
      val masked = l.surface.encodePairWithMask(pairs, "id", "a", "b", tok)
      val plain = l.surface.encodePair(pairs, "id", "a", "b", tok)
      val bare = l.surface.encodePair(pairs, "id", "a", "b", l.unpadded)
        .select(col("id"), col("token_ids").as("unpadded"))
      for (df <- Seq(masked, plain)) {
        val exchanges = df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.Exchange => e
        }
        assert(exchanges.isEmpty, s"${l.name}: $exchanges")
      }
      val rows = masked
        .join(plain.select(col("id"), col("token_ids").as("p_ids"),
          col("type_ids").as("p_types")), "id")
        .join(bare, "id").collect()
      assert(rows.length == 3)
      rows.foreach { r =>
        val what = s"${l.name} row ${r.getAs[Long]("id")}"
        assert(longs(r, "token_ids") == longs(r, "p_ids"), what)
        assert(longs(r, "type_ids") == longs(r, "p_types"), what)
        val n = longs(r, "unpadded").size
        assert(n <= trunc.maxLength, what)
        assert(longs(r, "attention_mask").sum == n, what)
      }
    }
  }

  test("a pair encode without a pair template refuses with the same " +
      "message in every lineage") {
    val msgs = lineages.flatMap { l =>
      Seq(intercept[IllegalArgumentException](
          l.surface.encodePair(pairs, "id", "a", "b", l.noPair)),
        intercept[IllegalArgumentException](
          l.surface.encodePairWithMask(pairs, "id", "a", "b", l.noPair)))
        .map(_.getMessage)
    }
    assert(msgs.size == 6)
    assert(msgs.distinct.size == 1, msgs.distinct)
    assert(msgs.head.contains("no PAIR template"))
  }

  // decode ∘ encode per lineage, as (padded, unpadded); Unigram's decode
  // takes no skip set — its callers strip special ids first
  private val roundTrips: Seq[(String, Column => Column, Column => Column)] = {
    val wp = wordPiece.tok(wordPiece.padId)
    val bp = bpe.tok(bpe.padId)
    Seq(("WordPiece",
      t => WordPiece.decodeColumn(WordPiece.encodeColumn(t, wp), wp),
      t => WordPiece.decodeColumn(WordPiece.encodeColumn(t, wpBase),
        wpBase)),
      ("BPE", t => Bpe.decodeColumn(Bpe.encodeColumn(t, bp), bp),
        t => Bpe.decodeColumn(Bpe.encodeColumn(t, bpeBase), bpeBase)))
  }

  for ((name, padded, unpadded) <- roundTrips)
    test(s"$name decode skips the pad id: under a template and Fixed " +
        "padding, decoding the padded encode equals decoding the " +
        "unpadded one") {
      val rows = texts.select(col("id"), padded(col("t")).as("p"),
        unpadded(col("t")).as("u")).collect()
      rows.foreach(r => assert(r.getString(1) == r.getString(2),
        s"$name row ${r.getLong(0)}"))
      assert(rows.exists(_.getString(2).nonEmpty), name)
    }
}
