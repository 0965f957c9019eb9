package graft

import graft.operators.Bpe
import org.apache.spark.sql.functions._

/** BPE trainer/encoder gating: x75/x76/x91 have no SQL oracle
  * (iterative, argmax-dependent), so correctness is proven against
  * INDEPENDENT driver-side reference implementations — dict-based, no
  * Spark, no shared code with the operator — plus closed-form corpora
  * where the whole merge table is hand-computable. The byte-level
  * path's reference builds its own byte→printable table from the
  * public GPT-2 description, so a mapping bug on either side diverges
  * them; the byte path's END results are additionally oracle-checked
  * through x92's round-trip identity.
  */
class BpeSpec extends SparkSpec {

  /** Reference BPE: classic dict-of-symbol-lists implementation
    * (Sennrich ACL'16 pseudocode shape). Same conventions as the
    * operator by DESIGN (bpeTokenPattern words, single-char start,
    * weight = word frequency, tiebreak count desc then left/right asc,
    * leftmost-first non-overlapping application, minCount floor) but a
    * disjoint code path: plain Scala collections.
    */
  private def refTrain(texts: Seq[String], numMerges: Int,
      minCount: Long = 2L): Seq[(Int, String, String, String, Long)] = {
    val wordRe = graft.functions.TextFunctions.bpeTokenPattern.r
    val hist = scala.collection.mutable.Map.empty[Vector[String], Long]
    for (t <- texts; w <- wordRe.findAllIn(t))
      hist.updateWith(w.map(_.toString).toVector)(c => Some(c.getOrElse(0L) + 1))
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var current = hist.toMap
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, n) <- current; i <- 0 until syms.length - 1)
        pairs.updateWith((syms(i), syms(i + 1)))(c =>
          Some(c.getOrElse(0L) + n))
      val eligible = pairs.filter(_._2 >= minCount)
      if (eligible.isEmpty) done = true
      else {
        val ((l, r), c) = eligible.minBy { case ((a, b), n) => (-n, a, b) }
        merges += ((rank, l, r, l + r, c))
        current = current.map { case (syms, n) =>
          (refApply(syms, l, r), n)
        }
        rank += 1
      }
    }
    merges.result()
  }

  /** Leftmost-first non-overlapping merge of (l, r) in a symbol list. */
  private def refApply(syms: Vector[String], l: String,
      r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private def refEncode(text: String,
      merges: Seq[(Int, String, String, String, Long)]): Vector[String] = {
    val wordRe = graft.functions.TextFunctions.bpeTokenPattern.r
    wordRe.findAllIn(text).toVector.flatMap { w =>
      merges.sortBy(_._1).foldLeft(w.map(_.toString).toVector) {
        case (syms, (_, l, r, _, _)) => refApply(syms, l, r)
      }
    }
  }

  test("train: hand-computed merge table on a closed-form corpus, " +
      "early stop when no pair clears minCount") {
    import spark.implicits._
    val df = Seq("aaab aaab", "aaab ab").toDF("text")
    // histogram: aaab×3, ab×1 → (a,a)=6 wins; then (a,b)=4; then
    // (aa,ab)=3; then nothing repeats → stop at 3 of the requested 10
    assert(Bpe.train(df, "text", 10) == Seq(
      (1, "a", "a", "aa", 6L),
      (2, "a", "b", "ab", 4L),
      (3, "aa", "ab", "aaab", 3L)))
    // leftmost-first: " a a a b " merges to " aa a b ", never " a aa b "
    val one = Bpe.train(df, "text", 1)
    assert(one == Seq((1, "a", "a", "aa", 6L)))
    // minCount floor: a corpus of once-off pairs trains zero merges
    assert(Bpe.train(Seq("ab cd").toDF("text"), "text", 5).isEmpty)
    // the distributed path computes the same closed-form table
    assert(Bpe.train(df, "text", 10, maxDriverWords = 0L) == Seq(
      (1, "a", "a", "aa", 6L),
      (2, "a", "b", "ab", 4L),
      (3, "aa", "ab", "aaab", 3L)))
  }

  test("train matches the independent reference BPE on the full " +
      "fixture corpus, including tiebreaks — on BOTH the driver and " +
      "the distributed merge-loop paths") {
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("text").isNotNull)
      .select(col("text")).collect().map(_.getString(0)).toSeq
    val expected = refTrain(texts, 30)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("text").isNotNull)
    // default dispatch: the fixture histogram fits → driver path
    val got = Bpe.train(docs, "text", 30)
    assert(got.size == expected.size,
      s"merge count ${got.size} vs ${expected.size}")
    for (((g, e), i) <- got.zip(expected).zipWithIndex)
      assert(g == e, s"merge $i: got $g expected $e")
    // maxDriverWords = 0 forces the distributed per-merge loop; the
    // two paths must produce the identical merge table
    val distributed = Bpe.train(docs, "text", 30, maxDriverWords = 0L)
    assert(distributed == got, "driver and distributed paths diverge")
  }

  test("encode matches the reference encoder on every fixture " +
      "document; token counts shrink monotonically with merges") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("text").isNotNull)
    val texts = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val merges = Bpe.train(docs, "text", 30)
    val got = Bpe.encode(docs, "doc_id", "text", merges)
      .select(col("doc_id"), col("tokens")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toVector)).toMap
    assert(got.keySet == texts.keySet)
    for ((id, text) <- texts)
      assert(got(id) == refEncode(text, merges), s"doc $id")
    // zero merges = character tokens; more merges never adds tokens
    val raw = Bpe.encode(docs, "doc_id", "text", Nil)
      .select(col("doc_id"), col("n_tokens")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    for ((id, toks) <- got) {
      assert(toks.length <= raw(id), s"doc $id grew")
      assert(raw(id) ==
        refEncode(texts(id), Nil).length, s"doc $id char count")
    }
    // and the merges genuinely compress this corpus
    assert(got.values.map(_.length).sum < raw.values.sum)
  }

  test("vocab + encodeIds: conventional id layout (<unk>, sorted base " +
      "chars, merges in rank order), ids equal the reference tokens " +
      "mapped through the vocab, unseen chars hit <unk>") {
    import spark.implicits._
    val df = Seq("aaab aaab", "aaab ab").toDF("text")
      .withColumn("id", monotonically_increasing_id())
    val merges = Bpe.train(df, "text", 10)
    val v = Bpe.vocab(df, "text", merges)
    // base chars {a, b} → ids 1, 2; merges aa/ab/aaab → 3, 4, 5
    assert(v == Seq("<unk>" -> 0L, "a" -> 1L, "b" -> 2L,
      "aa" -> 3L, "ab" -> 4L, "aaab" -> 5L))
    val ids = Bpe.encodeIds(df, "id", "text", merges, v)
      .select(col("id"), col("tokens"), col("token_ids"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[String](1), r.getSeq[Long](2))).sortBy(_._1)
    // every row's ids are exactly its tokens mapped through the vocab
    val vm = v.toMap
    ids.foreach { case (_, toks, tids) =>
      assert(tids == toks.map(vm), s"$toks -> $tids")
    }
    // "aaab aaab" fully merges: two aaab tokens
    assert(ids.head._3 == Seq(5L, 5L))
    // encode-time text with a char training never saw → <unk> for that
    // char's tokens, everything else still resolves
    val unseen = Bpe.encodeIds(
      Seq("aaab zz").toDF("text").withColumn("id", lit(7L)),
      "id", "text", merges, v)
      .select(col("token_ids")).head.getSeq[Long](0)
    assert(unseen == Seq(5L, 0L, 0L), s"got $unseen")
  }

  /** Reference BYTE-level BPE: same independent dict-based shape as
    * [[refTrain]], but each word decomposes to its UTF-8 bytes mapped
    * through an INDEPENDENTLY-built byte→printable table (built here
    * from the same public GPT-2 description, not by calling
    * ByteUnicode — a mapping bug in either side diverges the tables).
    */
  private val refByteChar: Array[Char] = {
    val keep = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    val out = new Array[Char](256)
    var n = 0
    for (b <- 0 until 256) {
      if (keep(b)) out(b) = b.toChar
      else { out(b) = (256 + n).toChar; n += 1 }
    }
    out
  }

  private def refByteSyms(w: String): Vector[String] =
    w.getBytes("UTF-8").toVector.map(b => refByteChar(b & 0xff).toString)

  private def refTrainBytes(texts: Seq[String], numMerges: Int,
      minCount: Long = 2L): Seq[(Int, String, String, String, Long)] = {
    val wordRe = graft.functions.TextFunctions.bpeTokenPattern.r
    val hist = scala.collection.mutable.Map.empty[Vector[String], Long]
    for (t <- texts; w <- wordRe.findAllIn(t))
      hist.updateWith(refByteSyms(w))(c => Some(c.getOrElse(0L) + 1))
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var current = hist.toMap
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, n) <- current; i <- 0 until syms.length - 1)
        pairs.updateWith((syms(i), syms(i + 1)))(c =>
          Some(c.getOrElse(0L) + n))
      val eligible = pairs.filter(_._2 >= minCount)
      if (eligible.isEmpty) done = true
      else {
        val ((l, r), c) = eligible.minBy { case ((a, b), n) => (-n, a, b) }
        merges += ((rank, l, r, l + r, c))
        current = current.map { case (syms, n) =>
          (refApply(syms, l, r), n)
        }
        rank += 1
      }
    }
    merges.result()
  }

  test("trainBytes matches the independent reference byte-BPE on the " +
      "fixture corpus, including tiebreaks — on BOTH the driver and " +
      "the distributed merge-loop paths") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("text").isNotNull)
    val texts = docs.select(col("text")).collect()
      .map(_.getString(0)).toSeq
    val expected = refTrainBytes(texts, 30)
    val got = Bpe.trainBytes(docs, "text", 30)
    assert(got.size == expected.size,
      s"merge count ${got.size} vs ${expected.size}")
    for (((g, e), i) <- got.zip(expected).zipWithIndex)
      assert(g == e, s"merge $i: got $g expected $e")
    // both merge-loop homes produce the identical byte merge table
    val distributed = Bpe.trainBytes(docs, "text", 30,
      maxDriverWords = 0L)
    assert(distributed == got, "driver and distributed byte paths diverge")
  }

  test("byte-BPE on mixed UTF-8: emoji/CJK round-trip exactly, no " +
      "token misses the closed byte vocabulary (the no-<unk> " +
      "contract), multi-byte sequences merge within words") {
    import spark.implicits._
    // emoji (4-byte UTF-8), CJK (3-byte), Latin + combining accent
    // (2-byte), plain ASCII — each repeated so byte pairs clear
    // minCount; \u escapes so no tool in the chain can renormalize
    val rows = Seq(
      "😀😀 café café",
      "漢字 漢字 hello hello",
      "😀 漢字 hello café")
    val df = rows.toDF("text").withColumn("id",
      monotonically_increasing_id())
    val merges = Bpe.trainBytes(df, "text", 40)
    assert(merges.nonEmpty)
    // merge table agrees with the independent reference
    assert(merges == refTrainBytes(rows, 40))
    val enc = Bpe.encodeIdsBytes(df, "id", "text", merges)
      .select(col("id"), col("tokens"), col("token_ids")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1), r.getSeq[Long](2)))
    val wordRe = graft.functions.TextFunctions.bpeTokenPattern.r
    for (((id, toks, ids), text) <- enc.sortBy(_._1).zip(rows)) {
      // ROUND TRIP: decoded tokens = the document's concatenated words
      val words = wordRe.findAllIn(text).mkString
      assert(Bpe.decodeTokens(toks) == words, s"doc $id round trip")
      // no-<unk>: every token resolved to a real id (sentinel -1 never)
      assert(!ids.contains(-1L), s"doc $id had an impossible vocab miss")
      assert(ids.length == toks.length)
    }
    // a codepoint training NEVER saw still round-trips (the property
    // char-level <unk> destroys): its bytes fall back to base symbols
    val novel = Bpe.encodeIdsBytes(
      Seq("über 🦄").toDF("text")
        .withColumn("id", lit(9L)), "id", "text", merges)
      .select(col("tokens"), col("token_ids")).head
    val novelToks = novel.getSeq[String](0)
    assert(Bpe.decodeTokens(novelToks) == "über🦄")
    assert(!novel.getSeq[Long](1).contains(-1L))
  }

  test("vocabBytes special tokens reserve ids after the merges, " +
      "collisions and duplicates rejected; decodeIds inverts " +
      "encodeIdsBytes and renders special ids literally") {
    import spark.implicits._
    val df = Seq("hello hello world world").toDF("text")
      .withColumn("id", lit(1L))
    val merges = Bpe.trainBytes(df, "text", 10)
    val v = Bpe.vocabBytes(merges,
      specialTokens = Seq("<|endoftext|>", "<|pad|>"))
    assert(v.size == 256 + merges.size + 2)
    assert(v(256 + merges.size) == ("<|endoftext|>",
      256L + merges.size))
    // collision with an existing symbol and duplicates both fail loud
    intercept[IllegalArgumentException] {
      Bpe.vocabBytes(merges, specialTokens = Seq("a"))
    }
    intercept[IllegalArgumentException] {
      Bpe.vocabBytes(merges,
        specialTokens = Seq("<|pad|>", "<|pad|>"))
    }
    // decodeIds inverts the id hop exactly (words concatenated)
    val ids = Bpe.encodeIdsBytes(df, "id", "text", merges)
      .select(col("token_ids")).head.getSeq[Long](0)
    assert(Bpe.decodeIds(ids, v) == "hellohelloworldworld")
    // special ids interleave as literal markers, text intact around
    val eot = 256L + merges.size
    assert(Bpe.decodeIds(ids.take(1) ++ Seq(eot) ++ ids.drop(1), v)
      .contains("<|endoftext|>"))
    // unknown ids fail loud — no <unk> to hide behind
    intercept[RuntimeException] {
      Bpe.decodeIds(Seq(99999L), v)
    }
  }

  test("vocabBytes: ids 0-255 are the byte alphabet in byte order, " +
      "merges follow in rank order, no <unk> entry") {
    import spark.implicits._
    val df = Seq("abab abab").toDF("text")
    val merges = Bpe.trainBytes(df, "text", 2)
    val v = Bpe.vocabBytes(merges)
    assert(v.size == 256 + merges.size)
    // byte order: id = byte value; 'a' = 0x61, 'b' = 0x62
    assert(v(0x61) == ("a", 0x61.toLong) && v(0x62) == ("b", 0x62.toLong))
    // byte 0 maps to the first remapped printable (U+0100)
    assert(v(0) == ("\u0100", 0L))
    assert(!v.exists(_._1 == "<unk>"))
    // merges take ids 256... in rank order
    merges.sortBy(_._1).zipWithIndex.foreach { case (m, i) =>
      assert(v(256 + i) == (m._4, 256L + i))
    }
  }

  test("full-fidelity pre-tokenization (bpeBytePatternFull): the " +
      "alternatives jointly cover EVERY character so concatenated " +
      "matches are the text; leading-space words train as units with " +
      "the space byte rendering as the GPT-2 Ġ; whole documents " +
      "round-trip exactly, whitespace included") {
    import spark.implicits._
    val pat = graft.functions.TextFunctions.bpeBytePatternFull
    val re = pat.r
    // total cover on nasty strings: tabs, runs of spaces, newlines,
    // unicode, leading/trailing whitespace, empty-ish
    val nasty = Seq(
      "the the the cat",
      "  leading run\tand\ttabs\n\nnewlines  ",
      "a  b   c    d",
      "emoji 😀 and 漢字 mix",
      "punct!!! runs??? ...",
      " ")
    for (t <- nasty)
      assert(re.findAllIn(t).mkString == t, s"coverage broke on '$t'")
    // leading-space words are single tokens: " the" repeated merges
    // into one symbol whose first char is the mapped space byte Ġ
    val df = Seq("the the the the").toDF("text")
      .withColumn("id", lit(1L))
    val merges = Bpe.trainBytes(df, "text", 10, minCount = 2L,
      tokenPattern = pat)
    // words: "the" (x1), " the" (x3) → " the" fully merges
    assert(merges.exists(_._4 == "\u0120the"), // Ġthe
      s"no \u0120the in ${merges.map(_._4)}")
    // whole-document reconstruction, whitespace exact
    val docs2 = nasty.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val m2 = Bpe.trainBytes(docs2, "text", 30, tokenPattern = pat)
    val got = Bpe.encodeBytes(docs2, "id", "text", m2, tokenPattern = pat)
      .select(col("id"), col("tokens")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1))).toMap
    for ((t, i) <- nasty.zipWithIndex)
      assert(Bpe.decodeTokens(got(i.toLong)) == t,
        s"doc $i did not reconstruct")
  }

  test("encodeMapSide (compiled kernel, zero shuffles) emits tokens " +
      "IDENTICAL to the join-based encoders — char and byte levels, " +
      "default and full-fidelity patterns, on the whole fixture " +
      "corpus — and tokenizes a STREAM as a pure projection") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("text").isNotNull)
    def collectTokens(df: org.apache.spark.sql.DataFrame)
        : Map[Long, Vector[String]] =
      df.select(col("doc_id"), col("tokens")).collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toVector)).toMap
    // char level, default pattern
    val mc = Bpe.train(docs, "text", 30)
    assert(collectTokens(Bpe.encodeMapSide(docs, "doc_id", "text", mc))
      == collectTokens(Bpe.encode(docs, "doc_id", "text", mc)))
    // byte level, default pattern
    val mb = Bpe.trainBytes(docs, "text", 30)
    assert(collectTokens(Bpe.encodeMapSide(docs, "doc_id", "text", mb,
        byteLevel = true))
      == collectTokens(Bpe.encodeBytes(docs, "doc_id", "text", mb)))
    // byte level, full-fidelity pattern (whitespace tokens included)
    val pat = graft.functions.TextFunctions.bpeBytePatternFull
    val mf = Bpe.trainBytes(docs, "text", 30, tokenPattern = pat)
    assert(collectTokens(Bpe.encodeMapSide(docs, "doc_id", "text", mf,
        byteLevel = true, tokenPattern = pat))
      == collectTokens(Bpe.encodeBytes(docs, "doc_id", "text", mf,
        tokenPattern = pat)))
    // zero shuffles: the map-side plan has NO exchange at all
    val plan = Bpe.encodeMapSide(docs, "doc_id", "text", mb,
      byteLevel = true).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"map-side encode shuffled:\n$plan")
    // STREAMING: tokenization is a projection, so it runs on a stream
    // unchanged — tokens arrive per micro-batch, exactly once
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = Bpe.encodeMapSide(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", mb, byteLevel = true)
      .writeStream.format("memory").queryName("bpe_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, "hello hello"), (2L, "streaming text"))
      q.processAllAvailable()
      mem.addData((3L, "hello again"))
      q.processAllAvailable()
      val got = spark.table("bpe_stream").collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toVector)).toMap
      assert(got.keySet == Set(1L, 2L, 3L))
      val expect = collectTokens(Bpe.encodeMapSide(
        Seq((1L, "hello hello"), (2L, "streaming text"),
          (3L, "hello again")).toDF("doc_id", "text"),
        "doc_id", "text", mb, byteLevel = true))
      assert(got == expect, "stream tokens diverge from batch")
    } finally q.stop()
  }

  test("packSequencesBpe: n_bpe under trained merges equals the " +
      "map-side encoder's n_tokens per document; zero merges at the " +
      "full pattern equals the UTF-8 byte count") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("text").isNotNull)
    val merges = Bpe.trainBytes(docs, "text", 30)
    val packed = graft.operators.Packing.packSequencesBpe(
        docs, "doc_id", "text", "lang", seqLen = 128, merges,
        byteLevel = true)
      .select(col("doc_id"), col("n_bpe")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val counts = Bpe.encodeMapSide(docs, "doc_id", "text", merges,
        byteLevel = true)
      .select(col("doc_id"), col("n_tokens")).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong)).toMap
    assert(packed == counts, "packing counts diverge from the encoder")
    // zero merges + full pattern: every byte its own token
    val pat = graft.functions.TextFunctions.bpeBytePatternFull
    val raw = graft.operators.Packing.packSequencesBpe(
        docs, "doc_id", "text", "lang", seqLen = 128, Nil,
        byteLevel = true, tokenPattern = pat)
      .select(col("doc_id"), col("n_bpe")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val bytes = docs.select(col("doc_id"),
        octet_length(col("text")).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(raw == bytes, "zero-merge counts are not the byte counts")
  }

  test("merge-table persistence: save/load round-trips exactly for " +
      "char- AND byte-level tables, loaded tables encode " +
      "bit-identically, corpus-sized paths rejected loudly") {
    import spark.implicits._
    val df = Seq("aaab aaab", "aaab ab", "xy xy xy").toDF("text")
      .withColumn("id", monotonically_increasing_id())
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_art")
      .toString
    for ((tag, merges) <- Seq(
        "char" -> Bpe.train(df, "text", 10),
        "byte" -> Bpe.trainBytes(df, "text", 10))) {
      assert(merges.nonEmpty, tag)
      Bpe.saveMerges(spark, merges, s"$dir/$tag")
      val loaded = Bpe.loadMerges(spark, s"$dir/$tag")
      assert(loaded == merges, tag)
    }
    // loaded byte table encodes identically to the in-memory one
    val m = Bpe.trainBytes(df, "text", 10)
    Bpe.saveMerges(spark, m, s"$dir/roundtrip")
    val viaDisk = Bpe.encodeBytes(df, "id", "text",
        Bpe.loadMerges(spark, s"$dir/roundtrip"))
      .select(col("id"), col("tokens")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1))).sortBy(_._1)
    val direct = Bpe.encodeBytes(df, "id", "text", m)
      .select(col("id"), col("tokens")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1))).sortBy(_._1)
    assert(viaDisk.toSeq == direct.toSeq)
    // a data-sized path fails the loud guard instead of collecting
    val ex = intercept[IllegalArgumentException] {
      Bpe.loadMerges(spark, s"$dir/roundtrip", maxRows = 1L)
    }
    assert(ex.getMessage.contains("not a merge table"), ex.getMessage)
  }

  test("trainDriver queue rebuild (slack 1 forces it on a churn-heavy " +
      "corpus) changes nothing: identical merge table to the default " +
      "slack and to the reference") {
    // churn-heavy: many shared prefixes so each merge touches many
    // words and re-enqueues many pairs — stale entries pile up fast
    val words = (0 until 400).map { i =>
      val s = s"th${('a' + i % 26).toChar}e${('a' + i % 7).toChar}r"
      (s, (i % 13 + 2).toLong)
    }.toArray
    val byDefault = Bpe.trainDriver(words, 60, 2L)
    val byRebuild = Bpe.trainDriver(words, 60, 2L, queueRebuildSlack = 1)
    assert(byRebuild == byDefault)
    val texts = words.flatMap { case (w, n) => Seq.fill(n.toInt)(w) }.toSeq
    assert(byDefault == refTrain(texts, 60))
  }

  test("GPT-2 artifact pair: saveGpt2/loadGpt2 round-trips merges and " +
      "vocab exactly (Ġ and unicode keys included), the public file " +
      "formats hold, and a loaded artifact encodes bit-identically") {
    import spark.implicits._
    val df = Seq("the cat the cat the cat sat", "the cat sat there")
      .toDF("text").withColumn("id", monotonically_increasing_id())
    val merges = Bpe.trainBytes(df, "text", numMerges = 12,
      tokenPattern = graft.functions.TextFunctions.bpeBytePatternFull)
    assert(merges.nonEmpty)
    // the full pattern trains leading-space units, so some merge
    // symbol carries the mapped space byte Ġ — the escaping case
    assert(merges.exists(m => (m._2 + m._3).contains('Ġ')),
      "fixture must exercise the Ġ convention")
    val dir = java.nio.file.Files.createTempDirectory("graft_gpt2")
      .toString
    val specials = Seq("<|endoftext|>")
    Bpe.saveGpt2(spark, merges, dir, specials)

    // public formats: versioned merges.txt, one 'left right' line per
    // merge; vocab.json a single JSON object with the Ġ keys intact
    val mergesTxt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "merges.txt")), "UTF-8")
    val lines = mergesTxt.split("\n").toSeq
    assert(lines.head == "#version: 0.2")
    assert(lines.tail.count(_.nonEmpty) == merges.size)
    val vocabJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "vocab.json")), "UTF-8")
    assert(vocabJson.contains("Ġ"))
    assert(vocabJson.contains("<|endoftext|>"))

    val (loadedMerges, loadedVocab) = Bpe.loadGpt2(spark, dir)
    assert(loadedMerges.map(m => (m._1, m._2, m._3, m._4)) ==
      merges.sortBy(_._1).map(m => (m._1, m._2, m._3, m._4)))
    assert(loadedVocab == Bpe.vocabBytes(merges, specials))

    // a loaded artifact encodes to the SAME token ids
    val viaArtifact = Bpe.encodeIdsBytes(df, "id", "text", loadedMerges,
        loadedVocab, graft.functions.TextFunctions.bpeBytePatternFull)
      .select(col("id"), col("token_ids")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
    val direct = Bpe.encodeIdsBytes(df, "id", "text", merges,
        tokenPattern = graft.functions.TextFunctions.bpeBytePatternFull)
      .select(col("id"), col("token_ids")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
    assert(viaArtifact.toSeq == direct.toSeq)
  }

  test("loadGpt2 reads an EXTERNALLY-authored artifact pair: merge " +
      "ranks from line order, ids from vocab.json (arbitrary " +
      "assignment honored), mismatched pairs rejected loudly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gpt2_ext")
      .toString
    // a hand-written public-format artifact, as an external tool
    // would produce: two merges, vocab with a non-conventional id gap
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "merges.txt"),
      "#version: 0.2\na b\nab c\n".getBytes("UTF-8"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    (0 until 256).foreach(b => node.put(
      graft.expressions.ByteUnicode.byteToChar(b).toString, b.toLong))
    node.put("ab", 300L) // deliberate gap — file ids win, not layout
    node.put("abc", 301L)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "vocab.json"),
      mapper.writeValueAsBytes(node))

    val (m, v) = Bpe.loadGpt2(spark, dir)
    assert(m == Seq((1, "a", "b", "ab", 0L), (2, "ab", "c", "abc", 0L)))
    val df = Seq((1L, "abcabd")).toDF("id", "text")
    val ids = Bpe.encodeIdsBytes(df, "id", "text", m, v,
        graft.functions.TextFunctions.bpeTokenPattern)
      .select(col("token_ids")).head.getSeq[Long](0)
    // a b c a b d → (a b) → ab c ab d → (ab c) → abc ab d
    assert(ids == Seq(301L, 300L, 'd'.toLong))

    // a merge whose result is missing from vocab.json = mismatched pair
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "merges.txt"),
      "#version: 0.2\na b\nab z\n".getBytes("UTF-8"))
    val ex = intercept[IllegalArgumentException] {
      Bpe.loadGpt2(spark, dir)
    }
    assert(ex.getMessage.contains("mismatched artifact pair"),
      ex.getMessage)
  }

  test("loadGpt2 keeps '#'-leading merge lines — only a first-line " +
      "#version header is skipped ('#' is a real byte symbol; '# #' " +
      "is a published GPT-2 merge) — and the pair round-trips") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_gpt2_hash").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "merges.txt"),
      "#version: 0.2\n# #\n## #\n".getBytes("UTF-8"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    (0 until 256).foreach(b => node.put(
      graft.expressions.ByteUnicode.byteToChar(b).toString, b.toLong))
    node.put("##", 300L)
    node.put("###", 301L)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "vocab.json"),
      mapper.writeValueAsBytes(node))
    val (m, v) = Bpe.loadGpt2(spark, dir)
    assert(m == Seq((1, "#", "#", "##", 0L), (2, "##", "#", "###", 0L)),
      s"'#'-leading merges were dropped: $m")
    // and they ENCODE under the full pattern (punctuation runs stay
    // one pre-token): '###' → (# #)→(## #)→ one ### token
    val df = Seq((1L, "###")).toDF("id", "text")
    val ids = Bpe.encodeIdsBytes(df, "id", "text", m, v,
        graft.functions.TextFunctions.bpeBytePatternFull)
      .select(col("token_ids")).head.getSeq[Long](0)
    assert(ids == Seq(301L), ids.toString)
    // save→load round-trips the '#' merges too
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_gpt2_hash_rt").toString
    Bpe.saveGpt2(spark, m, dir2)
    val (m2, _) = Bpe.loadGpt2(spark, dir2)
    assert(m2 == m, s"round-trip lost '#' merges: $m2")
  }

  /** Author a tokenizer.json from (merges, vocab) in either public
    * merge spelling; returns the file path.
    */
  private def writeTokenizerJson(
      merges: Seq[(Int, String, String, String, Long)],
      vocab: Seq[(String, Long)], arrayMerges: Boolean,
      modelType: String = "BPE", preType: String = "ByteLevel",
      extraModel: Map[String, String] = Map.empty,
      addedTokens: Seq[(String, Long)] = Nil): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("version", "1.0")
    val pre = mapper.createObjectNode()
    pre.put("type", preType)
    root.set[com.fasterxml.jackson.databind.JsonNode]("pre_tokenizer",
      pre)
    if (addedTokens.nonEmpty) {
      val arr = mapper.createArrayNode()
      addedTokens.foreach { case (c, id) =>
        val t = mapper.createObjectNode()
        t.put("id", id); t.put("content", c); t.put("special", true)
        arr.add(t)
      }
      root.set[com.fasterxml.jackson.databind.JsonNode]("added_tokens",
        arr)
    }
    val model = mapper.createObjectNode()
    model.put("type", modelType)
    extraModel.foreach { case (k, v) => model.put(k, v) }
    val v = mapper.createObjectNode()
    vocab.foreach { case (t, id) => v.put(t, id) }
    model.set[com.fasterxml.jackson.databind.JsonNode]("vocab", v)
    val ms = mapper.createArrayNode()
    merges.sortBy(_._1).foreach { m =>
      if (arrayMerges) {
        val pair = mapper.createArrayNode()
        pair.add(m._2); pair.add(m._3); ms.add(pair)
      } else ms.add(s"${m._2} ${m._3}")
    }
    model.set[com.fasterxml.jackson.databind.JsonNode]("merges", ms)
    root.set[com.fasterxml.jackson.databind.JsonNode]("model", model)
    val dir = java.nio.file.Files.createTempDirectory("graft_tokjson")
    val p = dir.resolve("tokenizer.json")
    java.nio.file.Files.write(p, mapper.writeValueAsBytes(root))
    p.toString
  }

  test("loadTokenizerJson: the HF single-file format (both merge " +
      "spellings) loads to the SAME (merges, vocab) as the GPT-2 pair " +
      "of the same tokenizer, and encodes bit-identically") {
    import spark.implicits._
    val df = Seq("the cat the cat the cat sat", "the cat sat there")
      .toDF("text").withColumn("id", monotonically_increasing_id())
    val trained = Bpe.trainBytes(df, "text", numMerges = 12,
      tokenPattern = graft.functions.TextFunctions.bpeBytePatternFull)
    val specials = Seq("<|endoftext|>")
    val vocab = Bpe.vocabBytes(trained, specials)
    // the GPT-2 pair of the same tokenizer — the parity reference
    val gptDir = java.nio.file.Files
      .createTempDirectory("graft_gpt2_ref").toString
    Bpe.saveGpt2(spark, trained, gptDir, specials)
    val (gm, gv) = Bpe.loadGpt2(spark, gptDir)

    for (arrayMerges <- Seq(false, true)) {
      val path = writeTokenizerJson(trained, vocab, arrayMerges)
      val (tm, tv) = Bpe.loadTokenizerJson(spark, path)
      assert(tm == gm, s"merges differ (arrayMerges=$arrayMerges)")
      assert(tv == gv, s"vocab differs (arrayMerges=$arrayMerges)")
      val viaJson = Bpe.encodeIdsBytes(df, "id", "text", tm, tv,
          graft.functions.TextFunctions.bpeBytePatternFull)
        .select(col("id"), col("token_ids")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
      val viaPair = Bpe.encodeIdsBytes(df, "id", "text", gm, gv,
          graft.functions.TextFunctions.bpeBytePatternFull)
        .select(col("id"), col("token_ids")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
      assert(viaJson == viaPair,
        s"encode parity broke (arrayMerges=$arrayMerges)")
    }

    // added_tokens absent from model.vocab merge in (file id honored);
    // ByteLevel nested in a Sequence pre-tokenizer is accepted
    val noSpecialVocab = Bpe.vocabBytes(trained, Nil)
    val path2 = writeTokenizerJson(trained, noSpecialVocab,
      arrayMerges = true,
      addedTokens = Seq(("<|endoftext|>", 9999L)))
    val (_, v2) = Bpe.loadTokenizerJson(spark, path2)
    assert(v2.contains(("<|endoftext|>", 9999L)))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val seqPath = {
      val tree = mapper.readTree(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path2)))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val seq = mapper.createObjectNode()
      seq.put("type", "Sequence")
      val arr = mapper.createArrayNode()
      val bl = mapper.createObjectNode(); bl.put("type", "ByteLevel")
      arr.add(bl)
      seq.set[com.fasterxml.jackson.databind.JsonNode](
        "pretokenizers", arr)
      tree.set[com.fasterxml.jackson.databind.JsonNode](
        "pre_tokenizer", seq)
      val d = java.nio.file.Files.createTempDirectory("graft_tokseq")
      val p = d.resolve("tokenizer.json")
      java.nio.file.Files.write(p, mapper.writeValueAsBytes(tree))
      p.toString
    }
    assert(Bpe.loadTokenizerJson(spark, seqPath)._2
      .contains(("<|endoftext|>", 9999L)))
  }

  test("loadTokenizerJson rejects unsupported tokenizers LOUDLY: " +
      "non-BPE models, dropout, WordPiece prefixes, non-ByteLevel " +
      "pre-tokenizers, and mismatched merge/vocab artifacts") {
    import spark.implicits._
    val df = Seq("aa ab aa ab aa").toDF("text")
      .withColumn("id", monotonically_increasing_id())
    val trained = Bpe.trainBytes(df, "text", numMerges = 3,
      tokenPattern = graft.functions.TextFunctions.bpeBytePatternFull)
    val vocab = Bpe.vocabBytes(trained, Nil)
    def expectReject(path: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](
        Bpe.loadTokenizerJson(spark, path))
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    expectReject(writeTokenizerJson(trained, vocab, arrayMerges = true,
      modelType = "Unigram"), "unsupported tokenizer model type")
    expectReject(writeTokenizerJson(trained, vocab, arrayMerges = true,
      extraModel = Map("continuing_subword_prefix" -> "##")),
      "continuing_subword_prefix")
    expectReject(writeTokenizerJson(trained, vocab, arrayMerges = true,
      preType = "Whitespace"), "not ByteLevel")
    // semantics flags this engine does not implement refuse loudly
    val mapper0 = new com.fasterxml.jackson.databind.ObjectMapper()
    for (flag <- Seq("ignore_merges", "byte_fallback", "fuse_unk")) {
      val base0 = writeTokenizerJson(trained, vocab, arrayMerges = true)
      val t0 = mapper0.readTree(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(base0)))
      t0.get("model")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .put(flag, true)
      val d0 = java.nio.file.Files.createTempDirectory(s"graft_$flag")
      val p0 = d0.resolve("tokenizer.json")
      java.nio.file.Files.write(p0, mapper0.writeValueAsBytes(t0))
      expectReject(p0.toString, flag)
    }
    // an ABSENT pre-tokenizer (Llama-2-style sentencepiece file)
    // cannot be confirmed byte-level — refused, not mis-encoded
    val baseAbs = writeTokenizerJson(trained, vocab, arrayMerges = true)
    val tAbs = mapper0.readTree(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(baseAbs)))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    tAbs.remove("pre_tokenizer")
    val dAbs = java.nio.file.Files.createTempDirectory("graft_nopre")
    val pAbs = dAbs.resolve("tokenizer.json")
    java.nio.file.Files.write(pAbs, mapper0.writeValueAsBytes(tAbs))
    expectReject(pAbs.toString, "absent")
    // a merge whose result is missing from the vocab = mismatched file
    val missing = vocab.filterNot(_._1 == trained.head._4)
    expectReject(writeTokenizerJson(trained, missing,
      arrayMerges = false), "missing from")
    // truncation/padding blocks: the Bpe loader does not honor them
    // and refuses to silently ignore them (WordPiece/Unigram honor)
    val mapperTp = new com.fasterxml.jackson.databind.ObjectMapper()
    for ((block, body) <- Seq(
        "truncation" -> """{"max_length": 512,
          | "strategy": "LongestFirst", "stride": 0}""".stripMargin,
        "padding" -> """{"strategy": {"Fixed": 512},
          | "pad_id": 0}""".stripMargin)) {
      val baseTp = writeTokenizerJson(trained, vocab,
        arrayMerges = true)
      val tTp = mapperTp.readTree(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(baseTp)))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      tTp.set[com.fasterxml.jackson.databind.JsonNode](block,
        mapperTp.readTree(body))
      val dTp = java.nio.file.Files.createTempDirectory(s"graft_$block")
      val pTp = dTp.resolve("tokenizer.json")
      java.nio.file.Files.write(pTp, mapperTp.writeValueAsBytes(tTp))
      expectReject(pTp.toString, block)
    }
    // dropout is a stochastic encode — refused
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val base = writeTokenizerJson(trained, vocab, arrayMerges = true)
    val tree = mapper.readTree(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(base)))
    tree.get("model")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("dropout", 0.1)
    val d = java.nio.file.Files.createTempDirectory("graft_tokdrop")
    val p = d.resolve("tokenizer.json")
    java.nio.file.Files.write(p, mapper.writeValueAsBytes(tree))
    expectReject(p.toString, "dropout")
  }

  test("loadTokenizerJson rejects normalizers and id-injecting " +
      "post-processors (TemplateProcessing's BOS/EOS template would " +
      "silently shift every sequence); id-neutral ByteLevel passes") {
    import spark.implicits._
    val df = Seq("aa ab aa ab aa").toDF("text")
      .withColumn("id", monotonically_increasing_id())
    val trained = Bpe.trainBytes(df, "text", numMerges = 3,
      tokenPattern = graft.functions.TextFunctions.bpeBytePatternFull)
    val vocab = Bpe.vocabBytes(trained, Nil)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def mutate(field: String,
        node: com.fasterxml.jackson.databind.JsonNode): String = {
      val base = writeTokenizerJson(trained, vocab, arrayMerges = true)
      val tree = mapper.readTree(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(base)))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      tree.set[com.fasterxml.jackson.databind.JsonNode](field, node)
      val d = java.nio.file.Files.createTempDirectory("graft_tokpipe")
      val p = d.resolve("tokenizer.json")
      java.nio.file.Files.write(p, mapper.writeValueAsBytes(tree))
      p.toString
    }
    def typed(t: String) = {
      val n = mapper.createObjectNode(); n.put("type", t); n
    }
    def expectReject(path: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](
        Bpe.loadTokenizerJson(spark, path))
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    // a text-rewriting normalizer the engine cannot reproduce — any
    // type but pure NFC — refuses loudly (an EMPTY Sequence proves
    // nothing and refuses too)
    for (nt <- Seq("Lowercase", "Replace", "NFD", "NFKC", "Sequence"))
      expectReject(mutate("normalizer", typed(nt)), "normalizer")
    // a Sequence MIXING NFC with a rejected stage refuses — NFC must
    // be the WHOLE pipeline, not a prefix of one
    val mixedNorm = typed("Sequence")
    val mixedList = mapper.createArrayNode()
    mixedList.add(typed("NFC")); mixedList.add(typed("Lowercase"))
    mixedNorm.set[com.fasterxml.jackson.databind.JsonNode](
      "normalizers", mixedList)
    expectReject(mutate("normalizer", mixedNorm), "normalizer")
    // pure NFC: the LEGACY entry point still refuses (its callers
    // encode raw bytes), but pointing at the pipeline entry...
    expectReject(mutate("normalizer", typed("NFC")),
      "encodeIdsBytesPipeline")
    // ...and the pipeline entry ACCEPTS it, surfacing the flag
    val (mNfc, vNfc, needsNfc) = Bpe.loadTokenizerJsonPipeline(spark,
      mutate("normalizer", typed("NFC")))
    assert(needsNfc && vNfc.nonEmpty &&
      mNfc == trained.map(m => (m._1, m._2, m._3, m._4, 0L)))
    // a Sequence of ONLY NFC accepts too
    val nfcSeq = typed("Sequence")
    val nfcList = mapper.createArrayNode(); nfcList.add(typed("NFC"))
    nfcSeq.set[com.fasterxml.jackson.databind.JsonNode]("normalizers",
      nfcList)
    assert(Bpe.loadTokenizerJsonPipeline(spark,
      mutate("normalizer", nfcSeq))._3)
    // an absent normalizer reports needsNfc = false
    assert(!Bpe.loadTokenizerJsonPipeline(spark,
      writeTokenizerJson(trained, vocab, arrayMerges = true))._3)
    // id-injecting post-processors refuse; TemplateProcessing is the
    // published shape that carries a BOS/EOS template
    for (pt <- Seq("TemplateProcessing", "RobertaProcessing",
        "BertProcessing"))
      expectReject(mutate("post_processor", typed(pt)),
        "post-processor")
    // a Sequence hiding a TemplateProcessing inside refuses too
    val seqPost = typed("Sequence")
    val procs = mapper.createArrayNode()
    procs.add(typed("ByteLevel")); procs.add(typed("TemplateProcessing"))
    seqPost.set[com.fasterxml.jackson.databind.JsonNode]("processors",
      procs)
    expectReject(mutate("post_processor", seqPost), "post-processor")
    // the id-NEUTRAL shapes pass: ByteLevel post-processor (offset
    // trimming only — GPT-2's own file carries exactly this), and a
    // Sequence of ByteLevel
    val blPost = typed("ByteLevel")
    blPost.put("trim_offsets", true)
    assert(Bpe.loadTokenizerJson(spark,
      mutate("post_processor", blPost))._1 == trained.map(m =>
        (m._1, m._2, m._3, m._4, 0L)))
    val seqOk = typed("Sequence")
    val okProcs = mapper.createArrayNode(); okProcs.add(typed("ByteLevel"))
    seqOk.set[com.fasterxml.jackson.databind.JsonNode]("processors",
      okProcs)
    assert(Bpe.loadTokenizerJson(spark,
      mutate("post_processor", seqOk))._2.nonEmpty)
  }

  test("NFC-carrying tokenizer.json: encodeIdsBytesPipeline " +
      "NFC-normalizes before encode, so decomposed input yields the " +
      "ids the source tokenizer would emit (parity with the raw " +
      "encode of the precomposed form)") {
    import spark.implicits._
    val train = Seq("café crema café crema café")
      .toDF("text").withColumn("id", monotonically_increasing_id())
    val trained = Bpe.trainBytes(train, "text", numMerges = 4,
      tokenPattern = graft.functions.TextFunctions.bpeBytePatternFull)
    val vocab = Bpe.vocabBytes(trained, Nil)
    // write the artifact, then stamp a pure-NFC normalizer into it
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val base = writeTokenizerJson(trained, vocab, arrayMerges = true)
    val tree = mapper.readTree(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(base)))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val nfcNode = mapper.createObjectNode(); nfcNode.put("type", "NFC")
    tree.set[com.fasterxml.jackson.databind.JsonNode]("normalizer",
      nfcNode)
    val d = java.nio.file.Files.createTempDirectory("graft_toknfc")
    val p = d.resolve("tokenizer.json")
    java.nio.file.Files.write(p, mapper.writeValueAsBytes(tree))
    val (m, v, needsNfc) = Bpe.loadTokenizerJsonPipeline(spark,
      p.toString)
    assert(needsNfc)
    def ids(text: String, pipeline: Boolean): Seq[Long] = {
      val df = Seq((1L, text)).toDF("id", "text")
      val out =
        if (pipeline) Bpe.encodeIdsBytesPipeline(df, "id", "text", m,
          v, needsNfc, tokenPattern =
            graft.functions.TextFunctions.bpeBytePatternFull)
        else Bpe.encodeIdsBytes(df, "id", "text", m, v,
          graft.functions.TextFunctions.bpeBytePatternFull)
      out.select(col("token_ids")).head.getSeq[Long](0)
    }
    val composed = "café crema"        // é precomposed (NFC form)
    val decomposed = "café crema"     // e + combining acute
    assert(composed != decomposed) // genuinely different byte streams
    // what the source tokenizer (normalizer: NFC) emits for BOTH
    // spellings is the raw byte encode of the COMPOSED form
    val want = ids(composed, pipeline = false)
    assert(ids(decomposed, pipeline = true) == want,
      "decomposed input did not NFC-fold to the source tokenizer's ids")
    assert(ids(composed, pipeline = true) == want,
      "already-composed input must pass through NFC unchanged")
    // without the pipeline, the decomposed bytes encode DIFFERENTLY —
    // the mis-encode the legacy entry point's refusal protects against
    assert(ids(decomposed, pipeline = false) != want)
  }

  test("saveTokenizerJson: save→loadTokenizerJson is identity, the " +
      "saved json and the saveGpt2 pair of the same table encode " +
      "bit-identically, and the file's field shapes follow the " +
      "public tokenizers serialization") {
    import spark.implicits._
    val df = Seq("the cat the cat the cat sat", "the cat sat there")
      .toDF("text").withColumn("id", monotonically_increasing_id())
    val trained = Bpe.trainBytes(df, "text", numMerges = 12,
      tokenPattern = graft.functions.TextFunctions.bpeBytePatternFull)
    val specials = Seq("<|endoftext|>", "<|pad|>")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tokjson_save")
    val jsonPath = dir.resolve("tokenizer.json").toString
    Bpe.saveTokenizerJson(spark, trained, jsonPath, specials)
    // round trip ≡ the GPT-2 pair's load of the SAME table
    val gptDir = java.nio.file.Files
      .createTempDirectory("graft_gpt2_xfmt").toString
    Bpe.saveGpt2(spark, trained, gptDir, specials)
    val (gm, gv) = Bpe.loadGpt2(spark, gptDir)
    val (jm, jv) = Bpe.loadTokenizerJson(spark, jsonPath)
    assert(jm == gm, s"merges round-trip broke: $jm")
    assert(jv == gv, s"vocab round-trip broke: $jv")
    // cross-format encode parity on real text
    val viaJson = Bpe.encodeIdsBytes(df, "id", "text", jm, jv,
        graft.functions.TextFunctions.bpeBytePatternFull)
      .select(col("id"), col("token_ids")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
    val viaPair = Bpe.encodeIdsBytes(df, "id", "text", gm, gv,
        graft.functions.TextFunctions.bpeBytePatternFull)
      .select(col("id"), col("token_ids")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
    assert(viaJson == viaPair, "cross-format encode parity broke")
    // field shapes per the public serialization: BPE model with
    // array-pair merges, ByteLevel pipeline, null normalizer,
    // specials as added_tokens with special:true and NOT in
    // model.vocab (the loader re-merges them — asserted above)
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(jsonPath)))
    assert(tree.get("model").get("type").asText() == "BPE")
    assert(tree.get("normalizer").isNull)
    assert(tree.get("pre_tokenizer").get("type").asText() == "ByteLevel")
    assert(tree.get("post_processor").get("type").asText() ==
      "ByteLevel")
    assert(tree.get("decoder").get("type").asText() == "ByteLevel")
    val m0 = tree.get("model").get("merges").get(0)
    assert(m0.isArray && m0.size() == 2, s"merges not pairs: $m0")
    assert(tree.get("added_tokens").size() == 2)
    assert(tree.get("added_tokens").get(0).get("special").asBoolean())
    assert(tree.get("model").get("vocab").get("<|endoftext|>") == null,
      "specials leaked into model.vocab")
    // whitespace-carrying tables refuse (not byte-level)
    intercept[IllegalArgumentException](Bpe.saveTokenizerJson(spark,
      Seq((1, "a b", "c", "a bc", 0L)),
      dir.resolve("bad.json").toString))
  }

  test("punctuation and digit words: single-mark words never merge " +
      "(no pairs), digit runs merge like letter runs, regex " +
      "metacharacters in symbols are quoted") {
    import spark.implicits._
    val df = Seq("a.b a.b 12 12 12 .. ..").toDF("text")
    // words: a,.,b (x2 each), 12 (x3), . (x4 from '..' pairs split as
    // single marks). Only (1,2) repeats as an adjacent pair.
    val merges = Bpe.train(df, "text", 5)
    assert(merges == Seq((1, "1", "2", "12", 3L)))
    val enc = Bpe.encode(df.withColumn("id", lit(1L)), "id", "text",
      merges).select(col("tokens")).head.getSeq[String](0)
    assert(enc == Seq("a", ".", "b", "a", ".", "b", "12", "12", "12",
      ".", ".", ".", "."))
  }

  test("fertilityStats: hand fixture — planted-merge token count is " +
      "bytes minus disjoint occurrences, words are explicit-class " +
      "runs, empty-word stratum yields null fertility, milli-ratios " +
      "integer-exact") {
    import spark.implicits._
    val df = Seq(
      ("a", "king in winter inn"), // 18 bytes, 4 "in", 4 words
      ("a", "i n in"), //             6 bytes, 1 "in", 3 words
      ("b", "\t \r\n")) //            4 bytes, 0 "in", 0 words
      .toDF("lang", "text")
    val got = Bpe.fertilityStats(df, "text", "lang",
        merges = Seq((0, "i", "n", "in", 1L)),
        tokenPattern = graft.functions.TextFunctions.bpeBytePatternFull)
      .collect().map(r => r.getString(0) -> r).toMap
    val a = got("a")
    assert(a.getLong(a.fieldIndex("n_docs")) == 2L)
    assert(a.getLong(a.fieldIndex("n_bytes")) == 24L)
    assert(a.getLong(a.fieldIndex("n_tokens")) == 19L,
      "24 bytes - 5 disjoint 'in' instances")
    assert(a.getLong(a.fieldIndex("n_words")) == 7L)
    assert(a.getLong(a.fieldIndex("fertility_milli")) == 19000L / 7L)
    assert(a.getLong(a.fieldIndex("compression_milli")) == 24000L / 19L)
    val b = got("b")
    assert(b.getLong(b.fieldIndex("n_tokens")) == 4L,
      "whitespace-only doc: every byte its own token, merge inapplicable")
    assert(b.getLong(b.fieldIndex("n_words")) == 0L)
    assert(b.isNullAt(b.fieldIndex("fertility_milli")),
      "zero words must give null, not a division error")
    assert(b.getLong(b.fieldIndex("compression_milli")) == 1000L)
  }

  // ---- the assembled tokenizer.json surface (round 18) --------------

  /** A full-pipeline byte-level tokenizer.json: byte-identity vocab
    * (symbol of byte b at id b, so ids of ASCII text are its byte
    * values — the closed-form device x133 oracles with), specials
    * `<s>`/`</s>`/`<pad>` at 256/257/258, and caller-chosen
    * post_processor / truncation / padding / pre-tokenizer JSON
    * fragments.
    */
  private def writeAssembledJson(post: String,
      truncation: String = "null", padding: String = "null",
      pre: String =
        """{"type": "ByteLevel", "add_prefix_space": false,
          | "trim_offsets": true, "use_regex": true}""".stripMargin,
      merges: Seq[(Int, String, String, String, Long)] = Nil)
      : String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(
      s"""{"version": "1.0",
         | "truncation": $truncation,
         | "padding": $padding,
         | "normalizer": null,
         | "pre_tokenizer": $pre,
         | "post_processor": $post,
         | "model": {"type": "BPE", "dropout": null,
         |   "unk_token": null}}""".stripMargin)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val model = root.get("model")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val v = mapper.createObjectNode()
    Bpe.vocabBytes(merges, Seq("<s>", "</s>", "<pad>"))
      .foreach { case (t, id) => v.put(t, id) }
    model.set[com.fasterxml.jackson.databind.JsonNode]("vocab", v)
    val ms = mapper.createArrayNode()
    merges.sortBy(_._1).foreach { m =>
      val pair = mapper.createArrayNode()
      pair.add(m._2); pair.add(m._3); ms.add(pair)
    }
    model.set[com.fasterxml.jackson.databind.JsonNode]("merges", ms)
    val dir = java.nio.file.Files.createTempDirectory("graft_tokasm")
    val p = dir.resolve("tokenizer.json")
    java.nio.file.Files.write(p, mapper.writeValueAsBytes(root))
    p.toString
  }

  private val robertaPost =
    """{"type": "RobertaProcessing", "sep": ["</s>", 257],
      | "cls": ["<s>", 256], "trim_offsets": true,
      | "add_prefix_space": true}""".stripMargin

  test("loadTokenizerJsonAssembled: RobertaProcessing loads to the " +
      "published fixed template (all-zero type ids); single and pair " +
      "encodes assemble through the shared home with truncation, " +
      "Fixed padding and the positional mask — exact arrays on hand " +
      "fixtures; decode drops template + pad ids") {
    import spark.implicits._
    val path = writeAssembledJson(robertaPost,
      truncation = """{"direction": "Right", "max_length": 12,
        | "strategy": "LongestFirst", "stride": 0}""".stripMargin,
      padding = """{"strategy": {"Fixed": 12}, "direction": "Right",
        | "pad_to_multiple_of": null, "pad_id": 258,
        | "pad_type_id": 0, "pad_token": "<pad>"}""".stripMargin)
    val tok = Bpe.loadTokenizerJsonAssembled(spark, path)
    assert(tok.prefixIds == Seq(256L) && tok.suffixIds == Seq(257L))
    val pt = tok.pair.get
    assert(pt.pre == Seq((256L, 0L)) &&
      pt.mid == Seq((257L, 0L), (257L, 0L)) &&
      pt.post == Seq((257L, 0L)) && pt.typeA == 0L && pt.typeB == 0L,
      "RobertaProcessing pair form is <s> A </s> </s> B </s>, types 0")
    assert(tok.truncation.get.maxLength == 12 &&
      tok.padding.get.padId == 258L)

    // single: <s> a b c </s> + 7 pads; mask = 5 ones then 7 zeros
    val df1 = Seq((1L, "abc")).toDF("id", "text")
    val got1 = Bpe.encodeWithMask(df1, "id", "text", tok).collect()(0)
    assert(got1.getSeq[Long](1) ==
      Seq(256L, 97L, 98L, 99L, 257L) ++ Seq.fill(7)(258L))
    assert(got1.getSeq[Long](2) == Seq.fill(5)(1L) ++ Seq.fill(7)(0L))

    // pair: la=8, lb=3, budget 12-4=8 -> fa=min(8,max(4,5))=5, fb=3
    val df2 = Seq((1L, "abcdefgh", "xyz")).toDF("id", "a", "b")
    val got2 = Bpe.encodePairWithMask(df2, "id", "a", "b", tok)
      .collect()(0)
    assert(got2.getSeq[Long](1) ==
      Seq(256L, 97L, 98L, 99L, 100L, 101L, 257L, 257L, 120L, 121L,
        122L, 257L),
      "longest-first keeps 5 of A, all 3 of B; no pads at length 12")
    assert(got2.getSeq[Long](2) == Seq.fill(12)(0L),
      "RoBERTa type ids are all zero, content and template alike")
    assert(got2.getSeq[Long](3) == Seq.fill(12)(1L))

    // decode: template + pad ids dropped, bytes unmapped
    val dec = df1.select(Bpe.decodeColumn(
      Bpe.encodeColumn(col("text"), tok), tok).as("t")).collect()(0)
    assert(dec.getString(0) == "abc")
  }

  test("assembled surface refusals + collision-proof mask: pair " +
      "encode without a pair template, only_second on single encode, " +
      "use_regex=false (both loaders), add_prefix_space=true (tuple " +
      "loader only), a Split sibling inside a Sequence pre-tokenizer, " +
      "and a pad id colliding with a content id never zeroes real " +
      "tokens") {
    import spark.implicits._
    // no pair template -> pair encode refuses
    val noPair = Bpe.loadTokenizerJsonAssembled(spark,
      writeAssembledJson("null"))
    val df = Seq((1L, "ab", "cd")).toDF("id", "a", "b")
    val e1 = intercept[IllegalArgumentException](
      Bpe.encodePair(df, "id", "a", "b", noPair))
    assert(e1.getMessage.contains("no PAIR template"))

    // only_second loads but refuses on the single surface at plan time
    val onlySecond = Bpe.loadTokenizerJsonAssembled(spark,
      writeAssembledJson(robertaPost,
        truncation = """{"direction": "Right", "max_length": 12,
          | "strategy": "OnlySecond", "stride": 0}""".stripMargin))
    val e2 = intercept[IllegalArgumentException](
      Bpe.encodeColumn(col("text"), onlySecond))
    assert(e2.getMessage.contains("only_second"))

    // use_regex=false refuses in BOTH loaders
    val noRegex = writeAssembledJson("null",
      pre = """{"type": "ByteLevel", "add_prefix_space": false,
        | "trim_offsets": true, "use_regex": false}""".stripMargin)
    assert(intercept[IllegalArgumentException](
      Bpe.loadTokenizerJsonAssembled(spark, noRegex))
      .getMessage.contains("use_regex"))
    assert(intercept[IllegalArgumentException](
      Bpe.loadTokenizerJsonPipeline(spark, noRegex))
      .getMessage.contains("use_regex"))

    // add_prefix_space=true: refused by the tuple loader, HONORED by
    // the assembled one — "ab" and " ab" encode identically
    val aps = writeAssembledJson("null",
      pre = """{"type": "ByteLevel", "add_prefix_space": true,
        | "trim_offsets": true, "use_regex": true}""".stripMargin)
    assert(intercept[IllegalArgumentException](
      Bpe.loadTokenizerJsonPipeline(spark, aps))
      .getMessage.contains("add_prefix_space"))
    val apsTok = Bpe.loadTokenizerJsonAssembled(spark, aps)
    val both = Seq((1L, "ab"), (2L, " ab")).toDF("id", "text")
    val ids = Bpe.encodeIds(both, "id", "text", apsTok).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(ids(1L) == Seq(32L, 97L, 98L) && ids(1L) == ids(2L),
      "prefix space: Ġ(32) then bytes, identical with or without a " +
        "leading space")

    // a Split sibling (the Llama-3/Qwen2 shape) is HONORED by the
    // assembled loader and refused by the tuple one; an unknown
    // member (Whitespace) still refuses everywhere
    val split = writeAssembledJson("null",
      pre = """{"type": "Sequence", "pretokenizers": [
        | {"type": "Split", "pattern": {"Regex": "[a-z]+|[^a-z]+"},
        |  "behavior": "Isolated", "invert": false},
        | {"type": "ByteLevel", "add_prefix_space": false,
        |  "use_regex": false}]}""".stripMargin)
    assert(Bpe.loadTokenizerJsonAssembled(spark, split).splitPre)
    assert(intercept[IllegalArgumentException](
      Bpe.loadTokenizerJsonPipeline(spark, split))
      .getMessage.contains("Split"))
    val unknown = writeAssembledJson("null",
      pre = """{"type": "Sequence", "pretokenizers": [
        | {"type": "Whitespace"},
        | {"type": "ByteLevel", "add_prefix_space": false,
        |  "use_regex": false}]}""".stripMargin)
    assert(intercept[IllegalArgumentException](
      Bpe.loadTokenizerJsonAssembled(spark, unknown))
      .getMessage.contains("not ByteLevel"))

    // pad id == 'a' (97): the mask is POSITIONAL — real 97s stay 1
    val collide = Bpe.loadTokenizerJsonAssembled(spark,
      writeAssembledJson(robertaPost,
        padding = """{"strategy": {"Fixed": 8}, "direction": "Right",
          | "pad_to_multiple_of": null, "pad_id": 97,
          | "pad_type_id": 0}""".stripMargin))
    val got = Bpe.encodeWithMask(Seq((1L, "aaa")).toDF("id", "text"),
      "id", "text", collide).collect()(0)
    assert(got.getSeq[Long](1) ==
      Seq(256L, 97L, 97L, 97L, 257L, 97L, 97L, 97L))
    assert(got.getSeq[Long](2) == Seq.fill(5)(1L) ++ Seq.fill(3)(0L),
      "content 'a' tokens share the pad id yet stay masked IN")
  }

  test("assembled surface: the published GPT-2 ByteLevel regex is " +
      "the split (merges cannot cross pre-token boundaries; " +
      "contraction suffixes are their own pre-tokens); core ids " +
      "match the tuple path under the same pattern; save -> load is " +
      "the identity incl. Roberta-as-TemplateProcessing") {
    import spark.implicits._
    val df = Seq((1L, "don't")).toDF("id", "text")
    // merge (n, ') straddles the don|'t boundary -> must NOT apply
    val straddle = Bpe.loadTokenizerJsonAssembled(spark,
      writeAssembledJson("null",
        merges = Seq((1, "n", "'", "n'", 0L))))
    assert(Bpe.encodeIds(df, "id", "text", straddle).collect()(0)
      .getSeq[Long](1) == Seq(100L, 111L, 110L, 39L, 116L),
      "raw bytes of d o n ' t — the straddling merge never fires")
    // merge (', t) is INSIDE the 't pre-token -> applies
    val inside = Bpe.loadTokenizerJsonAssembled(spark,
      writeAssembledJson("null",
        merges = Seq((1, "'", "t", "'t", 0L))))
    assert(Bpe.encodeIds(df, "id", "text", inside).collect()(0)
      .getSeq[Long](1) == Seq(100L, 111L, 110L, 256L),
      "'t merges to the first post-alphabet id")

    // parity with the tuple path under the same pattern
    val corpus = Seq((1L, "the cat the cat sat"), (2L, "don't stop"))
      .toDF("id", "text")
    val plain = Bpe.loadTokenizerJsonAssembled(spark,
      writeAssembledJson("null"))
    val viaAssembled = Bpe.encodeIds(corpus, "id", "text", plain)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaTuple = Bpe.encodeIdsBytes(corpus, "id", "text",
        plain.merges, plain.vocab,
        graft.functions.TextFunctions.bpeByteLevelGpt2Pattern)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Long](r.fieldIndex("token_ids"))).toMap
    assert(viaAssembled == viaTuple)

    // offsets ride the SAME merge fold: id stream of the offsets
    // surface equals encodeColumn's ids on a real trained table
    val corpus2 = Seq((1L, "the cat the cat sat there"),
      (2L, "a cat sat")).toDF("id", "text")
    val trained = Bpe.trainBytes(corpus2, "text", numMerges = 8,
      tokenPattern =
        graft.functions.TextFunctions.bpeByteLevelGpt2Pattern)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val trainedTok = Bpe.loadTokenizerJsonAssembled(spark, {
      val root = mapper.readTree(
        """{"version": "1.0", "truncation": null, "padding": null,
          | "normalizer": null,
          | "pre_tokenizer": {"type": "ByteLevel",
          |   "add_prefix_space": false, "use_regex": true},
          | "post_processor": null,
          | "model": {"type": "BPE"}}""".stripMargin)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val model = root.get("model")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val v = mapper.createObjectNode()
      Bpe.vocabBytes(trained).foreach { case (t, id) => v.put(t, id) }
      model.set[com.fasterxml.jackson.databind.JsonNode]("vocab", v)
      val ms = mapper.createArrayNode()
      trained.sortBy(_._1).foreach { m =>
        val p = mapper.createArrayNode(); p.add(m._2); p.add(m._3)
        ms.add(p)
      }
      model.set[com.fasterxml.jackson.databind.JsonNode]("merges", ms)
      val d = java.nio.file.Files.createTempDirectory("graft_tokoff")
        .resolve("tokenizer.json")
      java.nio.file.Files.write(d, mapper.writeValueAsBytes(root))
      d.toString
    })
    val viaOff = corpus2.select(col("id"), transform(
        Bpe.encodeOffsetsColumn(col("text"), trainedTok),
        t => t.getField("id")).as("ids")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaIds = Bpe.encodeIds(corpus2, "id", "text", trainedTok)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaOff == viaIds,
      "offsets and id kernels share one merge fold — streams equal")

    // save -> load identity (Roberta re-emits as TemplateProcessing
    // carrying the same ids)
    val tok = Bpe.loadTokenizerJsonAssembled(spark,
      writeAssembledJson(robertaPost,
        truncation = """{"direction": "Left", "max_length": 9,
          | "strategy": "OnlyFirst", "stride": 0}""".stripMargin,
        padding = """{"strategy": {"Fixed": 9}, "direction": "Left",
          | "pad_to_multiple_of": null, "pad_id": 258,
          | "pad_type_id": 0, "pad_token": "<pad>"}""".stripMargin))
    val out = java.nio.file.Files
      .createTempDirectory("graft_tokasm_save")
      .resolve("tokenizer.json").toString
    Bpe.saveTokenizerJsonAssembled(spark, tok, out)
    val re = Bpe.loadTokenizerJsonAssembled(spark, out)
    assert(re == tok, "save→load must be the identity")
    // and with a merge table (template-free): merges survive the trip
    val out2 = java.nio.file.Files
      .createTempDirectory("graft_tokasm_save2")
      .resolve("tokenizer.json").toString
    Bpe.saveTokenizerJsonAssembled(spark, inside, out2)
    assert(Bpe.loadTokenizerJsonAssembled(spark, out2) == inside)
  }

  test("encodeOffsetsColumn hand fixtures: merged-token spans, " +
      "leading-space coverage, multi-byte and astral characters " +
      "covered whole (split tokens share the character's span), " +
      "offsets stay aligned AFTER a multi-byte character, the " +
      "add_prefix_space view shift, and truncation + template + " +
      "padding books on the offsets surface") {
    import spark.implicits._
    def offs(tok: Bpe.BpeTokenizer, text: String)
        : Seq[(Long, Int, Int)] =
      Seq((1L, text)).toDF("id", "text")
        .select(Bpe.encodeOffsetsColumn(col("text"), tok).as("t"))
        .collect()(0).getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))

    // merge (a,b): "xab yab" -> x|ab, Ġ|y|ab with byte-exact spans
    val merged = Bpe.loadTokenizerJsonAssembled(spark,
      writeAssembledJson("null",
        merges = Seq((1, "a", "b", "ab", 0L))))
    assert(offs(merged, "xab yab") == Seq((120L, 0, 1), (256L, 1, 3),
      (32L, 3, 4), (121L, 4, 5), (256L, 5, 7)))

    // é = 2 bytes, ONE code point: both byte tokens cover the char;
    // a following word's offsets are NOT shifted by the extra byte
    val plain = Bpe.loadTokenizerJsonAssembled(spark,
      writeAssembledJson("null"))
    assert(offs(plain, "é a") == Seq((195L, 0, 1), (169L, 0, 1),
      (32L, 1, 2), (97L, 2, 3)))
    // astral (4 bytes, 2 UTF-16 units, ONE code point): four tokens,
    // one span
    assert(offs(plain, "😀") ==
      Seq((240L, 0, 1), (159L, 0, 1), (152L, 0, 1), (128L, 0, 1)))
    // a merge joining the two é bytes: one token, the char's span
    val eMerged = Bpe.loadTokenizerJsonAssembled(spark,
      writeAssembledJson("null",
        merges = Seq((1, "Ã", "©", "Ã©", 0L))))
    assert(offs(eMerged, "é") == Seq((256L, 0, 1)))

    // add_prefix_space: spans index the PREFIXED view
    val aps = Bpe.loadTokenizerJsonAssembled(spark,
      writeAssembledJson("null",
        pre = """{"type": "ByteLevel", "add_prefix_space": true,
          | "trim_offsets": true, "use_regex": true}""".stripMargin))
    assert(offs(aps, "ab") == Seq((32L, 0, 1), (97L, 1, 2),
      (98L, 2, 3)))

    // truncation + Roberta template + Fixed padding: specials and
    // pads at the published (0,0); content truncated to budget 10
    val full = Bpe.loadTokenizerJsonAssembled(spark,
      writeAssembledJson(robertaPost,
        truncation = """{"direction": "Right", "max_length": 7,
          | "strategy": "LongestFirst", "stride": 0}""".stripMargin,
        padding = """{"strategy": {"Fixed": 7}, "direction": "Right",
          | "pad_to_multiple_of": null, "pad_id": 258,
          | "pad_type_id": 0}""".stripMargin))
    // budget 7 - 2 single-template ids = 5; "abcdefg" keeps 5
    assert(offs(full, "abcdefg") == Seq((256L, 0, 0), (97L, 0, 1),
      (98L, 1, 2), (99L, 2, 3), (100L, 3, 4), (101L, 4, 5),
      (257L, 0, 0)))
    assert(offs(full, "ab") == Seq((256L, 0, 0), (97L, 0, 1),
      (98L, 1, 2), (257L, 0, 0), (258L, 0, 0), (258L, 0, 0),
      (258L, 0, 0)))
  }

  /** The VERBATIM published Llama-3 pre-tokenization regex. */
  private val llama3Regex =
    "(?i:'s|'t|'re|'ve|'m|'ll|'d)|[^\\r\\n\\p{L}\\p{N}]?\\p{L}+|" +
      "\\p{N}{1,3}| ?[^\\s\\p{L}\\p{N}]+[\\r\\n]*|\\s*[\\r\\n]+|" +
      "\\s+(?!\\S)|\\s+"

  private def llama3Pre(regex: String): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    s"""{"type": "Sequence", "pretokenizers": [
       | {"type": "Split",
       |  "pattern": {"Regex": ${mapper.writeValueAsString(regex)}},
       |  "behavior": "Isolated", "invert": false},
       | {"type": "ByteLevel", "add_prefix_space": false,
       |  "trim_offsets": true, "use_regex": false}]}""".stripMargin
  }

  test("the Llama-3/Qwen2 shape loads and encodes: the file's Split " +
      "regex drives segmentation (case-insensitive contractions, " +
      "digit triples — pinned by merges that fire only under the " +
      "right split), ignore_merges emits whole-vocab pre-tokens " +
      "unmerged on BOTH kernels, a gap-leaving Split regex fails " +
      "LOUDLY, a Sequence post-processor carries its one template, " +
      "and save -> load is the identity") {
    import spark.implicits._
    def df1(t: String) = Seq((1L, t)).toDF("id", "text")
    def ids(tok: Bpe.BpeTokenizer, t: String): Seq[Long] =
      Bpe.encodeIds(df1(t), "id", "text", tok).collect()(0)
        .getSeq[Long](1)

    // merge (', T): llama's case-INSENSITIVE contraction puts 'T in
    // one pre-token -> merges; the GPT-2 default (lowercase-only
    // contractions) splits ' from T -> must not merge
    def withMerges(pre: String, im: Boolean,
        ms: Seq[(Int, String, String, String, Long)],
        added: Seq[(String, Long)] = Nil) = {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(
        s"""{"version": "1.0", "truncation": null, "padding": null,
           | "normalizer": null,
           | "pre_tokenizer": $pre,
           | "post_processor": null,
           | "model": {"type": "BPE", "ignore_merges": $im}}"""
          .stripMargin)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val model = root.get("model")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val v = mapper.createObjectNode()
      Bpe.vocabBytes(ms).foreach { case (t, id) => v.put(t, id) }
      added.foreach { case (t, id) => v.put(t, id) }
      model.set[com.fasterxml.jackson.databind.JsonNode]("vocab", v)
      val arr = mapper.createArrayNode()
      ms.sortBy(_._1).foreach { m =>
        val p = mapper.createArrayNode(); p.add(m._2); p.add(m._3)
        arr.add(p)
      }
      model.set[com.fasterxml.jackson.databind.JsonNode]("merges",
        arr)
      val d = java.nio.file.Files.createTempDirectory("graft_llama")
        .resolve("tokenizer.json")
      java.nio.file.Files.write(d, mapper.writeValueAsBytes(root))
      Bpe.loadTokenizerJsonAssembled(spark, d.toString)
    }
    val contr = withMerges(llama3Pre(llama3Regex), im = false,
      ms = Seq((1, "'", "T", "'T", 0L)))
    assert(ids(contr, "DON'T") == Seq(68L, 79L, 78L, 256L),
      "llama regex: 'T is one pre-token, the merge fires")
    val contrGpt = Bpe.loadTokenizerJsonAssembled(spark,
      writeAssembledJson("null",
        merges = Seq((1, "'", "T", "'T", 0L))))
    assert(ids(contrGpt, "DON'T") == Seq(68L, 79L, 78L, 39L, 84L),
      "GPT-2 regex: lowercase-only contractions; ' and T split")
    // merge (3, 4): llama's \p{N}{1,3} puts a boundary at 123|45 ->
    // must NOT merge; the GPT-2 digit-run regex would
    val digits = withMerges(llama3Pre(llama3Regex), im = false,
      ms = Seq((1, "3", "4", "34", 0L)))
    assert(ids(digits, "12345") == Seq(49L, 50L, 51L, 52L, 53L),
      "llama regex: digit triples — the 3|4 boundary blocks the merge")
    val digitsGpt = Bpe.loadTokenizerJsonAssembled(spark,
      writeAssembledJson("null",
        merges = Seq((1, "3", "4", "34", 0L))))
    assert(ids(digitsGpt, "12345") == Seq(49L, 50L, 256L, 53L))

    // ignore_merges: a whole-vocab pre-token never merges — on the
    // id kernel AND the offsets kernel (one token, whole span)
    val ig = withMerges(llama3Pre(llama3Regex), im = true,
      ms = Seq((1, "a", "b", "ab", 0L)),
      added = Seq(("abc", 300L)))
    assert(ids(ig, "abc") == Seq(300L),
      "whole-word vocab hit emits unmerged")
    assert(ids(ig, "abd") == Seq(256L, 100L),
      "non-vocab word still merges (ab + d)")
    val igOffs = df1("abc").select(
      Bpe.encodeOffsetsColumn(col("text"), ig).as("t"))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(igOffs == Seq((300L, 0, 3)))

    // a gap-leaving Split regex fails LOUDLY at encode (both kernels)
    val gappy = withMerges(llama3Pre("[a-z]+"), im = false, ms = Nil)
    val e1 = intercept[Exception](ids(gappy, "ab cd"))
    assert(e1.getMessage != null &&
      (e1.getMessage.contains("covered only") ||
        e1.getMessage.contains("leaves")) ||
      e1.getCause != null, s"unexpected: $e1")
    val e2 = intercept[Exception](df1("ab cd").select(
      Bpe.encodeOffsetsColumn(col("text"), gappy).as("t")).collect())
    assert(e2 != null)

    // Sequence post-processor: [ByteLevel, TemplateProcessing] — the
    // Llama-3 shape — carries its one template
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val seqPost = Bpe.loadTokenizerJsonAssembled(spark, {
      val root = mapper.readTree(
        s"""{"version": "1.0", "truncation": null, "padding": null,
           | "normalizer": null,
           | "pre_tokenizer": ${llama3Pre(llama3Regex)},
           | "post_processor": {"type": "Sequence", "processors": [
           |   {"type": "ByteLevel", "trim_offsets": true},
           |   {"type": "TemplateProcessing",
           |    "single": [
           |      {"SpecialToken": {"id": "<bos>", "type_id": 0}},
           |      {"Sequence": {"id": "A", "type_id": 0}}],
           |    "special_tokens": {
           |      "<bos>": {"id": "<bos>", "ids": [300],
           |        "tokens": ["<bos>"]}}}]},
           | "model": {"type": "BPE", "ignore_merges": true}}"""
          .stripMargin)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val model = root.get("model")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val v = mapper.createObjectNode()
      Bpe.vocabBytes(Nil).foreach { case (t, id) => v.put(t, id) }
      v.put("<bos>", 300L)
      model.set[com.fasterxml.jackson.databind.JsonNode]("vocab", v)
      model.set[com.fasterxml.jackson.databind.JsonNode]("merges",
        mapper.createArrayNode())
      val d = java.nio.file.Files.createTempDirectory("graft_llpost")
        .resolve("tokenizer.json")
      java.nio.file.Files.write(d, mapper.writeValueAsBytes(root))
      d.toString
    })
    assert(seqPost.prefixIds == Seq(300L) &&
      seqPost.suffixIds.isEmpty && seqPost.ignoreMerges)
    assert(ids(seqPost, "ab") == Seq(300L, 97L, 98L))

    // save -> load identity preserves the Split regex, ignore_merges
    // and the template
    val out = java.nio.file.Files
      .createTempDirectory("graft_llama_save")
      .resolve("tokenizer.json").toString
    Bpe.saveTokenizerJsonAssembled(spark, seqPost, out)
    assert(Bpe.loadTokenizerJsonAssembled(spark, out) == seqPost)
  }

  test("decoder block verified, never silently ignored: ByteLevel " +
      "(incl. Sequence-of-ByteLevel) accepts — it IS the engine's " +
      "byte-unmap decode — and any other decoder type refuses in " +
      "BOTH loaders") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def withDecoder(dec: String): String = {
      val base = writeAssembledJson("null")
      val tree = mapper.readTree(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(base)))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      tree.set[com.fasterxml.jackson.databind.JsonNode]("decoder",
        mapper.readTree(dec))
      val d = java.nio.file.Files.createTempDirectory("graft_bpedec")
        .resolve("tokenizer.json")
      java.nio.file.Files.write(d, mapper.writeValueAsBytes(tree))
      d.toString
    }
    // accepted: the engine's own decode convention
    Bpe.loadTokenizerJsonAssembled(spark, withDecoder(
      """{"type": "ByteLevel", "add_prefix_space": true,
        | "trim_offsets": true, "use_regex": true}""".stripMargin))
    Bpe.loadTokenizerJsonAssembled(spark, withDecoder(
      """{"type": "Sequence", "decoders": [
        | {"type": "ByteLevel"}]}""".stripMargin))
    // refused: any decode that is not the byte unmap
    for (bad <- Seq("""{"type": "WordPiece"}""",
        """{"type": "Metaspace"}""",
        """{"type": "Sequence", "decoders": [
          | {"type": "ByteLevel"}, {"type": "Fuse"}]}"""
          .stripMargin)) {
      val p = withDecoder(bad)
      assert(intercept[IllegalArgumentException](
        Bpe.loadTokenizerJsonAssembled(spark, p))
        .getMessage.contains("decoder type"))
      assert(intercept[IllegalArgumentException](
        Bpe.loadTokenizerJsonPipeline(spark, p))
        .getMessage.contains("decoder type"))
    }
  }

  test("padBatchLongest: the BATCH-property padding the per-row " +
      "loaders refuse, as an explicit two-pass operator — exact " +
      "arrays right and left, type ids padded to the same width, " +
      "the mask positional from the pre-padding length, a null " +
      "sequence refuses loudly, empty input yields empty output") {
    import spark.implicits._
    import graft.operators.TokenizerTruncation
    val df = Seq(
      (1L, Seq(7L, 8L), Seq(0L, 1L)),
      (2L, Seq.empty[Long], Seq.empty[Long]),
      (3L, Seq(5L, 5L, 5L, 5L), Seq(1L, 1L, 1L, 1L)))
      .toDF("id", "ids", "types")
    val right = TokenizerTruncation.padBatchLongest(df, "ids",
        padId = 99L, typeIdsCol = Some("types"), padTypeId = 9L)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1),
        r.getSeq[Long](2), r.getSeq[Long](3))).sortBy(_._1)
    assert(right.toSeq == Seq(
      (1L, Seq(7L, 8L, 99L, 99L), Seq(0L, 1L, 9L, 9L),
        Seq(1L, 1L, 0L, 0L)),
      (2L, Seq(99L, 99L, 99L, 99L), Seq(9L, 9L, 9L, 9L),
        Seq(0L, 0L, 0L, 0L)),
      (3L, Seq(5L, 5L, 5L, 5L), Seq(1L, 1L, 1L, 1L),
        Seq(1L, 1L, 1L, 1L))))
    val left = TokenizerTruncation.padBatchLongest(df, "ids",
        padId = 99L, direction = "left")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
      .sortBy(_._1).toMap
    assert(left(1L) == Seq(99L, 99L, 7L, 8L))
    // pad id COLLIDING with a content id stays masked IN (positional)
    val collide = TokenizerTruncation.padBatchLongest(df, "ids",
        padId = 5L).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](r.fieldIndex(
        "attention_mask")))).toMap
    assert(collide(3L) == Seq(1L, 1L, 1L, 1L),
      "row 3 is all content 5s; a value-matched mask would zero it")
    // null sequence refuses loudly
    val withNull = Seq((1L, Seq(1L)), (2L, null))
      .toDF("id", "ids")
    val e = intercept[Exception](TokenizerTruncation
      .padBatchLongest(withNull, "ids", padId = 0L).collect())
    assert(e.getMessage.contains("null") ||
      (e.getCause != null && e.getCause.getMessage.contains("null")))
    // empty input yields empty output (the max agg's null coalesces)
    assert(TokenizerTruncation.padBatchLongest(
      df.filter(col("id") < 0), "ids", padId = 0L).count() == 0L)
  }

  test("tokenWindowSpansBpe: provenance chunks under the byte-level " +
      "lineage — merged tokens keep whole-span chunks, every chunk's " +
      "span re-extracts exactly its text from the encode view, a " +
      "templated tokenizer refuses, and the plan is a pure " +
      "projection") {
    import spark.implicits._
    // merge (a,b): "xab yab zq" tokens x|ab|Ġ|y|ab|Ġ|z|q with spans
    // (0,1)(1,3)(3,4)(4,5)(5,7)(7,8)(8,9)(9,10); width 3 / stride 2
    val tok = Bpe.loadTokenizerJsonAssembled(spark,
      writeAssembledJson("null",
        merges = Seq((1, "a", "b", "ab", 0L))))
    val rows = graft.operators.Chunking.tokenWindowSpansBpe(
      Seq(("d", "xab yab zq")).toDF("id", "t"),
      "id", "t", tok, width = 3, stride = 2)
      .orderBy(col("chunk_idx")).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getSeq[Long](3),
        r.getLong(4), r.getLong(5), r.getString(6)))
    assert(rows.toSeq == Seq(
      (0, 3L, Seq(120L, 256L, 32L), 0L, 4L, "xab "),
      (1, 3L, Seq(32L, 121L, 256L), 3L, 7L, " yab"),
      (2, 3L, Seq(256L, 32L, 122L), 5L, 9L, "ab z"),
      (3, 2L, Seq(122L, 113L), 8L, 10L, "zq")))
    // re-extraction property on a messier line (punctuation, digits,
    // contractions — the published regex's own split points)
    val doc = Seq(("d", "The quick, brown fox! don't jump 42 times."))
      .toDF("id", "t")
    val again = graft.operators.Chunking.tokenWindowSpansBpe(
      doc, "id", "t", tok, width = 4, stride = 3)
    val mismatch = again.join(doc, "id")
      .filter(col("chunk_text") =!=
        col("t").substr(col("char_start").cast("int") + 1,
          (col("char_end") - col("char_start")).cast("int")))
      .count()
    assert(mismatch == 0L, "a chunk span failed to re-extract its text")
    // templated tokenizer refuses loudly
    val tokT = Bpe.loadTokenizerJsonAssembled(spark,
      writeAssembledJson(robertaPost))
    val e = intercept[IllegalArgumentException] {
      graft.operators.Chunking.tokenWindowSpansBpe(
        Seq(("d", "x")).toDF("id", "t"), "id", "t", tokT, 3, 2)
    }
    assert(e.getMessage.contains("template-free"))
    // zero shuffles: chunking is a pure map
    val plan = graft.operators.Chunking.tokenWindowSpansBpe(
      Seq(("d", "the cat")).toDF("id", "t"), "id", "t", tok, 3, 2)
      .queryExecution.executedPlan
    assert(plan.collect {
      case x: org.apache.spark.sql.execution.exchange.Exchange => x
    }.isEmpty, "tokenWindowSpansBpe introduced a shuffle")
  }
}
