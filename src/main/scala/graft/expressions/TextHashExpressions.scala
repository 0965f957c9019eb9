package graft.expressions

import java.util.regex.Pattern

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass text/hash kernels for the dedup operators.
  *
  * The composed higher-order-function forms (`transform(sequence(...),
  * i -> array_join(slice(tokens, i, k)))` etc.) re-evaluate the token
  * subexpression per produced element and run interpreted — measured
  * ~400 s just to shingle 5000 docs at sf0.1. Each expression here is
  * one compiled pass over the row.
  *
  * Hashing uses Spark's own XXH64 with seed 42 — identical to the SQL
  * `xxhash64()` function, so results are deterministic and stable across
  * partitionings, executors, and re-runs.
  */
private[graft] object Tok {
  val ws: Pattern = Pattern.compile("\\s+")

  /** Whitespace tokens of lowercase(text), empties dropped — exactly
    * `filter(split(lower(text), "\\s+"), t -> length(t) > 0)` and the
    * oracle's `list_filter(string_split_regex(lower(text),'\s+'), ...)`.
    */
  def tokens(text: UTF8String): Array[String] =
    ws.split(text.toLowerCase.toString).filter(_.nonEmpty)
}

/** Distinct word-k-shingles (space-joined) of a text column; empty array
  * when fewer than k tokens. Output is SORTED in UTF8String binary order
  * — [[SortedArrayIntersectCount]] relies on that contract for its
  * linear merge.
  */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression with UnaryKernelCodegen {

  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"

  override def kernel(t: Any): Any = {
    val toks = Tok.tokens(t.asInstanceOf[UTF8String])
    if (toks.length < k) return new GenericArrayData(Array.empty[Any])
    val seen = new mutable.HashSet[String]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen += sb.toString
      i += 1
    }
    val arr = seen.iterator.map(UTF8String.fromString).toArray
    java.util.Arrays.sort(arr, (a: UTF8String, b: UTF8String) => a.compareTo(b))
    new GenericArrayData(arr.toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** ALL word-k-shingles in POSITIONAL order, duplicates preserved — the
  * occurrence-level twin of [[WordShingles]] (which collapses to the
  * distinct sorted set) for coverage-style signals where each position
  * counts once: output length is max(0, n_tokens − k + 1).
  */
case class WordShinglesSeq(child: Expression, k: Int)
    extends UnaryExpression with UnaryKernelCodegen {

  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles_seq"

  override def kernel(t: Any): Any = {
    val toks = Tok.tokens(t.asInstanceOf[UTF8String])
    if (toks.length < k) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - k + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShinglesSeq =
    copy(child = newChild)
}

/** Rebuild a document in normalized token space (lowercased,
  * single-spaced — [[Tok.tokens]]) with every token COVERED by a
  * flagged k-gram start removed: start position p (0-based, matching
  * `posexplode` over [[WordShinglesSeq]]) covers tokens p .. p+k−1.
  * One compiled pass; start order and duplicates in `starts` are
  * irrelevant (coverage is a boolean mask). Out-of-range starts are
  * clamped defensively.
  */
case class RemoveCoveredTokens(left: Expression, right: Expression, k: Int)
    extends BinaryExpression with BinaryKernelCodegen {

  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_remove_covered_tokens"

  override def kernel(t: Any, st: Any): Any = {
    val toks = Tok.tokens(t.asInstanceOf[UTF8String])
    val starts = st.asInstanceOf[ArrayData]
    val covered = new Array[Boolean](toks.length)
    var i = 0
    while (i < starts.numElements()) {
      var j = math.max(0, starts.getInt(i))
      val end = math.min(j + k, toks.length)
      while (j < end) { covered(j) = true; j += 1 }
      i += 1
    }
    val sb = new java.lang.StringBuilder
    var first = true
    var j = 0
    while (j < toks.length) {
      if (!covered(j)) {
        if (!first) sb.append(' ')
        sb.append(toks(j))
        first = false
      }
      j += 1
    }
    UTF8String.fromString(sb.toString)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): RemoveCoveredTokens =
    copy(left = newLeft, right = newRight)
}

/** |A ∩ B| of two binary-sorted distinct string arrays via a two-pointer
  * merge — O(|A|+|B|) UTF8String compares, no per-row hash-set build.
  * Replaces `size(array_intersect(a, b))` on the pair-verification hot
  * path (~100× faster there). Inputs MUST be sorted ascending in
  * UTF8String binary order with no duplicates (the [[WordShingles]]
  * contract).
  */
case class SortedArrayIntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val nx = xs.numElements()
    val ny = ys.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < nx && j < ny) {
      val cmp = xs.getUTF8String(i).compareTo(ys.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  // Same two-pointer merge as eval, emitted into the enclosing
  // whole-stage-codegen'd method — this is the per-candidate hot path of
  // the dedup verifiers, and CodegenFallback here used to break codegen
  // for the entire verify stage. All locals go through ctx.freshName so
  // two instances can share one generated method.
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val cmp = ctx.freshName("cmp")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0;
         |int $j = 0;
         |int $c = 0;
         |while ($i < $nx && $j < $ny) {
         |  int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($cmp == 0) { $c++; $i++; $j++; }
         |  else if ($cmp < 0) { $i++; }
         |  else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedArrayIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** MinHash signature over a string-array column: element i is
  * min over the set of `pmod(aᵢ·xxhash64(x) + bᵢ, 2⁶¹−1)` with fixed
  * affine constants — the classic universal-hash MinHash family.
  * Empty input → all-`Long.MaxValue` signature (never collides with a
  * non-empty one on any band).
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with UnaryKernelCodegen {

  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def kernel(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = Array.fill(numHashes)(Long.MaxValue)
    val as = MinHashSignature.as(numHashes)
    val bs = MinHashSignature.bs(numHashes)
    var e = 0
    while (e < n) {
      val base = XXH64.hashUTF8String(arr.getUTF8String(e), 42L)
      var i = 0
      while (i < numHashes) {
        // Long arithmetic wraps like SQL non-ANSI mul/add; pmod keeps
        // the result in [0, P).
        val m = (as(i) * base + bs(i)) % MinHashSignature.P
        val h = if (m < 0) m + MinHashSignature.P else m
        if (h < out(i)) out(i) = h
        i += 1
      }
      e += 1
    }
    new GenericArrayData(out.map(Long.box).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  /** Large prime 2^61 − 1 for the affine family. */
  val P = 2305843009213693951L

  private def mix(z0: Long): Long = {
    var z = z0 * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val cache = new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def consts(n: Int): (Array[Long], Array[Long]) =
    cache.computeIfAbsent(n, _ => (
      Array.tabulate(n)(i => (mix(2L * i + 1).abs % (P - 1)) + 1),
      Array.tabulate(n)(i => mix(2L * i + 2).abs % P)))
  def as(n: Int): Array[Long] = consts(n)._1
  def bs(n: Int): Array[Long] = consts(n)._2
}

/** LSH band keys of a MinHash signature: element b is the XXH64 (seed
  * 42) of the UTF-8 bytes `"<b>_<v1>,…,<vr>"` over signature slots
  * b·r … b·r+r−1 — byte-for-byte the key of the composed form
  * `xxhash64(concat_ws("_", b, array_join(transform(slice(sig, b·r+1,
  * r), _.cast("string")), ",")))` that stored banded collections and
  * streaming LSH state were written with, in one compiled pass and no
  * string allocation. Its edge cases follow that form: null slots are
  * dropped (as `array_join` drops them), a band past the end of a short
  * signature keys `"<b>_"`, and a NULL signature keys `"<b>"` on every
  * band (`concat_ws` skips the null join), so the output is never null.
  */
case class MinHashBandKeys(child: Expression, bands: Int, r: Int)
    extends UnaryExpression with UnaryKernelCodegenNullInput {

  require(bands >= 1 && r >= 1, s"bands and rows must be >= 1, got $bands, $r")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_band_keys"

  override def kernel(input: Any): Any = {
    val sig = input.asInstanceOf[ArrayData]
    val out = new Array[Long](bands)
    // widest band key: "<b>_" plus r 20-byte longs and their commas
    val buf = new Array[Byte](12 + 21 * r)
    var b = 0
    while (b < bands) {
      var len = MinHashBandKeys.putLong(buf, 0, b)
      if (sig != null) {
        buf(len) = '_'
        len += 1
        val end = math.min(sig.numElements(), b * r + r)
        var i = b * r
        var first = true
        while (i < end) {
          if (!sig.isNullAt(i)) {
            if (!first) { buf(len) = ','; len += 1 }
            len = MinHashBandKeys.putLong(buf, len, sig.getLong(i))
            first = false
          }
          i += 1
        }
      }
      out(b) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBandKeys =
    copy(child = newChild)
}

object MinHashBandKeys {

  /** ASCII decimal of `v` (`Long.toString`'s bytes) into `buf` at `at`;
    * returns the end offset. Digits come from the non-positive
    * magnitude, so `Long.MinValue` needs no special case.
    */
  private def putLong(buf: Array[Byte], at: Int, v: Long): Int = {
    var pos = at
    if (v < 0) { buf(pos) = '-'; pos += 1 }
    var n = if (v < 0) v else -v
    val start = pos
    do {
      buf(pos) = ('0' - (n % 10)).toByte
      n /= 10
      pos += 1
    } while (n != 0)
    var (i, j) = (start, pos - 1)
    while (i < j) {
      val t = buf(i); buf(i) = buf(j); buf(j) = t
      i += 1; j -= 1
    }
    pos
  }
}

/** The heuristic quality score of
  * [[graft.functions.TextFunctions.qualityScore]] in one tokenize pass.
  * The pass takes five counts: `size(tokens(text))` ([[Tok.tokens]]),
  * `length(text)`, the code points outside `[A-Za-z0-9\s]`
  * (`length(regexp_replace(text, "[A-Za-z0-9\\s]", ""))`), the tokens
  * in `stopwords`, and the summed token lengths. The score over them is
  * the same double operations in the same order as the composed Spark
  * form (`least`, then `round(…, 6)` half-up through `BigDecimal`), so
  * every score is bit-identical to it.
  *
  * Why the arithmetic is here and not Spark expressions over a counts
  * struct: a filter condition gets no codegen subexpression
  * elimination, and the optimizer pushes a filter below any projection
  * that binds the struct once, so the tokenize pass would run once per
  * reference (up to 10 per row in the curate quality filter).
  */
case class QualityScore(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with UnaryKernelCodegenNullInput {

  @transient private lazy val stopSet: Set[String] = stopwords.toSet

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_quality_score"
  // never null, but nullable like the composed form, so every frame
  // that carries the score keeps its schema
  override def nullable: Boolean = true

  override def kernel(t: Any): Any = {
    // the composed form on NULL text, under Spark's default ANSI mode
    // (`size(null)` is null): least(null, 1.0) = 1.0 and both ratios
    // fall to their otherwise-0 branches
    if (t == null) return 0.5
    val text = t.asInstanceOf[UTF8String]
    val toks = Tok.tokens(text)
    var stops = 0
    var tokenChars = 0
    var i = 0
    while (i < toks.length) {
      val tok = toks(i)
      if (stopSet.contains(tok)) stops += 1
      tokenChars += tok.codePointCount(0, tok.length)
      i += 1
    }
    // regexp_replace matches over the decoded java String, so count the
    // same decoded code points (`\s` without UNICODE_CHARACTER_CLASS is
    // [ \t\n\x0B\f\r])
    val s = text.toString
    var punct = 0
    i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val keep = (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
        (cp >= '0' && cp <= '9') || cp == ' ' || (cp >= '\t' && cp <= '\r')
      if (!keep) punct += 1
      i += Character.charCount(cp)
    }
    val nTok = toks.length.toDouble
    val nChars = text.numChars.toDouble
    val punctRatio = if (nChars > 0) punct / nChars else 0.0
    val stopRatio = if (nTok > 0) stops / nTok else 0.0
    val meanLen = if (nTok > 0) tokenChars / nTok else 0.0
    val raw = math.min(nTok / 50, 1.0) * 0.25 +
      (1.0 - punctRatio) * 0.25 +
      math.min(stopRatio * 5, 1.0) * 0.25 +
      math.min(meanLen / 8, 1.0) * 0.25
    java.math.BigDecimal.valueOf(raw)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
  }

  override protected def withNewChildInternal(newChild: Expression): QualityScore =
    copy(child = newChild)
}

/** 64-bit SimHash of a text column over whitespace tokens (every
  * occurrence votes, not just distinct tokens): bit j of the result is
  * set iff Σ_tokens (2·bitⱼ(xxhash64(token)) − 1) > 0.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with UnaryKernelCodegen {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def kernel(t: Any): Any = {
    val toks = Tok.tokens(t.asInstanceOf[UTF8String])
    val votes = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val h = XXH64.hashUTF8String(UTF8String.fromString(toks(i)), 42L)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) sim |= (1L << j)
      j += 1
    }
    sim
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Decode HTML numeric character references — `&#8217;` (decimal) and
  * `&#xA0;`/`&#X2019;` (hex) — in ONE left-to-right scan, no rescan of
  * produced text. Real crawl HTML is full of numeric references (smart
  * quotes, NBSP, emoji), and every reference left undecoded pollutes
  * each downstream shingle and fingerprint, so
  * [[graft.functions.TextFunctions.htmlToText]] runs this kernel
  * between tag-stripping and the named-entity chain.
  *
  * Contract (mirrors browser behavior where a single pass can):
  *  - references decode to their Unicode scalar value, surrogate pairs
  *    emitted for astral code points;
  *  - malformed (`&#;`, `&#xzz;`), unterminated, over-long (> 7 decimal
  *    / 6 hex digits), zero, surrogate-range, and > U+10FFFF references
  *    pass through VERBATIM — totality over crawl garbage, never an
  *    error;
  *  - no rescan: a decoded character is never re-examined, so decoding
  *    cannot cascade (`&#38;#60;` yields `&#60;` as text, not `<`).
  */
case class HtmlNcrDecode(child: Expression)
    extends UnaryExpression with UnaryKernelCodegen {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_html_ncr_decode"

  override def kernel(t: Any): Any = {
    val s = t.asInstanceOf[UTF8String].toString
    var i = s.indexOf("&#")
    if (i < 0) return t
    val sb = new java.lang.StringBuilder(s.length)
    var pos = 0
    while (i >= 0) {
      sb.append(s, pos, i)
      var j = i + 2
      val hex = j < s.length && (s.charAt(j) == 'x' || s.charAt(j) == 'X')
      if (hex) j += 1
      val digStart = j
      val maxDigits = if (hex) 6 else 7
      var cp = 0
      var overlong = false
      while (j < s.length && {
        val c = s.charAt(j)
        if (hex) (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
          (c >= 'A' && c <= 'F')
        else c >= '0' && c <= '9'
      }) {
        if (j - digStart >= maxDigits) overlong = true
        else cp = cp * (if (hex) 16 else 10) + Character.digit(s.charAt(j), 16)
        j += 1
      }
      val valid = j > digStart && !overlong && j < s.length &&
        s.charAt(j) == ';' && cp > 0 && cp <= 0x10FFFF &&
        !(cp >= 0xD800 && cp <= 0xDFFF)
      if (valid) {
        sb.appendCodePoint(cp)
        pos = j + 1
      } else {
        sb.append("&#")
        pos = i + 2
      }
      i = s.indexOf("&#", pos)
    }
    sb.append(s, pos, s.length)
    UTF8String.fromString(sb.toString)
  }

  override protected def withNewChildInternal(
      newChild: Expression): HtmlNcrDecode = copy(child = newChild)
}

/** Map a token-string array to token IDS through a fixed vocabulary —
  * the last hop of the tokenization leg ([[graft.operators.Bpe
  * .encodeIds]]): training consumes int ids, not subword strings. The
  * vocabulary (≤ ~100k entries for real tokenizers) is hashed once per
  * JVM and rides the codegen reference object, so the lookup is O(1)
  * per token with no join and no shuffle; tokens outside the
  * vocabulary map to `unkId` (never an error — encode-time text can
  * contain characters training never saw).
  */
case class TokenIds(child: Expression, vocab: Seq[(String, Long)],
    unkId: Long) extends UnaryExpression with UnaryKernelCodegen {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_token_ids"

  @transient private lazy val lookup
      : java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](vocab.size * 2)
    vocab.foreach { case (t, i) => m.put(t, java.lang.Long.valueOf(i)) }
    m
  }

  override def kernel(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val id = lookup.get(arr.getUTF8String(i).toString)
      out(i) = if (id == null) unkId else id.longValue()
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(
      newChild: Expression): TokenIds = copy(child = newChild)
}

/** Unicode normalization (NFC/NFD/NFKC/NFKD via the stock
  * `java.text.Normalizer`) — the canonicalization step before
  * tokenizing, shingling, or fingerprinting multilingual crawl text:
  * the same visible string arrives composed ("é") and decomposed
  * ("e" + U+0301) across sites, and NFKC additionally folds
  * compatibility forms (fullwidth "Ａ" → "A", the "ﬁ" ligature →
  * "fi") that would otherwise split every downstream dedup key. One
  * compiled pass; the `isNormalized` fast path skips allocation for
  * the (dominant) already-normal case.
  */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression with UnaryKernelCodegen {

  require(Seq("NFC", "NFD", "NFKC", "NFKD").contains(form),
    s"form must be NFC/NFD/NFKC/NFKD, got $form")

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_unicode_normalize"

  @transient private lazy val f = java.text.Normalizer.Form.valueOf(form)

  override def kernel(t: Any): Any = {
    val s = t.asInstanceOf[UTF8String].toString
    if (java.text.Normalizer.isNormalized(s, f)) t
    else UTF8String.fromString(java.text.Normalizer.normalize(s, f))
  }

  override protected def withNewChildInternal(
      newChild: Expression): UnicodeNormalize = copy(child = newChild)
}

/** The byte↔printable-unicode bijection of byte-level BPE (GPT-2
  * lineage — Radford et al. 2019, public knowledge): every one of the
  * 256 byte values gets a VISIBLE single BMP character, so byte
  * sequences can ride the engine's string machinery (regexp merge
  * application, string sort-order tiebreaks) with no control
  * characters and no whitespace ambiguity. Bytes that are already
  * printable Latin-1 (`!`..`~`, `¡`..`¬`, `®`..`ÿ`) map to themselves;
  * the remaining 68 (controls, space, DEL, 0x7f–0xa0, 0xad) map to
  * U+0100 + n in ascending byte order. The mapping is a pure bijection
  * — [[unmap]] inverts exactly — which is what makes byte-level BPE
  * unk-free: ANY novel codepoint decomposes into mapped bytes that are
  * always in the base vocabulary.
  */
object ByteUnicode {

  /** byte value (0–255) → its mapped char. */
  val byteToChar: Array[Char] = {
    val printable = new Array[Boolean](256)
    ('!' to '~').foreach(c => printable(c.toInt) = true)
    ('¡' to '¬').foreach(c => printable(c.toInt) = true)
    ('®' to 'ÿ').foreach(c => printable(c.toInt) = true)
    val out = new Array[Char](256)
    var n = 0
    var b = 0
    while (b < 256) {
      if (printable(b)) out(b) = b.toChar
      else { out(b) = (256 + n).toChar; n += 1 }
      b += 1
    }
    out
  }

  /** mapped char → byte value; sized 0x400 (max mapped char < 0x144). */
  private val charToByte: Array[Int] = {
    val out = Array.fill(0x400)(-1)
    var b = 0
    while (b < 256) { out(byteToChar(b).toInt) = b; b += 1 }
    out
  }

  /** A string's UTF-8 bytes as mapped chars. */
  def remap(s: String): String = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(bytes.length)
    var i = 0
    while (i < bytes.length) {
      sb.append(byteToChar(bytes(i) & 0xff)); i += 1
    }
    sb.toString
  }

  /** Mapped char (as code point) → byte value, −1 when the char is
    * outside the byte alphabet — the non-throwing probe
    * [[IdsToText]] uses to pass special-token markers through
    * literally.
    */
  def charToByteOrMinus1(c: Int): Int =
    if (c >= 0 && c < 0x400) charToByte(c) else -1

  /** Exact inverse of [[remap]]'s per-char mapping; a char outside the
    * mapped alphabet is a caller bug and fails loudly.
    */
  def unmap(s: String): Array[Byte] = {
    val out = new Array[Byte](s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i).toInt
      val b = if (c < 0x400) charToByte(c) else -1
      require(b >= 0,
        f"char U+$c%04X is not in the byte-BPE alphabet")
      out(i) = b.toByte
      i += 1
    }
    out
  }
}

/** [[ByteUnicode.remap]] as a compiled kernel — the executor-side hop
  * from a word to its byte-symbol string for byte-level BPE
  * ([[graft.operators.Bpe.trainBytes]]/`encodeBytes`): one pass over
  * the UTF-8 bytes, array-indexed, no per-row regex or join.
  */
case class ByteRemap(child: Expression)
    extends UnaryExpression with UnaryKernelCodegen {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_byte_remap"

  override def kernel(t: Any): Any = {
    val u = t.asInstanceOf[UTF8String]
    // getBytes on UTF8String is already the UTF-8 encoding — no String
    // round trip needed
    val bytes = u.getBytes
    val sb = new java.lang.StringBuilder(bytes.length)
    var i = 0
    while (i < bytes.length) {
      sb.append(ByteUnicode.byteToChar(bytes(i) & 0xff)); i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  override protected def withNewChildInternal(
      newChild: Expression): ByteRemap = copy(child = newChild)
}

/** Inverse of [[ByteRemap]]: mapped byte-symbol strings back to the
  * original text (unmap each char to its byte, decode UTF-8). The
  * executor-side half of the byte-BPE round-trip proof — x92 feeds
  * `array_join(tokens)` through this and hash-compares against the
  * oracle's direct restatement of the concatenated words, so a lossy
  * merge application, a wrong byte mapping, or a broken reassembly
  * anywhere in train→encode→decode hash-mismatches. A char outside
  * the mapped alphabet is a caller bug and fails loudly (never null).
  */
case class ByteUnmap(child: Expression)
    extends UnaryExpression with UnaryKernelCodegen {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_byte_unmap"

  override def kernel(t: Any): Any =
    UTF8String.fromBytes(
      ByteUnicode.unmap(t.asInstanceOf[UTF8String].toString))

  override protected def withNewChildInternal(
      newChild: Expression): ByteUnmap = copy(child = newChild)
}

/** The per-word BPE merge fold BOTH byte-level kernels share — the id
  * path ([[BpeEncodeTokens]]) and the offsets path
  * ([[BpeEncodeOffsets]]) call this ONE implementation, so the two
  * surfaces cannot disagree on segmentation (the UnigramMatcher
  * idiom). Besides the final tokens it returns, per token, HOW MANY
  * base symbols the token consumed — the group boundaries the offsets
  * kernel turns into spans; the id kernel ignores them.
  */
private[expressions] object BpeWordMerge {
  def merge(base: Array[String], rank: Map[(String, String), Int])
      : (Array[String], Array[Int]) = {
    var syms = base
    var sizes = Array.fill(base.length)(1)
    var done = syms.length < 2
    while (!done) {
      // lowest-ranked pair present
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        // one leftmost-first non-overlapping pass for that rank
        val out = Array.newBuilder[String]
        val osz = Array.newBuilder[Int]
        var j = 0
        while (j < syms.length) {
          if (j + 1 < syms.length &&
              rank.getOrElse((syms(j), syms(j + 1)), -1) == best) {
            out += (syms(j) + syms(j + 1))
            osz += (sizes(j) + sizes(j + 1))
            j += 2
          } else { out += syms(j); osz += sizes(j); j += 1 }
        }
        syms = out.result()
        sizes = osz.result()
        done = syms.length < 2
      }
    }
    (syms, sizes)
  }
}

/** Per-row BPE encoding as a compiled kernel — the MAP-SIDE encoder:
  * pre-tokenize with `pattern`, start each word as single chars (or
  * mapped UTF-8 bytes when `byteLevel`), then repeatedly apply the
  * LOWEST-RANKED merge present, each rank as one leftmost-first
  * non-overlapping pass. For well-formed merge tables (each merge's
  * symbols produced only by earlier merges — true of every table
  * [[graft.operators.Bpe]] trains or loads) this is EXACTLY the
  * rank-order fold the join-based encoder applies, skipping absent
  * ranks (spec-asserted equal on full corpora, both levels, both
  * patterns).
  *
  * Scale shape: ZERO shuffles — encoding is a projection, so it
  * composes with streaming (tokenize-on-ingest is a `withColumn`) and
  * never materializes a distinct-word table. Per-word cost is
  * O(len²) scans over ≤ ~tens of symbols; repeated words hit a
  * per-INSTANCE direct-mapped cache (an AtomicReferenceArray of
  * immutable word→tokens entries, slot = hash mod size): lock-free
  * under concurrent task threads — races just overwrite a slot with
  * an equally-valid immutable entry, encoding being deterministic —
  * and the footprint is bounded per EXPRESSION (≤ `cacheSize`
  * entries total), so it dies with the query instead of lingering in
  * pooled executor threads' ThreadLocal maps the way a per-thread
  * LRU would (up to threads × cacheSize arrays per retired query).
  */
case class BpeEncodeTokens(child: Expression,
    merges: Seq[(Int, String, String)], pattern: String,
    byteLevel: Boolean, cacheSize: Int = 10000,
    ignoreMergesVocab: Seq[String] = Nil,
    requireCover: Boolean = false)
    extends UnaryExpression with UnaryKernelCodegen {

  require(cacheSize >= 0, s"cacheSize must be >= 0: $cacheSize")
  require(ignoreMergesVocab.isEmpty || byteLevel,
    "ignore_merges is defined for the byte-level form only")

  // the published `ignore_merges` semantics (Llama-3/Qwen2): a
  // pre-token whose MAPPED form is a vocabulary entry is emitted
  // whole, never merged
  @transient private lazy val wholeWords: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](
      math.max(ignoreMergesVocab.size * 2, 16))
    ignoreMergesVocab.foreach(s.add)
    s
  }

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_encode"

  @transient private lazy val rank: Map[(String, String), Int] =
    merges.map(m => ((m._2, m._3), m._1)).toMap

  @transient private lazy val wordRe =
    java.util.regex.Pattern.compile(pattern)

  // direct-mapped: one immutable (word, tokens) pair per slot,
  // overwritten on collision — no eviction bookkeeping, no locks, no
  // per-thread state. Zipfian word frequencies keep the hot head
  // resident regardless of the replacement policy.
  @transient private lazy val cache =
    new java.util.concurrent.atomic.AtomicReferenceArray[
      (String, Array[String])](math.max(cacheSize, 1))

  private def cacheSlot(w: String): Int = {
    val h = w.hashCode
    ((h ^ (h >>> 16)) & 0x7fffffff) % math.max(cacheSize, 1)
  }

  private def baseSyms(w: String): Array[String] =
    if (byteLevel) {
      val m = ByteUnicode.remap(w)
      Array.tabulate(m.length)(i => m.charAt(i).toString)
    } else {
      val out = Array.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.result()
    }

  private def encodeWord(w: String): Array[String] = {
    if (!ignoreMergesVocab.isEmpty && byteLevel) {
      val mapped = ByteUnicode.remap(w)
      if (wholeWords.contains(mapped)) return Array(mapped)
    }
    BpeWordMerge.merge(baseSyms(w), rank)._1
  }

  override def kernel(t: Any): Any = {
    val text = t.asInstanceOf[UTF8String].toString
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    val m = wordRe.matcher(text)
    var covered = 0
    while (m.find()) {
      covered += m.end() - m.start()
      val w = m.group()
      var toks: Array[String] = null
      var slot = -1
      if (cacheSize > 0) {
        slot = cacheSlot(w)
        val e = cache.get(slot)
        if (e != null && e._1 == w) toks = e._2
      }
      if (toks == null) {
        toks = encodeWord(w)
        if (cacheSize > 0) cache.set(slot, (w, toks))
      }
      var i = 0
      while (i < toks.length) {
        out += UTF8String.fromString(toks(i)); i += 1
      }
    }
    // the honored-Split guard: a pattern whose alternatives leave
    // gaps would silently DROP the uncovered characters from the id
    // stream — with a file-supplied pattern that is a data-loss bug,
    // so it fails loudly per row instead (the published whole-cover
    // patterns never trip this)
    if (requireCover && covered != text.length)
      throw new IllegalArgumentException(
        s"pre-tokenizer pattern covered only $covered of " +
          s"${text.length} chars — the file's Split regex leaves " +
          "gaps; encoding would silently drop text; refusing")
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeEncodeTokens = copy(child = newChild)
}

/** Byte-level BPE encode WITH OFFSETS: `(id, start, end)` per token,
  * spans in CODE POINTS into the encode-view text (the string the
  * kernel scans — post-NFC, post-`add_prefix_space`; the WordPiece/
  * Unigram offsets convention for this lineage, and a documented
  * divergence from the reference tokenizer's trim_offsets behaviour:
  * spans here are the UNTRIMMED byte coverage, so a `Ġword` token's
  * span includes its leading space). Segmentation CANNOT drift from
  * [[BpeEncodeTokens]]: both kernels run the ONE [[BpeWordMerge]]
  * fold; this one also converts each token's base-symbol (= byte)
  * group to a code-point span. A token boundary that splits a
  * multi-byte character gives BOTH tokens that character's span
  * (overlapping spans — each token covers every character it carries
  * bytes of), so spans always delimit the full characters a token
  * touches and `substr(text, start, end − start)` re-extracts them —
  * exact whenever boundaries are character-aligned (always, for
  * ASCII). Ids resolve through `vocab` and an absent token fails
  * LOUDLY — the byte alphabet is closed, so a miss means a
  * mismatched (merges, vocab) pair, never data.
  */
case class BpeEncodeOffsets(child: Expression,
    merges: Seq[(Int, String, String)], pattern: String,
    vocab: Seq[(String, Long)], cacheSize: Int = 10000,
    ignoreMerges: Boolean = false, requireCover: Boolean = false)
    extends UnaryExpression with UnaryKernelCodegen {

  require(cacheSize >= 0, s"cacheSize must be >= 0: $cacheSize")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_bpe_encode_offsets"

  @transient private lazy val rank: Map[(String, String), Int] =
    merges.map(m => ((m._2, m._3), m._1)).toMap

  @transient private lazy val idOf: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](vocab.size * 2)
    vocab.foreach { case (t, i) => m.put(t, java.lang.Long.valueOf(i)) }
    m
  }

  @transient private lazy val wordRe =
    java.util.regex.Pattern.compile(pattern)

  // word → (id, relStart, relEnd) triples, spans relative to the
  // word's own first code point — the same direct-mapped lock-free
  // cache shape as BpeEncodeTokens (immutable entries, overwrite on
  // collision)
  @transient private lazy val cache =
    new java.util.concurrent.atomic.AtomicReferenceArray[
      (String, Array[(Long, Int, Int)])](math.max(cacheSize, 1))

  private def cacheSlot(w: String): Int = {
    val h = w.hashCode
    ((h ^ (h >>> 16)) & 0x7fffffff) % math.max(cacheSize, 1)
  }

  /** UTF-8 byte count of a code point — the base-symbol count the
    * byte path expands it to.
    */
  private def utf8Len(cp: Int): Int =
    if (cp < 0x80) 1 else if (cp < 0x800) 2
    else if (cp < 0x10000) 3 else 4

  private def encodeWordSpans(w: String): Array[(Long, Int, Int)] = {
    // per base BYTE: the code-point span of the character carrying it
    val nCp = w.codePointCount(0, w.length)
    if (ignoreMerges) {
      // the published ignore_merges semantics: a whole-vocab
      // pre-token emits as ONE token spanning the whole word
      val mapped0 = ByteUnicode.remap(w)
      val whole = idOf.get(mapped0)
      if (whole != null)
        return Array((whole.longValue(), 0, nCp))
    }
    val byteCpStart = Array.newBuilder[Int]
    var ci = 0; var cc = 0
    while (ci < w.length) {
      val cp = w.codePointAt(ci)
      var k = 0
      val n = utf8Len(cp)
      while (k < n) { byteCpStart += cc; k += 1 }
      ci += Character.charCount(cp); cc += 1
    }
    val bcs = byteCpStart.result()
    val mapped = ByteUnicode.remap(w)
    val base = Array.tabulate(mapped.length)(i =>
      mapped.charAt(i).toString)
    val (toks, sizes) = BpeWordMerge.merge(base, rank)
    val out = new Array[(Long, Int, Int)](toks.length)
    var b = 0; var t = 0
    while (t < toks.length) {
      val id = idOf.get(toks(t))
      if (id == null)
        throw new IllegalArgumentException(
          s"token '${toks(t)}' is not in the vocabulary — " +
            "mismatched (merges, vocab) artifact")
      val lastByte = b + sizes(t) - 1
      out(t) = (id.longValue(), bcs(b),
        math.min(bcs(lastByte) + 1, nCp))
      b += sizes(t); t += 1
    }
    out
  }

  override def kernel(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val m = wordRe.matcher(text)
    // incremental UTF-16 → code-point offset conversion (matches are
    // scanned left to right, so one forward pass suffices)
    var lastChar = 0; var lastCp = 0; var covered = 0
    while (m.find()) {
      covered += m.end() - m.start()
      val wCp = lastCp + Character.codePointCount(text, lastChar,
        m.start())
      val w = m.group()
      var spans: Array[(Long, Int, Int)] = null
      var slot = -1
      if (cacheSize > 0) {
        slot = cacheSlot(w)
        val e = cache.get(slot)
        if (e != null && e._1 == w) spans = e._2
      }
      if (spans == null) {
        spans = encodeWordSpans(w)
        if (cacheSize > 0) cache.set(slot, (w, spans))
      }
      var i = 0
      while (i < spans.length) {
        val (id, s, e) = spans(i)
        out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](id, wCp + s, wCp + e))
        i += 1
      }
      lastCp = wCp + Character.codePointCount(text, m.start(), m.end())
      lastChar = m.end()
    }
    // the honored-Split guard — see [[BpeEncodeTokens]]
    if (requireCover && covered != text.length)
      throw new IllegalArgumentException(
        s"pre-tokenizer pattern covered only $covered of " +
          s"${text.length} chars — the file's Split regex leaves " +
          "gaps; encoding would silently drop text; refusing")
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeEncodeOffsets = copy(child = newChild)
}

/** Token-id array → PACKED little-endian binary, `width` bytes per id
  * (1, 2, or 4) — the on-disk token-stream artifact a training data
  * loader memory-maps (real pipelines store pretokenized corpora as
  * flat uint16/uint32 streams, not parquet arrays: a 2-byte id costs
  * 2 bytes, with zero per-element framing). One compiled pass; an id
  * outside `[0, 2^(8·width))` (or negative — the encode paths'
  * impossible-miss sentinel) fails LOUDLY rather than truncating into
  * a silently-wrong token.
  *
  * With `width = 1` under the zero-merge byte-BPE configuration the
  * output is literally the original UTF-8 bytes of the pre-tokenized
  * text — the identity x96 uses to oracle-check materialized training
  * sequences by md5 of their byte content.
  */
case class PackedTokenBinary(child: Expression, width: Int)
    extends UnaryExpression with UnaryKernelCodegen {

  require(width == 1 || width == 2 || width == 4,
    s"width must be 1, 2, or 4 bytes, got $width")

  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_packed_token_binary"

  private val bound: Long = 1L << (8 * width)

  override def kernel(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Byte](n * width)
    var i = 0
    while (i < n) {
      val id = arr.getLong(i)
      if (id < 0 || id >= bound)
        throw new IllegalArgumentException(
          s"token id $id does not fit $width byte(s); use a wider " +
            "width for this vocabulary")
      var b = 0
      while (b < width) {
        out(i * width + b) = ((id >>> (8 * b)) & 0xff).toByte
        b += 1
      }
      i += 1
    }
    out
  }

  override protected def withNewChildInternal(
      newChild: Expression): PackedTokenBinary = copy(child = newChild)
}

/** Trainer-shard file pair → the sequences it encodes, as ONE compiled
  * pass per shard: parse the idx sidecar, slice the tokens blob
  * accordingly, and decode the fixed-width little-endian ids (layout:
  * [[graft.io.ShardArtifact]]'s file formats). The distributed-read inverse of
  * [[PackedTokenBinary]] + the shard writer, so the on-disk artifact is
  * queryable (and oracle-checkable) without a driver-side reader. A
  * malformed pair fails LOUDLY (bad magic/version/width, offset/blob
  * size mismatch) — never silently mis-sliced sequences.
  */
case class ShardSequences(left: Expression, right: Expression)
    extends BinaryExpression with BinaryKernelCodegen {

  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false),
      containsNull = false)
  override def prettyName: String = "graft_shard_sequences"

  override def kernel(blobAny: Any, idxAny: Any): Any = {
    val blob = blobAny.asInstanceOf[Array[Byte]]
    val idx = idxAny.asInstanceOf[Array[Byte]]
    val layout = graft.io.ShardArtifact.ShardIdx
    val header = layout.headerBytes
    val bb = layout.check(idx)
    val width = bb.getInt(layout.magic.length + 4)
    require(width == 1 || width == 2 || width == 4,
      s"corrupt shard width $width")
    val count = (idx.length - header) / 8
    val tb = java.nio.ByteBuffer.wrap(blob)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Any](count)
    var begin = 0L
    var s = 0
    while (s < count) {
      val end = bb.getLong(header + s * 8)
      require(end >= begin && end <= blob.length &&
        (end - begin) % width == 0,
        s"idx offset $end inconsistent with blob of ${blob.length}")
      val n = ((end - begin) / width).toInt
      val ids = new Array[Any](n)
      var i = 0
      while (i < n) {
        val p = (begin + i.toLong * width).toInt
        ids(i) = width match {
          case 1 => blob(p) & 0xffL
          case 2 => tb.getShort(p) & 0xffffL
          case 4 => tb.getInt(p) & 0xffffffffL
        }
        i += 1
      }
      out(s) = new GenericArrayData(ids)
      begin = end
      s += 1
    }
    require(begin == blob.length,
      s"blob carries ${blob.length - begin} trailing bytes the idx " +
        "does not cover")
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ShardSequences =
    copy(left = newLeft, right = newRight)
}

/** Epoch-order sidecar (`<stem>.ord`, written by [[graft.io
  * .TrainerShards.writeEpochOrder]]; layout: [[graft.io.ShardArtifact]]'s
  * file formats) → the position array, one compiled pass per shard. The distributed
  * read half of the epoch artifact: a trainer mmaps the same file and
  * walks it with pointer arithmetic. A malformed sidecar fails LOUDLY:
  * this kernel checks magic/version/truncation/negative positions, and
  * the UPPER position bound (which needs the shard's sequence count,
  * unknown here) is enforced one layer up by [[graft.io.TrainerShards
  * .readEpochOrder]]'s filter-resident guard — so a corrupt position
  * can never silently drop a consumption step at the resume join.
  */
case class EpochOrdPositions(child: Expression)
    extends UnaryExpression with UnaryKernelCodegen {

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_epoch_ord_positions"

  override def kernel(a: Any): Any = {
    val ord = a.asInstanceOf[Array[Byte]]
    val header = graft.io.ShardArtifact.EpochOrd.headerBytes
    val bb = graft.io.ShardArtifact.EpochOrd.check(ord)
    val count = (ord.length - header) / 8
    val out = new Array[Any](count)
    var i = 0
    while (i < count) {
      val p = bb.getLong(header + i * 8)
      require(p >= 0, s"corrupt epoch-order position $p")
      out(i) = p
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(
      newChild: Expression): EpochOrdPositions = copy(child = newChild)
}

/** Blend-schedule part file (`part-NNNNN.blend`, written by
  * [[graft.io.TrainerShards.writeBlendSchedule]]; layout:
  * [[graft.io.ShardArtifact]]'s file formats) → a struct of
  * (epoch, first_step, ordinals, ranks), one compiled pass per part
  * file. The distributed read half of the cross-stratum blend
  * artifact: a trainer mmaps the same file and walks 12-byte records.
  * Malformed parts fail LOUDLY (bad magic/version, truncated payload,
  * negative rank); ordinal and rank BOUNDS are checked one layer up
  * where the strata table is known
  * ([[graft.io.TrainerShards.readBlendSchedule]]).
  */
case class BlendEntries(child: Expression)
    extends UnaryExpression with UnaryKernelCodegen {

  override def dataType: DataType = StructType(Seq(
    StructField("epoch", IntegerType, nullable = false),
    StructField("first_step", LongType, nullable = false),
    StructField("ordinals",
      ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("ranks",
      ArrayType(LongType, containsNull = false), nullable = false)))
  override def prettyName: String = "graft_blend_entries"

  override def kernel(a: Any): Any = {
    val blob = a.asInstanceOf[Array[Byte]]
    val layout = graft.io.ShardArtifact.BlendPart
    val header = layout.headerBytes
    val bb = layout.check(blob)
    val epoch = bb.getInt(layout.magic.length + 4)
    val firstStep = bb.getLong(layout.magic.length + 8)
    require(firstStep >= 1, s"corrupt blend first step $firstStep")
    val count = (blob.length - header) / 12
    val ords = new Array[Any](count)
    val ranks = new Array[Any](count)
    var i = 0
    while (i < count) {
      val o = bb.getInt(header + i * 12)
      val r = bb.getLong(header + i * 12 + 4)
      require(o >= 0, s"corrupt blend stratum ordinal $o")
      require(r >= 1, s"corrupt blend rank $r")
      ords(i) = o
      ranks(i) = r
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](epoch, firstStep, new GenericArrayData(ords),
        new GenericArrayData(ranks)))
  }

  override protected def withNewChildInternal(
      newChild: Expression): BlendEntries = copy(child = newChild)
}

/** Token-id array → decoded TEXT through a vocabulary table — the
  * row-level inverse of the encode→ids chain ([[BpeEncodeTokens]] +
  * [[TokenIds]]), as a compiled kernel so whole SEQUENCES decode
  * map-side (sequence-level decontamination shingles the decoded
  * text of each packed training sequence — [[graft.operators.Packing
  * .sequenceContamination]]). Byte-alphabet token chars unmap to
  * their original UTF-8 bytes; chars outside the byte alphabet
  * (special-token markers) pass through literally, matching
  * [[graft.operators.Bpe.decodeIds]]. An id absent from the
  * vocabulary is a caller bug and fails loudly.
  *
  * A sequence CUT can split a multi-byte character, leaving invalid
  * UTF-8 at the edges; the bytes are passed through unmodified (the
  * string holds them verbatim), so interior shingles are unaffected.
  */
case class IdsToText(child: Expression, vocab: Seq[(String, Long)])
    extends UnaryExpression with UnaryKernelCodegen {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_ids_to_text"

  @transient private lazy val byId: java.util.HashMap[java.lang.Long, String] = {
    val m = new java.util.HashMap[java.lang.Long, String](vocab.size * 2)
    vocab.foreach { case (t, i) => m.put(java.lang.Long.valueOf(i), t) }
    m
  }

  override def kernel(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val t = byId.get(java.lang.Long.valueOf(arr.getLong(i)))
      if (t == null)
        throw new IllegalArgumentException(
          s"token id ${arr.getLong(i)} is not in the vocabulary")
      sb.append(t)
      i += 1
    }
    val s = sb.toString
    // unmap byte-alphabet chars to bytes; pass others through as UTF-8
    val out = new java.io.ByteArrayOutputStream(s.length)
    var j = 0
    while (j < s.length) {
      val cp = s.codePointAt(j)
      val b = if (cp < 0x400) ByteUnicode.charToByteOrMinus1(cp) else -1
      if (b >= 0) out.write(b)
      else out.write(new String(Character.toChars(cp))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      j += Character.charCount(cp)
    }
    UTF8String.fromBytes(out.toByteArray)
  }

  override protected def withNewChildInternal(
      newChild: Expression): IdsToText = copy(child = newChild)
}
