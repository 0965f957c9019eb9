package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale corpus pipelines: tokenizing,
  * shingling, language ID, quality scoring, token counting, document
  * fingerprinting.
  *
  * Everything is built from Spark built-ins or graft's compiled kernels
  * — no UDFs — so each function is a pure map over the documents table:
  * zero shuffles, scales linearly to 100 TB, and has an
  * exactly-equivalent ANSI SQL form the DuckDB oracle runs. The
  * lambda built-ins (`filter`, `transform`, `aggregate`) evaluate
  * interpreted; per-row hot paths use a kernel instead
  * ([[qualityScore]]).
  */
object TextFunctions {

  /** Whitespace tokens, lowercased, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Word k-shingles (space-joined); empty array when fewer than k tokens. */
  def shingles(tk: Column, k: Int): Column =
    when(size(tk) >= k,
      transform(sequence(lit(1), size(tk) - (k - 1)),
        i => array_join(slice(tk, i, lit(k)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Canonical text normalization: lowercase, non-alphanumerics collapsed
    * to single spaces, trimmed.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Unicode normalization (default NFKC — the corpus-hygiene form:
    * composed/decomposed accents collapse AND compatibility variants
    * fold, fullwidth `Ａ` → `A`, the `ﬁ` ligature → `fi`), via the
    * compiled [[graft.expressions.UnicodeNormalize]] kernel. Run it
    * BEFORE [[tokens]]/[[shingles]]/[[fingerprint]] on multilingual
    * crawl text: the same visible string arrives in different Unicode
    * forms across sites and would otherwise split every dedup key.
    * NFC (canonical-only, no compatibility folding) is the form a SQL
    * oracle can state (x89 — DuckDB `nfc_normalize`); NFKC/NFD/NFKD
    * are spec-gated against the published Unicode expectations.
    */
  def normalizeUnicode(text: Column, form: String = "NFKC"): Column =
    graft.expressions.GraftFunctions.unicodeNormalize(text, form)

  /** Document fingerprint: md5 of the normalized text. Identical content
    * modulo case/punctuation/whitespace collides on purpose.
    */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** Prefix fingerprint for near-front-dup bucketing at scale. */
  def prefixFingerprint(text: Column, n: Int): Column =
    md5(substring(normalize(text), 1, n))

  /** BPE-ish token count: letter runs, digit runs, and single
    * non-alphanumeric marks each count as one token.
    */
  val bpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeTokenPattern), lit(0)))

  /** GPT-2-style pre-tokenization for BYTE-level BPE
    * ([[graft.operators.Bpe.trainBytes]]): words keep ONE leading
    * space (so `" the"` trains as a unit — the space byte renders as
    * the famous `Ġ` symbol under the byte→printable map), punctuation
    * comes in runs, and residual whitespace is matched too
    * (`\s+(?!\S)` leaves the final space for the next word, `\s+`
    * catches trailing runs). The alternatives JOINTLY COVER every
    * character, so the concatenated matches ARE the text — the
    * full-fidelity property x93 oracle-checks as `md5(text)` with no
    * tokenizer in the oracle at all. [[bpeTokenPattern]] (the
    * whitespace-dropping form) remains the char-level and default
    * byte-level pre-tokenizer; pass this one for exact-reconstruction
    * pipelines.
    */
  val bpeBytePatternFull =
    " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+(?!\\S)|\\s+"

  /** The PUBLISHED GPT-2 `ByteLevel` pre-tokenization regex, verbatim
    * (the `tokenizers` library's `use_regex = true` split): lowercase
    * English contraction suffixes as their own tokens, then
    * space-leading letter / digit / punctuation runs over the FULL
    * Unicode categories (`\p{L}`/`\p{N}` — not just ASCII), then the
    * whitespace alternatives of [[bpeBytePatternFull]]. Like that
    * pattern, the alternatives jointly cover every character, so the
    * concatenated matches ARE the text. This is the split the
    * assembled tokenizer.json surface
    * ([[graft.operators.Bpe.loadTokenizerJsonAssembled]]) encodes
    * with — published byte-level artifacts (GPT-2, RoBERTa) assume
    * exactly it. Java's regex engine supports every construct used
    * (`\p{L}`, `\p{N}`, the `(?!\S)` lookahead).
    */
  val bpeByteLevelGpt2Pattern =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+" +
      "|\\s+(?!\\S)|\\s+"

  /** Stopword inventories for the n-gram-free language-ID heuristic. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "un", "une", "est", "que", "pour", "dans"),
    "es" -> Seq("el", "los", "y", "de", "un", "una", "es", "por", "con", "para"),
  )

  /** Distinct-token overlap with each language's stopword set. */
  def langScores(tk: Column): Seq[(String, Column)] =
    stopwords.map { case (lang, words) =>
      lang -> size(array_intersect(array_distinct(tk),
        array(words.map(lit): _*)))
    }

  /** Language-ID heuristic: argmax of stopword overlap with a fixed
    * priority order on ties (en > de > fr > es), "und" (undetermined)
    * when no stopword matches at all. The decision tree is replicated
    * verbatim in the oracle SQL.
    */
  def langId(text: Column): Column = {
    val tk = tokens(text)
    val s = langScores(tk).toMap
    val (en, de, fr, es) = (s("en"), s("de"), s("fr"), s("es"))
    when(greatest(en, de, fr, es) === 0, "und")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  /** Heuristic quality score in [0,1]:
    * 0.25·min(tokens/50,1) + 0.25·(1−punctRatio) + 0.25·stopRatio·5 capped
    * + 0.25·meanTokenLen/8 capped, over [[tokens]]. Deterministic double
    * arithmetic, rounded to 6 decimals. One compiled pass per row
    * ([[graft.expressions.QualityScore]]), bit-identical to the composed
    * form over `tokens`, `length` and `regexp_replace`.
    */
  def qualityScore(text: Column): Column =
    graft.expressions.GraftFunctions.qualityScore(text, stopwords.head._2)

  /** PII scrub patterns. Deliberately RE2-compatible (no lookaround, no
    * backreferences), so the SAME pattern strings run under Java regex
    * (Spark) and RE2-family engines — the property that lets one pattern
    * inventory serve the whole pipeline and its oracles.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

  /** Replace every email / phone occurrence with a typed placeholder —
    * the pre-training PII scrub. A pure codegen'd map (two
    * regexp_replace passes, emails first so the phone pass never sees
    * an address); zero shuffles at any scale.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  /** Occurrence counts of each PII class (for audit/reporting). */
  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(emailPattern), lit(0)))
  def phoneCount(text: Column): Column =
    size(regexp_extract_all(text, lit(phonePattern), lit(0)))

  /** HTML → text extraction — the canonical step between WARC ingest
    * ([[graft.sources.Warc]]) and every text operator: crawl payloads
    * are HTML, the pipeline wants prose. A pure codegen'd
    * regexp_replace chain (zero shuffles at any scale):
    * script/style blocks go first (their CONTENT is code, and `1<2`
    * inside them would otherwise open a phantom tag; the block ends at
    * the FIRST closing tag even when a JS string contains a literal
    * `"</script>"` — which is exactly the HTML5 parsing rule: raw-text
    * elements end at the first matching end-tag sequence regardless of
    * script syntax, the reason real pages write `"<\/script>"` — so
    * the trailing fragment renders as text here precisely as a browser
    * renders it), then comments,
    * then tags, then NUMERIC character references — `&#8217;` decimal
    * and `&#xA0;` hex, ubiquitous in real crawl HTML — via the
    * single-scan [[graft.expressions.HtmlNcrDecode]] kernel (malformed
    * or out-of-range references pass through verbatim), then the core
    * named entities (`&amp;` decoded LAST so `&amp;lt;` correctly
    * yields the literal text `&lt;`, not `<`), then whitespace
    * collapses to single spaces. One residual of the chain-of-passes
    * shape: a double-escaped NUMERIC ampersand (`&#38;lt;`) decodes to
    * `&` before the named pass sees the combined `&lt;` — the
    * vanishingly-rare corner a single-scan DOM decoder would get
    * right. Deliberately crude-but-deterministic (no DOM, no
    * charset sniffing — malformed markup degrades to extra stripped
    * spans, never an error): the boilerplate-vs-content judgment call
    * belongs to quality scoring downstream, not the extractor.
    */
  def htmlToText(html: Column): Column = {
    // the whole <head> goes first: its text children (title, inline
    // meta) are page chrome, not document prose
    val noHead = regexp_replace(html,
      "(?is)<head\\b[^>]*>.*?</head\\s*>", " ")
    val noScript = regexp_replace(noHead,
      "(?is)<(script|style)\\b[^>]*>.*?</(script|style)\\s*>", " ")
    val noComment = regexp_replace(noScript, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]*>", " ")
    // numeric references first (the kernel's one scan covers the
    // decimal-apostrophe case the named list used to carry), named
    // entities after, &amp; last of all
    val noNcr = graft.expressions.GraftFunctions.htmlNcrDecode(noTags)
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&apos;" -> "'", "&nbsp;" -> " ",
      "&amp;" -> "&" // last — see scaladoc
    ).foldLeft(noNcr) { case (c, (e, r)) =>
      replace(c, lit(e), lit(r)) // literal substring replace, no regex
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }
}
