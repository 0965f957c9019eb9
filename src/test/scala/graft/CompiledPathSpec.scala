package graft

import scala.util.Random

import graft.core.Graft
import graft.functions.TextFunctions
import graft.io.TrainerShards
import graft.operators.{ConnectedComponents, Dedup, Packing}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The curate hot paths stay on Catalyst's compiled path, and a program
  * compiles each generated class once: the quality and band-key
  * kernels equal the composed forms they replace (kept here as the
  * oracles), their executed plans hold no interpreted expression, and a
  * second run of the curate chain compiles nothing.
  */
class CompiledPathSpec extends SparkSpec {

  /** The composed quality score the compiled kernel replaces. */
  private def composedQuality(text: Column): Column = {
    val tk = TextFunctions.tokens(text)
    val nTok = size(tk).cast("double")
    val nChars = length(text).cast("double")
    val punct = length(regexp_replace(text, "[A-Za-z0-9\\s]", ""))
      .cast("double")
    val punctRatio = when(nChars > 0, punct / nChars).otherwise(0.0)
    val enStops = array(TextFunctions.stopwords.head._2.map(lit): _*)
    val stopCnt = size(filter(tk, t => array_contains(enStops, t)))
      .cast("double")
    val stopRatio = when(nTok > 0, stopCnt / nTok).otherwise(0.0)
    val sumLen = aggregate(tk, lit(0), (acc, t) => acc + length(t))
      .cast("double")
    val meanLen = when(nTok > 0, sumLen / nTok).otherwise(0.0)
    round(
      least(nTok / 50, lit(1.0)) * 0.25 +
        (lit(1.0) - punctRatio) * 0.25 +
        least(stopRatio * 5, lit(1.0)) * 0.25 +
        least(meanLen / 8, lit(1.0)) * 0.25,
      6)
  }

  /** The composed band keys the compiled kernel replaces. */
  private def composedBandKeys(sig: Column, bands: Int, r: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(concat_ws("_", lit(b),
        array_join(transform(slice(sig, b * r + 1, r), _.cast("string")),
          ",")))
    }: _*)

  private val textSchema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))

  private def texts(rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (i, t) => Row(i, t) }, 3), textSchema)

  /** Seeded text mixing every character class the counts tell apart. */
  private def randomText(rnd: Random): String = {
    val pieces = Array("the", "The", "AND", "of", "to", "in", "is", "it",
      "that", "for", "word", "Zebra", "x", "42", "a1b2", "!!", "...",
      "—", "naïve", "İstanbul", "straße", "日本語", "𝔸𝔹", "😀", " ",
      " ", "'s", "e-mail", "(c)", "$5", "#tag")
    val seps = Array(" ", "  ", "\t", "\n", "\r\n", "\u000b", "\f", "")
    val n = rnd.nextInt(80)
    val sb = new StringBuilder
    for (_ <- 0 until n) {
      sb.append(pieces(rnd.nextInt(pieces.length)))
      sb.append(seps(rnd.nextInt(seps.length)))
    }
    sb.toString
  }

  test("Tok.tokens equals Spark's filter(split(lower(text), \\s+), length > 0), token lengths included") {
    val cases = Seq(
      "a b c d", // non-ASCII spaces do not split
      "İstanbul İ", // İ lowercases to two code points
      "𝔸𝔹 x𝔸", // a supplementary character is one code point
      "tab\tsep\nnew\r\nline\u000bvt\fff",
      "", "   \t\n ", "Mixed CASE  words ",
      "naïve café straße 日本語 😀😀")
    val rows = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) } :+
      (cases.length.toLong, null)
    val tk = TextFunctions.tokens(col("text"))
    val got = texts(rows)
      .select(col("id"), tk.as("tk"), transform(tk, t => length(t)).as("len"))
      .collect().map(r => r.getLong(0) -> ((
        Option(r.getSeq[String](1)).map(_.toSeq).orNull,
        Option(r.getSeq[Int](2)).map(_.toSeq).orNull))).toMap
    rows.foreach { case (i, t) =>
      val (sparkTk, sparkLen) = got(i)
      if (t == null) assert(sparkTk == null, "null text has null tokens")
      else {
        val ours = graft.expressions.Tok.tokens(
          org.apache.spark.unsafe.types.UTF8String.fromString(t)).toSeq
        assert(ours == sparkTk, s"tokens of ${t.toList}")
        assert(ours.map(s => s.codePointCount(0, s.length)) == sparkLen,
          s"token lengths of ${t.toList}")
      }
    }
    assert(got(2L)._2 == Seq(2, 2), "𝔸𝔹 and x𝔸 are two code points each")
    assert(got(1L)._2 == Seq(9, 2), "İ lowercases to i + U+0307")
    assert(got(0L)._1 == Seq("a b", "c d"))
  }

  test("qualityScore equals the composed form exactly (==) on seeded random, null, empty, blank, punctuation and non-ASCII text") {
    val rnd = new Random(20261020L)
    val fixed = Seq(null, "", " ", "\t\n  ", "!!! ??? ...", "—–…«»",
      "The cat and the dog", "日本語のテキスト", "𝔸𝔹ℂ 😀 İ",
      "a " * 120, ("the " * 60).trim)
    val rows = (fixed ++ (0 until 400).map(_ => randomText(rnd)))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = texts(rows).select(col("id"),
      TextFunctions.qualityScore(col("text")).as("got"),
      composedQuality(col("text")).as("want"))
    val mismatched = df.collect().filterNot { r =>
      (r.isNullAt(1) && r.isNullAt(2)) ||
        (!r.isNullAt(1) && !r.isNullAt(2) && r.getDouble(1) == r.getDouble(2))
    }
    assert(mismatched.isEmpty, mismatched.take(5).mkString("; "))
    // the filter form the pipelines use keeps the same rows
    val kept = texts(rows).filter(TextFunctions.qualityScore(col("text")) >= 0.4)
      .select("id").collect().map(_.getLong(0)).sorted
    val keptWant = texts(rows).filter(composedQuality(col("text")) >= 0.4)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(kept.sameElements(keptWant))
  }

  test("MinHash band keys equal the composed form per (id, band): negative and Long.MaxValue slots, null slots, null and short signatures, several band counts") {
    val rnd = new Random(7L)
    def slot(): Any = rnd.nextInt(10) match {
      case 0 => null
      case 1 => Long.MaxValue
      case 2 => Long.MinValue
      case 3 => -rnd.nextInt(1000).toLong
      case _ => rnd.nextLong()
    }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("minhash_sig", ArrayType(LongType, containsNull = true))))
    val rows = (0 until 300).map { i =>
      val sig: Seq[Any] = i % 10 match {
        case 0 => null // null signature
        case 1 => Seq.fill(rnd.nextInt(12))(slot()) // short
        case 2 => Seq.fill(24)(Long.MaxValue) // the empty-set signature
        case _ => Seq.fill(24)(slot())
      }
      Row(i.toLong, sig)
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      schema)
    for ((bands, r) <- Seq((1, 24), (3, 8), (4, 6), (8, 3), (24, 1), (6, 5))) {
      def keys(c: Column) = df.select(col("id"), posexplode(c))
        .collect().map(x => (x.getLong(0), x.getInt(1)) -> x.getLong(2)).toMap
      val got = keys(graft.expressions.GraftFunctions.minHashBandKeys(
        col("minhash_sig"), bands, r))
      val want = keys(composedBandKeys(col("minhash_sig"), bands, r))
      assert(got.size == rows.size * bands)
      assert(got == want, s"bands=$bands r=$r")
    }
    // the operator form: bandedBuckets on a non-null signature frame
    val sig = df.filter(col("minhash_sig").isNotNull)
      .withColumn("minhash_sig", col("minhash_sig").cast("array<bigint>"))
    val got = Dedup.bandedBuckets(sig, "id", 24, 4).collect()
      .map(x => (x.getLong(0), x.getInt(1)) -> x.getLong(2)).toMap
    val want = sig.select(col("id"), posexplode(
        composedBandKeys(col("minhash_sig"), 4, 6)))
      .collect().map(x => (x.getLong(0), x.getInt(1)) -> x.getLong(2)).toMap
    assert(got == want)
  }

  /** Every physical node of an executed plan, through AQE and caches. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      m +: nodes(m.relation.cachedPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** Every expression node of `df`'s executed plan, after running it. */
  private def executedExpressions(df: DataFrame) = {
    df.collect()
    nodes(df.queryExecution.executedPlan).flatMap(_.expressions)
      .flatMap(_.collect { case e => e })
  }

  private def fallbacks(df: DataFrame): Seq[String] =
    executedExpressions(df).collect { case f: CodegenFallback => f.prettyName }
      .distinct

  test("the quality filter and Dedup.minHashPairs execute without an interpreted (CodegenFallback) expression") {
    val docs = Graft.table(spark, sfDir, "documents")
    val quality = docs.filter(TextFunctions.qualityScore(col("text")) >= 0.4)
    assert(fallbacks(quality).isEmpty)
    // one tokenize pass per row: the filter holds the kernel once
    val conditions = nodes(quality.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FilterExec => f.condition }
    assert(conditions.flatMap(_.collect {
      case k: graft.expressions.QualityScore => k }).size == 1)
    assert(fallbacks(Dedup.minHashPairs(docs, "doc_id", "text", k = 3,
      numHashes = 64, bands = 16, threshold = 0.6)).isEmpty)
  }

  test("a second run of the curate chain compiles no generated class") {
    val docs = Graft.table(spark, sfDir, "documents")
    val root = java.nio.file.Files.createTempDirectory("graft_compile_once")
    def chain(run: Int): Long = {
      val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def stage(df: DataFrame): DataFrame = {
        val p = df.persist(); held += p; p.count(); p
      }
      val exact = stage(Dedup.exact(docs, "doc_id", "text"))
      val quality = stage(exact.filter(
        TextFunctions.qualityScore(col("text")) >= 0.4))
      val pairs = stage(Dedup.minHashPairs(quality, "doc_id", "text", k = 3,
        numHashes = 64, bands = 16, threshold = 0.6))
      val clusters = stage(ConnectedComponents.clusters(pairs, "id1", "id2"))
      val reps = stage(quality.join(clusters.filter(col("id") =!= col("label"))
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti"))
      val seqs = stage(Packing.materializeSequences(reps, "doc_id", "text",
        "lang", 512, merges = Nil,
        tokenPattern = TextFunctions.bpeBytePatternFull))
      val m = TrainerShards.write(seqs, "lang", "seq_id", "token_ids",
        width = 1, s"$root/shards_$run")
      val tokens = m.agg(sum(col("n_tokens"))).head.getLong(0)
      held.foreach(_.unpersist())
      tokens
    }
    try {
      def compiles = Graft.codegenTotals._1
      val c0 = compiles
      val first = chain(0)
      val c1 = compiles
      val second = chain(1)
      val c2 = compiles
      assert(first == second && first > 0)
      assert(c2 - c1 == 0,
        s"the second run compiled ${c2 - c1} classes (the first ${c1 - c0})")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }
}
