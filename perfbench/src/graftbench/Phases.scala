package graftbench

import scala.collection.mutable

import graft.core.CollectionManager
import graft.functions.TextFunctions
import graft.io.{ParquetLoader, TrainerShards}
import graft.operators.{ConnectedComponents, Dedup, Packing}
import graft.serde.JsonDocEncoder
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** bulk_load's job: the reference loader at batch 1000 (overwrite, then
  * append) into a Parquet collection, the same rows through graft-docs
  * into a document collection, then one full-scan aggregate on each.
  */
object Bulk {
  val BatchSize = 1000

  private def aggSql(view: String, shipDays: String): String =
    s"""SELECT count(*), sum(l_orderkey), sum(l_partkey),
       |  sum(cast(l_quantity AS BIGINT)),
       |  sum(cast(round(l_discount * 100) AS BIGINT)),
       |  sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END),
       |  sum($shipDays)
       |FROM $view""".stripMargin

  private def asTotals(r: Row): Totals = Totals(r.getLong(0), r.getLong(1),
    r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))

  def round(ctx: Ctx, in: LineInput, tag: String): Unit = ctx.tracer.op("bulk.round") {
    val spark = ctx.spark
    val t = ctx.tracer
    val coll = new CollectionManager(spark, s"${ctx.work}/db")
      .collection(s"bulk_$tag")
    val docsPath = s"${ctx.work}/db/bulkdocs_$tag"
    val loader = new ParquetLoader(spark)
    val want = in.totals * 2

    ctx.attempt("bulk.drop") { t.span("core.drop") { coll.drop() }; true }
    var loadMs = 0.0
    val loaded = Seq(true, false).forall { overwrite =>
      ctx.attempt(s"bulk.load(overwrite=$overwrite)") {
        val before = if (t.enabled) ctx.dataFiles(coll.path, ".parquet")._1 else 0L
        val (n, ms) = Ctx.timed(t.span("io.load") {
          loader.load(in.dir, coll, overwriteCollection = overwrite, BatchSize)
        })
        loadMs += ms
        ctx.sample(if (overwrite) "call_ms:load_overwrite" else "call_ms:load_append", ms)
        val after = if (t.enabled) ctx.dataFiles(coll.path, ".parquet")._1 else 0L
        ctx.count("io.files_written", after - before)
        ctx.count("core.files_sum", after)
        ctx.count("core.files_n", 1)
        ctx.same("loader rows", n, in.totals.rows)
      }
    }
    if (loaded) {
      ctx.sample("load_rows_per_s", want.rows / (loadMs / 1e3))
      ctx.sample("stored_bytes_per_input_byte",
        ctx.dataFiles(coll.path, ".parquet")._2.toDouble / (2.0 * in.bytes))
    }

    var saveMs = 0.0
    val saved = Seq("overwrite", "append").forall { mode =>
      ctx.attempt(s"bulk.graft-docs($mode)") {
        val ms = Ctx.timed(t.span("sources.save") {
          spark.read.parquet(in.dir).write.format("graft-docs")
            .option("path", docsPath).option("batchSize", BatchSize.toString)
            .mode(mode).save()
        })._2
        saveMs += ms
        ctx.sample(s"call_ms:docs_$mode", ms)
        true
      }
    }
    if (loaded && saved)
      ctx.sample("rows_per_s", 2 * want.rows / ((loadMs + saveMs) / 1e3))
    if (saved) {
      ctx.sample("load_docs_per_s", want.rows / (saveMs / 1e3))
      ctx.count("sources.files_published", ctx.dataFiles(docsPath, "")._1)
    }

    var scanMs = 0.0
    val scanned = ctx.attempt("bulk.scan(parquet)") {
      val (rows, ms) = Ctx.timed {
        t.span("core.createView") { coll.createView(s"bulk_li_$tag") }
        ctx.sql("sql.bulk_scan", aggSql(s"bulk_li_$tag", "unix_micros(l_shipdate) div 86400000000"))
      }
      scanMs += ms
      ctx.sample("call_ms:scan_parquet", ms)
      ctx.same("parquet collection totals", asTotals(rows.head), want)
    } & ctx.attempt("bulk.scan(graft-docs)") {
      val (rows, ms) = Ctx.timed(t.span("sources.scan") {
        spark.read.schema(Expect.LineDocSchema).format("graft-docs")
          .load(docsPath).createOrReplaceTempView(s"bulk_docs_$tag")
        ctx.sql("sql.bulk_scan_docs", aggSql(s"bulk_docs_$tag", "l_shipdate div 86400000000"))
      })
      scanMs += ms
      ctx.sample("call_ms:scan_docs", ms)
      ctx.same("graft-docs collection totals", asTotals(rows.head), want)
    }
    if (scanned) ctx.sample("scan_rows_per_s", 2 * want.rows / (scanMs / 1e3))
  }
}

/** curate's job: the curation pipeline as one program, stage by stage.
  * Every stage is materialized (persist + count) inside its own span,
  * so a stage's construction-time jobs and its action land in the same
  * span, and each stage's row count is checked against the generator.
  */
object Curate {
  val SeqLen = 512
  val Quality = 0.4

  def pass(ctx: Ctx, corpusDir: String, truth: CurateTruth, tag: String,
      yieldProbe: Boolean): Unit = {
    val inputBytes = ctx.dataFiles(corpusDir, ".parquet")._2.toDouble
    val spark = ctx.spark
    val t = ctx.tracer
    val held = mutable.ArrayBuffer.empty[DataFrame]
    val shardDir = s"${ctx.work}/shards_$tag"
    var ok = true
    def stage(name: String, want: Long)(build: => DataFrame): DataFrame = {
      var out: DataFrame = null
      ok &= ctx.attempt(s"curate.$name") {
        val (n, ms) = Ctx.timed(t.span(s"operators.$name") {
          out = build.persist()
          held += out
          val n = out.count()
          t.attr("rows_out", n.toDouble)
          n
        })
        ctx.sample(s"call_ms:$name", ms)
        ctx.same(s"$name rows", n, want)
      }
      out
    }
    val (quality, ms) = Ctx.timed(t.op("curate.pass") {
      val docs = spark.read.parquet(corpusDir)
      val exact = stage("exact", truth.exact) {
        Dedup.exact(docs, "doc_id", "text") }
      val quality = stage("quality", truth.quality) {
        exact.filter(TextFunctions.qualityScore(col("text")) >= Quality) }
      val pairs = stage("minhash", truth.pairs) {
        Dedup.minHashPairs(quality, "doc_id", "text", k = 3, numHashes = 64,
          bands = 16, threshold = 0.6) }
      val clusters = stage("clusters", truth.clusterNodes) {
        ConnectedComponents.clusters(pairs, "id1", "id2") }
      val reps = stage("reps", truth.reps) {
        quality.join(clusters.filter(col("id") =!= col("label"))
          .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti") }
      val seqs = stage("pack", truth.sequences(SeqLen)) {
        Packing.materializeSequences(reps, "doc_id", "text", "lang", SeqLen,
          merges = Nil, tokenPattern = TextFunctions.bpeBytePatternFull) }
      ok &= ctx.attempt("curate.shards") {
        val (m, ms) = Ctx.timed(t.span("io.shards_write") {
          TrainerShards.write(seqs, "lang", "seq_id", "token_ids", width = 1,
            shardDir)
        })
        ctx.sample("call_ms:shards", ms)
        val tokens = m.agg(sum(col("n_tokens"))).head.getLong(0)
        ctx.count("io.shard_tokens", tokens.toDouble)
        ctx.same("shard tokens", tokens, truth.tokens)
      }
      quality
    })
    ok &= ctx.attempt("curate.verifyManifest") {
      TrainerShards.verifyManifest(spark, shardDir); true
    }
    if (ok) {
      ctx.sample("curate_docs_per_s", truth.docs / (ms / 1e3))
      ctx.sample("rows_per_s", truth.docs / (ms / 1e3))
      ctx.sample("stored_bytes_per_input_byte",
        ctx.dataFiles(shardDir, "")._2.toDouble / inputBytes)
    }
    if (yieldProbe && quality != null) t.op("probe.verify_yield") {
      // candidates the LSH banding proposes for the verified pairs
      val cand = Dedup.lshCandidatePairs(
        Dedup.withMinHashSignature(quality, "text", 3, 64), "doc_id", 64, 16)
        .count()
      ctx.counters("operators.minhash.verify_yield") =
        truth.pairs.toDouble / math.max(1L, cand)
    }
    held.foreach(_.unpersist())
    ctx.delete(shardDir)
  }
}

/** Traced-only probes of the serde layer: the quirk encoder's cost as a
  * no-op-sink materialization minus the bare scan, and its output size.
  */
object SerdeProbe {
  def run(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    def noop(df: => DataFrame): Double =
      (1 to 3).map(_ => Ctx.timed(df.write.format("noop").mode("overwrite").save())._2).min
    val bare = ctx.tracer.op("probe.serde_bare_scan") { noop(spark.read.parquet(dir)) }
    val enc = ctx.tracer.op("probe.serde_encode") {
      noop(JsonDocEncoder.encode(spark.read.parquet(dir), quirkCompat = true))
    }
    ctx.counters("serde.encode_ms") = math.max(0.0, enc - bare)
    val r = JsonDocEncoder.encode(spark.read.parquet(dir), quirkCompat = true)
      .agg(sum(octet_length(col("doc"))), count(lit(1))).head
    ctx.counters("serde.json_bytes_per_row") = r.getLong(0).toDouble / r.getLong(1)
  }
}

/** One workload's job: a warm-up on small inputs, then the measured loop. */
trait Job {
  def warmUp(ctx: Ctx): Unit
  /** Run until `more()` turns false, and at least a few times. */
  def run(ctx: Ctx, more: () => Boolean): Unit
  /** The input the traced-only serde probe encodes. */
  def probeInput: String
  def describe: String
}

final class BulkJob(in: LineInput, tiny: LineInput) extends Job {
  def warmUp(ctx: Ctx): Unit = Bulk.round(ctx, tiny, "w")
  def run(ctx: Ctx, more: () => Boolean): Unit = {
    var i = 0
    while (i < 2 || more()) { Bulk.round(ctx, in, "m"); i += 1 }
  }
  def probeInput: String = in.dir
  def describe: String = s"lineitem ${in.totals.rows} rows, ${in.bytes} B"
}

final class CurateJob(dir: String, truth: CurateTruth, tinyDir: String,
    tinyTruth: CurateTruth) extends Job {
  def warmUp(ctx: Ctx): Unit =
    Curate.pass(ctx, tinyDir, tinyTruth, "w", yieldProbe = false)
  def run(ctx: Ctx, more: () => Boolean): Unit = {
    var i = 0
    while (i < 1 || more()) {
      Curate.pass(ctx, dir, truth, s"m$i", yieldProbe = ctx.tracer.enabled && i == 0)
      i += 1
    }
  }
  def probeInput: String = dir
  def describe: String = s"corpus ${truth.docs} docs, ${truth.reps} " +
    s"representatives, ${truth.tokens} representative bytes"
}
