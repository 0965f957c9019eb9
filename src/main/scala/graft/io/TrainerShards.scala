package graft.io

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.core.Publish
import graft.io.ShardArtifact._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CONTIGUOUS trainer-shard writer — the last hop from materialized
  * training sequences ([[graft.operators.Packing.materializeSequences]]
  * / [[graft.operators.Packing.materializeNoStraddle]]) to the flat
  * mmap-able artifact a training data loader actually opens (the
  * Megatron-LM indexed-dataset convention, public format family: a raw
  * token blob plus an offsets sidecar). Parquet rows of `token_ids`
  * are queryable; a trainer wants `seek(offset); read(len)` with zero
  * parsing — this writer produces exactly that.
  *
  * One FILE PAIR PER STRATUM (the stratum is the shard unit, the same
  * contract as the x22 shard assignment and the x73/x110 shuffle-shard
  * epoch): `<stratum>.tokens` holds every sequence's fixed-width ids
  * (`width` ∈ 1/2/4 bytes via the compiled
  * [[graft.expressions.PackedTokenBinary]] kernel) in ascending
  * `seq_id` order, and `<stratum>.idx` one end offset per sequence.
  * Above the pairs sit per-epoch consumption orders, cross-stratum
  * blend schedules and the run manifest. The file formats, the one
  * part writer, manifest codec and verifier the levels share, and the
  * readers' crash contract are [[ShardArtifact]]'s.
  *
  * Determinism: sequence order is `seq_id` ascending within a stratum
  * and every byte is a pure function of the input frame, so re-runs
  * are byte-identical (spec-asserted) — the property that lets a
  * restarted pipeline overwrite shards idempotently.
  *
  * Scale shape: each binary level is ONE exchange on its part key, a
  * spill-safe partition sort, then one streaming pass with O(1) task
  * state ([[ShardArtifact.writeParts]]). The stratum is the
  * parallelism unit, exactly like the packing operators that produce
  * the input — at 100 TB you shard first (x22) and write many bounded
  * file pairs, never one global blob.
  *
  * The reference stops at row-wise JSON ingest
  * (ParquetArangoLoader.java:85-288); this is the engine's
  * trainer-artifact surface.
  */
object TrainerShards {

  val TokensSuffix = ".tokens"
  val IdxSuffix = ".idx"
  val OrdSuffix = ".ord"
  val BlendSuffix = ".blend"
  val BlendDirName = "blend"
  val ManifestName = "_MANIFEST.json"
  val EpochManifestName = "_EPOCH.json"
  val BlendManifestName = "_BLEND.json"
  val RunManifestName = "_RUN.json"
  private[graft] val BlendHeaderBytes = BlendPart.headerBytes

  private val ShardKind = ManifestKind(ManifestName, "graft-trainer-shards",
    ShardIdx.version, "trainer-shard",
    "written by a pre-manifest version? re-run write()")
  private val EpochKind = ManifestKind(EpochManifestName,
    "graft-epoch-order", EpochOrd.version, "epoch-order",
    "written by a pre-manifest version? re-run writeEpochOrder")
  private val BlendKind = ManifestKind(BlendManifestName,
    "graft-blend-schedule", BlendPart.version, "blend-schedule",
    "writeBlendSchedule first")
  private val RunKind = ManifestKind(RunManifestName, "graft-training-run",
    1, "training-run", "writeRunManifest first")

  /** The per-epoch sidecar directory name under a shard set. */
  def epochDirName(epoch: Int): String = f"epoch-$epoch%05d"

  private def blendDir(dir: String, epoch: Int): String =
    s"$dir/${epochDirName(epoch)}/$BlendDirName"

  /** File-safe encoding of a stratum value (injective, reversible —
    * URL percent-encoding), so any stratum string maps to exactly one
    * file pair name.
    */
  def fileStem(stratum: String): String =
    java.net.URLEncoder.encode(stratum, "UTF-8")

  /** A driver-built inventory frame (strata- or parts-sized). */
  private def frame(spark: SparkSession, rows: Seq[Row],
      schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows,
      math.max(1, math.min(rows.length, 4))), schema)

  private def fields(names: (String, DataType)*): StructType =
    StructType(names.map { case (n, t) => StructField(n, t, nullable = false) })

  /** Write one file pair per stratum under `dir` and return the
    * manifest: (stratum, n_sequences, n_tokens, token_bytes, file,
    * tokens_md5, idx_md5) — the checksums accumulate on the write
    * stream, so integrity certification costs no second read
    * ([[verifyManifest]] is the loader-side check). EAGER — the write
    * job has completed (and the publish swap succeeded) when
    * this returns; the manifest frame is driver-built and
    * stratum-count-sized (bounded: strata are the declared shard
    * unit).
    *
    * `provenance` is a free-form string map shipped VERBATIM into
    * `_MANIFEST.json` — the slot for what the bytes alone cannot say:
    * WHICH tokenizer produced these ids (vocab file md5), which
    * corpus snapshot, which pipeline version. Token ids are
    * meaningless under a different vocabulary, and a loader that
    * checks `readProvenance` against its tokenizer artifact before
    * trusting the ids turns that silent-garbage failure into a loud
    * one. Keys must be non-empty; values are arbitrary strings.
    */
  def write(seqs: DataFrame, strataCol: String, seqIdCol: String,
      tokenIdsCol: String, width: Int, dir: String,
      provenance: Map[String, String] = Map.empty): DataFrame = {
    require(provenance.keys.forall(_.nonEmpty),
      "provenance keys must be non-empty")
    require(width == 1 || width == 2 || width == 4,
      s"width must be 1, 2, or 4 bytes, got $width")
    val spark = seqs.sparkSession
    // pack compiled BEFORE the exchange: the shuffle moves the final
    // bytes exactly once, and the fold below never touches id arrays
    val packed = seqs.select(
      col(strataCol).cast("string").as("__s"),
      col(seqIdCol).cast("long").as("__q"),
      graft.expressions.GraftFunctions.packedTokenBinary(
        col(tokenIdsCol), width).as("__b"),
      size(col(tokenIdsCol)).cast("long").as("__n"))
    val schema = fields("stratum" -> StringType, "n_sequences" -> LongType,
      "n_tokens" -> LongType, "token_bytes" -> LongType,
      "file" -> StringType, "tokens_md5" -> StringType,
      "idx_md5" -> StringType)
    val rows = writeParts("write", dir, packed, Seq("__s", "__q"),
        Seq(TokensSuffix, IdxSuffix), schema) { first =>
      val stratum = first.getString(0)
      new Part(fileStem(stratum)) {
        private var off, nSeq, nTok = 0L
        def headers = Seq(Array.emptyByteArray, ShardIdx.header(u32le(width)))
        def write(r: Row, out: (Int, Array[Byte]) => Unit): Unit = {
          val bytes = r.getAs[Array[Byte]](2)
          out(0, bytes)
          off += bytes.length
          out(1, u64le(off))
          nSeq += 1
          nTok += r.getLong(3)
        }
        def close(md5s: Seq[String]) =
          Row(stratum, nSeq, nTok, off, stem, md5s(0), md5s(1))
      }
    } { (staging, rows) =>
      // the manifest SHIPS WITH the artifact (same publish swap): a
      // loader reads counts/width/bytes without deriving them from file
      // sizes, and a shard set is self-describing
      writeManifest(spark, staging, ShardKind, "width" -> width,
        "provenance" -> provenance,
        "strata" -> rows.sortBy(_.getString(0)).toSeq.map(r => obj(
          "stratum" -> r.getString(0), "n_sequences" -> r.getLong(1),
          "n_tokens" -> r.getLong(2), "token_bytes" -> r.getLong(3),
          "file_stem" -> r.getString(4), "tokens_md5" -> r.getString(5),
          "idx_md5" -> r.getString(6))))
    }
    frame(spark, rows.toIndexedSeq, schema)
  }

  /** Read a published shard set's manifest back:
    * (stratum, n_sequences, n_tokens, token_bytes, file, width) —
    * the loader-facing inventory, strata-count-sized; the first five
    * columns match [[write]]'s returned manifest frame name-for-name
    * so the two inventories are interchangeable.
    */
  def readManifest(spark: SparkSession, dir: String): DataFrame = {
    val m = loadManifest(spark, dir, ShardKind)
    val width = m("width").asInt()
    val rows = m.array(m.root, "strata").map { n =>
      // checksum fields are null for a manifest written by a
      // pre-checksum version — readable, but [[verifyManifest]]
      // refuses it loudly rather than vacuously passing
      def opt(name: String): String =
        Option(n.get(name)).filterNot(_.isNull).map(_.asText()).orNull
      Row(m.field(n, "stratum").asText(), m.field(n, "n_sequences").asLong(),
        m.field(n, "n_tokens").asLong(), m.field(n, "token_bytes").asLong(),
        m.field(n, "file_stem").asText(), width, opt("tokens_md5"),
        opt("idx_md5"))
    }
    frame(spark, rows, StructType(fields("stratum" -> StringType,
      "n_sequences" -> LongType, "n_tokens" -> LongType,
      "token_bytes" -> LongType, "file" -> StringType,
      "width" -> IntegerType) ++ Seq(
      StructField("tokens_md5", StringType, nullable = true),
      StructField("idx_md5", StringType, nullable = true))))
  }

  /** Verify a published shard set against its manifest's content
    * checksums WITHOUT the engine that wrote it doing anything clever
    * ([[ShardArtifact.verify]]: every `.tokens`/`.idx` file re-read,
    * its md5 compared) — corruption, truncation, a missing committed
    * file, or an extra unmanifested shard all fail LOUDLY with the
    * offending files named. A manifest written by a pre-checksum
    * version refuses (no vacuous pass). Returns the per-stratum
    * verified frame (stratum, file, tokens_md5, idx_md5).
    */
  def verifyManifest(spark: SparkSession, dir: String): DataFrame = {
    val m = readManifest(spark, dir).select(col("stratum"), col("file"),
      col("tokens_md5"), col("idx_md5"))
    val expected = m.collect()
    require(expected.forall(r => r.getString(2) != null &&
      r.getString(3) != null),
      s"manifest at $dir carries no content checksums (written by a " +
        "pre-checksum version) — re-run write() to certify integrity")
    verify(spark, s"shard set at $dir", dir,
      s"*{$TokensSuffix,$IdxSuffix}", expected.toSeq.flatMap(r => Seq(
        Expected(r.getString(1) + TokensSuffix, r.getString(2)),
        Expected(r.getString(1) + IdxSuffix, r.getString(3)))))
    m
  }

  /** The provenance map a shard set was written with — empty for a
    * manifest from a pre-provenance version (readable; the CHECK is
    * the caller's: compare the tokenizer identity here against the
    * vocabulary you are about to decode with).
    */
  def readProvenance(spark: SparkSession, dir: String)
      : Map[String, String] =
    loadManifest(spark, dir, ShardKind).strings("provenance")

  /** Driver-side reference reader — the loader contract made
    * executable for the round-trip spec: parse the idx header +
    * offsets, slice the tokens blob, decode little-endian ids. A real
    * trainer mmaps both files and does the same arithmetic without
    * copies.
    */
  def readShard(spark: SparkSession, dir: String, stratum: String)
      : (Int, Seq[Seq[Long]]) = {
    val stem = fileStem(stratum)
    val idx = readBytes(spark, new HPath(dir, stem + IdxSuffix))
    val bb = ShardIdx.check(idx, stem + IdxSuffix)
    val width = bb.getInt(ShardIdx.magic.length + 4)
    require(width == 1 || width == 2 || width == 4,
      s"corrupt width $width in $stem$IdxSuffix")
    val ends = (0 until (idx.length - ShardIdx.headerBytes) / 8)
      .map(i => bb.getLong(ShardIdx.headerBytes + i * 8))
    val blob = readBytes(spark, new HPath(dir, stem + TokensSuffix))
    require(ends.isEmpty || ends.last == blob.length,
      s"idx/tokens size mismatch for $stem: ${ends.lastOption
        .getOrElse(0L)} vs ${blob.length}")
    val tb = java.nio.ByteBuffer.wrap(blob)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var begin = 0L
    val seqs = ends.map { end =>
      val n = ((end - begin) / width).toInt
      val out = new Array[Long](n)
      var i = 0
      while (i < n) {
        val p = (begin + i.toLong * width).toInt
        out(i) = width match {
          case 1 => blob(p) & 0xffL
          case 2 => tb.getShort(p) & 0xffffL
          case 4 => tb.getInt(p) & 0xffffffffL
        }
        i += 1
      }
      begin = end
      out.toSeq
    }
    (width, seqs)
  }

  /** DISTRIBUTED read-back of a written shard set: one row per
    * sequence, `(stratum, seq_idx, token_ids)` in file order — the
    * write's inverse, so the on-disk artifact is queryable (and
    * oracle-checked end to end, x116) without leaving Spark. Each
    * shard's file pair is read whole through the binaryFile source and
    * sliced by the compiled [[graft.expressions.ShardSequences]]
    * kernel; parallelism is one task per shard, the artifact's natural
    * unit. The binaryFile source bounds one file at the 2 GB row
    * limit, which stratum-sized shards should be sized under; a real
    * trainer mmaps instead.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    def files(suffix: String, as: String): DataFrame =
      spark.read.format("binaryFile").load(dir + "/*" + suffix)
        .select(regexp_extract(col("path"),
            "([^/]+)\\" + suffix + "$", 1).as("__stem"),
          col("content").as(as))
    files(TokensSuffix, "__blob").join(files(IdxSuffix, "__idx"),
        Seq("__stem"))
      .select(expr("url_decode(__stem)").as("stratum"),
        posexplode(graft.expressions.GraftFunctions.shardSequences(
          col("__blob"), col("__idx"))))
      .select(col("stratum"), col("pos").cast("long").as("seq_idx"),
        col("col").as("token_ids"))
  }

  /** Write the per-EPOCH consumption-order sidecars a restartable
    * trainer needs BESIDE the `.tokens`/`.idx` pairs — the missing
    * half of the Megatron-style indexed artifact family: the token
    * blob says WHAT the sequences are; these say in WHICH ORDER epoch
    * `epoch` consumes them. One `<stem>.ord` per stratum under
    * `<dir>/epoch-NNNNN/` (layout: [[ShardArtifact.EpochOrd]]), u64
    * sequence POSITIONS (0-based indexes into the stratum's `.idx`
    * order) in consumption order — mmap-able with no parsing, like the
    * pair it annotates.
    *
    * The permutation is the x73 construction carried to the artifact:
    * position `p` of stratum `s` sorts by
    * `md5(seed:epoch:s:p)` (ties by `p` — md5 collisions on these
    * short inputs do not occur, but the order must be TOTAL by
    * construction), so the epoch order is a pure function of
    * (seed, epoch, stratum, sequence count): byte-identical re-runs,
    * independent permutations per epoch/seed, and an ORACLE can
    * restate the whole file from the corpus alone. A trainer
    * restarting at step G resumes by skipping each shard's first G
    * positions — x110's consumed-prefix arithmetic — from the files
    * alone, no engine re-run ([[readEpochRemainder]] is that read
    * made executable; spec-asserted).
    *
    * Scale shape: sequence counts come from the published `.idx`
    * SIZES (one driver listing, strata-bounded); the position frame is
    * a distributed range join, then [[ShardArtifact.writeParts]] sorts
    * each stratum by the hash key and streams its positions to its
    * sidecar. The live `.tokens`/`.idx` files are never touched;
    * re-writing an epoch swaps its directory atomically.
    */
  def writeEpochOrder(seqsSpark: SparkSession, dir: String,
      seed: String, epoch: Int): DataFrame = {
    val spark = seqsSpark
    require(epoch >= 0, s"epoch must be >= 0, got $epoch")
    val strata = listIdxCounts(spark, dir)
    require(strata.nonEmpty, s"no shards at $dir — write() first")
    import spark.implicits._
    val counts = strata.toDF("__s", "__n")
    val maxN = strata.map(_._2).max
    // distributed position frame: range × strata (strata side is tiny
    // and broadcast), one row per (stratum, position)
    val positions = spark.range(maxN).toDF("__p")
      .join(broadcast(counts), col("__p") < col("__n"))
      .select(col("__s"), col("__p"),
        md5(concat_ws(":", lit(seed), lit(epoch.toString), col("__s"),
          col("__p").cast("string"))).as("__k"))
    val schema = fields("stratum" -> StringType, "n_sequences" -> LongType,
      "file" -> StringType, "ord_md5" -> StringType)
    val rows = writeParts("writeEpochOrder", s"$dir/${epochDirName(epoch)}",
        positions, Seq("__s", "__k", "__p"), Seq(OrdSuffix), schema) { first =>
      val stratum = first.getString(0)
      new Part(fileStem(stratum)) {
        private var n = 0L
        def headers = Seq(EpochOrd.header(u32le(epoch)))
        def write(r: Row, out: (Int, Array[Byte]) => Unit): Unit = {
          out(0, u64le(r.getLong(1)))
          n += 1
        }
        def close(md5s: Seq[String]) =
          Row(stratum, n, stem + OrdSuffix, md5s(0))
      }
    } { (staging, rows) =>
      // seed + per-file checksums ship with the sidecars, so the epoch
      // artifact is self-describing and integrity-verifiable
      writeManifest(spark, staging, EpochKind, "epoch" -> epoch,
        "seed" -> seed,
        "strata" -> rows.sortBy(_.getString(0)).toSeq.map(r => obj(
          "stratum" -> r.getString(0), "n_sequences" -> r.getLong(1),
          "file" -> r.getString(2), "ord_md5" -> r.getString(3))))
    }
    frame(spark, rows.toIndexedSeq, schema)
  }

  /** Verify a published epoch's `.ord` sidecars against the shipped
    * `_EPOCH.json` checksums — [[verifyManifest]]'s contract one
    * level up (md5 and size per sidecar). Also cross-checks each
    * stratum's `n_sequences` against the live `.idx` sizes, so an
    * epoch manifest from a RETIRED shard generation (counts no longer
    * matching) refuses instead of silently resuming the wrong
    * permutation length. Returns (stratum, file, ord_md5, seed).
    */
  def verifyEpochOrder(spark: SparkSession, dir: String, epoch: Int)
      : DataFrame = {
    val epochDir = s"$dir/${epochDirName(epoch)}"
    val m = loadManifest(spark, epochDir, EpochKind)
    require(m("epoch").asInt() == epoch,
      s"not this epoch's manifest: ${m.path}")
    val seed = m("seed").asText()
    val strata = m.array(m.root, "strata").map(n =>
      (m.field(n, "stratum").asText(), m.field(n, "n_sequences").asLong(),
        m.field(n, "file").asText(), m.field(n, "ord_md5").asText()))
    val idxCounts = listIdxCounts(spark, dir).toMap
    val stale = strata.flatMap { case (stratum, nSeq, _, _) =>
      idxCounts.get(stratum) match {
        case Some(n) if n != nSeq => Some(s"$stratum: manifest says " +
          s"$nSeq sequences but the live shard holds $n — epoch order " +
          "from a retired shard generation")
        case None => Some(s"$stratum: no live shard for this epoch order")
        case _ => None
      }
    }
    verify(spark, s"epoch $epoch at $dir", epochDir, s"*$OrdSuffix",
      strata.map { case (_, nSeq, file, md5) =>
        Expected(file, md5, EpochOrd.bytes(nSeq), s"$nSeq positions")
      }, stale)
    import spark.implicits._
    strata.map(t => (t._1, t._3, t._4, seed))
      .toDF("stratum", "file", "ord_md5", "seed")
  }

  /** DISTRIBUTED read of an epoch's consumption order: one row per
    * (stratum, rank, pos) — `rank` is the 1-based consumption step
    * within the stratum's shard, `pos` the 0-based sequence index into
    * the shard's `.idx` order. One task per sidecar (binaryFile source
    * + the compiled [[graft.expressions.EpochOrdPositions]] kernel),
    * the artifact's natural unit; composes with [[read]] by joining on
    * (stratum, pos = seq_idx).
    */
  def readEpochOrder(spark: SparkSession, dir: String, epoch: Int)
      : DataFrame = {
    // positions are BOUND-CHECKED against the shard's sequence count
    // (from the `.idx` sizes — one strata-bounded listing): a corrupted
    // position that is non-negative yet >= the count would otherwise
    // pass the kernel and silently DROP a consumption step at the
    // readInEpochOrder join — a sequence vanishing from the epoch. The
    // guard is filter-resident (assert_true) so the optimizer cannot
    // prune it, and an orphan sidecar naming a stratum with no shard
    // fails the same way (null count).
    import spark.implicits._
    val counts = broadcast(
      listIdxCounts(spark, dir).toDF("__cs", "__cn"))
    val ords = s"$dir/${epochDirName(epoch)}/*$OrdSuffix"
    spark.read.format("binaryFile").load(ords)
      .select(regexp_extract(col("path"),
          "([^/]+)\\" + OrdSuffix + "$", 1).as("__stem"),
        col("content").as("__ord"))
      .select(expr("url_decode(__stem)").as("stratum"),
        posexplode(graft.expressions.GraftFunctions.epochOrdPositions(
          col("__ord"))))
      .select(col("stratum"), (col("pos") + 1).cast("long").as("rank"),
        col("col").as("pos"))
      .join(counts, col("stratum") === col("__cs"), "left")
      .filter(assert_true(col("pos") < col("__cn"),
        concat(lit(s"epoch-order sidecar under $dir names position "),
          col("pos").cast("string"), lit(" of stratum '"), col("stratum"),
          lit("' which holds only "),
          coalesce(col("__cn").cast("string"), lit("NO")),
          lit(" sequences — corrupt or orphaned sidecar"))).isNull)
      .drop("__cs", "__cn")
  }

  /** The UNCONSUMED remainder of an epoch after a checkpoint at global
    * step `skipPerShard` — x110's consumed-prefix/remainder partition
    * computed FROM THE FILES ALONE (each shard's first `skipPerShard`
    * `.ord` entries are consumed; this returns the rest, rank order
    * preserved). A restarted trainer reading this sees every sequence
    * exactly once per epoch across the checkpoint boundary without
    * re-running the engine that wrote the artifact.
    */
  def readEpochRemainder(spark: SparkSession, dir: String, epoch: Int,
      skipPerShard: Long): DataFrame = {
    require(skipPerShard >= 0,
      s"skipPerShard must be >= 0, got $skipPerShard")
    readEpochOrder(spark, dir, epoch)
      .filter(col("rank") > skipPerShard)
  }

  /** The COMPOSED resume read — everything a restarted trainer needs
    * in one call, from the published files alone: each shard's epoch
    * order past the checkpoint ([[readEpochRemainder]]) joined back to
    * its sequences ([[read]]), yielding `(stratum, rank, pos,
    * token_ids)` — `rank` IS the consumption step, so order by
    * `(stratum, rank)` to consume (a join output carries no row
    * order). `skipPerShard = 0` replays the whole epoch. One task per
    * shard on each side + one stratum+position-keyed join; nothing
    * corpus-sized on the driver.
    */
  def readInEpochOrder(spark: SparkSession, dir: String, epoch: Int,
      skipPerShard: Long = 0L): DataFrame = {
    val order = readEpochRemainder(spark, dir, epoch, skipPerShard)
    val seqs = read(spark, dir)
      .select(col("stratum").as("__s"), col("seq_idx").as("pos"),
        col("token_ids"))
    order.join(seqs,
        order("stratum") === col("__s") && order("pos") === seqs("pos"))
      .select(order("stratum"), col("rank"), order("pos"),
        col("token_ids"))
  }

  /** Write the CROSS-STRATUM blend schedule into the epoch artifact —
    * the missing level above [[writeEpochOrder]]: the `.ord` sidecars
    * say in which order each stratum consumes ITS OWN sequences; this
    * says WHICH STRATUM feeds each global training step, so a
    * restarting trainer reconstructs the whole interleaved consumption
    * plan from the published directory alone (the same gap x117 closed
    * one level down). Files land under
    * `<dir>/epoch-NNNNN/blend/`: `part-NNNNN.blend` parts (layout:
    * [[ShardArtifact.BlendPart]], one (stratum ordinal, rank) record
    * per step) plus a `_BLEND.json` manifest carrying the ordinal
    * table, the quantized weights, and the per-part inventory — all
    * published by the same [[graft.core.Publish]] swap, so readers
    * never observe a half-written schedule.
    *
    * SEMANTICS — deterministic weighted fair interleave (the public
    * Megatron "blendable dataset" shape, stated in closed form):
    * stratum `s` with quantized weight `w_s = ⌊weight·1000⌋` consumes
    * its k-th sequence (1-based) at virtual time `k / w_s`; the global
    * schedule is all (stratum, k) pairs sorted by virtual time, ties
    * by stratum name in unsigned UTF-8 byte order (Spark SQL's and
    * DuckDB's string order — strata names are compared as the engines
    * compare them). Stratum `s` contributes `m_s = ⌊n_s · r_s⌋`
    * consumption steps, where `r_s` is its SOURCE-EPOCHS factor
    * (`epochsFactors`, default 1.0 — the [[graft.operators.Mixing
    * .epochsPerStratum]] device carried to the artifact: Wikipedia
    * ×2.5 sees 2.5 passes per blend epoch, crawl ×0.67 a partial
    * one); consumption step `k > n_s` WRAPS AROUND into the epoch's
    * permutation (`.ord` rank `((k−1) mod n_s) + 1` — replicas within
    * one blend epoch re-walk the same per-epoch order; the
    * permutation changes across epochs). At any prefix the
    * per-stratum consumption counts track the weight ratios (strata
    * that exhaust their `m_s` early simply drop out). The global step
    * of (i, k) has a CLOSED FORM in pure integer arithmetic —
    * `k + Σ_{j≠i} [min(m_j, ⌊(k·w_j − 1)/w_i⌋) + tie_j]` with
    * `tie_j = 1` iff `w_i | k·w_j ∧ k·w_j/w_i ≤ m_j ∧ name_j <
    * name_i` — so the whole artifact is a pure function of (weights,
    * factors, sequence counts): byte-identical re-runs, and an SQL
    * oracle can restate every (global_step, stratum, rank) row from
    * the corpus alone (x118 factor-free, x119 with factors and
    * wraparound).
    *
    * Scale shape: sequence counts come from the published `.idx`
    * sizes (one strata-bounded driver listing); the (stratum, k)
    * frame is the distributed range × broadcast-counts join; the
    * global step is computed MAP-SIDE per row from the closed form
    * (O(|strata|) longs per row, no sort, no window, nothing
    * corpus-sized on the driver); then [[ShardArtifact.writeParts]]
    * streams each part's records to its file with O(1) task state.
    * Each part ASSERTS its steps arrive dense and sequential
    * (`first_step + written`), so a closed-form bug can never publish
    * a silently gapped or duplicated schedule. HONEST BOUND: total
    * work is O(|strata| · Σm) — linear in steps but also linear in
    * strata PER STEP. Mixture strata are languages/sources (10²–10³
    * by construction, the same bound the driver-side listing and the
    * ordinal table already assume), where this is noise; a
    * 10⁵-stratum blend (e.g. per-domain) should collapse strata
    * upstream first (the [[graft.operators.Curation]] domain-quota
    * machinery exists for exactly that), not widen this closed form —
    * and `maxStrata` (default 10^4) refuses the pathological call
    * LOUDLY rather than letting it run silently quadratic.
    *
    * `weights` must cover every stratum in the shard set exactly (no
    * extras — a typo would silently re-weight the mix); each weight
    * must quantize to ≥ 1 milli-unit. Requires the epoch's `.ord`
    * sidecars to exist ([[writeEpochOrder]] first): the blend's ranks
    * are indexes INTO that consumption order, and publishing a blend
    * for an epoch with no per-stratum order is an inconsistent
    * artifact. Re-running [[writeEpochOrder]] swaps the whole epoch
    * directory and RETIRES the blend with it — re-publish the blend
    * after (the permutation the ranks point into changed).
    */
  def writeBlendSchedule(spark: SparkSession, dir: String, epoch: Int,
      weights: Map[String, Double], stepsPerFile: Long = 1L << 22,
      epochsFactors: Map[String, Double] = Map.empty,
      maxStrata: Int = 10000)
      : DataFrame = {
    require(epoch >= 0, s"epoch must be >= 0, got $epoch")
    require(maxStrata >= 1, s"maxStrata must be >= 1, got $maxStrata")
    require(stepsPerFile >= 1,
      s"stepsPerFile must be >= 1, got $stepsPerFile")
    val epochDir = s"$dir/${epochDirName(epoch)}"
    require(fs(spark, dir).exists(new HPath(epochDir)),
      s"no epoch-order sidecars at $epochDir — writeEpochOrder first " +
        "(blend ranks index into that consumption order)")
    // strata in unsigned UTF-8 byte order — the tie-break and ordinal
    // order, chosen because it is how Spark SQL and DuckDB both
    // compare strings (an oracle restates the tie without collation
    // gymnastics)
    def utf8Lt(a: String, b: String): Boolean =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(
          org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
    val strata = listIdxCounts(spark, dir).sortWith {
      case ((a, _), (b, _)) => utf8Lt(a, b)
    }
    require(strata.nonEmpty, s"no shards at $dir — write() first")
    // the closed form costs O(|strata|) long ops PER STEP (see the
    // honest bound in the doc above): fine at the 10^2-10^3 mixture
    // strata this layer produces, silently quadratic at 10^5. Refuse
    // the pathological call LOUDLY instead of running it.
    require(strata.size <= maxStrata,
      s"${strata.size} strata exceeds maxStrata=$maxStrata — the " +
        s"closed-form interleave costs O(|strata|) per step " +
        s"(~${strata.size}x${strata.map(_._2).sum} long ops here); " +
        "collapse strata upstream first (the Curation domain-quota / " +
        "Mixing machinery exists for exactly that), or raise " +
        "maxStrata explicitly if the cost is truly intended")
    val names = strata.map(_._1).toArray
    val ns = strata.map(_._2).toArray
    val missing = names.filterNot(weights.contains)
    require(missing.isEmpty,
      s"weights missing for strata: ${missing.mkString(", ")}")
    val extras = weights.keys.filterNot(names.contains).toSeq.sorted
    require(extras.isEmpty,
      s"weights name strata absent from the shard set: " +
        s"${extras.mkString(", ")} — a typo would re-weight the mix")
    val ws = names.map { s =>
      val w = math.floor(weights(s) * 1000d).toLong
      require(w >= 1, s"weight for stratum '$s' quantizes to $w " +
        "milli-units — must be >= 0.001")
      w
    }
    val fExtras = epochsFactors.keys.filterNot(names.contains)
      .toSeq.sorted
    require(fExtras.isEmpty,
      s"epochsFactors name strata absent from the shard set: " +
        s"${fExtras.mkString(", ")} — a typo would re-mix the epochs")
    // source-epochs factors, milli-quantized like Mixing's — m_s =
    // (n_s · f_milli) div 1000 consumption steps per stratum, 0 means
    // the stratum sits this blend epoch out entirely
    val fms = names.map { s =>
      val f = epochsFactors.getOrElse(s, 1.0)
      require(f >= 0 && f < 1000,
        s"epochs factor for stratum '$s' out of [0, 1000): $f")
      math.floor(f * 1000d).toLong
    }
    val ms = consumptionSteps(names, ns, fms)
    val total = ms.sum
    require(total >= 1,
      "every stratum's epochs factor rounds to zero steps — nothing " +
        "to schedule")
    val maxM = ms.max
    val maxW = ws.max
    require(maxW == 0 || maxM <= Long.MaxValue / maxW,
      s"k*w overflows a long: max steps $maxM x max milli-weight $maxW")
    val m = names.length
    val ordinalOf = names.zipWithIndex.toMap
    val table = names.indices.map(i => (names(i), i, ws(i), ns(i), fms(i),
      ms(i)))

    import spark.implicits._
    val countsDf = names.indices.map(i => (names(i), ms(i)))
      .toDF("__s", "__m")
    val positions = spark.range(maxM).toDF("__p")
      .join(broadcast(countsDf), col("__p") < col("__m"))
      .select(col("__s"), col("__p"))
    // closed-form global step, map-side: O(m) long ops per row. The
    // tie-break name_j < name_i is ordinal order (names are sorted).
    val scheduled = positions.as[(String, Long)].map { case (s, p) =>
      val i = ordinalOf(s)
      val wi = ws(i)
      val k = p + 1 // 1-based consumption step within stratum
      var g = k // own stratum: itself + its k-1 predecessors
      var j = 0
      while (j < m) {
        if (j != i) {
          val a = k * ws(j)
          var cnt = math.min(ms(j), (a - 1) / wi)
          if (a % wi == 0 && a / wi <= ms(j) && j < i) cnt += 1
          g += cnt
        }
        j += 1
      }
      ((g - 1) / stepsPerFile, g, i, k)
    }.toDF("__part", "__g", "__o", "__r")

    writeParts("writeBlendSchedule", blendDir(dir, epoch), scheduled,
        Seq("__part", "__g"), Seq(BlendSuffix),
        fields("part" -> LongType, "first_step" -> LongType,
          "n_steps" -> LongType, "file" -> StringType,
          "md5" -> StringType)) { first =>
      val part = first.getLong(0)
      new Part(f"part-$part%05d") {
        private val firstStep = part * stepsPerFile + 1
        private var n = 0L
        def headers = Seq(BlendPart.header(u32le(epoch), u64le(firstStep)))
        def write(r: Row, out: (Int, Array[Byte]) => Unit): Unit = {
          require(r.getLong(1) == firstStep + n,
            s"blend step ${r.getLong(1)} arrived out of sequence " +
              s"(expected ${firstStep + n}) — closed-form collision")
          out(0, u32le(r.getInt(2)))
          out(0, u64le(r.getLong(3)))
          n += 1
        }
        def close(md5s: Seq[String]) = {
          val expected = math.min(stepsPerFile, total - part * stepsPerFile)
          require(n == expected,
            s"blend part $part wrote $n steps, expected $expected — " +
              "the closed-form schedule has a gap or duplicate")
          Row(part, firstStep, n, stem + BlendSuffix, md5s(0))
        }
      }
    } { (staging, partRows) =>
      val nParts = ((total + stepsPerFile - 1) / stepsPerFile).toInt
      require(partRows.length == nParts &&
        partRows.map(_.getLong(0)).sorted.sameElements(
          Array.range(0, nParts).map(_.toLong)) &&
        partRows.map(_.getLong(2)).sum == total,
        s"blend schedule wrote ${partRows.length} parts covering " +
          s"${partRows.map(_.getLong(2)).sum} steps; expected $nParts " +
          s"parts / $total steps")
      writeManifest(spark, staging, BlendKind, "epoch" -> epoch,
        "steps_per_file" -> stepsPerFile, "total_steps" -> total,
        "strata" -> strataJson(table),
        "files" -> partRows.sortBy(_.getLong(0)).toSeq.map(r => obj(
          "file" -> r.getString(3), "first_step" -> r.getLong(1),
          "n_steps" -> r.getLong(2), "md5" -> r.getString(4))))
    }
    frame(spark, table.map(t => Row(t.productIterator.toSeq: _*)),
      fields("stratum" -> StringType, "ordinal" -> IntegerType,
        "weight_milli" -> LongType, "n_sequences" -> LongType,
        "factor_milli" -> LongType, "n_steps" -> LongType))
  }

  /** Per-stratum consumption steps m_s = (n_s · f_milli) div 1000 —
    * guarded: n_s can be trillions at 100 TB and f_milli up to
    * 999_999, and the product must not wrap silently into a negative
    * schedule.
    */
  private[graft] def consumptionSteps(names: Array[String],
      ns: Array[Long], fms: Array[Long]): Array[Long] =
    names.indices.map { i =>
      require(fms(i) == 0 || ns(i) <= Long.MaxValue / fms(i),
        s"n_sequences(${ns(i)}) x factor_milli(${fms(i)}) for " +
          s"stratum '${names(i)}' overflows a long")
      ns(i) * fms(i) / 1000L
    }.toArray

  /** A blend's strata table: (stratum, ordinal, weight_milli,
    * n_sequences, factor_milli, n_steps), the `strata` array of both
    * `_BLEND.json` and each `_RUN.json` epoch.
    */
  private type Strata = Seq[(String, Int, Long, Long, Long, Long)]

  private def strataJson(strata: Strata): Seq[ObjectNode] =
    strata.map { case (s, o, w, n, f, m) =>
      obj("stratum" -> s, "ordinal" -> o, "weight_milli" -> w,
        "n_sequences" -> n, "factor_milli" -> f, "n_steps" -> m)
    }

  private def readStrata(m: Manifest, node: JsonNode): Strata =
    m.array(node, "strata").map(n => (m.field(n, "stratum").asText(),
      m.field(n, "ordinal").asInt(), m.field(n, "weight_milli").asLong(),
      m.field(n, "n_sequences").asLong(),
      m.field(n, "factor_milli").asLong(), m.field(n, "n_steps").asLong()))

  /** The blend manifest parsed back: the strata table in ordinal order
    * plus (stepsPerFile, totalSteps).
    */
  private[graft] def readBlendMeta(spark: SparkSession, dir: String,
      epoch: Int): (Strata, Long, Long) = {
    val m = loadManifest(spark, blendDir(dir, epoch), BlendKind)
    require(m("epoch").asInt() == epoch,
      s"blend manifest at ${m.path} is for epoch " +
        s"${m("epoch").asInt()}, not $epoch")
    val strata = readStrata(m, m.root).sortBy(_._2)
    require(strata.map(_._2) == strata.indices,
      s"blend manifest ordinals are not dense 0..${strata.size - 1}: " +
        m.path)
    (strata, m("steps_per_file").asLong(), m("total_steps").asLong())
  }

  /** DISTRIBUTED read of the blend schedule: one row per global step —
    * `(global_step, stratum, rank)`, `rank` the 1-based consumption
    * step within the stratum (joins [[readEpochOrder]] on
    * (stratum, rank) for the position, [[readInBlendOrder]] composes
    * the whole chain). One task per part file (binaryFile + the
    * compiled [[graft.expressions.BlendEntries]] kernel); ordinals and
    * ranks are BOUND-CHECKED against the manifest's strata table
    * (filter-resident, like [[readEpochOrder]]'s position guard), and
    * a part from the wrong epoch fails loudly.
    */
  def readBlendSchedule(spark: SparkSession, dir: String, epoch: Int)
      : DataFrame = {
    val (strata, _, _) = readBlendMeta(spark, dir, epoch)
    val namesLit = typedLit(strata.map(_._1))
    import spark.implicits._
    // rank bound = the stratum's CONSUMPTION STEPS m_s (n·factor, may
    // exceed the sequence count when factors > 1 wrap around)
    val counts = broadcast(
      strata.map(t => (t._1, t._6)).toDF("__cs", "__cn"))
    val parts = s"${blendDir(dir, epoch)}/*$BlendSuffix"
    spark.read.format("binaryFile").load(parts)
      .select(graft.expressions.GraftFunctions.blendEntries(
        col("content")).as("__b"))
      .filter(assert_true(col("__b.epoch") === epoch,
        concat(lit("blend part under "), lit(dir),
          lit(" carries epoch "), col("__b.epoch").cast("string"),
          lit(s", expected $epoch"))).isNull)
      .select(col("__b.first_step").as("__fs"),
        posexplode(arrays_zip(col("__b.ordinals"), col("__b.ranks"))))
      .select((col("__fs") + col("pos")).as("global_step"),
        element_at(namesLit, col("col.ordinals") + 1).as("stratum"),
        col("col.ranks").as("rank"))
      .filter(assert_true(col("stratum").isNotNull,
        lit(s"blend part under $dir names a stratum ordinal outside " +
          s"the manifest's ${strata.size}-entry table")).isNull)
      .join(counts, col("stratum") === col("__cs"), "left")
      .filter(assert_true(col("rank") <= col("__cn"),
        concat(lit(s"blend part under $dir names rank "),
          col("rank").cast("string"), lit(" of stratum '"),
          col("stratum"), lit("' which is scheduled for only "),
          col("__cn").cast("string"), lit(" consumption steps")))
        .isNull)
      .drop("__cs", "__cn")
  }

  /** Per-shard cursors at a checkpoint: how many CONSUMPTION STEPS of
    * each stratum the blend schedule has taken by global step
    * `globalStep` INCLUSIVE — computed from the published files alone
    * (max rank per stratum over the prefix; strata not yet started
    * report 0; with source-epochs factors > 1 the cursor can exceed
    * the sequence count — `((cursor−1) mod n_s) + 1` is the `.ord`
    * position within the current wraparound pass). This plus
    * [[readEpochRemainder]] is everything a restarting trainer needs
    * to resume the BLEND mid-epoch with no engine re-run. Strata-sized
    * output.
    */
  def blendCursors(spark: SparkSession, dir: String, epoch: Int,
      globalStep: Long): DataFrame = {
    require(globalStep >= 0, s"globalStep must be >= 0, got $globalStep")
    val (strata, _, _) = readBlendMeta(spark, dir, epoch)
    import spark.implicits._
    val all = strata.map(_._1).toDF("stratum")
    val consumed = readBlendSchedule(spark, dir, epoch)
      .filter(col("global_step") <= globalStep)
      .groupBy(col("stratum"))
      .agg(max(col("rank")).as("__c"))
    all.join(consumed, Seq("stratum"), "left")
      .select(col("stratum"),
        coalesce(col("__c"), lit(0L)).as("consumed"))
  }

  /** The UNCONSUMED remainder of the blend schedule after a checkpoint
    * at global step `afterStep` — every (global_step, stratum, rank)
    * with `global_step > afterStep`, the cross-stratum twin of
    * [[readEpochRemainder]]. `afterStep = 0` replays the whole epoch.
    */
  def readBlendRemainder(spark: SparkSession, dir: String, epoch: Int,
      afterStep: Long): DataFrame = {
    require(afterStep >= 0, s"afterStep must be >= 0, got $afterStep")
    readBlendSchedule(spark, dir, epoch)
      .filter(col("global_step") > afterStep)
  }

  /** The COMPOSED cross-stratum resume read — the full artifact chain
    * from the published files alone: blend remainder past the
    * checkpoint ([[readBlendRemainder]]) → per-stratum consumption
    * order ([[readEpochOrder]], joined on (stratum,
    * `((rank−1) mod n_s) + 1` — the wraparound for source-epochs
    * factors > 1; the identity when factors are 1) → sequences
    * ([[read]], joined on (stratum, pos)), yielding `(global_step,
    * stratum, rank, pos, token_ids)` — order by `global_step` to
    * consume (a join output carries no row order). One task per file
    * on each leg plus two bounded-key joins; nothing corpus-sized on
    * the driver.
    */
  def readInBlendOrder(spark: SparkSession, dir: String, epoch: Int,
      afterStep: Long = 0L): DataFrame = {
    val (strata, _, _) = readBlendMeta(spark, dir, epoch)
    import spark.implicits._
    val seqCounts = broadcast(
      strata.map(t => (t._1, t._4)).toDF("__ss", "__sn"))
    val blend = readBlendRemainder(spark, dir, epoch, afterStep)
      .join(seqCounts, col("stratum") === col("__ss"))
      .withColumn("__ord_rank", (col("rank") - 1) % col("__sn") + 1)
      .drop("__ss", "__sn")
    val order = readEpochOrder(spark, dir, epoch)
      .select(col("stratum"), col("rank").as("__ord_rank"), col("pos"))
    val seqs = read(spark, dir)
      .select(col("stratum").as("__s"), col("seq_idx").as("__p"),
        col("token_ids"))
    blend.join(order, Seq("stratum", "__ord_rank"))
      .join(seqs,
        col("stratum") === col("__s") && col("pos") === col("__p"))
      .select(col("global_step"), col("stratum"), col("rank"),
        col("pos"), col("token_ids"))
  }

  /** (file, first_step, n_steps, md5) per part `_BLEND.json` declares. */
  private def blendFiles(spark: SparkSession, dir: String, epoch: Int)
      : Seq[(String, Long, Long, String)] = {
    val m = loadManifest(spark, blendDir(dir, epoch), BlendKind)
    m.array(m.root, "files").map(n => (m.field(n, "file").asText(),
      m.field(n, "first_step").asLong(), m.field(n, "n_steps").asLong(),
      m.field(n, "md5").asText()))
  }

  /** The part-file names a published blend's `_BLEND.json` declares —
    * the completeness ground truth the consumption stream checks a
    * micro-batch against (epoch-part-count sized).
    */
  private[graft] def blendPartNames(spark: SparkSession, dir: String,
      epoch: Int): Seq[String] =
    blendFiles(spark, dir, epoch).map(_._1)

  /** Verify a published blend schedule against its `_BLEND.json`
    * per-part checksums — [[verifyManifest]] / [[verifyEpochOrder]]'s
    * contract at the blend level (md5 and declared step count per
    * part). Returns (file, first_step, n_steps, md5).
    */
  def verifyBlendSchedule(spark: SparkSession, dir: String, epoch: Int)
      : DataFrame = {
    val files = blendFiles(spark, dir, epoch)
    verify(spark, s"blend schedule for epoch $epoch at $dir",
      blendDir(dir, epoch), s"*$BlendSuffix",
      files.map { case (file, _, nSteps, md5) =>
        Expected(file, md5, BlendPart.bytes(nSteps), s"$nSteps steps")
      })
    import spark.implicits._
    files.toDF("file", "first_step", "n_steps", "md5")
  }

  /** One DATA-PARALLEL rank's slice of the composed blend read — the
    * standard round-robin assignment (global step G feeds rank
    * `(G−1) mod worldSize`), filtered from [[readInBlendOrder]]'s
    * output so EACH rank reconstructs exactly its own consumption
    * stream from the published files alone: slices are disjoint,
    * exhaustive, and balanced within one step (spec-asserted). Resume
    * composes unchanged: pass the checkpoint's `afterStep` and every
    * rank skips the same global prefix.
    */
  def readBlendForRank(spark: SparkSession, dir: String, epoch: Int,
      rank: Int, worldSize: Int, afterStep: Long = 0L): DataFrame = {
    require(worldSize >= 1, s"worldSize must be >= 1, got $worldSize")
    require(rank >= 0 && rank < worldSize,
      s"rank must be in [0, $worldSize), got $rank")
    readInBlendOrder(spark, dir, epoch, afterStep)
      .filter((col("global_step") - 1) % worldSize === rank)
  }

  // ==================== run-level manifest ====================

  /** One epoch's row in the run manifest: its seed, its 1-based first
    * RUN step (prefix sum over the preceding epochs' totals), its
    * within-epoch total, its blend stepsPerFile, and the full strata
    * table the blend was bound with — enough to refuse a republished
    * blend that silently changed the mix.
    */
  private[graft] case class RunEpoch(epoch: Int, seed: String,
      firstRunStep: Long, totalSteps: Long, stepsPerFile: Long,
      strata: Seq[(String, Int, Long, Long, Long, Long)])

  /** The epoch numbers with a published directory under `dir`. */
  private def epochDirsOnDisk(spark: SparkSession, dir: String)
      : Seq[Int] = {
    val f = fs(spark, dir)
    if (!f.exists(new HPath(dir))) Nil
    else f.listStatus(new HPath(dir)).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.matches("epoch-\\d{5}") =>
        n.stripPrefix("epoch-").toInt }
      .sorted
  }

  /** The seed a published epoch's `_EPOCH.json` records. */
  private def readEpochSeed(spark: SparkSession, dir: String,
      epoch: Int): String =
    loadManifest(spark, s"$dir/${epochDirName(epoch)}", EpochKind)("seed")
      .asText()

  /** One committed run-binding generation: `_RUN.<gen>.json`. */
  private def runGenName(gen: Long): String = s"_RUN.$gen.json"
  private val runGenRe = "^_RUN\\.([0-9]+)\\.json$".r

  /** The highest committed run-binding generation on disk (0 = none
    * — a legacy `_RUN.json` published before generations existed, or
    * no binding at all). One root listing, pattern-filtered.
    */
  private[graft] def maxRunGeneration(spark: SparkSession,
      dir: String): Long = {
    val f = fs(spark, dir)
    if (!f.exists(new HPath(dir))) 0L
    else f.listStatus(new HPath(dir)).iterator
      .map(_.getPath.getName)
      .collect { case runGenRe(g) => g.toLong }
      .maxOption.getOrElse(0L)
  }

  /** The run-manifest publish protocol — a GENERATION-TOKEN CAS so a
    * racing publisher loses LOUDLY AT COMMIT instead of silently
    * unbinding the winner's epoch (the read-modify-write hazard of a
    * bare overwriting rename):
    *  1. COMMIT: the manifest bytes rename WITHOUT overwrite to the
    *     immutable `_RUN.<gen>.json`, `gen` = highest on disk + 1.
    *     Exactly one concurrent publisher can win this rename; the
    *     loser throws here, having changed nothing a reader keys on.
    *  2. POINT: the SAME bytes then replace `_RUN.json`, the file
    *     readers key on (the pointer IS the manifest; the generation
    *     files are the serialization token and the binding's audit
    *     trail, one small JSON per extend). Both steps are
    *     [[graft.core.Publish.writeFile]].
    * A publisher crashing between 1 and 2 leaves a committed
    * generation newer than the pointer — [[verifyRun]] refuses that
    * state loudly (re-publish to heal); it can never LOSE a bound
    * epoch, because the pointer still holds the last fully published
    * binding.
    */
  private def publishRunManifest(spark: SparkSession, dir: String,
      bytes: Array[Byte]): Unit = {
    commitRunGeneration(spark, dir, bytes,
      maxRunGeneration(spark, dir) + 1)
    Publish.writeFile(spark.sparkContext.hadoopConfiguration,
      new HPath(dir, RunManifestName), bytes, replace = true)
  }

  /** The COMMIT step alone (no pointer update) with an EXPLICIT
    * generation — package-private so the racing-publisher and
    * commit-then-crash specs can replay a stale generation read and
    * a half-publish deterministically; production paths go through
    * [[publishRunManifest]], which reads the live maximum and then
    * publishes the pointer.
    */
  private[graft] def commitRunGeneration(spark: SparkSession,
      dir: String, bytes: Array[Byte], gen: Long): Unit = {
    val genPath = new HPath(dir, runGenName(gen))
    try Publish.writeFile(spark.sparkContext.hadoopConfiguration,
      genPath, bytes, replace = false)
    catch {
      case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"concurrent run-manifest publish at $dir: generation " +
            s"${genPath.getName} was committed by another writer " +
            "while this one was binding — this publish refuses at " +
            "commit (the winner's binding is untouched); re-read " +
            "the run and retry", e)
    }
  }

  /** Publish `_RUN.json` at the shard root — the level above
    * x117/x118: each `_BLEND.json` fixes one epoch's global order;
    * the RUN manifest fixes WHICH epochs exist, in what consumption
    * order, under what seed/weights/factors — so "the trainer is at
    * run step G" is resolvable across epoch boundaries from the
    * published files alone ([[readRunRemainder]]), with no epoch
    * arithmetic left to the caller.
    *
    * Everything in the manifest is READ FROM the published artifacts,
    * never invented here: per-epoch seeds from `_EPOCH.json`, strata
    * tables / totals / stepsPerFile from `_BLEND.json`, the
    * provenance map from `_MANIFEST.json` — the writer only BINDS
    * them, adding the prefix-sum `first_run_step` per epoch. Binding
    * requires every declared epoch to have BOTH sidecar levels
    * published, and the declared list must cover the epoch
    * directories on disk EXACTLY (no stragglers a resuming trainer
    * would silently skip, no declared-but-missing epochs) — the same
    * loud-failure idiom [[verifyRun]] re-checks read-side. Driver
    * cost: one listing plus one small JSON read per epoch — nothing
    * corpus-sized.
    */
  def writeRunManifest(spark: SparkSession, dir: String,
      epochs: Seq[Int]): DataFrame = {
    require(epochs.nonEmpty, "a run binds at least one epoch")
    require(epochs.forall(_ >= 0),
      s"epochs must be >= 0: ${epochs.mkString(", ")}")
    require(epochs.distinct == epochs,
      s"duplicate epochs in the run: ${epochs.mkString(", ")}")
    val onDisk = epochDirsOnDisk(spark, dir)
    require(onDisk.toSet == epochs.toSet,
      s"run epochs [${epochs.mkString(", ")}] disagree with the " +
        s"epoch directories on disk [${onDisk.mkString(", ")}] — a " +
        "run must bind exactly what is published (drop strays or " +
        "declare them)")
    val metas = {
      var first = 1L
      epochs.map { e =>
        val seed = readEpochSeed(spark, dir, e)
        val (strata, spf, total) = readBlendMeta(spark, dir, e)
        val m = RunEpoch(e, seed, first, total, spf, strata)
        first += total
        m
      }
    }
    publishRunManifest(spark, dir, manifestBytes(RunKind,
      "total_steps" -> metas.map(_.totalSteps).sum,
      "provenance" -> readProvenance(spark, dir),
      "epochs" -> metas.map(m => obj("epoch" -> m.epoch, "seed" -> m.seed,
        "first_run_step" -> m.firstRunStep, "total_steps" -> m.totalSteps,
        "steps_per_file" -> m.stepsPerFile,
        "strata" -> strataJson(m.strata)))))
    import spark.implicits._
    metas.map(m => (m.epoch, m.seed, m.firstRunStep, m.totalSteps))
      .toDF("epoch", "seed", "first_run_step", "total_steps")
  }

  /** APPEND one newly published epoch to an existing run — the
    * steady-state verb of a months-lived training run (publish epoch
    * N+1's order + blend, then extend the binding) without
    * redeclaring the whole epoch list. The epoch must be the ONLY
    * epoch directory on disk not yet bound (anything else is drift
    * the caller must resolve first — the writeRunManifest contract),
    * must carry both sidecar levels, and must not already be bound.
    * The re-published `_RUN.json` is byte-equivalent to a fresh
    * [[writeRunManifest]] over the extended list (spec-asserted), so
    * extension never forks the artifact's meaning; the publish goes
    * through the [[publishRunManifest]] generation-token CAS, so of
    * two RACING extends exactly one commits and the other throws at
    * commit — never a silently unbound epoch. Returns the new
    * binding summary.
    */
  def extendRunManifest(spark: SparkSession, dir: String, epoch: Int)
      : DataFrame = {
    val (metas, _) = readRunMeta(spark, dir)
    require(!metas.exists(_.epoch == epoch),
      s"epoch $epoch is already bound to the run at $dir")
    val onDisk = epochDirsOnDisk(spark, dir)
    val unbound = onDisk.filterNot(e =>
      metas.exists(_.epoch == e) || e == epoch)
    require(unbound.isEmpty,
      s"epoch directories [${unbound.mkString(", ")}] are on disk " +
        s"but bound to no run — a run must bind exactly what is " +
        "published; drop strays or declare them via writeRunManifest")
    require(onDisk.contains(epoch),
      s"no epoch directory for epoch $epoch at $dir — " +
        "writeEpochOrder + writeBlendSchedule first")
    writeRunManifest(spark, dir, metas.map(_.epoch) :+ epoch)
  }

  /** The run manifest parsed back: epochs in consumption order plus
    * the recorded provenance map.
    */
  private[graft] def readRunMeta(spark: SparkSession, dir: String)
      : (Seq[RunEpoch], Map[String, String]) = {
    val m = loadManifest(spark, dir, RunKind)
    val metas = m.array(m.root, "epochs").map(n => RunEpoch(
      m.field(n, "epoch").asInt(), m.field(n, "seed").asText(),
      m.field(n, "first_run_step").asLong(),
      m.field(n, "total_steps").asLong(),
      m.field(n, "steps_per_file").asLong(), readStrata(m, n)))
    require(metas.nonEmpty, s"run manifest binds no epochs: ${m.path}")
    // the prefix sums must be dense — a hand-edited manifest with a
    // gap would silently shift every later epoch's run steps
    var first = 1L
    metas.foreach { e =>
      require(e.firstRunStep == first,
        s"run manifest epoch ${e.epoch} starts at run step " +
          s"${e.firstRunStep}, expected $first — the epoch list is " +
          s"gapped or reordered: ${m.path}")
      first += e.totalSteps
    }
    (metas, m.strings("provenance"))
  }

  /** Verify a published run against what is actually on disk —
    * [[verifyManifest]]'s contract at the TOP level. Shallow (always):
    * the epoch-directory set on disk equals the declared list, every
    * declared epoch's `_EPOCH.json` seed and `_BLEND.json` strata
    * table / totals still match what the run was bound with (a
    * republished epoch order or re-weighted blend REFUSES — its run
    * steps would silently mean different sequences), and the
    * provenance map still matches `_MANIFEST.json`. `deep = true`
    * additionally re-checksums every level through [[verifyManifest]],
    * [[verifyEpochOrder]] and [[verifyBlendSchedule]]. Returns
    * (epoch, seed, first_run_step, total_steps).
    */
  def verifyRun(spark: SparkSession, dir: String,
      deep: Boolean = false): DataFrame = {
    val (metas, prov) = readRunMeta(spark, dir)
    val problems = Seq.newBuilder[String]
    val onDisk = epochDirsOnDisk(spark, dir)
    val declared = metas.map(_.epoch)
    if (onDisk.toSet != declared.toSet)
      problems += s"epoch directories on disk " +
        s"[${onDisk.mkString(", ")}] disagree with the run's " +
        s"declared epochs [${declared.mkString(", ")}]"
    else metas.foreach { m =>
      val seed = readEpochSeed(spark, dir, m.epoch)
      if (seed != m.seed)
        problems += s"epoch ${m.epoch}: seed '$seed' on disk, run " +
          s"was bound with '${m.seed}' — epoch order republished " +
          "since the run was bound"
      val (strata, spf, total) = readBlendMeta(spark, dir, m.epoch)
      if (total != m.totalSteps || spf != m.stepsPerFile ||
          strata != m.strata)
        problems += s"epoch ${m.epoch}: the published blend " +
          s"(total $total, ${strata.size} strata) no longer matches " +
          s"the run binding (total ${m.totalSteps}, " +
          s"${m.strata.size} strata) — blend republished since the " +
          "run was bound"
    }
    val liveProv = readProvenance(spark, dir)
    if (liveProv != prov)
      problems += s"provenance on disk $liveProv no longer matches " +
        s"the run's recorded $prov — shards republished since the " +
        "run was bound"
    // generation-token cross-check: the newest COMMITTED generation
    // must be the binding the pointer names — a publisher that won
    // the commit rename but crashed before the pointer (or a
    // clobbered pointer) is a half-published binding, refused loudly
    // (re-publish via writeRunManifest to heal; no bound epoch is
    // ever lost — the pointer still holds the last full publish)
    val gen = maxRunGeneration(spark, dir)
    if (gen > 0 && !java.util.Arrays.equals(
        readBytes(spark, new HPath(dir, runGenName(gen))),
        readBytes(spark, new HPath(dir, RunManifestName))))
      problems += s"committed generation $gen does not match the " +
        s"$RunManifestName pointer — a publisher crashed between " +
        "commit and pointer, or the pointer was clobbered; " +
        "re-publish the binding (writeRunManifest) to heal"
    val bad = problems.result()
    require(bad.isEmpty,
      s"training run at $dir fails verification:\n  " +
        bad.mkString("\n  "))
    if (deep) {
      verifyManifest(spark, dir).collect()
      metas.foreach { m =>
        verifyEpochOrder(spark, dir, m.epoch).collect()
        verifyBlendSchedule(spark, dir, m.epoch).collect()
      }
    }
    import spark.implicits._
    metas.map(m => (m.epoch, m.seed, m.firstRunStep, m.totalSteps))
      .toDF("epoch", "seed", "first_run_step", "total_steps")
  }

  /** Resolve a RUN-global checkpoint ("the trainer has consumed
    * through run step G inclusive") to its position in the epoch
    * sequence: (epoch, steps consumed WITHIN that epoch). G = 0 is
    * before everything (first epoch, 0 consumed); a G at or past the
    * run's end pins to the last epoch fully consumed. Pure driver
    * arithmetic over the manifest's prefix sums — the epoch math the
    * caller previously had to do themselves, now read from the
    * artifact.
    */
  def runCursor(spark: SparkSession, dir: String, runStep: Long)
      : (Int, Long) = {
    require(runStep >= 0, s"runStep must be >= 0, got $runStep")
    val (metas, _) = readRunMeta(spark, dir)
    val last = metas.last
    if (runStep >= last.firstRunStep + last.totalSteps - 1)
      (last.epoch, last.totalSteps)
    else {
      val m = metas.reverse.find(_.firstRunStep <= runStep)
        .getOrElse(metas.head)
      (m.epoch, math.max(0L, runStep - (m.firstRunStep - 1)))
    }
  }

  /** Per-shard cursors at a RUN-global checkpoint: [[blendCursors]]
    * resolved through [[runCursor]] — (epoch, stratum, consumed) for
    * the epoch the checkpoint lands in (every earlier epoch is fully
    * consumed, every later one untouched). From the published files
    * alone; strata-sized output.
    */
  def runCursors(spark: SparkSession, dir: String, runStep: Long)
      : DataFrame = {
    val (epoch, within) = runCursor(spark, dir, runStep)
    blendCursors(spark, dir, epoch, within)
      .select(lit(epoch).as("epoch"), col("stratum"), col("consumed"))
  }

  /** The UNCONSUMED remainder of the whole RUN after a checkpoint at
    * run step `afterStep` — every (run_step, epoch, global_step,
    * stratum, rank) with `run_step > afterStep`, ACROSS epoch
    * boundaries: the checkpoint epoch contributes its
    * [[readBlendRemainder]], every later epoch its full schedule,
    * each offset by its manifest `first_run_step`. Refuses an epoch
    * whose published blend no longer matches the run binding (its
    * steps would mean different sequences). `afterStep = 0` replays
    * the whole run.
    */
  def readRunRemainder(spark: SparkSession, dir: String,
      afterStep: Long): DataFrame = {
    require(afterStep >= 0, s"afterStep must be >= 0, got $afterStep")
    runLegs(spark, dir, afterStep,
      (e, after) => readBlendRemainder(spark, dir, e, after))
  }

  /** The COMPOSED cross-epoch resume read — [[readInBlendOrder]]
    * carried across the whole run: every remaining step resolved
    * through its epoch's `.ord` permutation (wraparound included) to
    * its sequence bytes, as `(run_step, epoch, global_step, stratum,
    * rank, pos, token_ids)`. Order by `run_step` to consume.
    */
  def readInRunOrder(spark: SparkSession, dir: String,
      afterStep: Long = 0L): DataFrame = {
    require(afterStep >= 0, s"afterStep must be >= 0, got $afterStep")
    runLegs(spark, dir, afterStep,
      (e, after) => readInBlendOrder(spark, dir, e, after))
  }

  /** One DP rank's slice of the composed RUN read — the
    * [[readBlendForRank]] round-robin carried across epoch
    * boundaries: run step G feeds rank `(G−1) mod worldSize`, so the
    * assignment never resets at an epoch edge and every rank's slice
    * stays disjoint, exhaustive, and balanced within one step.
    */
  def readRunForRank(spark: SparkSession, dir: String, rank: Int,
      worldSize: Int, afterStep: Long = 0L): DataFrame = {
    require(worldSize >= 1, s"worldSize must be >= 1, got $worldSize")
    require(rank >= 0 && rank < worldSize,
      s"rank must be in [0, $worldSize), got $rank")
    readInRunOrder(spark, dir, afterStep)
      .filter((col("run_step") - 1) % worldSize === rank)
  }

  /** The shared cross-epoch union: one leg per epoch with anything
    * left past the checkpoint, each leg's within-epoch frame lifted
    * to run coordinates. Epoch count legs — bounded by the run
    * length, never by the corpus.
    */
  private def runLegs(spark: SparkSession, dir: String,
      afterStep: Long, leg: (Int, Long) => DataFrame): DataFrame = {
    val (metas, _) = readRunMeta(spark, dir)
    val frames = metas.flatMap { m =>
      // the live blend must still be the one the run was bound with —
      // a republished mix would make these run steps silently mean
      // different sequences
      val (_, _, liveTotal) = readBlendMeta(spark, dir, m.epoch)
      require(liveTotal == m.totalSteps,
        s"epoch ${m.epoch}'s published blend holds $liveTotal steps " +
          s"but the run was bound with ${m.totalSteps} — blend " +
          "republished since the run was bound; rewrite _RUN.json")
      val afterWithin = math.min(m.totalSteps,
        math.max(0L, afterStep - (m.firstRunStep - 1)))
      if (afterWithin >= m.totalSteps) None
      else Some(leg(m.epoch, afterWithin)
        .withColumn("epoch", lit(m.epoch))
        .withColumn("run_step",
          col("global_step") + lit(m.firstRunStep - 1)))
    }
    require(frames.nonEmpty || afterStep > 0,
      s"run at $dir has no steps at all")
    val all = frames match {
      case Nil =>
        // checkpoint at or past the run's end: an EMPTY frame in the
        // leg's shape, not an error — "nothing left" is an answer
        leg(metas.last.epoch, metas.last.totalSteps)
          .withColumn("epoch", lit(metas.last.epoch))
          .withColumn("run_step", col("global_step"))
      case fs => fs.reduce(_ unionByName _)
    }
    val rest = all.columns.filterNot(c =>
      c == "run_step" || c == "epoch" || c == "global_step")
    all.select((Seq(col("run_step"), col("epoch"),
      col("global_step")) ++ rest.map(col)): _*)
  }

  /** Driver-side reference reader for one blend part — the loader
    * contract made executable for the specs, like [[readShard]]:
    * returns (epoch, firstStep, records as (ordinal, rank)).
    */
  def readBlendPartDriver(spark: SparkSession, dir: String, epoch: Int,
      file: String): (Int, Long, Seq[(Int, Long)]) = {
    val p = new HPath(blendDir(dir, epoch), file)
    val blob = readBytes(spark, p)
    val bb = BlendPart.check(blob, p.toString)
    val h = BlendPart.headerBytes
    (bb.getInt(BlendPart.magic.length + 4),
      bb.getLong(BlendPart.magic.length + 8),
      (0 until (blob.length - h) / 12).map(i =>
        (bb.getInt(h + i * 12), bb.getLong(h + i * 12 + 4))))
  }

  /** Driver-side reference reader for one stratum's epoch sidecar —
    * the loader contract made executable for the specs, like
    * [[readShard]]: returns (epoch, positions-in-consumption-order).
    */
  def readEpochOrderShard(spark: SparkSession, dir: String, epoch: Int,
      stratum: String): (Int, Seq[Long]) = {
    val p = new HPath(s"$dir/${epochDirName(epoch)}",
      fileStem(stratum) + OrdSuffix)
    val ord = readBytes(spark, p)
    val bb = EpochOrd.check(ord, p.toString)
    val h = EpochOrd.headerBytes
    (bb.getInt(EpochOrd.magic.length + 4),
      (0 until (ord.length - h) / 8).map(i => bb.getLong(h + i * 8)))
  }

  /** (stratum, sequence count) for every shard in a written set,
    * from the published `.idx` SIZES alone — ONE driver listing,
    * strata-bounded; the sequence-count ground truth the epoch and
    * blend writers (and the read-time position bound check) share.
    */
  private[graft] def listIdxCounts(spark: SparkSession, dir: String)
      : Seq[(String, Long)] = {
    val f = fs(spark, dir)
    require(f.exists(new HPath(dir)), s"no shard set at $dir")
    f.listStatus(new HPath(dir)).toSeq
      .filter(_.getPath.getName.endsWith(IdxSuffix))
      .map(st => (java.net.URLDecoder.decode(
          st.getPath.getName.stripSuffix(IdxSuffix), "UTF-8"),
        ShardIdx.records(st.getLen, st.getPath.toString)))
      .sortBy(_._1)
  }

  /** The strata present in a written shard set — one idx listing. */
  def listShards(spark: SparkSession, dir: String): Seq[String] = {
    val f = fs(spark, dir)
    if (!f.exists(new HPath(dir))) Nil
    else f.listStatus(new HPath(dir)).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(IdxSuffix))
      .map(n => java.net.URLDecoder.decode(
        n.stripSuffix(IdxSuffix), "UTF-8"))
      .sorted
  }
}
