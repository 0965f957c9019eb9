package graft.io

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.US_ASCII

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{IntNode, LongNode, ObjectNode}
import graft.core.Publish
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The one artifact module under [[TrainerShards]]. Its four levels
  * (shard pairs, epoch orders, blend schedules, the run manifest) each
  * supply a record layout, manifest fields and level checks; the
  * machinery is here, once:
  *  - [[Layout]]: the one header check (magic, version, header size,
  *    whole records) — the driver readers and the
  *    [[graft.expressions.ShardSequences]],
  *    [[graft.expressions.EpochOrdPositions]] and
  *    [[graft.expressions.BlendEntries]] kernels all call it;
  *  - [[writeParts]]: the one part writer;
  *  - [[manifestBytes]] / [[loadManifest]]: the one manifest codec;
  *  - [[verify]]: the one checksum verifier.
  *
  * FILE FORMATS — every integer little-endian; a manifest md5 covers a
  * whole file; `<stem>` is the URL-encoded stratum
  * ([[TrainerShards.fileStem]]):
  *  - `<stem>.tokens`: no header; each sequence's ids as `width`-byte
  *    unsigned integers, sequences concatenated in `seq_id` order;
  *  - `<stem>.idx` ([[ShardIdx]]): `GRFTSHRD`, u32 version, u32 width,
  *    then one u64 END byte offset into `.tokens` per sequence;
  *  - `epoch-NNNNN/<stem>.ord` ([[EpochOrd]]): `GRFTEPOC`, u32 version,
  *    u32 epoch, then one u64 sequence position (into the `.idx` order)
  *    per consumption step;
  *  - `epoch-NNNNN/blend/part-NNNNN.blend` ([[BlendPart]]): `GRFTBLNP`,
  *    u32 version, u32 epoch, u64 first global step, then one 12-byte
  *    record per step: u32 stratum ordinal, u64 1-based rank within
  *    that stratum;
  *  - `_MANIFEST.json`, `epoch-NNNNN/_EPOCH.json`,
  *    `epoch-NNNNN/blend/_BLEND.json`, `_RUN.json` and its
  *    `_RUN.<gen>.json` generations: pretty-printed JSON, `format` and
  *    `version` first, then the level's fields.
  *
  * CRASH CONTRACT. Every writer recovers its target, stages, and swaps
  * through [[graft.core.Publish]] (the run manifest through
  * `Publish.writeFile`), so a reader sees the old or the new level,
  * never a mix. Readers — every `read*`, `verify*`, `list*` and cursor
  * verb — do not run crash recovery: after a crash between a rewrite's
  * retire and publish steps the level is absent beside its one `.old-`
  * copy (for the run level: no `_RUN.json`), and the reader refuses
  * loudly until the next write recovers it.
  */
private[graft] object ShardArtifact {

  /** One binary file layout: `magic`, u32 `version`, the level's header
    * fields up to `headerBytes`, then `recordBytes`-sized records.
    */
  final class Layout(kind: String, magicText: String, val version: Int,
      val headerBytes: Int, val recordBytes: Int) extends Serializable {
    val magic: Array[Byte] = magicText.getBytes(US_ASCII)

    /** The header: magic, u32 version, then the level's fields. */
    def header(fields: Array[Byte]*): Array[Byte] = {
      val h = (Seq(magic, u32le(version)) ++ fields).flatten.toArray
      require(h.length == headerBytes, s"$kind header is ${h.length} bytes")
      h
    }

    /** The size of a file holding `records` records. */
    def bytes(records: Long): Long = headerBytes + recordBytes * records

    /** The records a file of `len` bytes holds, from its size alone;
      * refuses a size that is not a header plus whole records.
      */
    def records(len: Long, where: String): Long = {
      require(len >= headerBytes && (len - headerBytes) % recordBytes == 0,
        s"truncated $kind: $where")
      (len - headerBytes) / recordBytes
    }

    /** The one header check: magic, version and whole records, loudly;
      * the file as a little-endian buffer for the level's own fields.
      */
    def check(file: Array[Byte], where: String = ""): ByteBuffer = {
      val at = if (where.isEmpty) "" else s": $where"
      require(file.length >= headerBytes &&
        magic.indices.forall(i => file(i) == magic(i)),
        s"not ${an(kind)} (bad magic)$at")
      val bb = ByteBuffer.wrap(file).order(ByteOrder.LITTLE_ENDIAN)
      val v = bb.getInt(magic.length)
      require(v == version, s"unsupported $kind version $v$at")
      require((file.length - headerBytes) % recordBytes == 0,
        s"truncated $kind$at")
      bb
    }
  }

  private def an(noun: String): String =
    (if ("aeiou".contains(noun.head)) "an " else "a ") + noun

  val ShardIdx = new Layout("trainer-shard idx", "GRFTSHRD", 1, 16, 8)
  val EpochOrd = new Layout("epoch-order sidecar", "GRFTEPOC", 1, 16, 8)
  val BlendPart = new Layout("blend-schedule part", "GRFTBLNP", 1, 24, 12)

  def u32le(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()

  def u64le(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v).array()

  def fs(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A whole (small, driver-side) file. */
  def readBytes(spark: SparkSession, p: HPath): Array[Byte] = {
    val in = fs(spark, p.toString).open(p)
    try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
  }

  // ---- the part writer --------------------------------------------

  /** One open part of a level (one key): the record encoder. Its files
    * are `stem + suffix` for each of the writer's suffixes.
    */
  abstract class Part(val stem: String) {
    /** Each file's header, in suffix order (empty: none). */
    def headers: Seq[Array[Byte]]
    /** Encode one row; `out(i, bytes)` appends to file `i`. */
    def write(row: Row, out: (Int, Array[Byte]) => Unit): Unit
    /** The inventory row, from each file's md5. A level check that
      * throws here stops the part before it commits.
      */
    def close(md5s: Seq[String]): Row
  }

  private val AttemptMark = ".attempt-"

  /** The one part writer. `rows`' first column is the part key: ONE
    * exchange on it, a spill-safe sort by `order` within partitions,
    * then each key STREAMS to its files with O(1) task state (the open
    * streams, running md5s and the [[Part]]'s counters). Each task
    * ATTEMPT writes attempt-unique files (`<file>.attempt-<id>`) and
    * commits them at part close ([[commitAttemptFile]]), so a ZOMBIE
    * attempt (re-launched while the presumed-lost one still runs, which
    * `spark.speculation=false` does not rule out) never interleaves
    * bytes into another attempt's file; orphaned attempt files are swept
    * before publish. Speculation adds concurrency for no benefit (the
    * exchange gives each key one task, and no output committer runs
    * underneath), so it is refused loudly.
    *
    * Recovers `target`, writes into its staging directory, runs
    * `finish(staging, inventory)` (the level's manifest and checks),
    * then swaps the staging directory in. Returns one inventory row per
    * committed part. EAGER.
    */
  def writeParts(verb: String, target: String, rows: DataFrame,
      order: Seq[String], suffixes: Seq[String], inventory: StructType)(
      open: Row => Part)(finish: (String, Array[Row]) => Unit)
      : Array[Row] = {
    val spark = rows.sparkSession
    require(!spark.conf.getOption("spark.speculation").exists(_.toBoolean),
      s"TrainerShards.$verb is incompatible with spark.speculation — " +
        "duplicate task attempts would interleave writes into one part " +
        "file; disable speculation for this job")
    val t = new HPath(target)
    Publish.recover(spark.sparkContext.hadoopConfiguration, t)
    val staging = Publish.staging(t).toString
    val conf = new org.apache.spark.sql.graftbridge.SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    val done = rows
      .repartition(col(rows.columns.head))
      .sortWithinPartitions(order.map(col): _*)
      .mapPartitions { it =>
        val base = new HPath(staging)
        lazy val fs = base.getFileSystem(conf.value)
        val attempt = attemptSuffix()
        var part: Part = null
        var key: Any = null
        var outs: Array[FSDataOutputStream] = null
        var mds: Array[java.security.MessageDigest] = null
        val out = (i: Int, bytes: Array[Byte]) => {
          outs(i).write(bytes); mds(i).update(bytes)
        }
        val done = Seq.newBuilder[Row]
        def close(): Unit = if (part != null) {
          outs.foreach(_.close())
          val row = part.close(
            mds.toSeq.map(_.digest().map(b => f"$b%02x").mkString))
          suffixes.foreach(commitAttemptFile(fs, base, part.stem, _, attempt))
          done += row
          part = null
        }
        def start(r: Row): Unit = {
          part = open(r); key = r.get(0)
          outs = new Array(suffixes.length)
          mds = suffixes.map(_ =>
            java.security.MessageDigest.getInstance("MD5")).toArray
          fs.mkdirs(base)
          suffixes.indices.foreach(i => outs(i) = fs.create(
            new HPath(base, part.stem + suffixes(i) + attempt), true))
          part.headers.zipWithIndex.foreach { case (h, i) =>
            if (h.nonEmpty) out(i, h)
          }
        }
        // eager drain: bytes stream straight to the filesystem; only the
        // inventory rows (parts per partition) are held. The finally
        // closes an open part on a mid-write failure — a leaked HDFS
        // lease would otherwise block the retry's create
        try {
          while (it.hasNext) {
            val r = it.next()
            if (part == null || r.get(0) != key) { close(); start(r) }
            part.write(r, out)
          }
          close()
        } finally if (part != null) outs.foreach { o =>
          if (o != null) try o.close() catch { case _: Throwable => () }
        }
        done.result().iterator
      }(Encoders.row(inventory))
      .collect()
    sweepAttemptFiles(spark, staging)
    finish(staging, done)
    Publish.swap(spark.sparkContext.hadoopConfiguration,
      new HPath(staging), t)
    done
  }

  /** The attempt-unique staging suffix for the running task. */
  private def attemptSuffix(): String =
    Option(org.apache.spark.TaskContext.get())
      .map(tc => s"$AttemptMark${tc.taskAttemptId()}")
      .getOrElse(s"${AttemptMark}driver")

  /** Commit one attempt-staged file to its final staging name —
    * RENAME-FIRST, never delete the destination: a losing attempt that
    * finds the final name taken drops its own copy (attempts write
    * identical bytes, so whichever rename landed is correct). A
    * delete-then-rename would let a zombie delete the winner's file and
    * die before its own rename, leaving staging without a file the
    * manifest lists. Only a COMPLETE file can hold the final name (the
    * rename runs after the part's last byte), so "destination exists"
    * is always a completed twin.
    */
  private[graft] def commitAttemptFile(fs: FileSystem, base: HPath,
      stem: String, suffix: String, attempt: String): Unit = {
    val from = new HPath(base, stem + suffix + attempt)
    val to = new HPath(base, stem + suffix)
    if (!fs.rename(from, to)) {
      if (fs.exists(to)) fs.delete(from, false) // lost to an identical twin
      else throw new IllegalStateException(
        s"could not commit $to from attempt staging $from")
    }
  }

  /** Drop orphaned attempt files (a FAILED attempt's leftovers; its
    * retry committed under another attempt id) from staging before
    * publish. Residual window: a zombie still RUNNING at the sweep can
    * recreate attempt files before the publish rename; readers ignore
    * them (no reader glob matches) and the next write retires them.
    * Closing that needs a job-level commit protocol, which this writer
    * deliberately does not carry.
    */
  private def sweepAttemptFiles(spark: SparkSession,
      staging: String): Unit = {
    val p = new HPath(staging)
    val f = fs(spark, staging)
    if (f.exists(p)) f.listStatus(p).foreach { st =>
      if (st.getPath.getName.contains(AttemptMark))
        f.delete(st.getPath, false)
    }
  }

  // ---- the manifest codec -----------------------------------------

  /** A level's manifest: its file name, `format`, `version`, the noun
    * its refusals use, and the remedy a missing manifest names.
    */
  final case class ManifestKind(file: String, format: String,
      version: Int, noun: String, remedy: String) {
    def notOne: String = s"not ${an(noun)} manifest"
  }

  private val Json = new ObjectMapper()

  /** A JSON object of `fields` in order. Values: strings, ints, longs,
    * JSON nodes, sequences (arrays) and string maps (objects in key
    * order).
    */
  def obj(fields: (String, Any)*): ObjectNode = {
    val o = Json.createObjectNode()
    fields.foreach { case (k, v) => o.set[JsonNode](k, node(v)) }
    o
  }

  private def node(v: Any): JsonNode = v match {
    case n: JsonNode => n
    case s: String => Json.getNodeFactory.textNode(s)
    case i: Int => IntNode.valueOf(i)
    case l: Long => LongNode.valueOf(l)
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1): _*)
    case xs: Seq[_] =>
      val a = Json.createArrayNode(); xs.foreach(x => a.add(node(x))); a
  }

  /** A manifest's bytes: `format`, `version`, then the level's fields,
    * pretty-printed.
    */
  def manifestBytes(kind: ManifestKind, fields: (String, Any)*)
      : Array[Byte] =
    Json.writerWithDefaultPrettyPrinter().writeValueAsBytes(obj(
      Seq("format" -> kind.format, "version" -> kind.version) ++ fields: _*))

  /** Write a level's manifest into its staging directory (created: an
    * empty input still ships a manifest). The leading underscore keeps
    * it outside every part-file glob.
    */
  def writeManifest(spark: SparkSession, staging: String,
      kind: ManifestKind, fields: (String, Any)*): Unit = {
    val f = fs(spark, staging)
    f.mkdirs(new HPath(staging))
    val out = f.create(new HPath(staging, kind.file), true)
    try out.write(manifestBytes(kind, fields: _*)) finally out.close()
  }

  /** A parsed manifest with null-safe field access: a truncated or
    * foreign JSON hits a loud diagnostic naming the field, never an NPE.
    */
  final class Manifest(val path: HPath, kind: ManifestKind,
      val root: JsonNode) {
    def field(node: JsonNode, name: String): JsonNode = {
      val v = if (node == null) null else node.get(name)
      require(v != null && !v.isNull,
        s"${kind.notOne} (missing '$name'): $path")
      v
    }
    def apply(name: String): JsonNode = field(root, name)
    def array(node: JsonNode, name: String): Seq[JsonNode] = {
      val a = field(node, name)
      require(a.isArray,
        s"${kind.notOne} ($name is not an array): $path")
      a.elements().asScala.toSeq
    }
    /** An optional string map (provenance): empty when absent. */
    def strings(name: String): Map[String, String] =
      Option(root.get(name)).filter(_.isObject).toSeq
        .flatMap(_.fields().asScala.map(e => e.getKey -> e.getValue.asText()))
        .toMap
  }

  /** Read `dir`'s manifest of `kind`, refusing a missing file or a
    * wrong format or version loudly.
    */
  def loadManifest(spark: SparkSession, dir: String, kind: ManifestKind)
      : Manifest = {
    val p = new HPath(dir, kind.file)
    val f = fs(spark, dir)
    require(f.exists(p), s"no ${kind.noun} manifest at $p — ${kind.remedy}")
    val in = f.open(p)
    val m = new Manifest(p, kind, try Json.readTree(in) finally in.close())
    require(m("format").asText() == kind.format &&
      m("version").asInt() == kind.version,
      s"${kind.notOne}: $p")
    m
  }

  // ---- the verifier -----------------------------------------------

  /** One file a manifest declares: its md5 and, where the level knows
    * it, its size (`bytes`, with what the manifest `says` of it).
    */
  final case class Expected(file: String, md5: String, bytes: Long = -1L,
      says: String = "")

  /** Verify the files under `dir` matching `glob` against a manifest's
    * inventory WITHOUT trusting the writer: one binaryFile read
    * recomputes every file's md5 and size; a missing committed file, a
    * checksum or size mismatch, and an unmanifested extra all fail
    * LOUDLY with the file named, together with the level's own
    * `problems`.
    */
  def verify(spark: SparkSession, what: String, dir: String, glob: String,
      expected: Seq[Expected], problems: Seq[String] = Nil): Unit = {
    // a level with no files (the shard set of an empty input) has a
    // manifest only; the binaryFile source refuses a glob matching
    // nothing, and verifying nothing against nothing is correct
    val listed = Option(fs(spark, dir).globStatus(new HPath(dir, glob)))
      .exists(_.nonEmpty)
    val actual =
      if (!listed) Map.empty[String, (String, Long)]
      else spark.read.format("binaryFile").load(s"$dir/$glob")
        .select(regexp_extract(col("path"), "([^/]+)$", 1),
          md5(col("content")), col("length"))
        .collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val bad = Seq.newBuilder[String]
    expected.foreach { e =>
      actual.get(e.file) match {
        case None => bad += s"${e.file}: MISSING"
        case Some((got, _)) if got != e.md5 =>
          bad += s"${e.file}: md5 $got != manifest ${e.md5}"
        case Some((_, len)) if e.bytes >= 0 && len != e.bytes =>
          bad += s"${e.file}: $len bytes, manifest says ${e.says}"
        case _ => ()
      }
    }
    bad ++= problems
    actual.keySet.diff(expected.map(_.file).toSet).toSeq.sorted
      .foreach(f => bad += s"$f: present but not in manifest")
    val all = bad.result()
    require(all.isEmpty,
      s"$what fails manifest verification:\n  ${all.mkString("\n  ")}")
  }
}
