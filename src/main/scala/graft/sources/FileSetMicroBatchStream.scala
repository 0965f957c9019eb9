package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, streaming => streamingread}

/** A consumed-file-set offset in compacted form: the full set is
  * `compact-file(gen) ∪ delta`. `gen` 0 is the empty base. Serialized
  * with real JSON (Jackson, already on Spark's classpath): directory
  * listings admit ANY matching file name, so a hand-placed name
  * containing a quote/comma/backslash must round-trip through
  * checkpoint recovery instead of corrupting the offset. Shared by
  * every file-tracking micro-batch source in the engine
  * ([[FileSetMicroBatchStream]]).
  */
private[sources] case class FileSetOffset(gen: Int, delta: Seq[String])
    extends streamingread.Offset {
  override def json(): String = {
    val node = FileSetOffset.mapper.createObjectNode()
    node.put("gen", gen)
    val arr = node.putArray("delta")
    delta.sorted.foreach(arr.add)
    FileSetOffset.mapper.writeValueAsString(node)
  }
}

private[sources] object FileSetOffset {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def fromJson(json: String): FileSetOffset = {
    val t = json.trim
    if (t.startsWith("["))
      // legacy pre-compaction offsets: a bare full-name-set array
      FileSetOffset(0,
        mapper.readValue(t, classOf[Array[String]]).toSeq)
    else {
      val node = mapper.readTree(t)
      val delta = node.get("delta").elements().asScala
        .map(_.asText()).toSeq
      FileSetOffset(node.get("gen").asInt(), delta)
    }
  }
}

/** The engine's file-tracking micro-batch machinery, factored out of
  * the graft-docs source so every "files land in a directory, the
  * pipeline tails them" source (document collections, WARC crawl
  * shards) shares ONE tested offset protocol instead of re-deriving
  * it.
  *
  * Micro-batches are the set difference of matching files between two
  * offsets, where an offset DENOTES the set of file NAMES already
  * consumed. Name-set offsets (rather than a count or mtime watermark)
  * make progress independent of arrival order — appends carry random
  * write-id suffixes and interleave, so no total order on names
  * exists.
  *
  * The set is stored COMPACTED (the FileStreamSource approach): an
  * offset is `{gen, delta}` — a reference to an immutable compact file
  * (`<checkpoint>/graft-offset-compact/compact-<gen>`, the full name
  * set as of generation `gen`) plus the names consumed since. When the
  * delta outgrows `compactThreshold` (default 1000 names) the stream
  * writes the next compact file ([[graft.core.Publish]], BEFORE the
  * offset referencing it is returned — so any logged offset's compact
  * file exists even across crashes; an orphan from a pre-log crash is
  * simply overwritten) and the offset resets to an empty delta. Offset
  * size is therefore bounded by the threshold, not the directory's
  * file count. Admission control caps each micro-batch at
  * `maxFilesPerTrigger` files (default 1000) so the first trigger over
  * a large existing directory does not plan the whole history as one
  * batch, and — because crawl
  * shards vary ~10× in size, so a file-count cap alone lets
  * micro-batch latency swing with the shard mix — at
  * `maxBytesPerTrigger` TOTAL LISTED BYTES (the FileStreamSource
  * analogue): files are admitted in name order until the next file
  * would overflow the byte budget, always admitting at least one so
  * an oversized single file can never stall the stream. Both caps
  * only shape BATCH BOUNDARIES — the offset protocol is unchanged,
  * so exactly-once across restarts is untouched.
  *
  * Subclasses supply the LISTING ([[listFiles]] — names with sizes,
  * called fresh at every admission decision, never cached across
  * batches) and the name→partition mapping ([[partitionFor]]);
  * everything else — offsets, compaction, recovery, admission — is
  * this class.
  */
private[sources] abstract class FileSetMicroBatchStream(
    checkpointLocation: String, maxFilesPerTrigger: Int,
    maxBytesPerTrigger: Long, compactThreshold: Int,
    conf: org.apache.spark.sql.graftbridge.SerializableHadoopConf)
    extends streamingread.MicroBatchStream
    with streamingread.SupportsAdmissionControl {

  /** `(name, size-in-bytes)` (names relative to the source's
    * directory) of every file the source currently sees. Called at
    * every admission decision. Sizes feed only the byte-budget
    * admission cap — offsets store names alone.
    */
  protected def listFiles(): Seq[(String, Long)]

  private def listNames(): Seq[String] = listFiles().map(_._1)

  /** The input partition that reads one listed name. */
  protected def partitionFor(name: String): InputPartition

  // ---- compacted consumed-set storage ------------------------------
  private val compactDir = new Path(checkpointLocation,
    "graft-offset-compact")
  private def fs = compactDir.getFileSystem(conf.value)
  private def compactFile(gen: Int) =
    new Path(compactDir, f"compact-$gen%09d.json")

  /** The newest generation this instance has read or written, memoized
    * so the reporting paths can express offsets as a bounded delta
    * against it instead of the full listing.
    */
  @volatile private var lastKnown: (Int, Set[String]) = (0, Set.empty)

  private def readCompact(gen: Int): Set[String] =
    if (gen <= 0) Set.empty
    else if (lastKnown._1 == gen) lastKnown._2
    else {
      val in = fs.open(compactFile(gen))
      val bytes =
        try org.apache.commons.io.IOUtils.toByteArray(in)
        finally in.close()
      val set = FileSetOffset.mapper
        .readValue(bytes, classOf[Array[String]]).toSet
      if (gen > lastKnown._1) lastKnown = (gen, set)
      set
    }

  /** Write the generation's full name set via
    * [[graft.core.Publish.writeFile]], BEFORE the offset referencing
    * it is returned — so every logged offset's compact file exists,
    * crash or not. An existing file with
    * this generation is an orphan from a crash after compaction but
    * before the offset was logged (no logged offset references it, or
    * it holds identical content from this same (start, files) state) —
    * overwrite it.
    */
  private def writeCompact(gen: Int, names: Iterable[String]): Unit = {
    fs.mkdirs(compactDir)
    graft.core.Publish.writeFile(conf.value, compactFile(gen),
      FileSetOffset.mapper.writeValueAsBytes(names.toArray.sorted),
      replace = true)
    // prune here rather than in commit(): the engine's source-commit
    // callback lags the last batch (and never fires before stop()), so
    // checkpoint-dir boundedness must not depend on it. Offsets that
    // can still be replayed after a crash reference at worst the start
    // generation of the in-flight batch (gen − 1) — Spark re-executes
    // only the last uncommitted micro-batch — so generations ≤ gen − 2
    // are dead. Keep gen − 1 and gen.
    fs.listStatus(compactDir)
      .filter { f =>
        val n = f.getPath.getName
        n.startsWith("compact-") && n.endsWith(".json") &&
          n.stripPrefix("compact-").stripSuffix(".json")
            .toIntOption.exists(_ <= gen - 2)
      }
      .foreach(f => fs.delete(f.getPath, false))
  }

  private def resolve(o: streamingread.Offset): Set[String] = {
    val d = o.asInstanceOf[FileSetOffset]
    readCompact(d.gen) ++ d.delta
  }

  override def initialOffset(): streamingread.Offset =
    FileSetOffset(0, Nil)

  // without admission control Spark falls back to this: everything,
  // expressed as a delta against the newest known generation so the
  // serialized offset stays bounded (names already compacted away are
  // not repeated)
  override def latestOffset(): streamingread.Offset = {
    val (gen, base) = lastKnown
    FileSetOffset(gen, listNames().filterNot(base))
  }

  override def getDefaultReadLimit: streamingread.ReadLimit =
    if (maxBytesPerTrigger < Long.MaxValue)
      streamingread.ReadLimit.compositeLimit(Array(
        streamingread.ReadLimit.maxFiles(maxFilesPerTrigger),
        streamingread.ReadLimit.maxBytes(maxBytesPerTrigger)))
    else streamingread.ReadLimit.maxFiles(maxFilesPerTrigger)

  /** `(file cap, byte cap)` of a read limit; composites combine by
    * minimum (every member limit must hold).
    */
  private def caps(l: streamingread.ReadLimit): (Int, Long) = l match {
    case m: streamingread.ReadMaxFiles => (m.maxFiles(), Long.MaxValue)
    case b: streamingread.ReadMaxBytes => (Int.MaxValue, b.maxBytes())
    case c: streamingread.CompositeReadLimit =>
      c.getReadLimits.map(caps).reduce((a, b) =>
        (math.min(a._1, b._1), math.min(a._2, b._2)))
    case _ => (Int.MaxValue, Long.MaxValue)
  }

  override def latestOffset(start: streamingread.Offset,
      limit: streamingread.ReadLimit): streamingread.Offset = {
    val startOff = start.asInstanceOf[FileSetOffset]
    val seen = resolve(startOff)
    val (fileCap, byteCap) = caps(limit)
    // greedy in name order: stop BEFORE the file that overflows the
    // byte budget, but always admit at least one so a single file
    // larger than the budget cannot stall the stream forever
    val fresh = listFiles().filterNot(f => seen(f._1)).sortBy(_._1)
    val admitted = {
      val b = Seq.newBuilder[String]
      var count = 0
      var bytes = 0L
      val it = fresh.iterator
      var done = false
      while (it.hasNext && !done) {
        val (name, size) = it.next()
        if (count >= fileCap || (count > 0 && bytes + size > byteCap))
          done = true
        else { b += name; count += 1; bytes += size }
      }
      b.result()
    }
    if (admitted.isEmpty) startOff // unchanged representation → no batch
    else {
      val delta = startOff.delta ++ admitted
      if (delta.size >= compactThreshold) {
        val full = seen ++ admitted
        writeCompact(startOff.gen + 1, full)
        lastKnown = (startOff.gen + 1, full)
        FileSetOffset(startOff.gen + 1, Nil)
      } else FileSetOffset(startOff.gen, delta)
    }
  }

  // progress-event reporting: every trigger embeds this offset's json
  // in StreamingQueryProgress, so it must stay bounded — express the
  // listing against the newest known generation, never as the full set
  override def reportLatestOffset(): streamingread.Offset = {
    val (gen, base) = lastKnown
    FileSetOffset(gen, listNames().filterNot(base))
  }

  override def deserializeOffset(json: String): streamingread.Offset =
    FileSetOffset.fromJson(json)

  override def planInputPartitions(start: streamingread.Offset,
      end: streamingread.Offset): Array[InputPartition] = {
    val seen = resolve(start)
    resolve(end).toSeq.filterNot(seen).sorted
      .map(partitionFor).toArray
  }

  override def commit(end: streamingread.Offset): Unit = ()
  override def stop(): Unit = ()
}
