package graft.sources

import java.util
import java.util.UUID

import scala.jdk.CollectionConverters._

import graft.core.Publish
import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 sink for JSON document collections — the reference's
  * load path (parquet rows → JSON transcode → batched collection
  * inserts, ParquetArangoLoader.java:129-156) expressed through Spark's
  * official connector API instead of a hand-rolled foreach:
  *
  * {{{
  *   df.write.format("graft-docs")
  *     .option("path", "/data/db/mycollection")
  *     .option("batchSize", "1000")
  *     .mode("append")            // or "overwrite" (stage-and-swap)
  *     .save()
  * }}}
  *
  * Each task renders its rows with the same quirk-compatible transcoder
  * as the batch loader ([[graft.serde.QuirkJson]] — A4 in SURVEY §2.1)
  * and streams them to a temp file in `batchSize` flushes. Commit is
  * the standard V2 two-phase protocol, which is what makes the sink
  * safe under retries and speculative execution at cluster scale:
  *
  *  - task commit: the temp file (named by partition AND task attempt,
  *    so concurrent attempts never collide) is fsync'd and its path
  *    returned as the commit message — only one attempt per partition
  *    wins Spark's output-commit coordination;
  *  - job commit (driver), append: every committed temp file is
  *    renamed into the collection directory — rename, not copy, so
  *    publication is atomic per file, but a crash mid-commit can leave
  *    a prefix of the append visible (there is no manifest, by
  *    decision);
  *  - job commit (driver), overwrite: the temp directory is a
  *    `Publish.staging` sibling of the collection; files no commit
  *    message names (a losing attempt's) are deleted, then
  *    `Publish.swap` replaces the whole directory, so a crash leaves
  *    the old or the new documents and readers recover first. Like
  *    every swap it assumes one writer: a reader's recovery during the
  *    job deletes the live staging directory, which fails the
  *    overwrite and keeps the old documents;
  *  - abort: the temp directory is deleted, leaving the collection
  *    exactly as before — a failed job never publishes partial data.
  *    The driver creates the temp directory before any task starts and
  *    tasks open their files without creating parents, so a task that
  *    outlives the abort fails instead of recreating the deleted
  *    directory; a file a task opens while the abort's delete runs is
  *    swept by deleting again.
  *
  * The table accepts any schema (the collection's schema IS the
  * document shape, as in the reference where ArangoDB is schemaless).
  */
class DocumentCollectionSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-docs"

  // an explicit spark.read.schema(...) overrides inference entirely —
  // Spark then skips inferSchema and hands the user schema to getTable
  override def supportsExternalMetadata(): Boolean = true

  /** Schema inference for schemaless collections: Spark's JSON
    * inference over a BOUNDED sample — up to `inferSampleLines`
    * (default 1000) lines spread over up to 100 document files chosen
    * by a deterministic stride across the sorted listing, so a
    * collection whose appends carry different document shapes
    * contributes fields from across its history, not just whichever
    * file sorts first — parity with how the reference derives the
    * document shape from the parquet footer
    * (ParquetArangoLoader.java:139), re-expressed for a JSON store
    * (where Spark's own json source also samples across files). The
    * inferred types are the JSON-level ones the quirk transcoder wrote
    * (timestamps render as strings, integral floats may widen); reads
    * that need exact Spark types pass `.schema(...)`, which always
    * wins. A sample remains a sample: a field present ONLY in unvisited
    * files of a very large collection can still be missed — pass an
    * explicit schema when the shape must be total. An empty/missing
    * collection infers an empty struct, and the scan builder's schema
    * requirement then fails with its usual message.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = options.get("path")
    if (path == null || path.isEmpty) return new StructType()
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val names = DocumentFiles.listNames(path, conf)
    if (names.isEmpty) return new StructType()
    val sampleLines = options.getInt("inferSampleLines", 1000)
    val maxFiles = math.min(names.size, 100)
    // CEILING stride: floor would leave the tail of the listing (the
    // newest appends, which sort late) permanently unsampled whenever
    // size isn't a multiple of maxFiles
    val stride = (names.size + maxFiles - 1) / maxFiles
    val sampled = names.indices.by(stride).map(names)
    val perFile = math.max(1, sampleLines / sampled.size)
    // the per-file opens are independent metadata round trips — on an
    // object store each is ~100 ms, so run them concurrently instead of
    // serially on the driver. The wait is BOUNDED (`inferTimeoutSec`,
    // default 60 s): a hung object-store open must fail planning loudly
    // with the stuck file's name, not wedge the driver forever.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val timeoutSec = options.getInt("inferTimeoutSec", 60)
    require(timeoutSec > 0, s"inferTimeoutSec must be > 0: $timeoutSec")
    val futures = sampled.toList.map { name =>
      // blocking{}: the global pool grows past its core count for
      // blocked sections, so readers stranded by a later timeout don't
      // wedge the shared ExecutionContext for retries / other users
      name -> Future(scala.concurrent.blocking {
        val f = new Path(s"$path/$name")
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          f.getFileSystem(conf).open(f), "UTF-8"))
        try Iterator.continually(in.readLine()).takeWhile(_ != null)
          .take(perFile).toList
        finally in.close()
      })
    }
    val lines =
      try Await.result(Future.sequence(futures.map(_._2)),
        timeoutSec.seconds).flatten.take(sampleLines)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          val stuck = futures.filter(!_._2.isCompleted).map(_._1)
          throw new IllegalStateException(
            s"graft-docs schema inference timed out after $timeoutSec s " +
              s"still waiting on ${stuck.size} file(s): " +
              stuck.take(5).mkString(", ") +
              (if (stuck.size > 5) ", ..." else "") +
              " — pass an explicit spark.read.schema(...) or raise the " +
              "inferTimeoutSec option")
      }
    if (lines.isEmpty) new StructType()
    else {
      import spark.implicits._
      spark.read.json(spark.createDataset(lines)).schema
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = opts.get("path")
    require(path != null && path.nonEmpty,
      "graft-docs requires a 'path' option (the collection directory)")
    val batchSize = opts.getInt("batchSize", 1000)
    if (batchSize < 1)
      throw new IllegalArgumentException(
        s"Invalid batch size $batchSize, must be >= 1")
    new DocumentCollectionTable(path, batchSize, schema)
  }
}

private[sources] class DocumentCollectionTable(path: String, batchSize: Int,
    tableSchema: StructType)
    extends Table with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRead {

  override def name(): String = s"graft-docs:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE, TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.ACCEPT_ANY_SCHEMA).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new DocumentWriteBuilder(path, batchSize, info.schema(),
      truncate = false)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    require(tableSchema.nonEmpty,
      "graft-docs reads need a schema: spark.read.schema(...)" +
        ".format(\"graft-docs\")")
    new DocumentScanBuilder(path, tableSchema,
      options.getInt("maxFilesPerTrigger", 1000),
      Option(options.get("maxBytesPerTrigger"))
        .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
        .getOrElse(Long.MaxValue),
      options.getInt("offsetCompactThreshold", 1000))
  }
}

private class DocumentWriteBuilder(path: String, batchSize: Int,
    schema: StructType, truncate: Boolean)
    extends WriteBuilder with SupportsTruncate {

  override def truncate(): WriteBuilder =
    new DocumentWriteBuilder(path, batchSize, schema, truncate = true)

  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new DocumentBatchWrite(path, batchSize, schema, truncate)
    override def toStreaming: streaming.StreamingWrite = {
      // fail loudly rather than silently appending: the streaming sink
      // only implements per-epoch idempotent append (Complete-mode
      // truncate would have to clear OTHER epochs' output on every
      // commit, which the epoch-stable publish protocol does not do)
      if (truncate)
        throw new UnsupportedOperationException(
          "graft-docs streaming writes do not support truncate/Complete " +
            "mode; use Append or Update output mode")
      new DocumentStreamingWrite(path, batchSize, schema)
    }
  }
}

private case class DocumentCommitMessage(tempFile: String, rows: Long)
    extends WriterCommitMessage

/** The SESSION's Hadoop configuration, captured on the driver and
  * serializable to tasks — `new Configuration()` would drop every
  * `spark.hadoop.*` setting (object-store credentials, default FS) and
  * resolve paths against the wrong filesystem on a real cluster.
  */
private object SessionConf {
  def capture(): org.apache.spark.sql.graftbridge.SerializableHadoopConf =
    new org.apache.spark.sql.graftbridge.SerializableHadoopConf(
      org.apache.spark.sql.SparkSession.active.sparkContext
        .hadoopConfiguration)
}

private class DocumentBatchWrite(path: String, batchSize: Int,
    schema: StructType, truncate: Boolean) extends BatchWrite {

  private val writeId = UUID.randomUUID().toString
  private val tmpDir = if (truncate) Publish.staging(new Path(path))
    else new Path(path, s"_tmp-$writeId")
  private val conf = SessionConf.capture()

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    // never write beside a stranded swap
    Publish.recover(conf.value, new Path(path))
    Staging.create(tmpDir.toString, conf)
    new DocumentWriterFactory(tmpDir.toString, batchSize, schema,
      // published names carry this write's id: two append jobs (even
      // from different applications, whose task ids both start at 0)
      // can never collide on a final file name
      fileSuffix = s"-${writeId.take(8)}.jsonl", conf)
  }

  /** Overwrite: keep only the committed files in the staging
    * directory and swap it in. Append: move each committed file into
    * the collection directory, one rename each.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf.value)
    val dest = new Path(path)
    val files = messages.map { case DocumentCommitMessage(f, _) => new Path(f) }
    if (truncate) {
      val names = files.map(_.getName).toSet
      fs.listStatus(tmpDir).map(_.getPath).filterNot(p => names(p.getName))
        .foreach(fs.delete(_, true))
      Publish.swap(conf.value, tmpDir, dest)
    } else {
      if (!fs.exists(dest)) fs.mkdirs(dest)
      files.foreach { src =>
        if (!fs.rename(src, new Path(dest, src.getName)))
          throw new IllegalStateException(s"could not publish $src")
      }
      fs.delete(tmpDir, true)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    Staging.delete(tmpDir, conf)
}

private class DocumentWriterFactory(tmpDir: String, batchSize: Int,
    schema: StructType, fileSuffix: String,
    conf: org.apache.spark.sql.graftbridge.SerializableHadoopConf)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new DocumentWriter(tmpDir, batchSize, schema,
      fileName = f"part-$partitionId%05d-$taskId$fileSuffix", conf,
      staged = true)
}

/** Driver-side creation of a write's staging directory, before any of
  * its tasks start (see [[DocumentCollectionSource]] on abort).
  */
private object Staging {
  def create(dir: String,
      conf: org.apache.spark.sql.graftbridge.SerializableHadoopConf): Unit = {
    val p = new Path(dir)
    if (!p.getFileSystem(conf.value).mkdirs(p))
      throw new java.io.IOException(s"could not create staging dir $dir")
  }

  /** Abort-side removal of a staging dir. A task still running after
    * its job failed may open its file while the recursive delete runs,
    * which then fails on a non-empty dir: delete again until the dir is
    * gone. Each task opens at most one file, and none can open one once
    * the dir is gone, so a few attempts end it.
    */
  def delete(dir: Path,
      conf: org.apache.spark.sql.graftbridge.SerializableHadoopConf): Unit = {
    val fs = dir.getFileSystem(conf.value)
    var attempts = 0
    while (!fs.delete(dir, true) && fs.exists(dir)) {
      attempts += 1
      if (attempts == 10)
        throw new java.io.IOException(s"could not delete staging dir $dir")
      Thread.sleep(20)
    }
  }

  /** The streaming sink's per-epoch staging dir. */
  def epochDir(path: String, writeId: String, epochId: Long): String =
    s"$path/_tmp-$writeId-e$epochId"
}

/** Streaming flavor of the sink: each epoch publishes its files under
  * names that EMBED the epoch id, and epoch commit replaces the
  * epoch's ENTIRE previously-published output (a replay may run with a
  * different partition count) — so a replayed micro-batch (the failure
  * mode of checkpoint recovery) overwrites its own previous output
  * instead of duplicating it. Same idempotent-overwrite semantics as
  * [[graft.streaming.Streaming]]'s batchId-partitioned foreachBatch
  * sink, expressed on the connector API.
  *
  * Contract: ONE streaming writer per collection at a time (epoch-
  * stable names make concurrent streaming writers overwrite each
  * other, exactly like two file-sink queries sharing an output dir) —
  * which is also what makes the commit-time cleanup of same-epoch temp
  * dirs from OTHER write attempts safe: under a single live writer,
  * any such directory belongs to a crashed predecessor. Readers that
  * consume a collection WHILE its writer is crash-recovering may see a
  * replayed epoch's redistribution of rows across files; exactly-once
  * reading during active replay needs a manifest log (FileStreamSink's
  * approach), out of scope here.
  */
private[sources] class DocumentStreamingWrite(path: String, batchSize: Int,
    schema: StructType) extends streaming.StreamingWrite {

  private val writeId = UUID.randomUUID().toString
  private val conf = SessionConf.capture()

  /** Called on the driver once per micro-batch. Spark's micro-batch
    * engine names the epoch in a local property; when it is set, its
    * staging dir is created here, before the tasks start. A caller that
    * drives the connector without it (continuous processing, a direct
    * replay) gets writers that create the epoch dir themselves, and an
    * abort-outliving task's leftover dir is then swept by that epoch's
    * next commit. Recovery runs first, as for a batch write: an epoch
    * dir created on top of a stranded overwrite swap would make the
    * retired documents look like residue.
    */
  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : streaming.StreamingDataWriterFactory = {
    Publish.recover(conf.value, new Path(path))
    val staged = Option(org.apache.spark.sql.SparkSession.active.sparkContext
        .getLocalProperty(org.apache.spark.sql.execution.streaming.runtime
          .MicroBatchExecution.BATCH_ID_KEY))
      .map(_.toLong)
    staged.foreach(e =>
      Staging.create(Staging.epochDir(path, writeId, e), conf))
    new DocumentStreamingWriterFactory(path, writeId, batchSize, schema,
      conf, staged)
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf.value)
    val dest = new Path(path)
    if (!fs.exists(dest)) fs.mkdirs(dest)
    // ONE listing serves both cleanups (commit cost must not grow to
    // two full directory scans per micro-batch on an object store)
    val entries = fs.listStatus(dest)
    // a replayed epoch must REPLACE the failed run's entire output, not
    // just same-named files: the replay may run with a different
    // partition count, so first drop EVERY published file of this epoch
    entries
      .filter(_.getPath.getName.matches(s"epoch-$epochId-part-\\d+\\.jsonl"))
      .foreach(f => fs.delete(f.getPath, false))
    messages.foreach { case DocumentCommitMessage(tempFile, _) =>
      val src = new Path(tempFile)
      // final name drops the attempt marker — epoch-stable publish
      val fin = new Path(dest,
        src.getName.replaceAll("-a-?\\d+\\.jsonl$", ".jsonl"))
      if (!fs.rename(src, fin))
        throw new IllegalStateException(s"could not publish $src")
    }
    // clean this epoch's temp dirs from every write attempt: under the
    // single-streaming-writer contract (class doc) any other attempt's
    // _tmp-*-e<epochId> belongs to a crashed predecessor
    entries
      .filter(f => f.isDirectory &&
        f.getPath.getName.matches(s"_tmp-.*-e$epochId"))
      .foreach(f => fs.delete(f.getPath, true))
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    Staging.delete(new Path(Staging.epochDir(path, writeId, epochId)), conf)
}

private class DocumentStreamingWriterFactory(path: String, writeId: String,
    batchSize: Int, schema: StructType,
    conf: org.apache.spark.sql.graftbridge.SerializableHadoopConf,
    stagedEpoch: Option[Long])
    extends streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    // temp name stays attempt-unique (concurrent speculative attempts
    // must never share a file); the attempt marker is stripped at
    // commit so the PUBLISHED name is the epoch-stable one
    new DocumentWriter(Staging.epochDir(path, writeId, epochId),
      batchSize, schema,
      fileName = f"epoch-$epochId-part-$partitionId%05d-a$taskId.jsonl",
      conf, staged = stagedEpoch.contains(epochId))
}

/** Per-task writer: rows render through the quirk transcoder into an
  * in-memory batch of `batchSize` lines, each batch flushed with one
  * stream write — the reference's accumulate→insert→clear loop with a
  * file stream standing in for the database client.
  *
  * The file opens at the first flush without creating parents: the
  * staging dir must already exist (`staged`: the driver created it), so
  * a writer that outlives its job's abort fails rather than recreating
  * the dir the abort deleted. An abort before the first flush opens
  * nothing.
  */
private class DocumentWriter(tmpDir: String, batchSize: Int,
    schema: StructType, fileName: String,
    conf: org.apache.spark.sql.graftbridge.SerializableHadoopConf,
    staged: Boolean)
    extends DataWriter[InternalRow] {

  private val file = new Path(tmpDir, fileName)
  private val fs = file.getFileSystem(conf.value)
  private var opened: org.apache.hadoop.fs.FSDataOutputStream = null
  private def out = {
    if (opened == null) {
      if (!staged) fs.mkdirs(file.getParent)
      // FileContext, not FileSystem.createNonRecursive: on a local
      // filesystem the latter checks the parent and then mkdirs it, so
      // a dir the abort deletes between the two calls comes back
      opened = FileContext.getFileContext(fs.getUri, fs.getConf).create(file,
        java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.donotCreateParent())
    }
    opened
  }
  private val batch = new java.lang.StringBuilder(64 * 1024)
  private var inBatch = 0
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    graft.serde.QuirkJson.writeStruct(row, schema, batch)
    batch.append('\n')
    inBatch += 1
    rows += 1
    if (inBatch >= batchSize) flush()
  }

  private def flush(): Unit = if (inBatch > 0) {
    out.write(batch.toString.getBytes("UTF-8"))
    batch.setLength(0)
    inBatch = 0
  }

  override def commit(): WriterCommitMessage = {
    flush()
    out.close()
    DocumentCommitMessage(file.toString, rows)
  }

  override def abort(): Unit = if (opened != null) {
    try opened.close() catch { case _: Throwable => () }
    try fs.delete(file, false) catch { case _: Throwable => () }
  }

  override def close(): Unit = ()
}

// ---------------------------------------------------------------------
// Read path: one input partition per document file; lines parse through
// Catalyst's Jackson parser AGAINST THE PRUNED SCHEMA, so column
// pruning happens at the tokenizer (unprojected fields are skipped,
// never materialized) — the V2 contract's SupportsPushDownRequiredColumns
// doing real work, not decoration.
// ---------------------------------------------------------------------

import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.{streaming => streamingread}

/** The one definition of "which files are a collection's documents" —
  * batch scan planning and streaming offsets must never disagree. The
  * listing recovers first: a stranded overwrite swap must never read
  * as an empty collection.
  */
private object DocumentFiles {
  def listFiles(path: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[(String, Long)] = {
    val dir = new Path(path)
    Publish.recover(conf, dir)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".jsonl"))
      .map(f => (f.getPath.getName, f.getLen)).toSeq.sortBy(_._1)
  }

  def listNames(path: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[String] =
    listFiles(path, conf).map(_._1)
}

private class DocumentScanBuilder(path: String, full: StructType,
    maxFilesPerTrigger: Int, maxBytesPerTrigger: Long,
    offsetCompactThreshold: Int)
    extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = full

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve the document field order; an empty requirement (e.g.
    // count(*)) still parses zero fields per line
    required = StructType(
      full.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))
  }

  override def build(): Scan =
    new DocumentScan(path, required, maxFilesPerTrigger,
      maxBytesPerTrigger, offsetCompactThreshold)
}

private class DocumentScan(path: String, required: StructType,
    maxFilesPerTrigger: Int, maxBytesPerTrigger: Long,
    offsetCompactThreshold: Int)
    extends Scan with Batch {

  private val conf = SessionConf.capture()

  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-docs $path ReadSchema: ${required.simpleString}"
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    DocumentFiles.listNames(path, conf.value)
      .map(n => DocumentFilePartition(s"$path/$n"): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new DocumentReaderFactory(required, conf)

  /** Streaming read: micro-batches are the set difference of document
    * files between two offsets, where an offset DENOTES the set of file
    * NAMES already consumed. Name-set offsets (rather than a count or
    * mtime watermark) make progress independent of arrival order —
    * batch appends carry random write-id suffixes and epoch files
    * interleave, so no total order on names exists.
    *
    * The set is stored COMPACTED (the FileStreamSource approach): an
    * offset is `{gen, delta}` — a reference to an immutable compact
    * file (`<checkpoint>/graft-offset-compact/compact-<gen>`, the full
    * name set as of generation `gen`) plus the names consumed since.
    * When the delta outgrows `offsetCompactThreshold` (default 1000
    * names) the stream writes the next compact file (temp + atomic
    * rename, BEFORE the offset referencing it is returned — so any
    * logged offset's compact file exists even across crashes; an
    * orphan from a pre-log crash is simply overwritten) and the offset
    * resets to an empty delta. Offset size is therefore bounded by the
    * threshold, not the collection's file count. Admission control
    * caps each micro-batch at `maxFilesPerTrigger` files (default
    * 1000) so the first trigger over a large existing collection does
    * not plan the whole history as one batch.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : streamingread.MicroBatchStream =
    new DocumentMicroBatchStream(path, required, conf, maxFilesPerTrigger,
      maxBytesPerTrigger, checkpointLocation, offsetCompactThreshold)
}

/** The collection's micro-batch stream: the shared file-tracking
  * machinery ([[FileSetMicroBatchStream]] — compacted name-set
  * offsets, crash-safe compaction, admission control) over the
  * *.jsonl listing and the JSONL record reader.
  */
private class DocumentMicroBatchStream(path: String, required: StructType,
    conf: org.apache.spark.sql.graftbridge.SerializableHadoopConf,
    maxFilesPerTrigger: Int, maxBytesPerTrigger: Long,
    checkpointLocation: String, compactThreshold: Int)
    extends FileSetMicroBatchStream(checkpointLocation,
      maxFilesPerTrigger, maxBytesPerTrigger, compactThreshold, conf) {

  override protected def listFiles(): Seq[(String, Long)] =
    DocumentFiles.listFiles(path, conf.value)

  override protected def partitionFor(name: String): InputPartition =
    DocumentFilePartition(s"$path/$name")

  override def createReaderFactory(): PartitionReaderFactory =
    new DocumentReaderFactory(required, conf)
}

private case class DocumentFilePartition(file: String) extends InputPartition

private class DocumentReaderFactory(required: StructType,
    conf: org.apache.spark.sql.graftbridge.SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new DocumentFileReader(
      partition.asInstanceOf[DocumentFilePartition].file, required, conf)
}

private class DocumentFileReader(file: String, required: StructType,
    conf: org.apache.spark.sql.graftbridge.SerializableHadoopConf)
    extends PartitionReader[InternalRow] {

  private val parser =
    new org.apache.spark.sql.graftbridge.JsonLineParser(required)
  private val in = {
    val p = new Path(file)
    new java.io.BufferedReader(new java.io.InputStreamReader(
      p.getFileSystem(conf.value).open(p), "UTF-8"))
  }
  private var pending: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (!pending.hasNext) {
      val line = in.readLine()
      if (line == null) return false
      pending = parser.parse(line).iterator
    }
    current = pending.next()
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}
