package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** DataSource V2 collection sink: publish-on-commit semantics, append /
  * truncate modes, batch rendering through the quirk transcoder, and
  * no-partial-data on job failure.
  */
class SourcesSpec extends SparkSpec {

  private def lines(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".jsonl"))
      .flatMap(p => Files.readAllLines(p).asScala)

  test("graft-docs sink: append publishes every row once, overwrite " +
      "truncates, temp dir never survives") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_v2sink").toString + "/coll"
    val df = (1 to 100).map(i => (i.toLong, s"doc $i")).toDF("id", "text")

    df.write.format("graft-docs").option("path", dir)
      .option("batchSize", "7").mode("append").save()
    assert(lines(dir).size == 100)

    df.write.format("graft-docs").option("path", dir)
      .mode("append").save()
    assert(lines(dir).size == 200) // append keeps the first write

    df.filter($"id" <= 10).write.format("graft-docs").option("path", dir)
      .mode("overwrite").save()
    assert(lines(dir).size == 10) // truncate dropped prior documents

    // no leftover temp dirs after any of the three commits
    val leftovers = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("_tmp")).toSeq
    assert(leftovers.isEmpty, leftovers)

    // the published documents are the quirk-compat transcode: same
    // golden form as the batch loader (field order, ", " separators)
    val doc1 = lines(dir).find(_.contains("\"doc 1\"")).get
    assert(doc1 == """{"id": 1, "text": "doc 1"}""", doc1)
  }

  test("graft-docs sink: a failing job publishes nothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_v2fail").toString + "/coll"
    (1 to 5).map(i => (i.toLong, s"ok $i")).toDF("id", "text")
      .write.format("graft-docs").option("path", dir).mode("append").save()
    assert(lines(dir).size == 5)

    val boom = udf((i: Long) => {
      if (i == 42L) throw new RuntimeException("boom"); i
    })
    val bad = spark.range(0, 100, 1, 8)
      .select(boom(col("id")).as("id"))
    intercept[Exception] {
      bad.write.format("graft-docs").option("path", dir)
        .mode("append").save()
    }
    // collection is exactly as before the failed job: 5 docs, no temp
    assert(lines(dir).size == 5)
    val leftovers = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("_tmp")).toSeq
    assert(leftovers.isEmpty, leftovers)
  }

  test("graft-docs streaming sink: per-epoch publish, epoch-stable names, " +
      "replayed epoch overwrites instead of duplicating") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft_v2stream").toString + "/coll"
    val ckpt = Files.createTempDirectory("graft_v2stream_ckpt").toString

    val input = MemoryStream[(Long, String)]
    val q = input.toDS().toDF("id", "text")
      .writeStream.format("graft-docs")
      .option("path", dir).option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()

    assert(lines(dir).size == 3)
    // published names carry the epoch, not the task attempt
    val names = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".jsonl")).toSeq
    assert(names.forall(_.matches("epoch-\\d+-part-\\d+\\.jsonl")), names)
    assert(names.exists(_.startsWith("epoch-0-")), names)
    assert(names.exists(_.startsWith("epoch-1-")), names)

    // replay epoch 1 through the connector directly (what checkpoint
    // recovery does): the re-published file REPLACES the original —
    // same doc count, no duplicates
    val before = lines(dir).size
    val table = new graft.sources.DocumentCollectionSource()
      .getTable(new org.apache.spark.sql.types.StructType(), Array.empty,
        new java.util.HashMap[String, String] {
          put("path", dir)
        })
    val sw = table.asInstanceOf[
        org.apache.spark.sql.connector.catalog.SupportsWrite]
      .newWriteBuilder(new org.apache.spark.sql.connector.write.LogicalWriteInfo {
        override def queryId(): String = "replay"
        override def schema(): org.apache.spark.sql.types.StructType =
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("text",
              org.apache.spark.sql.types.StringType)))
        override def options():
            org.apache.spark.sql.util.CaseInsensitiveStringMap =
          org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
      }).build().toStreaming
    val factory = sw.createStreamingWriterFactory(
      new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
        override def numPartitions(): Int = 1
      })
    val writer = factory.createWriter(0, 99L, 1L) // epoch 1 again
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](3L, org.apache.spark.unsafe.types.UTF8String.fromString("c")))
    writer.write(row)
    sw.commit(1L, Array(writer.commit()))
    assert(lines(dir).size == before) // replaced, not appended
  }

  test("graft-docs read path: round-trips the sink's documents and prunes " +
      "columns at the parser") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_v2read").toString + "/coll"
    val df = (1 to 50).map(i => (i.toLong, s"doc $i", i * 1.5))
      .toDF("id", "text", "score")
    df.write.format("graft-docs").option("path", dir).mode("append").save()

    val schema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType), StructField("score", DoubleType)))
    val back = spark.read.schema(schema).format("graft-docs").load(dir)
    assert(back.count() == 50)
    assert(back.as[(Long, String, Double)].collect().sortBy(_._1).toSeq ==
      (1 to 50).map(i => (i.toLong, s"doc $i", i * 1.5)))

    // projection reaches the scan: the V2 pruned read schema drops the
    // unprojected columns
    val pruned = back.select("id")
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("ReadSchema: struct<id:bigint>"), planStr)

  }

  test("graft-docs schema inference: a schemaless read infers the " +
      "document shape from a bounded sample; explicit schema overrides; " +
      "empty collections still fail loudly") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_v2infer").toString + "/coll"
    (1 to 50).map(i => (i.toLong, s"doc $i", i * 1.5))
      .toDF("id", "text", "score")
      .write.format("graft-docs").option("path", dir).mode("append").save()

    val inferred = spark.read.format("graft-docs").load(dir)
    assert(inferred.schema("id").dataType == LongType)
    assert(inferred.schema("text").dataType == StringType)
    assert(inferred.schema("score").dataType == DoubleType)
    assert(inferred.count() == 50)
    assert(inferred.select("id", "text", "score")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq ==
      (1 to 50).map(i => (i.toLong, s"doc $i", i * 1.5)))

    // pruning still reaches the parser on an inferred read
    val planStr = inferred.select("id").queryExecution.executedPlan.toString
    assert(planStr.contains("ReadSchema: struct<id:bigint>"), planStr)

    // a bounded sample is honored (1 line is plenty for this shape)
    assert(spark.read.format("graft-docs")
      .option("inferSampleLines", "1").load(dir).schema("id").dataType ==
      LongType)

    // an explicit schema always wins over inference
    val narrow = StructType(Seq(StructField("id", LongType)))
    val explicitRead = spark.read.schema(narrow).format("graft-docs")
      .load(dir)
    assert(explicitRead.schema == narrow)
    assert(explicitRead.count() == 50)

    // nothing to infer from → the loud no-schema error, never a silent
    // empty result
    val empty = Files.createTempDirectory("graft_v2infer_e").toString
    val ex = intercept[Exception] {
      spark.read.format("graft-docs").load(empty).collect()
    }
    assert(ex.getMessage.contains("schema"), ex.getMessage)
  }

  test("graft-docs schema inference: a hung file open fails after the " +
      "bounded wait naming the stuck file, not a wedged driver") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.hangfs.impl", classOf[HangingOpenFileSystem].getName)
    // a real local collection, addressed through the hanging scheme so
    // listStatus succeeds but every document open blocks forever
    val dir = Files.createTempDirectory("graft_v2hang").toString + "/coll"
    Seq((1L, "doc")).toDF("id", "text")
      .write.format("graft-docs").option("path", dir).mode("append").save()
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      Map("path" -> s"hangfs:$dir", "inferTimeoutSec" -> "2").asJava)
    val t0 = System.nanoTime()
    val ex = intercept[IllegalStateException] {
      new graft.sources.DocumentCollectionSource().inferSchema(opts)
    }
    val waited = (System.nanoTime() - t0) / 1e9
    assert(ex.getMessage.contains("timed out"), ex.getMessage)
    assert(ex.getMessage.contains(".jsonl"), ex.getMessage)
    assert(waited < 30, s"waited ${waited}s — the bound did not apply")
  }

  test("graft-docs streaming write in truncate/Complete mode fails " +
      "loudly instead of silently appending") {
    val dir = Files.createTempDirectory("graft_v2trunc").toString + "/coll"
    val table = new graft.sources.DocumentCollectionSource()
      .getTable(new org.apache.spark.sql.types.StructType(), Array.empty,
        new java.util.HashMap[String, String] { put("path", dir) })
    val wb = table.asInstanceOf[
        org.apache.spark.sql.connector.catalog.SupportsWrite]
      .newWriteBuilder(new org.apache.spark.sql.connector.write.LogicalWriteInfo {
        override def queryId(): String = "trunc"
        override def schema(): org.apache.spark.sql.types.StructType =
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType)))
        override def options():
            org.apache.spark.sql.util.CaseInsensitiveStringMap =
          org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
      })
    val truncated = wb.asInstanceOf[
        org.apache.spark.sql.connector.write.SupportsTruncate].truncate()
    // batch truncate is the supported overwrite path
    truncated.build().toBatch
    // streaming truncate must refuse, not silently append
    val ex = intercept[UnsupportedOperationException] {
      truncated.build().toStreaming
    }
    assert(ex.getMessage.contains("truncate"), ex.getMessage)
  }

  test("graft-docs streaming read: offsets round-trip hand-placed file " +
      "names with JSON metacharacters across checkpoint recovery") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_v2hostile").toString + "/coll"
    val ckpt = Files.createTempDirectory("graft_v2hostile_ckpt").toString
    val schema = StructType(Seq(StructField("id", LongType)))
    Seq(Tuple1(1L)).toDF("id")
      .write.format("graft-docs").option("path", dir).mode("append").save()
    // a hand-placed document file whose name would corrupt a
    // string-concatenation offset encoding
    Files.write(Paths.get(dir, "weird\"na,me\\x.jsonl"),
      "{\"id\": 2}\n".getBytes("UTF-8"))

    val outDir = Files.createTempDirectory("graft_v2hostile_out")
      .toString + "/out"
    def drain(): Unit = {
      // graft-docs output sink: supports checkpoint recovery (memory
      // sink does not), so the restart exercises deserializeOffset
      val q = spark.readStream.schema(schema).format("graft-docs").load(dir)
        .writeStream.format("graft-docs").option("path", outDir)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    def outIds: Seq[Long] = spark.read.schema(schema)
      .format("graft-docs").load(outDir)
      .select("id").as[Long].collect().sorted.toSeq
    drain()
    assert(outIds == Seq(1L, 2L))
    // restart from the checkpoint (deserializes the offset containing
    // the hostile name), add one more file — only the delta is read,
    // nothing is re-emitted
    Seq(Tuple1(3L)).toDF("id")
      .write.format("graft-docs").option("path", dir).mode("append").save()
    drain()
    assert(outIds == Seq(1L, 2L, 3L),
      "restart must resume past consumed files, hostile name included")
  }

  test("graft-docs: empty writes publish no rows; unicode and JSON " +
      "metacharacters survive the write→read round trip") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_v2edge").toString + "/coll"

    Seq.empty[(Long, String)].toDF("id", "text")
      .write.format("graft-docs").option("path", dir).mode("append").save()
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType)))
    assert(spark.read.schema(schema).format("graft-docs").load(dir)
      .count() == 0)

    val tricky = Seq(
      (1L, """quote " backslash \ slash /"""),
      (2L, "newline\nand\ttab"),
      (3L, "em—dash and line sep"), // U+2000-20FF hex-escape range
      (4L, "accents éü and cjk 中文"),
      (5L, ""))
    tricky.toDF("id", "text")
      .write.format("graft-docs").option("path", dir).mode("overwrite").save()
    val got = spark.read.schema(schema).format("graft-docs").load(dir)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == tricky)
  }

  test("graft-docs streaming read: each drain picks up exactly the NEW " +
      "document files, offsets survive name interleaving") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_v2sread").toString + "/coll"
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType)))

    def writeBatch(ids: Range): Unit =
      ids.map(i => (i.toLong, s"doc $i")).toDF("id", "text")
        .write.format("graft-docs").option("path", dir).mode("append").save()

    writeBatch(1 to 40)
    val q = spark.readStream.schema(schema).format("graft-docs").load(dir)
      .writeStream.format("memory").queryName("docs_in").start()
    try {
      q.processAllAvailable()
      assert(spark.table("docs_in").count() == 40)

      // new files land with random write-id suffixes that interleave
      // lexicographically with the consumed ones — only the DELTA is read
      writeBatch(41 to 55)
      q.processAllAvailable()
      val ids = spark.table("docs_in").select("id").as[Long].collect().sorted
      assert(ids.toSeq == (1L to 55L))
    } finally q.stop()
  }

  test("graft-docs read: a malformed line yields a null row (PERMISSIVE), " +
      "not a failed job") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_v2bad").toString + "/coll"
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "part-corrupt.jsonl"),
      "{\"id\": 1, \"text\": \"ok\"}\n{\"id\": 2, \"tex".getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType)))
    val rows = spark.read.schema(schema).format("graft-docs").load(dir)
      .collect().map(r => (Option(r.get(0)), Option(r.get(1))))
    assert(rows.length == 2, rows.toSeq)
    assert(rows.contains((Some(1L), Some("ok"))))
    // truncated line → PERMISSIVE row: fields parsed before the cut
    // survive (id=2), the rest are null — never a failed job
    assert(rows.contains((Some(2L), None)) || rows.contains((None, None)),
      rows.toSeq)
  }

  test("graft-docs streaming read: offset compaction keeps the logged " +
      "offsets bounded, survives restarts, and never re-reads or drops " +
      "a file") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_v2compact").toString + "/coll"
    val ckpt = Files.createTempDirectory("graft_v2compact_ckpt").toString
    val outDir = Files.createTempDirectory("graft_v2compact_out")
      .toString + "/out"
    val schema = StructType(Seq(StructField("id", LongType)))

    def addFile(i: Long): Unit =
      Seq(Tuple1(i)).toDF("id").coalesce(1)
        .write.format("graft-docs").option("path", dir).mode("append").save()
    def drain(): Unit = {
      // threshold 3: compaction triggers every few files; one file per
      // micro-batch so restarts cross generation boundaries
      val q = spark.readStream.schema(schema).format("graft-docs")
        .option("offsetCompactThreshold", "3")
        .option("maxFilesPerTrigger", "1").load(dir)
        .writeStream.format("graft-docs").option("path", outDir)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    def outIds: Seq[Long] = spark.read.schema(schema)
      .format("graft-docs").load(outDir)
      .select("id").as[Long].collect().sorted.toSeq

    (1L to 5L).foreach(addFile)
    drain()
    assert(outIds == (1L to 5L))
    (6L to 9L).foreach(addFile)
    drain() // restart across a compacted generation
    assert(outIds == (1L to 9L), "no re-reads, no drops across restart")

    // compaction actually happened, and the checkpoint dir is pruned
    val compacts = Files.list(Paths.get(ckpt, "sources", "0",
        "graft-offset-compact")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("compact-")).toSeq
    assert(compacts.nonEmpty, "expected compact generations")
    assert(compacts.size <= 2, s"stale generations not pruned: $compacts")

    // every offset in Spark's offset log is bounded by the threshold,
    // not by the total file count
    val offsetsDir = Paths.get(ckpt, "offsets")
    val offsetLines = Files.list(offsetsDir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.forall(_.isDigit)) // skip .crc etc.
      .flatMap(p => Files.readAllLines(p).asScala)
      .filter(_.contains("\"delta\""))
    assert(offsetLines.nonEmpty)
    offsetLines.foreach { l =>
      val delta = l.substring(l.indexOf("\"delta\""))
      assert(delta.count(_ == ',') <= 3, s"unbounded offset: $l")
    }
  }

  test("graft-docs streaming read honors maxFilesPerTrigger admission " +
      "control: a large backlog drains in multiple capped batches") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_v2adm").toString + "/coll"
    val schema = StructType(Seq(StructField("id", LongType)))
    // 6 separate files (one per single-partition append)
    (1 to 6).foreach { i =>
      Seq(Tuple1(i.toLong)).toDF("id").coalesce(1)
        .write.format("graft-docs").option("path", dir).mode("append").save()
    }
    val q = spark.readStream.schema(schema).format("graft-docs")
      .option("maxFilesPerTrigger", "2").load(dir)
      .writeStream.format("memory").queryName("adm_in").start()
    try {
      q.processAllAvailable()
      assert(spark.table("adm_in").count() == 6)
      // 6 files at 2 per trigger: at least 3 non-empty micro-batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        q.recentProgress.map(_.numInputRows).toSeq)
    } finally q.stop()
  }

  test("graft-docs streaming: replaying an epoch with FEWER partitions " +
      "removes the stale higher-numbered epoch files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_v2fewer").toString + "/coll"

    def streamingWrite() = {
      val table = new graft.sources.DocumentCollectionSource()
        .getTable(new org.apache.spark.sql.types.StructType(), Array.empty,
          new java.util.HashMap[String, String] { put("path", dir) })
      table.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
        .newWriteBuilder(
          new org.apache.spark.sql.connector.write.LogicalWriteInfo {
            override def queryId(): String = "replay-fewer"
            override def schema(): org.apache.spark.sql.types.StructType =
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("id",
                  org.apache.spark.sql.types.LongType)))
            override def options():
                org.apache.spark.sql.util.CaseInsensitiveStringMap =
              org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
          }).build().toStreaming
    }
    def row(i: Long) =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](i))
    val info = new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
      override def numPartitions(): Int = 4
    }

    // original epoch-5 attempt: 4 partitions, one row each
    val w1 = streamingWrite()
    val f1 = w1.createStreamingWriterFactory(info)
    val msgs1 = (0 until 4).map { p =>
      val w = f1.createWriter(p, p.toLong, 5L); w.write(row(p.toLong))
      w.commit()
    }
    w1.commit(5L, msgs1.toArray)
    assert(lines(dir).size == 4)

    // replay of epoch 5 with TWO partitions (recovery re-plans)
    val w2 = streamingWrite()
    val f2 = w2.createStreamingWriterFactory(info)
    val msgs2 = (0 until 2).map { p =>
      val w = f2.createWriter(p, 90L + p, 5L); w.write(row(p.toLong))
      w.commit()
    }
    w2.commit(5L, msgs2.toArray)
    // parts 2 and 3 from the failed run are gone, not duplicated
    assert(lines(dir).size == 2, lines(dir))
    val names = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".jsonl")).toSeq.sorted
    assert(names == Seq("epoch-5-part-00000.jsonl", "epoch-5-part-00001.jsonl"),
      names)
  }

  test("graft-docs sink: a writer that outlives the abort leaves no _tmp") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.connector.catalog.SupportsWrite
    import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo}
    import org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val sc = spark.sparkContext // the connector captures the active session
    val dir = Files.createTempDirectory("graft_v2late").toString + "/coll"
    val write = new graft.sources.DocumentCollectionSource()
      .getTable(new StructType(), Array.empty,
        new java.util.HashMap[String, String] {
          put("path", dir); put("batchSize", "1")
        })
      .asInstanceOf[SupportsWrite]
      .newWriteBuilder(new LogicalWriteInfo {
        override def queryId(): String = "late"
        override def schema(): StructType =
          StructType(Seq(StructField("id", LongType)))
        override def options(): CaseInsensitiveStringMap =
          CaseInsensitiveStringMap.empty()
      }).build()
    val info = new PhysicalWriteInfo { override def numPartitions(): Int = 2 }
    val row = new GenericInternalRow(Array[Any](1L))
    def tmpDirs: Seq[String] =
      if (!Files.exists(Paths.get(dir))) Nil
      else Files.list(Paths.get(dir)).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("_tmp")).toSeq

    // batch: the driver stages the dir before any task; a task still
    // running after the abort cannot recreate it (batchSize 1 makes the
    // first row open the file), and an idle one opens nothing
    val batch = write.toBatch
    val factory = batch.createBatchWriterFactory(info)
    assert(tmpDirs.size == 1, "the driver creates the staging dir")
    val idle = factory.createWriter(0, 1L)
    val late = factory.createWriter(1, 2L)
    batch.abort(Array.empty)
    intercept[java.io.IOException](late.write(row))
    late.abort()
    idle.abort()
    assert(tmpDirs.isEmpty, tmpDirs)

    // streaming: the micro-batch engine names the epoch in a local
    // property, so the driver stages that epoch's dir the same way
    val sw = write.toStreaming
    val sf =
      try {
        sc.setLocalProperty(MicroBatchExecution.BATCH_ID_KEY, "3")
        sw.createStreamingWriterFactory(info)
      } finally sc.setLocalProperty(MicroBatchExecution.BATCH_ID_KEY, null)
    assert(tmpDirs.exists(_.endsWith("-e3")), tmpDirs)
    val lateEpoch = sf.createWriter(0, 5L, 3L)
    sw.abort(3L, Array.empty)
    intercept[java.io.IOException](lateEpoch.write(row))
    lateEpoch.abort()
    assert(tmpDirs.isEmpty, tmpDirs)
  }

  test("graft-docs sink: batchSize validation mirrors the loader's") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_v2val").toString + "/c"
    val ex = intercept[Exception] {
      Seq((1L, "x")).toDF("id", "text")
        .write.format("graft-docs").option("path", dir)
        .option("batchSize", "0").mode("append").save()
    }
    assert(ex.getMessage.contains("Invalid batch size") ||
      ex.getCause != null &&
        ex.getCause.getMessage.contains("Invalid batch size"), ex.getMessage)
  }

  test("graft-live-ids reads an id collection, tolerates missing and " +
      "data-less dirs, finds the int64 column whatever its name, and " +
      "reports its on-disk size to the join planner") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_liveids").toString
    def liveIds(dir: String) =
      spark.read.format("graft-live-ids").option("path", dir).load()

    // missing dir and data-less dir both read as zero rows (the
    // no-deletes fast path of the streaming tombstone anti-join)
    assert(liveIds(s"$base/absent").count() == 0)
    Files.createDirectory(Paths.get(s"$base/empty"))
    assert(liveIds(s"$base/empty").count() == 0)

    // AnnIndex-style column name: neighbor_id — exposed as `id`
    Seq(11L, 12L, 13L).toDF("neighbor_id")
      .write.parquet(s"$base/tomb")
    val got = liveIds(s"$base/tomb")
    assert(got.columns.toSeq == Seq("id"))
    assert(got.collect().map(_.getLong(0)).toSet == Set(11L, 12L, 13L))

    // appended files are visible to a FRESH plan (per-plan listing —
    // the property the mid-stream delete specs exercise end-to-end)
    Seq(14L).toDF("neighbor_id").write.mode("append").parquet(s"$base/tomb")
    assert(liveIds(s"$base/tomb").collect().map(_.getLong(0)).toSet ==
      Set(11L, 12L, 13L, 14L))

    // size statistics reach the optimizer: a join against the tiny id
    // set must broadcast, not shuffle
    val big = spark.range(0, 10000).select(col("id"))
    val joined = big.join(liveIds(s"$base/tomb"), Seq("id"), "left_anti")
    assert(joined.count() == 10000 - 4)
    val plan = joined.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"tiny id set did not broadcast:\n$plan")
  }

  test("why graft-live-ids exists: a stream-static join's parquet side " +
      "SNAPSHOTS its listing at construction, the V2 side re-lists " +
      "per micro-batch") {
    // This pins the measured Spark behavior the mid-stream tombstone
    // design depends on. If an upgrade ever makes the V1 side live (or
    // the V2 side snapshot), this fails and the streaming tombstone
    // path must be re-validated.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_relist").toString
    Seq(1L, 2L).toDF("id").write.parquet(s"$dir/v1")
    Seq(1L, 2L).toDF("id").write.parquet(s"$dir/v2")
    val v1Side = spark.read.parquet(s"$dir/v1")
    val v2Side = spark.read.format("graft-live-ids")
      .option("path", s"$dir/v2").load()
    val in = MemoryStream[Long]
    val joined = in.toDF().select(col("value").as("id"))
      .join(v1Side.select(col("id").as("v1id")),
        col("id") === col("v1id"), "left")
      .join(v2Side.select(col("id").as("v2id")),
        col("id") === col("v2id"), "left")
    val q = joined.writeStream.format("memory").queryName("relist_probe")
      .outputMode("append").start()
    try {
      in.addData(3L)
      q.processAllAvailable()
      // id 3 unknown to both sides in batch 1
      val b1 = spark.table("relist_probe").collect()
      assert(b1.length == 1 && b1(0).isNullAt(1) && b1(0).isNullAt(2))
      // append id 3 to BOTH directories while the stream runs
      Seq(3L).toDF("id").write.mode("append").parquet(s"$dir/v1")
      Seq(3L).toDF("id").write.mode("append").parquet(s"$dir/v2")
      in.addData(3L)
      q.processAllAvailable()
      val b2 = spark.table("relist_probe").collect()
        .filter(!_.isNullAt(2))
      // the V2 side saw the appended file at the next batch...
      assert(b2.length == 1, "graft-live-ids did not re-list mid-stream")
      // ...and the V1 parquet side did NOT (it would be fine if Spark
      // ever fixed this — but then the custom source is redundant and
      // this design note should be revisited)
      assert(b2(0).isNullAt(1),
        "spark.read.parquet static side unexpectedly re-listed — " +
          "revisit the graft-live-ids design notes")
    } finally q.stop()
  }
}

/** Test-only FileSystem whose open() never returns — simulates a hung
  * object-store read for the bounded-inference-wait spec. Listing and
  * writing delegate to the local filesystem, so a real collection can
  * be addressed through the `hangfs:` scheme.
  */
class HangingOpenFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("hangfs:///")
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    Thread.sleep(3600L * 1000)
    throw new java.io.IOException("unreachable")
  }
}
