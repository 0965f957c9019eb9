package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.core.{CollectionManager, Publish}
import graft.io.TrainerShards
import graft.operators.{DedupIndex, IvfIndex, IvfPqIndex, Packing, PqIndex}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** The crash-safe publish primitive ([[graft.core.Publish]]) and every
  * site built on it. The fault matrix runs each site on the `faulty:`
  * filesystem ([[FaultyFileSystem]]) crashing at its k-th protocol op,
  * for k = 1, 2, … up to the first run the crash does not reach, and
  * asserts that the site's reader sees exactly the old or the new
  * state (or refuses loudly where that reader does not recover) and
  * that the next open or write recovers with no residue.
  */
class PublishSpec extends SparkSpec {

  private lazy val conf = {
    val c = spark.sparkContext.hadoopConfiguration
    FaultyFileSystem.register(c)
    c
  }

  /** A fresh local directory (created). */
  private def localDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def faulty(local: String): String = { conf; s"faulty:$local" }

  /** Names beside `local` (a target path) that are publish residue. */
  private def residue(local: String): Seq[String] = {
    val f = new File(local)
    Option(f.getParentFile.listFiles()).toSeq.flatten.map(_.getName)
      .filter(n => n.startsWith(f.getName + ".staging-") ||
        n.startsWith(f.getName + ".old-") ||
        n.startsWith(f.getName + ".tmp-"))
  }

  private def copyTree(from: String, to: String): Unit =
    Files.walk(Paths.get(from)).iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(Paths.get(from).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }

  /** Run `op` with a crash armed at the k-th op touching `targets`;
    * true when the crash fired (the op then failed or stopped short).
    */
  private def crashAt(k: Int, targets: String*)(op: => Unit): Boolean = {
    FaultyFileSystem.arm(k, targets: _*)
    try { op; FaultyFileSystem.disarm() }
    catch { case NonFatal(e) => if (FaultyFileSystem.disarm()) true else throw e }
  }

  /** Calls `run(k)` for k = 1, 2, … until it reports an unfaulted run;
    * returns how many crash points were exercised.
    */
  private def faultMatrix(run: Int => Boolean): Int = {
    var k = 1
    while (run(k)) k += 1
    assert(k > 1, "the armed crash never fired: the matrix is vacuous")
    k - 1
  }

  private def readText(local: String): Option[String] = {
    val f = new File(local)
    if (f.exists()) Some(new String(Files.readAllBytes(f.toPath), "UTF-8"))
    else None
  }

  // ---- the primitive ----------------------------------------------

  test("Publish.writeFile: replace swaps the file in, a non-replacing " +
      "write refuses an existing file, and neither leaves residue") {
    val dir = localDir("graft_publish_file")
    val p = new Path(faulty(s"$dir/f.json"))
    Publish.writeFile(conf, p, "one".getBytes("UTF-8"), replace = false)
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      Publish.writeFile(conf, p, "two".getBytes("UTF-8"), replace = false)
    }
    assert(readText(s"$dir/f.json").contains("one"))
    Publish.writeFile(conf, p, "three".getBytes("UTF-8"), replace = true)
    assert(readText(s"$dir/f.json").contains("three"))
    assert(residue(s"$dir/f.json").isEmpty, residue(s"$dir/f.json"))
  }

  test("swap refuses to publish into a target that reappeared mid-swap " +
      "(never nests staging inside it); the old rows stay readable") {
    import spark.implicits._
    val base = localDir("graft_publish_nested")
    val c = new CollectionManager(spark, faulty(base)).collection("docs")
    c.write((1 to 60).map(i => (i.toLong, s"d$i")).toDF("id", "t"),
      SaveMode.Overwrite, maxRecordsPerFile = 10)
    // between retire and publish, a reader's recovery restores the
    // retired copy to the collection path
    FaultyFileSystem.afterRename = (_, dst) =>
      if (dst.getName.startsWith("docs.old-")) {
        FaultyFileSystem.afterRename = (_, _) => ()
        assert(new File(dst.toUri.getPath).renameTo(new File(base, "docs")))
      }
    val e =
      try intercept[IllegalStateException](c.compact(targetRecordsPerFile = 30))
      finally FaultyFileSystem.afterRename = (_, _) => ()
    assert(e.getMessage.contains("docs.staging-") &&
      e.getMessage.contains("docs.old-"), e.getMessage)
    val inside = new File(base, "docs").listFiles().map(_.getName)
      .filter(_.contains(".staging-"))
    assert(inside.isEmpty, s"staging nested into the collection: " +
      inside.toSeq)
    assert(c.count() == 60)
    assert(c.read().select("id").as[Long].collect().sorted.toSeq ==
      (1L to 60L))
    assert(residue(s"$base/docs").isEmpty, residue(s"$base/docs"))
  }

  // ---- fault matrix -----------------------------------------------

  test("fault matrix: Collection.compact") {
    import spark.implicits._
    val template = localDir("graft_publish_compact_t")
    val tc = new CollectionManager(spark, faulty(template))
      .collection("docs")
    tc.write((1 to 80).map(i => (i.toLong, s"d$i")).toDF("id", "t"),
      SaveMode.Overwrite, maxRecordsPerFile = 10)
    def dataFiles(d: String) = Files.walk(Paths.get(d)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    val before = dataFiles(s"$template/docs")
    val crashes = faultMatrix { k =>
      val base = localDir("graft_publish_compact")
      copyTree(template, base)
      val c = new CollectionManager(spark, faulty(base)).collection("docs")
      val crashed = crashAt(k, s"$base/docs") {
        c.compact(targetRecordsPerFile = 40)
      }
      // the collection recovers on read: old or new layout, same rows
      assert(c.read().select("id").as[Long].collect().sorted.toSeq ==
        (1L to 80L), s"k=$k")
      assert(Set(before, 2).contains(dataFiles(s"$base/docs")), s"k=$k")
      assert(residue(s"$base/docs").isEmpty, s"k=$k: ${residue(s"$base/docs")}")
      crashed
    }
    assert(crashes >= 3, s"retire, publish and cleanup: $crashes")
  }

  // ---- overwrite: one stage-and-swap on every path ----------------

  private def idRows(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"d$i")).toDF("id", "t")
  }

  private def ids(df: DataFrame): Seq[Long] = {
    import spark.implicits._
    df.select("id").as[Long].collect().sorted.toSeq
  }

  /** Throws on id 42: fails the job on one row. */
  private val boom = udf { (i: Long) =>
    if (i == 42L) throw new RuntimeException("boom on row 42"); i
  }

  private val docSchema = new org.apache.spark.sql.types.StructType()
    .add("id", "long").add("t", "string")

  private def saveDocs(df: DataFrame, path: String, mode: String): Unit =
    df.write.format("graft-docs").option("path", path).mode(mode).save()

  private def readDocs(path: String): Seq[Long] =
    ids(spark.read.schema(docSchema).format("graft-docs").load(path))

  /** Publish residue beside `local` and `_tmp-` directories inside it. */
  private def overwriteResidue(local: String): Seq[String] =
    residue(local) ++ Option(new File(local).list()).toSeq.flatten
      .filter(_.startsWith("_tmp-"))

  /** A parquet input directory of `ids`, three files. */
  private def parquetInput(ids: Seq[Long]): String = {
    val dir = localDir("graft_overwrite_in") + "/in"
    idRows(ids).repartition(3).write.parquet(dir)
    dir
  }

  private val oldIds = (1L to 100L)
  private val newIds = (201L to 230L)

  test("a failed overwrite leaves the previous rows: Collection.write") {
    val base = localDir("graft_overwrite_fail_c")
    val c = new CollectionManager(spark, base).collection("docs")
    c.write(idRows(oldIds), SaveMode.Overwrite)
    val e = intercept[Exception] {
      c.write(spark.range(0, 100, 1, 4)
        .select(boom(col("id")).as("id"), lit("x").as("t")),
        SaveMode.Overwrite)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")), e)
    // the failed write dropped its own staging copy (no reader has
    // recovered yet)
    assert(overwriteResidue(s"$base/docs").isEmpty,
      overwriteResidue(s"$base/docs"))
    assert(c.count() == 100L)
    assert(ids(c.read()) == oldIds)
  }

  test("a failed overwrite leaves the previous rows: ParquetLoader.load " +
      "(a throwing converter, a corrupt input file)") {
    val base = localDir("graft_overwrite_fail_l")
    val c = new CollectionManager(spark, base).collection("docs")
    c.write(idRows(oldIds), SaveMode.Overwrite)
    val input = parquetInput(newIds :+ 42L)
    val throwing = new graft.io.ParquetLoader(spark)
      .addTypeConverter(org.apache.spark.sql.types.LongType, boom(_))
    intercept[Exception](throwing.load(input, c, overwriteCollection = true))
    assert(overwriteResidue(s"$base/docs").isEmpty,
      overwriteResidue(s"$base/docs"))
    assert(c.count() == 100L)
    assert(ids(c.read()) == oldIds)
    Files.write(Paths.get(input, "part-99999-corrupt.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    intercept[Exception] {
      new graft.io.ParquetLoader(spark).load(input, c,
        overwriteCollection = true)
    }
    assert(overwriteResidue(s"$base/docs").isEmpty,
      overwriteResidue(s"$base/docs"))
    assert(c.count() == 100L)
    assert(ids(c.read()) == oldIds)
  }

  test("a failed overwrite leaves the previous rows: graft-docs") {
    val dir = localDir("graft_overwrite_fail_d") + "/docs"
    saveDocs(idRows(oldIds), dir, "append")
    intercept[Exception] {
      saveDocs(spark.range(0, 100, 1, 4)
        .select(boom(col("id")).as("id"), lit("x").as("t")), dir,
        "overwrite")
    }
    assert(overwriteResidue(dir).isEmpty, overwriteResidue(dir))
    assert(readDocs(dir) == oldIds)
  }

  test("a self-overwrite keeps exactly the filtered rows") {
    val base = localDir("graft_overwrite_self")
    val c = new CollectionManager(spark, base).collection("docs")
    c.write(idRows(oldIds), SaveMode.Overwrite, maxRecordsPerFile = 10)
    c.write(c.read().filter(col("id") % 3 === 0), SaveMode.Overwrite)
    assert(ids(c.read()) == oldIds.filter(_ % 3 == 0))
    assert(overwriteResidue(s"$base/docs").isEmpty,
      overwriteResidue(s"$base/docs"))
  }

  test("batch and streaming graft-docs writes onto a stranded overwrite " +
      "swap recover it first: the old documents stay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val parent = localDir("graft_overwrite_stranded")
    val dir = s"$parent/docs"
    def strand(): Unit = assert(new File(dir).renameTo(
      new File(s"$dir.old-${java.util.UUID.randomUUID()}")))
    saveDocs(idRows(oldIds), dir, "append")
    strand()
    saveDocs(idRows(Seq(500L)), dir, "append")
    assert(readDocs(dir) == oldIds :+ 500L)
    strand()
    val input = MemoryStream[(Long, String)]
    val q = input.toDS().toDF("id", "t").writeStream.format("graft-docs")
      .option("path", dir).option("checkpointLocation", s"$parent/ckpt")
      .start()
    try { input.addData((600L, "s")); q.processAllAvailable() }
    finally q.stop()
    assert(readDocs(dir) == oldIds ++ Seq(500L, 600L))
    assert(overwriteResidue(dir).isEmpty, overwriteResidue(dir))
  }

  /** The overwrite fault matrix: copy `template` (a parent directory
    * holding `docs` with [[oldIds]]), crash `overwrite` at each op on
    * `docs`, then `read` must see the old or the new ids and leave no
    * residue.
    */
  private def overwriteMatrix(template: String)(overwrite: String => Unit)
      (read: String => Seq[Long]): Unit = {
    val crashes = faultMatrix { k =>
      val base = localDir("graft_overwrite_matrix")
      copyTree(template, base)
      val crashed = crashAt(k, s"$base/docs")(overwrite(faulty(base)))
      val seen = read(faulty(base))
      assert(seen == oldIds || seen == newIds, s"k=$k: $seen")
      assert(overwriteResidue(s"$base/docs").isEmpty,
        s"k=$k: ${overwriteResidue(s"$base/docs")}")
      crashed
    }
    assert(crashes >= 3, s"retire, publish and cleanup: $crashes")
  }

  private def collectionAt(base: String) =
    new CollectionManager(spark, base).collection("docs")

  test("fault matrix: Collection.write overwrite") {
    val template = localDir("graft_overwrite_c_t")
    collectionAt(faulty(template)).write(idRows(oldIds),
      SaveMode.Overwrite, maxRecordsPerFile = 25)
    overwriteMatrix(template)(base =>
      collectionAt(base).write(idRows(newIds), SaveMode.Overwrite))(base =>
      ids(collectionAt(base).read()))
  }

  test("fault matrix: ParquetLoader.load overwrite") {
    val template = localDir("graft_overwrite_l_t")
    collectionAt(faulty(template)).write(idRows(oldIds),
      SaveMode.Overwrite, maxRecordsPerFile = 25)
    val input = parquetInput(newIds)
    overwriteMatrix(template) { base =>
      new graft.io.ParquetLoader(spark).load(input, collectionAt(base),
        overwriteCollection = true)
      ()
    }(base => ids(collectionAt(base).read()))
  }

  test("fault matrix: graft-docs overwrite") {
    val template = localDir("graft_overwrite_d_t")
    saveDocs(idRows(oldIds).repartition(4), s"${faulty(template)}/docs",
      "append")
    overwriteMatrix(template)(base =>
      saveDocs(idRows(newIds).repartition(3), s"$base/docs", "overwrite"))(
      base => readDocs(s"$base/docs"))
  }

  private def docsDf(rows: (Long, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "lang", "text")
  }

  private lazy val shardDocs = docsDf(
    (1L, "en", "the quick brown fox jumps over the lazy dog"),
    (2L, "en", "pack my box with five dozen liquor jugs"),
    (3L, "de", "zwei boxkaempfer jagen eva quer durch sylt"),
    (4L, "fr", "portez ce vieux whisky au juge blond"))

  private def seqs(df: DataFrame): DataFrame =
    Packing.materializeSequences(df, "doc_id", "text", "lang", 8,
      merges = Nil,
      tokenPattern = graft.functions.TextFunctions.bpeBytePatternFull)

  private def writeShards(df: DataFrame, dir: String): Unit = {
    TrainerShards.write(seqs(df), "lang", "seq_id", "token_ids", 2, dir)
    ()
  }

  private def manifestStrata(dir: String): Set[String] =
    TrainerShards.readManifest(spark, dir).collect()
      .map(_.getString(0)).toSet

  test("a crash between retire and publish strands no TrainerShards " +
      "set: reads refuse loudly and the next write recovers") {
    val parent = localDir("graft_publish_stranded")
    val dir = s"$parent/shards"
    writeShards(shardDocs, dir)
    def uuid() = java.util.UUID.randomUUID().toString
    assert(new File(dir).renameTo(new File(s"$dir.old-${uuid()}")))
    assert(new File(s"$dir.staging-${uuid()}").mkdir())
    val e = intercept[Exception](TrainerShards.readManifest(spark, dir))
    assert(e.getMessage.contains("manifest"), e.getMessage)
    writeShards(shardDocs.filter(col("lang") =!= "fr"), dir)
    assert(TrainerShards.listShards(spark, dir).toSet == Set("en", "de"))
    assert(residue(dir).isEmpty, residue(dir))
  }

  test("fault matrix: TrainerShards.write") {
    val template = localDir("graft_publish_shards_t")
    writeShards(shardDocs, faulty(s"$template/shards"))
    val oldSet = Set("en", "de", "fr")
    val newDocs = shardDocs.filter(col("lang") =!= "fr")
    val crashes = faultMatrix { k =>
      val parent = localDir("graft_publish_shards")
      copyTree(template, parent)
      val dir = faulty(s"$parent/shards")
      val crashed = crashAt(k, s"$parent/shards")(writeShards(newDocs, dir))
      // readers do not recover: old, new, or a loud refusal
      val seen = scala.util.Try(manifestStrata(dir))
      assert(seen.isFailure || Set(oldSet, Set("en", "de"))
        .contains(seen.get), s"k=$k: $seen")
      writeShards(newDocs, dir)
      assert(manifestStrata(dir) == Set("en", "de"), s"k=$k")
      assert(residue(s"$parent/shards").isEmpty,
        s"k=$k: ${residue(s"$parent/shards")}")
      crashed
    }
    assert(crashes >= 3, s"retire, publish and cleanup: $crashes")
  }

  private def epochSeed(local: String): Option[String] =
    readText(s"$local/${TrainerShards.epochDirName(0)}/" +
      TrainerShards.EpochManifestName).map(t =>
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(t)
        .get("seed").asText())

  test("fault matrix: TrainerShards.writeEpochOrder") {
    val template = localDir("graft_publish_epoch_t")
    writeShards(shardDocs, faulty(s"$template/shards"))
    TrainerShards.writeEpochOrder(spark, faulty(s"$template/shards"),
      seed = "old", epoch = 0)
    val crashes = faultMatrix { k =>
      val parent = localDir("graft_publish_epoch")
      copyTree(template, parent)
      val local = s"$parent/shards"
      val epochDir = s"$local/${TrainerShards.epochDirName(0)}"
      val crashed = crashAt(k, epochDir) {
        TrainerShards.writeEpochOrder(spark, faulty(local), seed = "new",
          epoch = 0)
      }
      epochSeed(local) match {
        case Some(s) => assert(Set("old", "new").contains(s), s"k=$k")
        case None => intercept[Exception](
          TrainerShards.readInEpochOrder(spark, faulty(local), 0).collect())
      }
      TrainerShards.writeEpochOrder(spark, faulty(local), seed = "new",
        epoch = 0)
      assert(epochSeed(local).contains("new"), s"k=$k")
      assert(residue(epochDir).isEmpty, s"k=$k: ${residue(epochDir)}")
      crashed
    }
    assert(crashes >= 3, s"retire, publish and cleanup: $crashes")
  }

  test("fault matrix: TrainerShards run manifest (generation commit " +
      "and pointer)") {
    val template = localDir("graft_publish_run_t")
    val tdir = faulty(s"$template/shards")
    writeShards(shardDocs, tdir)
    val weights = Map("en" -> 2.0, "de" -> 1.0, "fr" -> 1.0)
    (0 to 1).foreach { e =>
      TrainerShards.writeEpochOrder(spark, tdir, seed = "s", epoch = e)
      TrainerShards.writeBlendSchedule(spark, tdir, e, weights,
        stepsPerFile = 4)
    }
    TrainerShards.writeRunManifest(spark, tdir, Seq(0, 1))
    def epochs(dir: String) =
      TrainerShards.readRunMeta(spark, dir)._1.map(_.epoch)
    val crashes = faultMatrix { k =>
      val parent = localDir("graft_publish_run")
      copyTree(template, parent)
      val local = s"$parent/shards"
      val dir = faulty(local)
      val gen = TrainerShards.maxRunGeneration(spark, dir) + 1
      val targets = Seq(s"$local/${TrainerShards.RunManifestName}",
        s"$local/_RUN.$gen.json")
      val crashed = crashAt(k, targets: _*) {
        TrainerShards.writeRunManifest(spark, dir, Seq(1, 0))
      }
      val seen = scala.util.Try(epochs(dir))
      assert(seen.isFailure ||
        Set(Seq(0, 1), Seq(1, 0)).contains(seen.get), s"k=$k: $seen")
      TrainerShards.writeRunManifest(spark, dir, Seq(1, 0))
      assert(epochs(dir) == Seq(1, 0), s"k=$k")
      TrainerShards.verifyRun(spark, dir)
      targets.foreach(t => assert(residue(t).isEmpty, s"k=$k: ${residue(t)}"))
      crashed
    }
    assert(crashes >= 5, s"commit, then the pointer swap: $crashes")
  }

  test("fault matrix: TrainerShards.writeBlendSchedule") {
    val template = localDir("graft_publish_blend_t")
    val tdir = faulty(s"$template/shards")
    writeShards(shardDocs, tdir)
    TrainerShards.writeEpochOrder(spark, tdir, seed = "s", epoch = 0)
    val oldW = Map("en" -> 2.0, "de" -> 1.0, "fr" -> 1.0)
    val newW = Map("en" -> 1.0, "de" -> 3.0, "fr" -> 2.0)
    TrainerShards.writeBlendSchedule(spark, tdir, 0, oldW, stepsPerFile = 2)
    def milli(w: Map[String, Double]) =
      w.map { case (s, x) => s -> math.round(x * 1000) }
    // a reader's view: the weights of a schedule that verifies and reads
    def seen(dir: String) = scala.util.Try {
      TrainerShards.verifyBlendSchedule(spark, dir, 0).collect()
      TrainerShards.readBlendSchedule(spark, dir, 0).collect()
      TrainerShards.readBlendMeta(spark, dir, 0)._1
        .map(t => t._1 -> t._3).toMap
    }
    val crashes = faultMatrix { k =>
      val parent = localDir("graft_publish_blend")
      copyTree(template, parent)
      val local = s"$parent/shards"
      val dir = faulty(local)
      val blendDir = s"$local/${TrainerShards.epochDirName(0)}/" +
        TrainerShards.BlendDirName
      val crashed = crashAt(k, blendDir) {
        TrainerShards.writeBlendSchedule(spark, dir, 0, newW,
          stepsPerFile = 2)
      }
      // readers do not recover: old, new, or a loud refusal
      val s = seen(dir)
      assert(s.isFailure || Set(milli(oldW), milli(newW)).contains(s.get),
        s"k=$k: $s")
      TrainerShards.writeBlendSchedule(spark, dir, 0, newW, stepsPerFile = 2)
      assert(seen(dir).toOption.contains(milli(newW)), s"k=$k")
      assert(residue(blendDir).isEmpty, s"k=$k: ${residue(blendDir)}")
      crashed
    }
    assert(crashes >= 3, s"retire, publish and cleanup: $crashes")
  }

  /** Each binary level (sub-directory of the shard root, and its write)
    * with `hook` on every rename of an attempt file, run on the faulty
    * filesystem under `zombie`, then checked against `plain`'s
    * undisturbed write: the same files, byte for byte, no attempt file
    * published, and the level's verifier passes.
    */
  private def attemptLevels(hook: (Path, Path) => Boolean): Unit = {
    val weights = Map("en" -> 2.0, "de" -> 1.0, "fr" -> 1.5)
    def levels(root: String) = Seq[(String, () => Any)](
      "" -> (() => writeShards(shardDocs, root)),
      TrainerShards.epochDirName(0) -> (() =>
        TrainerShards.writeEpochOrder(spark, root, seed = "s", epoch = 0)),
      s"${TrainerShards.epochDirName(0)}/${TrainerShards.BlendDirName}" ->
        (() => TrainerShards.writeBlendSchedule(spark, root, 0, weights,
          stepsPerFile = 2)))
    val plain = s"${localDir("graft_attempt_plain")}/shards"
    levels(plain).foreach(_._2())
    val zombie = s"${localDir("graft_attempt_zombie")}/shards"
    levels(faulty(zombie)).foreach { case (sub, write) =>
      FaultyFileSystem.beforeRename = (src, dst) =>
        !src.getName.contains(".attempt-") || hook(src, dst)
      try write() finally FaultyFileSystem.beforeRename = (_, _) => true
      def files(d: String) = new File(s"$d/$sub").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith(".")).map(_.getName)
        .toSet
      assert(!files(zombie).exists(_.contains(".attempt-")),
        s"$sub: attempt files published: ${files(zombie)}")
      assert(files(zombie) == files(plain), s"$sub: ${files(zombie)}")
      files(plain).foreach(n => assert(java.util.Arrays.equals(
        Files.readAllBytes(Paths.get(s"$zombie/$sub/$n")),
        Files.readAllBytes(Paths.get(s"$plain/$sub/$n"))), s"$sub/$n"))
    }
    TrainerShards.verifyManifest(spark, faulty(zombie))
    TrainerShards.verifyEpochOrder(spark, faulty(zombie), 0)
    TrainerShards.verifyBlendSchedule(spark, faulty(zombie), 0)
    ()
  }

  private def local(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)

  test("attempt commit: a commit that finds an identical committed twin " +
      "drops its own attempt file, at every binary level") {
    val refused = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val dropped = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // a zombie attempt committed the identical file first; the rename
    // then fails as HDFS fails a rename onto an existing file
    val twin = (src: Path, dst: Path) => {
      Files.copy(local(src), local(dst))
      refused.add(local(src).toString)
      false
    }
    // only a delete inside a task is the commit's own drop (the
    // driver's sweep runs after the job)
    FaultyFileSystem.afterDelete = p =>
      if (org.apache.spark.TaskContext.get() != null)
        dropped.add(local(p).toString)
    try attemptLevels(twin)
    finally FaultyFileSystem.afterDelete = _ => ()
    assert(!refused.isEmpty, "no commit met a twin")
    assert(dropped.containsAll(refused),
      s"attempt files not dropped by their commit: $refused vs $dropped")
  }

  test("attempt commit: an orphaned attempt file left in staging is " +
      "swept before publish, at every binary level") {
    val planted = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val swept = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // a failed attempt's leftover beside each committing file
    val orphan = (_: Path, dst: Path) => {
      val o = Paths.get(local(dst).toString + ".attempt-999999")
      Files.write(o, Array[Byte](1, 2, 3))
      planted.add(o.toString)
      true
    }
    FaultyFileSystem.afterDelete = p =>
      if (org.apache.spark.TaskContext.get() == null)
        swept.add(local(p).toString)
    try attemptLevels(orphan)
    finally FaultyFileSystem.afterDelete = _ => ()
    assert(!planted.isEmpty, "no orphan planted")
    assert(swept.containsAll(planted),
      s"orphans not swept: $planted vs $swept")
  }

  test("fault matrix: the streaming extend marker") {
    val crashes = faultMatrix { k =>
      val idx = localDir("graft_publish_marker")
      val marker = s"$idx/stream_extend_batch"
      val a = new graft.streaming.Streaming.ExtendMarker(faulty(idx), "a")
      val b = new graft.streaming.Streaming.ExtendMarker(faulty(idx), "b")
      a.record(spark, Map.empty, 1L)
      val old = Map("a" -> 1L)
      val crashed = crashAt(k, marker) {
        b.record(spark, b.snapshot(spark), 7L)
      }
      // the reader recovers: lineage a's protection never vanishes
      val seen = b.snapshot(spark)
      assert(seen == old || seen == old + ("b" -> 7L), s"k=$k: $seen")
      b.record(spark, b.snapshot(spark), 8L)
      assert(a.snapshot(spark) == Map("a" -> 1L, "b" -> 8L), s"k=$k")
      assert(residue(marker).isEmpty, s"k=$k: ${residue(marker)}")
      crashed
    }
    assert(crashes >= 4, s"stage, retire, publish and cleanup: $crashes")
  }

  // ---- index build and rebuild: one stage-and-swap per index ------

  /** The index fault matrix: `template` holds an index at `idx`. Each
    * run copies it, opens a handle on the copy (`counts` loads it and
    * returns its public accessors' row counts), crashes `op` at the
    * k-th op on the index root or its siblings, then reads the counts
    * through that handle: they must be the old side's or the new
    * side's, or a loud refusal (a stale handle) — never the 0 of an
    * unrecovered read. Then `answers` (which loads the index, so
    * recovery runs first) must equal the old side's or the new side's
    * — the new side read from one unfaulted run — with no residue.
    */
  private def indexMatrix(template: String)(op: String => Unit)
      (answers: String => Seq[Any])
      (counts: String => () => Seq[Long]): Unit = {
    val old = answers(faulty(s"$template/idx"))
    val oldCounts = counts(faulty(s"$template/idx"))()
    val reference = localDir("graft_index_matrix_new")
    copyTree(template, reference)
    op(faulty(s"$reference/idx"))
    val fresh = answers(faulty(s"$reference/idx"))
    val freshCounts = counts(faulty(s"$reference/idx"))()
    assert(fresh != old, "the operation changed no answer: the matrix " +
      "could not tell the two sides apart")
    val crashes = faultMatrix { k =>
      val parent = localDir("graft_index_matrix")
      copyTree(template, parent)
      val local = s"$parent/idx"
      val opened = counts(faulty(local))
      val crashed = crashAt(k, local)(op(faulty(local)))
      scala.util.Try(opened()) match {
        case scala.util.Success(n) => assert(n == oldCounts ||
          n == freshCounts, s"k=$k: accessor counts $n, old $oldCounts, " +
          s"new $freshCounts")
        case scala.util.Failure(e) => assert(
          e.isInstanceOf[IllegalArgumentException], s"k=$k: $e")
      }
      val seen = answers(faulty(local))
      assert(seen == old || seen == fresh, s"k=$k: $seen")
      assert(residue(local).isEmpty, s"k=$k: ${residue(local)}")
      crashed
    }
    assert(crashes >= 3, s"retire, publish and cleanup: $crashes")
  }

  private def storedRows(path: String, collection: String): Long =
    new CollectionManager(spark, path).collection(collection).count()

  private def dedupCorpus: DataFrame = {
    import spark.implicits._
    (1 to 30).map(i =>
      (i.toLong, s"document number ${i % 12} about topic ${i % 5} words"))
      .toDF("doc_id", "text")
  }

  /** The stored sets' row count (tombstoned rows included) and the
    * pairs one probe document finds.
    */
  private def dedupAnswers(path: String): Seq[Any] = {
    import spark.implicits._
    val pairs = DedupIndex.load(spark, path).jaccardPairsAgainst(
      Seq((100L, "document number 3 about topic 3 words")).toDF(
        "doc_id", "text"), "doc_id", "text", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    storedRows(path, "sets") +: pairs // after the load recovered
  }

  /** A dedup index over [[dedupCorpus]] with document 3 tombstoned. */
  private def dedupTemplate(): String = {
    import spark.implicits._
    val template = localDir("graft_index_dedup_t")
    DedupIndex.build(dedupCorpus, "doc_id", "text", k = 3,
      threshold = 0.6, path = faulty(s"$template/idx"))
      .delete(Seq(3L).toDF("doc_id"), "doc_id")
    template
  }

  /** Row counts of a [[DedupIndex]] handle's public accessors. */
  private def dedupCounts(path: String): () => Seq[Long] = {
    val idx = DedupIndex.load(spark, path)
    () => Seq(idx.sets, idx.dfreq, idx.prefix, idx.banded).map(_.count())
  }

  test("fault matrix: DedupIndex.build") {
    indexMatrix(dedupTemplate())(path => DedupIndex.build(
      dedupCorpus.filter(col("doc_id") =!= 15L), "doc_id", "text", k = 3,
      threshold = 0.6, path = path))(dedupAnswers)(dedupCounts)
  }

  test("fault matrix: DedupIndex.rebuild publishes sets by swap") {
    // with the whole index: sets, derived tables and meta swap as one
    indexMatrix(dedupTemplate())(path =>
      DedupIndex.load(spark, path).rebuild())(dedupAnswers)(dedupCounts)
  }

  test("a failed index build leaves the previous index and no staging " +
      "copy") {
    val path = s"${dedupTemplate()}/idx"
    val before = dedupAnswers(faulty(path))
    // boom fails the build's first write, inside the staging root
    val e = intercept[Exception](DedupIndex.build(
      dedupCorpus.select(boom(col("doc_id") + 12L).as("doc_id"),
        col("text")), "doc_id", "text", k = 3, threshold = 0.6,
      path = faulty(path)))
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("boom"))), e)
    assert(dedupAnswers(faulty(path)) == before)
    assert(residue(path).isEmpty, residue(path))
  }

  /** 240 seeded 16-dim vectors around 4 centers, ids 1..240. */
  private def annCorpus: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Seq.fill(4)(Seq.fill(16)(rnd.nextGaussian() * 3))
    (1 to 240).map { i =>
      (i.toLong, centers(i % 4).map(c => (c + rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
  }

  /** Build the template index over [[annCorpus]] with vector 2
    * tombstoned, then run the build matrix (a build over two thirds of
    * the corpus) and the rebuild matrix. `answers` gets the stored row
    * count of the index's `main` collection prepended; `counts` is the
    * matrix's accessor probe.
    */
  private def annMatrices(main: String)
      (build: (DataFrame, String) => Unit)
      (delete: (String, DataFrame) => Unit)(rebuild: String => Unit)
      (answers: (String, DataFrame) => DataFrame)
      (counts: String => () => Seq[Long]): Unit = {
    import spark.implicits._
    val template = localDir("graft_index_ann_t")
    build(annCorpus, faulty(s"$template/idx"))
    delete(faulty(s"$template/idx"), Seq(2L).toDF("vec_id"))
    def seen(path: String): Seq[Any] = {
      val top = answers(path, annCorpus.filter(col("vec_id") <= 6))
        .orderBy(col("query_id"), col("rk")).collect().map(_.toSeq).toSeq
      storedRows(path, main) +: top // after `answers` loaded (recovered)
    }
    indexMatrix(template)(path =>
      build(annCorpus.filter(col("vec_id") % 3 =!= 0), path))(seen)(counts)
    indexMatrix(template)(rebuild)(seen)(counts)
  }

  test("fault matrix: PqIndex build and rebuild") {
    annMatrices("codes")((c, path) => PqIndex.build(c, "vec_id",
      "embedding", numSubspaces = 4, nCentroids = 8, path = path))(
      (path, ids) => PqIndex.load(spark, path).delete(ids, "vec_id"))(
      path => PqIndex.load(spark, path).rebuild(annCorpus, "vec_id",
        "embedding"))(
      (path, q) => PqIndex.load(spark, path).topK(q, "vec_id",
        "embedding", k = 3)) { path =>
      val idx = PqIndex.load(spark, path)
      () => Seq(idx.codes.count())
    }
  }

  test("fault matrix: IvfIndex build and rebuild") {
    annMatrices("cells")((c, path) => IvfIndex.build(c, "vec_id",
      "embedding", nCells = 4, path = path))(
      (path, ids) => IvfIndex.load(spark, path).delete(ids, "vec_id"))(
      path => IvfIndex.load(spark, path).rebuild())(
      (path, q) => IvfIndex.load(spark, path).topK(q, "vec_id",
        "embedding", k = 3, nProbe = 2)) { path =>
      val idx = IvfIndex.load(spark, path)
      () => Seq(idx.cells.count())
    }
  }

  test("an index rebuild carries the ingest streams' replay marker into " +
      "the new directory") {
    val path = s"${localDir("graft_index_marker")}/idx"
    IvfIndex.build(annCorpus, "vec_id", "embedding", nCells = 4,
      path = path)
    val marker = new graft.streaming.Streaming.ExtendMarker(path, "a")
    marker.record(spark, Map.empty, 3L)
    IvfIndex.load(spark, path).rebuild()
    assert(marker.snapshot(spark) == Map("a" -> 3L))
  }

  test("fault matrix: IvfPqIndex build and rebuild") {
    annMatrices("codes")((c, path) => IvfPqIndex.build(c, "vec_id",
      "embedding", nCells = 4, numSubspaces = 4, nCentroids = 8,
      path = path))(
      (path, ids) => IvfPqIndex.load(spark, path).delete(ids, "vec_id"))(
      path => IvfPqIndex.load(spark, path).rebuild(annCorpus, "vec_id",
        "embedding"))(
      (path, q) => IvfPqIndex.load(spark, path).topK(q, "vec_id",
        "embedding", k = 3, nProbe = 2)) { path =>
      val idx = IvfPqIndex.load(spark, path)
      () => Seq(idx.codes.count())
    }
  }

  // ---- tooling guard ----------------------------------------------

  test("only the publish module renames: every other `.rename(` in " +
      "src/main is on the allow-list") {
    // (file, the exact call, why it is not a publish)
    val allowed = Seq(
      ("io/ShardArtifact.scala", "fs.rename(from, to)",
        "commitAttemptFile: task-level rename-first commit between " +
          "identical attempt twins"),
      ("sources/DocumentCollectionSource.scala",
        "fs.rename(src, new Path(dest, src.getName))",
        "graft-docs append commit"),
      ("sources/DocumentCollectionSource.scala", "fs.rename(src, fin)",
        "graft-docs streaming commit moves N task files into the live " +
          "directory"))
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val hits = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        val rel = root.relativize(f).toString
        Files.readAllLines(f).asScala.filter(_.contains(".rename("))
          .map(l => (rel, l.trim))
      }
      .filterNot(_._1 == "core/Publish.scala")
    val stray = hits.filterNot { case (rel, line) =>
      allowed.exists(a => a._1 == rel && line.contains(a._2))
    }
    assert(stray.isEmpty, "hand-rolled rename outside graft.core.Publish " +
      s"— publish through the module or allow-list it with a reason: $stray")
    val stale = allowed.filterNot(a =>
      hits.exists(h => h._1 == a._1 && h._2.contains(a._2)))
    assert(stale.isEmpty, s"allow-list entries with no call left: $stale")
  }
}
