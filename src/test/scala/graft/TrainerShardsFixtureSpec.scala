package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import graft.io.TrainerShards

/** The trainer-shard file formats pinned across versions: the committed
  * artifact set in `src/test/resources/trainer_shards_v1/` (inputs and
  * generator: [[TrainerShardsFixture]]) was written by an earlier
  * version of the writers. This version must verify it deep, read it
  * back as written, and re-write the same inputs to the same bytes.
  */
class TrainerShardsFixtureSpec extends SparkSpec {

  private val committed = Paths.get("src/test/resources/trainer_shards_v1")

  /** Every file under `root` (relative path → sha256 hex), local-FS
    * `.crc` sidecars aside.
    */
  private def hashes(root: Path): Map[String, String] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.endsWith(".crc"))
      .map(p => root.relativize(p).toString ->
        MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
          .map(b => f"$b%02x").mkString)
      .toMap

  /** A scratch copy of the committed set (readers never write, but the
    * resources stay untouched either way).
    */
  private def copyOfCommitted(): String = {
    assert(Files.isDirectory(committed), s"run from the repo root: $committed")
    val to = Files.createTempDirectory("graft_shard_fixture")
    Files.walk(committed).iterator().asScala.foreach { p =>
      val dst = to.resolve(committed.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }
    to.resolve("shards").toString
  }

  test("the committed artifact set verifies deep") {
    val dir = copyOfCommitted()
    val bound = TrainerShards.verifyRun(spark, dir, deep = true).collect()
    assert(bound.map(_.getInt(0)).toSeq == TrainerShardsFixture.Epochs)
    assert(TrainerShards.readProvenance(spark, dir) ==
      TrainerShardsFixture.Provenance)
  }

  test("the committed artifact set reads back in run order as written") {
    val dir = copyOfCommitted()
    val want = Files.readAllLines(committed.resolve("run_order.tsv"), UTF_8)
      .asScala.toSeq
    assert(TrainerShardsFixture.runOrderTsv(spark, dir) == want)
    // every step resolves to one of the fixture's own sequences
    val ids = TrainerShardsFixture.Sequences.map(_._3.mkString(",")).toSet
    assert(want.tail.map(_.split("\t").last).forall(ids))
  }

  test("re-writing the fixture's inputs gives every committed file's " +
      "sha256") {
    val out = Files.createTempDirectory("graft_shard_rewrite")
    TrainerShardsFixture.write(spark, out.resolve("shards").toString)
    val want = hashes(committed.resolve("shards"))
    val got = hashes(out.resolve("shards"))
    assert(want.nonEmpty && got.keySet == want.keySet,
      s"file sets differ: ${got.keySet} vs ${want.keySet}")
    val differ = want.keys.filter(k => got(k) != want(k)).toSeq.sorted
    assert(differ.isEmpty, s"bytes changed: $differ")
  }
}
