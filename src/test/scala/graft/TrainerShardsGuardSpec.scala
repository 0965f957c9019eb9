package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Tooling guard for the one trainer-shard artifact module
  * ([[graft.io.ShardArtifact]]): `io/TrainerShards.scala` supplies each
  * level's layout, manifest fields and checks, and hand-rolls no digest,
  * JSON codec, checksum verifier or speculation refusal.
  */
class TrainerShardsGuardSpec extends AnyFunSuite {

  test("only the artifact module digests, codes manifests, verifies " +
      "checksums or refuses speculation: everything else in " +
      "TrainerShards.scala is on the allow-list") {
    val needles = Seq("""MessageDigest\.getInstance""",
      """new\s+(com\.fasterxml\.jackson\.databind\.)?ObjectMapper""",
      """\breadTree\(""", """\bwriterWithDefaultPrettyPrinter\b""",
      """format\("binaryFile"\)""", """spark\.speculation""")
    // (the exact text, why it stays)
    val allowed = Seq(
      ("""spark.read.format("binaryFile").load(dir + "/*" + suffix)""",
        "read: the distributed shard read-back scans .tokens and .idx"),
      ("""spark.read.format("binaryFile").load(ords)""",
        "readEpochOrder: the distributed .ord scan"),
      ("""spark.read.format("binaryFile").load(parts)""",
        "readBlendSchedule: the distributed blend-part scan"))
    val file = Paths.get("src/main/scala/graft/io/TrainerShards.scala")
    assert(Files.isRegularFile(file), s"run from the repo root: $file")
    val hits = Files.readAllLines(file).asScala.map(_.trim)
      .filter(l => needles.exists(_.r.findFirstIn(l).isDefined)).toSeq
    val stray = hits.filterNot(l => allowed.exists(a => l.contains(a._1)))
    assert(stray.isEmpty, "artifact machinery outside graft.io." +
      "ShardArtifact — use the module or allow-list it with a reason: " +
      stray)
    val stale = allowed.filterNot(a => hits.exists(_.contains(a._1)))
    assert(stale.isEmpty, s"allow-list entries with nothing left: $stale")
  }
}
