package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Tooling guard for the one tokenizer surface
  * ([[graft.operators.TokenizerSurface]] and [[graft.operators.Tokenizer]]):
  * the lineage files supply a model, and nothing in them assembles a
  * sequence, reads or writes a tokenizer file, or parses or emits a
  * TemplateProcessing post-processor by hand.
  */
class TokenizerGuardSpec extends AnyFunSuite {

  test("only the surface module assembles: the lineage files call no " +
      "truncation, padding, mask or pair-assembly helper, and no " +
      "operator file outside it reads, writes, parses or emits a " +
      "tokenizer file's template") {
    val lineageFiles = Set("Bpe.scala", "Unigram.scala", "WordPiece.scala")
    val assembly = Seq("""\btruncateSingle\(""", """\bpad\(""",
      """\bpadWith\(""", """\battentionMask\(""", """\bpairKeepLengths\(""",
      """\bkeepSeq\(""", """\bpairAssembled\(""")
    val template = Seq("\"SpecialToken\"", "\"special_tokens\"",
      """put\("type", "TemplateProcessing"\)""", """\breadTree\(""",
      """\bwriterWithDefaultPrettyPrinter\b""",
      """def (parse|emit)(TemplateProcessing|PairTemplate|PostProcessor)""")
    // (file, the exact text, why it stays)
    val allowed = Seq(
      ("WordPiece.scala", "pairAssembled(contentIds(a, tok),",
        "encodePairColumns: WordPiece's unprojected pair columns (x127), " +
          "built from the shared helper"),
      ("Bpe.scala", "mapper.readTree(readAll(\"vocab.json\"))",
        "loadGpt2 parses a GPT-2 vocab.json string, not a tokenizer file"))
    val root = Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val hits = Files.list(root).iterator().asScala
      .map(f => (f.getFileName.toString, f))
      .filter { case (name, _) =>
        name.endsWith(".scala") && name != "Tokenizer.scala"
      }.toSeq
      .flatMap { case (name, f) =>
        val needles =
          if (lineageFiles(name)) assembly ++ template else template
        Files.readAllLines(f).asScala
          .filter(l => needles.exists(n => n.r.findFirstIn(l).isDefined))
          .map(l => (name, l.trim))
      }
    val stray = hits.filterNot { case (name, line) =>
      allowed.exists(a => a._1 == name && line.contains(a._2))
    }
    assert(stray.isEmpty, "assembly or template handling outside the " +
      "tokenizer surface — move it into Tokenizer.scala or allow-list it " +
      s"with a reason: $stray")
    val stale = allowed.filterNot(a =>
      hits.exists(h => h._1 == a._1 && h._2.contains(a._2)))
    assert(stale.isEmpty, s"allow-list entries with nothing left: $stale")
  }
}
