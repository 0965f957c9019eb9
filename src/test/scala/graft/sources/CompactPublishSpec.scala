package graft.sources

import java.nio.file.{Files, Path => JPath}

import scala.util.control.NonFatal

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

import graft.{FaultyFileSystem, SparkSpec}

/** The fault matrix for [[FileSetMicroBatchStream]]'s compact
  * generation files, published through [[graft.core.Publish.writeFile]]:
  * a crash at every protocol op leaves the generation file holding the
  * old or the new bytes (never a torn write; while the replaced copy is
  * retired it is recoverable beside the path), and the next stream
  * over the same checkpoint republishes it with no residue.
  */
class CompactPublishSpec extends SparkSpec {

  private case class FakePartition(name: String) extends InputPartition

  private lazy val conf = {
    val c = spark.sparkContext.hadoopConfiguration
    FaultyFileSystem.register(c)
    c
  }

  private def stream(ckpt: String): FileSetMicroBatchStream =
    new FileSetMicroBatchStream(s"faulty:$ckpt", maxFilesPerTrigger = 1000,
        maxBytesPerTrigger = Long.MaxValue, compactThreshold = 1,
        new org.apache.spark.sql.graftbridge.SerializableHadoopConf(conf)) {
      override protected def listFiles(): Seq[(String, Long)] =
        Seq("a" -> 1L, "b" -> 1L)
      override protected def partitionFor(name: String): InputPartition =
        FakePartition(name)
      override def createReaderFactory(): PartitionReaderFactory =
        throw new UnsupportedOperationException("offsets-only fake")
    }

  /** Admit the listing once: compacts it into generation 1. */
  private def admit(ckpt: String): Unit = {
    val s = stream(ckpt)
    s.latestOffset(s.initialOffset(), s.getDefaultReadLimit)
    ()
  }

  private def read(p: JPath): Option[String] =
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), "UTF-8"))
    else None

  private def siblings(p: JPath, kind: String): Seq[JPath] = {
    val it = Files.list(p.getParent).iterator()
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
      .filter(_.getFileName.toString.startsWith(s"${p.getFileName}.$kind-"))
  }

  for (orphan <- Seq(false, true))
    test(s"fault matrix: compact generation publish (orphan=$orphan)") {
      val fresh = FileSetOffset.mapper.writeValueAsString(Array("a", "b"))
      var k = 1
      var fired = true
      while (fired) {
        val ckpt = Files.createTempDirectory("graft_compact_publish")
        val file = ckpt.resolve("graft-offset-compact")
          .resolve("compact-000000001.json")
        if (orphan) {
          Files.createDirectories(file.getParent)
          Files.write(file, "[\"zzz\"]".getBytes("UTF-8"))
        }
        val old = read(file)
        FaultyFileSystem.arm(k, file.toString)
        fired =
          try { admit(ckpt.toString); FaultyFileSystem.disarm() }
          catch {
            case NonFatal(e) => if (FaultyFileSystem.disarm()) true else throw e
          }
        val seen = read(file)
        assert(seen == old || seen.contains(fresh) ||
          (seen.isEmpty && siblings(file, "old").map(read) == Seq(old)),
          s"k=$k: $seen")
        admit(ckpt.toString)
        assert(read(file).contains(fresh), s"k=$k")
        val left = Seq("staging", "old", "tmp").flatMap(siblings(file, _))
        assert(left.isEmpty, s"k=$k: $left")
        k += 1
      }
      assert(k > (if (orphan) 5 else 3),
        s"only ${k - 2} crash points exercised")
    }
}
