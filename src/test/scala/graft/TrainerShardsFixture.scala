package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.io.TrainerShards
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The committed trainer-shard artifact set under
  * `src/test/resources/trainer_shards_v1/` and the inputs that wrote
  * it: three strata at width 2, epochs 0 and 1 (seed "fixture"), a
  * blend per epoch with `stepsPerFile = 4` (epoch 1 with source-epochs
  * factors, so it wraps around), and a run manifest binding [0, 1].
  * `run_order.tsv` beside the set is `readInRunOrder(afterStep = 0)`
  * as written, one row per run step.
  *
  * The set pins the file formats across versions: `TrainerShardsFixtureSpec`
  * verifies it deep, reads it back, and re-writes [[write]]'s inputs to
  * check every file's sha256. Regenerate only when a format changes on
  * purpose:
  *
  *     sbt "Test/runMain graft.TrainerShardsFixture src/test/resources/trainer_shards_v1"
  *
  * The local filesystem's `.crc` sidecars are dropped; readers do not
  * need them.
  */
object TrainerShardsFixture {

  val Seed = "fixture"
  val Epochs = Seq(0, 1)
  val StepsPerFile = 4L
  val Weights = Map("de" -> 1.0, "en" -> 2.0, "fr" -> 1.5)
  val Factors: Map[Int, Map[String, Double]] =
    Map(0 -> Map.empty, 1 -> Map("de" -> 0.5, "fr" -> 2.0))
  val Provenance = Map("tokenizer" -> "fixture-bytes-v1",
    "corpus" -> "fixture")

  /** (stratum, seq_id, token ids): ids span the width-2 range. */
  val Sequences: Seq[(String, Long, Seq[Long])] = Seq(
    ("de", 0L, Seq(1L, 2L, 3L)),
    ("de", 1L, Seq(256L, 65535L)),
    ("de", 2L, Seq(7L)),
    ("en", 0L, Seq(10L, 11L, 12L, 13L)),
    ("en", 1L, Seq(300L, 301L)),
    ("en", 2L, Seq(0L, 40000L, 5L)),
    ("en", 3L, Seq(99L)),
    ("fr", 0L, Seq(500L, 501L, 502L)),
    ("fr", 1L, Seq(1000L)))

  def sequences(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        Sequences.map { case (s, q, ids) => Row(s, q, ids) }, 2),
      StructType(Seq(
        StructField("lang", StringType, nullable = false),
        StructField("seq_id", LongType, nullable = false),
        StructField("token_ids",
          ArrayType(LongType, containsNull = false), nullable = false))))

  /** Write the whole artifact set (shards, both epochs' orders and
    * blends, the run manifest) to `dir`.
    */
  def write(spark: SparkSession, dir: String): Unit = {
    TrainerShards.write(sequences(spark), "lang", "seq_id", "token_ids",
      width = 2, dir, Provenance)
    Epochs.foreach { e =>
      TrainerShards.writeEpochOrder(spark, dir, Seed, e)
      TrainerShards.writeBlendSchedule(spark, dir, e, Weights,
        stepsPerFile = StepsPerFile, epochsFactors = Factors(e))
    }
    TrainerShards.writeRunManifest(spark, dir, Epochs)
    ()
  }

  /** `readInRunOrder` as TSV lines (header first), in run-step order. */
  def runOrderTsv(spark: SparkSession, dir: String): Seq[String] =
    "run_step\tepoch\tglobal_step\tstratum\trank\tpos\ttoken_ids" +:
      TrainerShards.readInRunOrder(spark, dir).collect()
        .sortBy(_.getAs[Long]("run_step"))
        .map(r => Seq(r.getAs[Long]("run_step"), r.getAs[Int]("epoch"),
          r.getAs[Long]("global_step"), r.getAs[String]("stratum"),
          r.getAs[Long]("rank"), r.getAs[Long]("pos"),
          r.getSeq[Long](r.fieldIndex("token_ids")).mkString(","))
          .mkString("\t"))
        .toSeq

  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0))
    val spark = graft.core.Graft.session("graft-shard-fixture")
    spark.sparkContext.setLogLevel("WARN")
    val shards = out.resolve("shards")
    write(spark, shards.toString)
    Files.write(out.resolve("run_order.tsv"),
      (runOrderTsv(spark, shards.toString).mkString("\n") + "\n")
        .getBytes(UTF_8))
    Files.walk(shards).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".crc"))
      .foreach(Files.delete)
    spark.stop()
  }
}
