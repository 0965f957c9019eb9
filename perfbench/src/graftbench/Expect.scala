package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.types._

/** Column checksums of a set of lineitem rows — integral sums only, so
  * they compare exactly whatever the summation order.
  */
final case class Totals(rows: Long, orderkey: Long, partkey: Long,
    quantity: Long, discountCents: Long, returned: Long, shipDays: Long) {
  def *(k: Int): Totals = Totals(rows * k, orderkey * k, partkey * k,
    quantity * k, discountCents * k, returned * k, shipDays * k)
}

/** A generated lineitem input on disk with the totals the generator knows. */
final case class LineInput(dir: String, totals: Totals, bytes: Long)

/** The row count every curation stage must produce on a generated
  * corpus, and the representatives' bytes per language — the packer's
  * token count, since byte-level encoding with no merges is one token
  * per byte.
  */
final case class CurateTruth(docs: Long, exact: Long, quality: Long,
    pairs: Long, clusterNodes: Long, reps: Long,
    repBytesByLang: Map[String, Long]) {
  def sequences(seqLen: Int): Long =
    repBytesByLang.values.map(b => (b + seqLen - 1) / seqLen).sum
  def tokens: Long = repBytesByLang.values.sum
}

/** Reads the expectations `gen.py` wrote next to the inputs. */
final class Expect(path: String) {
  private val root: JsonNode = new ObjectMapper().readTree(new java.io.File(path))

  private def totals(n: JsonNode): Totals = Totals(n.get("rows").asLong,
    n.get("orderkey").asLong, n.get("partkey").asLong,
    n.get("quantity").asLong, n.get("discount_cents").asLong,
    n.get("returned").asLong, n.get("ship_days").asLong)

  private def line(n: JsonNode): LineInput =
    LineInput(n.get("dir").asText, totals(n.get("totals")), n.get("bytes").asLong)

  private def truth(n: JsonNode): CurateTruth = CurateTruth(
    n.get("docs").asLong, n.get("exact").asLong, n.get("quality").asLong,
    n.get("pairs").asLong, n.get("cluster_nodes").asLong, n.get("reps").asLong,
    n.get("rep_bytes_by_lang").fields.asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap)

  def lineInput(key: String): LineInput = line(root.get(key))
  def text(key: String): String = root.get(key).asText

  def curateTruth(key: String): CurateTruth = truth(root.get(key))
}

object Expect {
  /** The shape a graft-docs collection of lineitem rows reads back as:
    * the quirk encoder writes timestamps as epoch micros.
    */
  val LineDocSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", LongType)))
}
