package graft

import scala.collection.mutable
import scala.util.Random

import graft.core.{BroadcastGate, Fixpoint}
import graft.operators.ConnectedComponents
import org.apache.spark.graft.GraftSparkHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The two branches of `ConnectedComponents.clusters` — driver
  * union-find under the gate, distributed min-label propagation over
  * it — give row-identical output; each runs the jobs it should; and
  * the `Fixpoint` loop the distributed operators share fails loudly
  * instead of looping forever.
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private val Driver = Some(Long.MaxValue)
  private val Distributed = Some(0L)

  private def clusters(pairs: DataFrame, gate: Option[Long]): DataFrame =
    BroadcastGate.forced.withValue(gate) {
      ConnectedComponents.clusters(pairs, "id1", "id2")
    }

  private def rows(df: DataFrame): Seq[(Any, Any)] =
    df.collect().toSeq.map(r => (r.get(0), r.get(1))).sortBy(_.toString)

  /** Descriptions of the jobs `body` starts, in start order. */
  private def jobsOf[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    GraftSparkHooks.drainListenerBus(sc)
    val seen = mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.synchronized {
          seen += Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
        }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftSparkHooks.drainListenerBus(sc)
      (out, seen.synchronized(seen.toList))
    } finally sc.removeSparkListener(listener)
  }

  /** A seeded disjoint union of chains, stars and cliques over sparse
    * node ids, with duplicated and reversed edges and self-pairs mixed
    * in, shuffled.
    */
  private def graph(seed: Long): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    val used = mutable.Set.empty[Long]
    def fresh(): Long = {
      var v = rnd.nextInt(2000000).toLong - 1000000L
      while (used(v)) v = rnd.nextInt(2000000).toLong - 1000000L
      used += v
      v
    }
    val edges = mutable.ArrayBuffer.empty[(Long, Long)]
    for (_ <- 1 to 4) { // chains
      val ns = Seq.fill(2 + rnd.nextInt(10))(fresh())
      edges ++= ns.zip(ns.tail)
    }
    for (_ <- 1 to 4) { // stars
      val hub = fresh()
      edges ++= Seq.fill(1 + rnd.nextInt(6))(hub -> fresh())
    }
    for (_ <- 1 to 3) { // cliques
      val ns = Seq.fill(2 + rnd.nextInt(5))(fresh())
      for (a <- ns; b <- ns if a != b) edges += a -> b
    }
    val dups = Seq.fill(6)(edges(rnd.nextInt(edges.length)))
    val reversed = Seq.fill(6)(edges(rnd.nextInt(edges.length)).swap)
    val selfs = Seq.fill(3)(edges(rnd.nextInt(edges.length))._1)
      .map(v => v -> v) ++ Seq.fill(2) { val v = fresh(); v -> v }
    rnd.shuffle((edges ++ dups ++ reversed ++ selfs).toSeq)
  }

  test("clusters: driver and distributed branches give row-identical " +
      "output on seeded random graphs with Int, Long and String ids") {
    for (seed <- Seq(11L, 12L)) {
      val g = graph(seed)
      val typed: Seq[(String, DataFrame)] = Seq(
        "Long" -> g.toDF("id1", "id2"),
        "Int" -> g.map { case (a, b) => (a.toInt, b.toInt) }
          .toDF("id1", "id2"),
        // a varied leading code point, so min follows UTF-8 byte order
        "String" -> {
          val prefixes = Seq("", "a", "Z", "\u00e9", "\ue000",
            "\ud83d\ude00")
          def s(v: Long) = prefixes(Math.floorMod(v, 6L).toInt) + v
          g.map { case (a, b) => (s(a), s(b)) }.toDF("id1", "id2")
        })
      for ((name, pairs) <- typed) {
        val onDriver = clusters(pairs, Driver)
        val distributed = clusters(pairs, Distributed)
        assert(onDriver.schema.map(_.dataType) ==
          distributed.schema.map(_.dataType), s"$name seed $seed")
        val got = rows(onDriver)
        assert(got.nonEmpty)
        assert(got == rows(distributed), s"$name ids, seed $seed")
      }
    }
  }

  test("clusters: strings order by UTF-8 bytes on both branches, not " +
      "by String.compareTo") {
    // U+1F600 (surrogates D83D DE00) sorts BEFORE U+E000 in UTF-16 but
    // after it in UTF-8 — Spark's min picks the U+E000 id
    val emoji = "\ud83d\ude00"
    val pua = "\ue000"
    assert(emoji.compareTo(pua) < 0)
    val pairs = Seq((emoji, pua), (pua, "\uffff")).toDF("id1", "id2")
    for (gate <- Seq(Driver, Distributed))
      assert(rows(clusters(pairs, gate)) == Seq[(Any, Any)](
        (emoji, pua), (pua, pua), ("\uffff", pua)).sortBy(_.toString))
  }

  test("clusters: empty input and null ids match across branches") {
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    for (gate <- Seq(Driver, Distributed))
      assert(clusters(empty, gate).count() == 0L)
    // a null id makes the driver branch hand over to the distributed one
    val withNull = Seq((Some(1L), Some(2L)), (Some(2L), None),
      (Some(5L), Some(6L))).toDF("id1", "id2")
    val (onDriver, jobs) = jobsOf(rows(clusters(withNull, Driver)))
    assert(onDriver == rows(clusters(withNull, Distributed)))
    assert(jobs.exists(_.startsWith("clusters: round")), jobs)
  }

  test("clusters: a 200k-node chain labels on the driver without " +
      "recursion") {
    val n = 200000L
    val chain = spark.range(n - 1)
      .select(col("id").as("id1"), (col("id") + 1).as("id2"))
    val (stats, jobs) = jobsOf(
      ConnectedComponents.clusters(chain, "id1", "id2")
        .agg(count(lit(1)), max(col("label")), countDistinct(col("id")))
        .head())
    assert(stats == Row(n, 0L, n))
    assert(!jobs.exists(_.startsWith("clusters: round")), jobs)
  }

  test("clusters: under the gate one job, labelled as the driver " +
      "branch; over it, one evaluation of the upstream and labelled " +
      "rounds") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (10L, 11L), (11L, 12L))
      .toDF("id1", "id2")
    val (_, small) = jobsOf(clusters(pairs, None))
    assert(small == Seq("clusters: driver"), small)

    // over the gate (never collected, and collected past the bound of
    // two pairs at 128 B each): the counting filter sees every upstream
    // row exactly once
    for (gate <- Seq(Distributed, Some(256L))) {
      val acc = spark.sparkContext.longAccumulator
      val counted = udf((_: Long) => { acc.add(1); true }).asNondeterministic()
      val upstream = spark.range(0, 40, 1, 4).filter(counted(col("id")))
        .select(col("id").as("id1"), (col("id") / 4).cast("long").as("id2"))
      val (labels, jobs) = jobsOf(clusters(upstream, gate))
      assert(acc.value == 40L, s"gate $gate: upstream evaluations")
      assert(labels.count() == 40L)
      assert(jobs.exists(_ == "clusters: round 1"), jobs)
      assert(jobs.forall(j => j == "clusters: edges" ||
        j == "clusters: driver" || j.startsWith("clusters: round ")), jobs)
    }
  }

  test("star contraction and seed distances label their rounds") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id1", "id2")
    val (_, star) = jobsOf(
      ConnectedComponents.clustersStarContraction(pairs, "id1", "id2")
        .collect())
    assert(star.contains("star: canon") && star.contains("star: round 1"),
      star)
    val (_, bfs) = jobsOf(ConnectedComponents.seedDistances(pairs, "id1",
      "id2", Seq(1L).toDF("id"), "id").collect())
    assert(bfs.contains("seedDistances: hop 0") &&
      bfs.contains("seedDistances: hop 3"), bfs)
  }

  test("Fixpoint: a step that never converges fails loudly at maxRounds " +
      "and releases its rounds") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val err = intercept[IllegalStateException] {
      Fixpoint.run("spin: round", Seq(1L, 2L).toDF("x"), maxRounds = 3) {
        (prev, probe) => probe(prev.select((col("x") + 1).as("x")))
      }
    }
    assert(err.getMessage.contains("spin: round 3"), err.getMessage)
    val alive = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(alive.isEmpty, s"rounds still persisted: $alive")
  }
}
