package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.core.BroadcastGate
import org.apache.spark.graft.GraftSparkHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The one broadcast gate: what a decision costs in jobs, how the
  * override forces a branch, and that no operator outside the module
  * makes the decision by hand.
  */
class BroadcastGateSpec extends SparkSpec {

  /** The number of jobs `body` starts. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    GraftSparkHooks.drainListenerBus(sc)
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftSparkHooks.drainListenerBus(sc)
      (out, started.get())
    } finally sc.removeSparkListener(listener)
  }

  test("the frame gate runs one count on an unloaded cache and no job " +
      "on a loaded one") {
    // a Dataset count over a fresh cache is several jobs (the cache
    // build, then the count's own stages); the gate's one count is over
    // the cached batches, the build alone, and the row count it leaves
    // in the cache's statistics is read with no job
    def frame(tag: String) = spark.range(0, 1000, 1, 4)
      .select(col("id"), lit(s"broadcast-gate-spec $tag").as("tag")).cache()
    val (ref, gated) = (frame("count"), frame("gate"))
    try {
      val (_, countJobs) = jobsOf(ref.count())
      val (cold, coldJobs) = jobsOf(BroadcastGate.fits("spec: cold", gated))
      assert(cold)
      assert(coldJobs == 1, s"unloaded cache: $coldJobs jobs")
      assert(countJobs > coldJobs, s"count: $countJobs jobs")
      val (rowBytes, rowJobs) = jobsOf(BroadcastGate.rowBytes(gated))
      assert(rowJobs == 0, s"row count: $rowJobs jobs")
      assert(rowBytes == (BroadcastGate.estimatedBytes(gated) / 1000).toLong)
      val (warm, warmJobs) = jobsOf(BroadcastGate.fits("spec: warm", gated))
      assert(warm)
      assert(warmJobs == 0, s"loaded cache: $warmJobs jobs")
    } finally Seq(ref, gated).foreach(_.unpersist(blocking = true))
  }

  test("the override forces either branch; the row gate cannot " +
      "overflow") {
    val df = spark.range(0, 10).select(col("id"),
      lit("broadcast-gate-spec override").as("tag")).cache()
    try {
      val hinted = BroadcastGate.hint("spec: default", df)(df)
      assert(hinted.queryExecution.logical.toString.contains("broadcast"))
      BroadcastGate.forced.withValue(Some(0L)) {
        assert(!BroadcastGate.fits("spec: forced shuffle", df))
        assert(BroadcastGate.hint("spec: forced shuffle", df)(df) eq df)
        assert(BroadcastGate.rowsFit("spec: no rows", 0L, 64L))
        assert(!BroadcastGate.rowsFit("spec: one row", 1L, 1L))
      }
      BroadcastGate.forced.withValue(Some(Long.MaxValue)) {
        assert(BroadcastGate.rowsFit("spec: forced broadcast", 1L << 40, 64L))
      }
      assert(BroadcastGate.rowsFit("spec: at the gate",
        BroadcastGate.MaxBytes / 64, 64L))
      assert(!BroadcastGate.rowsFit("spec: one row past",
        BroadcastGate.MaxBytes / 64 + 1, 64L))
      assert(!BroadcastGate.rowsFit("spec: overflow", Long.MaxValue,
        Long.MaxValue))
    } finally df.unpersist(blocking = true)
  }

  // ---- tooling guard ----------------------------------------------

  test("only the gate module decides: no measured-size compare, gate " +
      "constant or broadcastMaxBytes parameter elsewhere in src/main") {
    val needles = Seq("""\bestimatedBytes\(""", "VerifyBroadcastMaxBytes",
      """\bbroadcastMaxBytes\b""",
      """\bBroadcastGate\.(MaxBytes|maxBytes|forced)\b""")
    // (file, the exact text, why it stays)
    val allowed = Seq(
      ("graft/operators/SimilaritySearch.scala",
        "corpusBytesHint = Some(BroadcastGate.estimatedBytes(c))",
        "ivfTopK feeds boundedTopK's window-vs-aggregate choice under " +
          "WindowTopKMaxBytes: a plan-cost policy, not a broadcast gate"))
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val hits = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(f => (root.relativize(f).toString, f))
      .filterNot(_._1 == "graft/core/BroadcastGate.scala")
      .flatMap { case (rel, f) =>
        Files.readAllLines(f).asScala
          .filter(l => needles.exists(n => n.r.findFirstIn(l).isDefined))
          .map(l => (rel, l.trim))
      }
    val stray = hits.filterNot { case (rel, line) =>
      allowed.exists(a => a._1 == rel && line.contains(a._2))
    }
    assert(stray.isEmpty, "a broadcast-vs-shuffle size decision outside " +
      "graft.core.BroadcastGate — call the module or allow-list it with " +
      s"a reason: $stray")
    val stale = allowed.filterNot(a =>
      hits.exists(h => h._1 == a._1 && h._2.contains(a._2)))
    assert(stale.isEmpty, s"allow-list entries with nothing left: $stale")
  }
}
