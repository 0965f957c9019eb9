package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What one run shares across its phases: the session, the tracer, the
  * work directory, timing samples, per-layer counters and the op tally.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val work: String, val seed: Long, val cpus: Int) {

  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def sample(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v

  /** Per-layer counter, kept only on traced runs (some need a listing). */
  def count(key: String, v: => Double): Unit =
    if (tracer.enabled) counters(key) = counters.getOrElse(key, 0.0) + v

  /** One operation: it fails if it throws or its correctness check
    * returns false; either way the run goes on and the op is tallied.
    */
  def attempt(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok = try body catch {
      case NonFatal(e) =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        false
    }
    if (!ok) {
      failed += 1
      if (failures.isEmpty || !failures.last.startsWith(what))
        failures += s"$what: output check failed"
    }
    ok
  }

  /** Compare and say what differed, for the failure log. */
  def same(what: String, got: Any, want: Any): Boolean = {
    val ok = got == want
    if (!ok) failures += s"$what: got $got, want $want"
    ok
  }

  /** Run a SQL query inside a span; records Catalyst's planning phases
    * (analysis, optimization, planning) on the span.
    */
  def sql(span: String, q: String): Array[Row] = tracer.span(span) {
    val df: DataFrame = spark.sql(q)
    val rows = df.collect()
    if (tracer.enabled) {
      val phases = df.queryExecution.tracker.phases
      tracer.attr("plan_ms", phases.values.map(_.durationMs.toDouble).sum)
    }
    rows
  }

  def fs(path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (files, bytes) of the data files under `path`, recursively. */
  def dataFiles(path: String, suffix: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = fs(path)
    if (!f.exists(p)) return (0L, 0L)
    var n = 0L
    var b = 0L
    val it = f.listFiles(p, true)
    while (it.hasNext) {
      val s = it.next()
      if (s.getPath.getName.endsWith(suffix)) { n += 1; b += s.getLen }
    }
    (n, b)
  }

  def delete(path: String): Unit = {
    fs(path).delete(new org.apache.hadoop.fs.Path(path), true)
    ()
  }
}

object Ctx {
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }
}
