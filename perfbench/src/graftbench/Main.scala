package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.core.Graft

object Main {
  val Workloads = Seq("bulk_load", "curate")

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def processCpuS: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  private def procStatusKb(key: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble)
      .getOrElse(Double.NaN)

  /** Host-wide CPU steal in seconds so far (field 8 of /proc/stat, in
    * USER_HZ ticks, 100 per second on Linux).
    */
  private def stealS: Double =
    scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+")(8).toDouble / 100

  private def loadavg1: Double =
    scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val traced = arg(args, "--trace") == "1"
    val work = arg(args, "--work")
    val traceOut = arg(args, "--trace-out")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val log = mutable.ArrayBuffer.empty[String]
    def say(s: String): Unit = { println(s); log += s }

    // ---- set-up: from the session to the end of the untimed warm-up, the
    // job once on its small input (classes loaded, first generated code
    // compiled); the inputs were generated before the JVM started
    val t0 = System.nanoTime()
    val tracer = new Tracer(traced)
    val spark = Graft.session("graftbench")
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, tracer, work, seed, cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val exp = new Expect(s"$work/in/expect.json")
    val job: Job = workload match {
      case "bulk_load" => new BulkJob(exp.lineInput("bulk"), exp.lineInput("tiny"))
      case "curate" => new CurateJob(exp.text("corpus"),
        exp.curateTruth("corpus_truth"), exp.text("tiny_corpus"),
        exp.curateTruth("tiny_truth"))
    }
    job.warmUp(ctx)
    val setupS = (System.nanoTime() - t0) / 1e9
    ctx.samples.clear()
    ctx.counters.clear()

    // ---- measured section ---------------------------------------------
    tracer.attach(ctx.spark.sparkContext)
    val cpu0 = processCpuS
    val steal0 = stealS
    val wall0 = System.nanoTime()
    val deadline = wall0 + (seconds * 1e9).toLong
    job.run(ctx, () => System.nanoTime() < deadline)
    tracer.drain()
    val wallEnd = System.nanoTime()
    val wallS = (wallEnd - wall0) / 1e9
    val cpuS = processCpuS - cpu0
    val steal = stealS - steal0

    // traced-only probes, after the measured section
    val counters = ctx.counters.clone()
    if (traced) {
      SerdeProbe.run(ctx, job.probeInput)
      tracer.drain()
      Seq("serde.encode_ms", "serde.json_bytes_per_row",
        "operators.minhash.verify_yield")
        .foreach(k => ctx.counters.get(k).foreach(counters(k) = _))
    }

    // ---- report ---------------------------------------------------------
    val s = ctx.samples.map { case (k, v) => k -> v.toSeq }
    def med(k: String) = s.get(k).map(median).getOrElse(Double.NaN)
    val rssMb = procStatusKb("VmHWM") / 1024
    val okRate = (ctx.attempted - ctx.failed).toDouble / ctx.attempted
    // latency of a call: each kind's median, geometric mean over kinds
    val kinds = s.keys.filter(_.startsWith("call_ms:")).toSeq.sorted
    val callMsP50 =
      math.exp(kinds.map(k => math.log(median(s(k)))).sum / kinds.size)
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("rows_per_s", med("rows_per_s"), "rows/s"),
      ("call_ms_p50", callMsP50, "ms"),
      ("stored_bytes_per_input_byte", med("stored_bytes_per_input_byte"), "ratio"),
      ("ok_rate", okRate, "ratio"),
      ("peak_rss_mb", rssMb, "MB"))
    // the job's own measures under the names the workload gives them
    val named: Seq[(String, Double)] = Seq("load_rows_per_s", "load_docs_per_s",
      "scan_rows_per_s", "curate_docs_per_s").filter(s.contains).map(k => k -> med(k)) ++
      kinds.map(k => s"${k.stripPrefix("call_ms:")}_ms_p50" -> med(k))

    say(f"workload=$workload seed=$seed cpus=$cpus traced=$traced " +
      f"session_s=$sessionS%.3f setup_s=$setupS%.3f measured_s=$wallS%.3f")
    say(s"inputs: ${job.describe}; driver heap " +
      s"${Runtime.getRuntime.maxMemory / (1 << 20)} MB")
    say("samples: " + s.map { case (k, v) => s"$k=${v.size}" }.mkString(" "))
    say("rows_per_s samples: " + s.getOrElse("rows_per_s", Nil).map(x => f"$x%.1f").mkString(","))
    say(s"ops: attempted=${ctx.attempted} failed=${ctx.failed} " +
      s"error_rate=${ctx.failed.toDouble / ctx.attempted}")
    ctx.failures.take(20).foreach(f => say(s"FAILED $f"))
    say(f"host: process_cpu_s=$cpuS%.2f effective_cores=${cpuS / wallS}%.2f " +
      f"loadavg_1m=$loadavg1%.2f steal_s=$steal%.2f")
    say("e2e: " + e2e.map { case (k, v, _) => s"$k=$v" }.mkString(" "))
    say("job: " + named.map { case (k, v) => s"$k=$v" }.mkString(" "))

    val layers: Seq[(String, Double, String)] =
      if (traced) Layers.metrics(ctx, counters, wallS, wallEnd, cpuS, steal, loadavg1) else Nil
    if (traced) writeTrace(traceOut, workload, seed, ctx, wallS,
      e2e ++ named.map { case (k, v) => (k, v, "") }, layers, log.toSeq)

    val om = new ObjectMapper()
    val out = om.createObjectNode()
    out.put("correct", ctx.failed == 0)
    out.put("attempted", ctx.attempted)
    out.put("failed", ctx.failed)
    val m = out.putObject("metrics")
    (if (traced) layers else e2e).foreach { case (k, v, u) =>
      val o = m.putObject(k); o.put("value", v); o.put("unit", u) }
    ctx.spark.stop()
    println(om.writeValueAsString(out))
  }

  private def writeTrace(path: String, workload: String, seed: Long, ctx: Ctx,
      wallS: Double, e2e: Seq[(String, Double, String)],
      layers: Seq[(String, Double, String)], log: Seq[String]): Unit = {
    val t = ctx.tracer
    val om = new ObjectMapper()
    val root = om.createObjectNode()
    root.put("workload", workload)
    root.put("seed", seed)
    root.put("measured_s", wallS)
    def put(node: ObjectNode, xs: Seq[(String, Double, String)]): Unit =
      xs.foreach { case (k, v, _) => node.put(k, v) }
    put(root.putObject("e2e_traced"), e2e)
    put(root.putObject("per_layer"), layers)
    val lg = root.putArray("log")
    log.foreach(lg.add)
    val arr = root.putArray("spans")
    t.spans.foreach { s =>
      val o = arr.addObject()
      o.put("id", s.id); o.put("name", s.name); o.put("parent", s.parent)
      o.put("trace", s.trace); o.put("start_ms", s.startMs)
      o.put("end_ms", s.endMs); o.put("ms", s.ms); o.put("self_ms", t.selfMs(s))
      o.put("driver_ms", t.driverMs(s)); o.put("jobs", s.jobs)
      o.put("tasks", s.tasks); o.put("max_stage_tasks", s.maxStageTasks)
      o.put("executor_run_ms", s.runMs); o.put("executor_cpu_ms", s.cpuNs / 1e6)
      o.put("gc_ms", s.gcMs); o.put("shuffle_read_bytes", s.shuffleRead)
      o.put("shuffle_write_bytes", s.shuffleWrite); o.put("spill_bytes", s.spill)
      o.put("records_read", s.recordsRead); o.put("bytes_written", s.bytesWritten)
      s.attrs.foreach { case (k, v) => o.put(k, v) }
    }
    Files.createDirectories(Paths.get(path).getParent)
    om.writerWithDefaultPrettyPrinter().writeValue(Paths.get(path).toFile, root)
  }
}
