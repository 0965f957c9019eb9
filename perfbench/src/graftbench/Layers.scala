package graftbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, from the spans of the measured
  * section (the traced-only probes are excluded) and the counters the
  * phases kept.
  */
object Layers {
  val Stages = Seq("exact", "quality", "minhash", "clusters", "reps", "pack")

  def metrics(ctx: Ctx, counters: collection.Map[String, Double],
      wallS: Double, windowEndNs: Long, cpuS: Double, stealS: Double,
      loadavg: Double): Seq[(String, Double, String)] = {
    val t = ctx.tracer
    val probe = t.roots.filter(_.name.startsWith("probe."))
      .flatMap(t.subtree).map(_.id).toSet
    val sp = t.spans.filterNot(s => probe(s.id)).toSeq
    val roots = sp.filter(_.parent < 0)
    def named(n: String) = sp.filter(_.name == n)
    def ms(xs: Seq[Span]) = xs.map(_.ms).sum
    def c(k: String) = counters.getOrElse(k, 0.0)
    val rootMs = ms(roots)
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def add(k: String, v: Double, u: String): Unit = out += ((k, v, u))

    // core: listing, recovery and view construction; collection DDL
    add("core.read_ms", ms(named("core.createView")), "ms")
    add("core.files", c("core.files_sum") / math.max(1.0, c("core.files_n")), "count")
    add("core.create_drop_ms", ms(named("core.drop")), "ms")

    // io: the loader and the trainer-shard writer
    val loads = named("io.load")
    add("io.load_ms", ms(loads), "ms")
    add("io.load_jobs", loads.map(_.jobs).sum.toDouble, "count")
    add("io.files_written", c("io.files_written"), "count")
    add("io.bytes_written", loads.map(_.bytesWritten).sum.toDouble, "bytes")
    add("io.shards_write_ms", ms(named("io.shards_write")), "ms")
    add("io.shard_tokens", c("io.shard_tokens"), "count")

    // serde: measured by the traced-only probe
    add("serde.encode_ms", c("serde.encode_ms"), "ms")
    add("serde.json_bytes_per_row", c("serde.json_bytes_per_row"), "bytes")

    // sources: the graft-docs sink and scan
    val saves = named("sources.save")
    add("sources.save_ms", ms(saves), "ms")
    add("sources.commit_ms", saves.map { s =>
      val ends = t.subtree(s).flatMap(_.jobSpans.map(_._2))
      (s.endMs - (if (ends.isEmpty) s.startMs else ends.max)).toDouble
    }.sum, "ms")
    add("sources.files_published", c("sources.files_published"), "count")
    add("sources.scan_ms", ms(named("sources.scan")), "ms")

    // sql: every query run through the session
    val sqls = sp.filter(_.name.startsWith("sql."))
    val planMs = sqls.map(_.attrs.getOrElse("plan_ms", 0.0)).sum
    add("sql.plan_ms", planMs, "ms")
    add("sql.exec_ms", ms(sqls) - planMs, "ms")
    add("sql.scan_tasks", sqls.map(_.tasks).sum.toDouble, "count")
    add("sql.rows_scanned", sqls.map(_.recordsRead).sum.toDouble, "rows")

    // operators: one span per curation stage, construction included
    Stages.foreach { st =>
      val xs = named(s"operators.$st")
      val rows = xs.flatMap(_.attrs.get("rows_out"))
      add(s"operators.$st.ms", ms(xs), "ms")
      add(s"operators.$st.rows_out",
        if (rows.isEmpty) 0.0 else rows.sum / rows.size, "rows")
      add(s"operators.$st.jobs", xs.flatMap(t.subtree).map(_.jobs).sum.toDouble, "count")
      add(s"operators.$st.shuffle_bytes",
        xs.flatMap(t.subtree).map(_.shuffleWrite).sum.toDouble, "bytes")
    }
    add("operators.minhash.verify_yield", c("operators.minhash.verify_yield"), "ratio")

    // the Spark runtime under every span of the measured section
    val runMs = sp.map(_.runMs).sum.toDouble
    add("spark.jobs", sp.map(_.jobs).sum.toDouble, "count")
    add("spark.tasks", sp.map(_.tasks).sum.toDouble, "count")
    add("spark.max_task_parallelism",
      (0 +: sp.map(_.maxStageTasks)).max.toDouble, "count")
    add("spark.executor_run_ms", runMs, "ms")
    add("spark.executor_cpu_ms", sp.map(_.cpuNs).sum / 1e6, "ms")
    add("spark.gc_ms", sp.map(_.gcMs).sum.toDouble, "ms")
    add("spark.shuffle_read_bytes", sp.map(_.shuffleRead).sum.toDouble, "bytes")
    add("spark.shuffle_write_bytes", sp.map(_.shuffleWrite).sum.toDouble, "bytes")
    add("spark.spill_bytes", sp.map(_.spill).sum.toDouble, "bytes")
    add("spark.driver_ms", roots.map(t.driverMs).sum, "ms")
    add("spark.slot_idle_frac",
      1.0 - runMs / math.max(1.0, rootMs * ctx.cpus), "ratio")

    add("jvm.process_cpu_s", cpuS, "s")
    add("jvm.effective_cores", cpuS / wallS, "cores")
    add("host.loadavg_1m", loadavg, "load")
    add("host.steal_s", stealS, "s")
    // share of the measured wall time not inside any span
    val probeMs = ms(t.roots.filter(r => r.name.startsWith("probe.") &&
      r.endNs <= windowEndNs))
    add("trace.residual_frac", 1.0 - rootMs / (wallS * 1e3 - probeMs), "ratio")
    out.toSeq
  }
}
