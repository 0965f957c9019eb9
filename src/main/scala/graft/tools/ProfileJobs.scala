package graft.tools

import scala.collection.mutable

/** Dev tool: per-JOB time attribution for a single SparkEntry query —
  * registers a SparkListener, runs the query once (plus an optional
  * untimed warmup pass), and prints every Spark job with its wall
  * duration, stage count, task count, and the callsite description.
  * This substitutes for the (disabled) UI when deciding which of a
  * query's jobs actually cost — the optimization guide's "measure
  * first" step at job granularity.
  * `runMain graft.tools.ProfileJobs <sfDir> <warmup 0|1> <queryName> [...]`
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val warmup = args(1) == "1"
    val names = args.drop(2)
    val spark = graft.core.Graft.session("graft-profile-jobs")
    spark.sparkContext.setLogLevel("WARN")

    final case class Job(id: Int, desc: String, start: Long,
      var end: Long, var nTasks: Int, var nStages: Int)
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.synchronized {
          jobs(e.jobId) = Job(e.jobId, desc, e.time, -1L, 0,
            e.stageInfos.size)
        }
      }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = ()
    }

    for (n <- names) {
      if (warmup) {
        try graft.SparkEntry.queries(n)(spark, dir).count()
        catch { case _: Throwable => () }
        spark.catalog.clearCache()
      }
      jobs.synchronized(jobs.clear())
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val cnt = graft.SparkEntry.queries(n)(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // every job's end event is delivered before the listener goes
      org.apache.spark.graft.GraftSparkHooks
        .drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      println(f"JOBS $n: total $wall%.2f s, rows $cnt, " +
        s"${jobs.size} jobs")
      val snap = jobs.synchronized(jobs.values.toVector)
      val totalJobMs = snap.map(j => (j.end - j.start).max(0L)).sum
      for (j <- snap) {
        val ms = (j.end - j.start).max(0L)
        println(f"  job ${j.id}%3d ${ms / 1e3}%7.2f s  " +
          f"stages=${j.nStages}%2d  ${j.desc.take(110)}")
      }
      println(f"  (sum of job walls ${totalJobMs / 1e3}%.2f s; " +
        "gaps to total = driver-side planning/collect)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
