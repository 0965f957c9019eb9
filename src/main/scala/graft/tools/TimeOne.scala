package graft.tools

/** Dev tool: time a single SparkEntry query N times at a given sf dir.
  * `runMain graft.tools.TimeOne <sfDir> <queryName> [passes]`
  * Each pass prints its wall time and the generated classes it
  * compiled: a warm pass should compile none.
  *
  * Uses [[graft.core.Graft.session]] — the same builder as Bench and
  * Verify — so nanos-timestamp reads (the events table), the UTC
  * session timezone, and the registered SQL kernels all behave
  * identically to the runs this tool exists to reproduce.
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val passes = if (args.length > 2) args(2).toInt else 3
    val spark = graft.core.Graft.session("graft-time-one")
    spark.sparkContext.setLogLevel("WARN")
    val q = graft.SparkEntry.queries(name)
    for (p <- 0 until passes) {
      val compiles0 = graft.core.Graft.codegenTotals._1
      val t0 = System.nanoTime()
      val n = q(spark, dir).collect().length
      val sec = (System.nanoTime() - t0) / 1e9
      val compiles = graft.core.Graft.codegenTotals._1 - compiles0
      println(f"pass $p: $sec%.2f s ($n rows, $compiles compiles)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
