package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Session + table helpers for the graft engine.
  *
  * The engine is DataFrame-first: schemas are read-derived from Parquet
  * footers exactly as the reference derives Avro schemas from footers
  * (reference: ParquetArangoLoader.java:139), so the dynamic `DataFrame`
  * model — not `Dataset[T]` — is the core abstraction.
  */
object Graft {

  /** Opinionated session for local[32] testing; on a real cluster the same
    * configs apply (AQE, skew-join handling) with shuffle partitions sized
    * by the cluster manager instead.
    *
    * Compile once per program: the session sizes Spark's generated-class
    * cache to [[CodegenCacheEntries]] (Spark's default is 100) so that a
    * program running the same plans again — the curate loop, the bench
    * passes, streaming micro-batches — compiles each class once and
    * keeps its JIT state. Measured working sets (4-core host,
    * `CodegenMetrics`): one curate pass (exact → quality → MinHash →
    * clusters → representatives → packing → shards, 5,000 documents)
    * plans 100–103 classes, and at the default size every warm pass
    * compiled 61 of them again (0.7–0.9 s of Janino per pass); the
    * 181-query suite at sf0.01 compiles 1,319 classes in its first pass
    * and 90–100 per later pass (classes whose source differs run to
    * run). The cache is JVM-wide and takes its size when the JVM first
    * compiles, so a program must build its session here before any
    * other Spark work.
    */
  def session(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_MASTER overrides for a real cluster (yarn, k8s, ...);
    // shuffle partitions then come from cluster config, not `cpus` —
    // only a local master pins them to the core count
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .withExtensions(graft.expressions.GraftFunctions.register)
    (if (master.startsWith("local"))
       builder.config("spark.sql.shuffle.partitions", cpus)
     else builder)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // typed/imperative aggregates (collect_list prefix assembly, the
      // bounded top-k aggregators) run in ObjectHashAggregate, which
      // falls back to SORT-BASED aggregation after this many distinct
      // keys per task — the stock 128 reintroduces exactly the per-key
      // sort those operators exist to avoid. 4096 keeps the hash path
      // for realistic per-task group counts while bounding buffered
      // state (each entry here is one doc's prefix list / one bounded
      // top-k buffer — KBs, so ≲ tens of MB per task before fallback).
      .config(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      // engine-level recursion budget for recursive CTEs (q40/q41
      // shapes): the default limit of 100 caps q40's yearly spine at a
      // century. Set ONCE at session construction — a query constructor
      // must never mutate shared session conf as a side effect (a
      // multi-tenant footgun: the raise would silently outlive the
      // query and weaken the runaway-recursion guard for everyone).
      // Recursion depth is a DESIGNED dimension here: every recursive
      // query in the engine recurses over spine/hierarchy rows (years,
      // tree depth), never facts, so a deep recursion is legitimate
      // (multi-millennium spine), not a runaway.
      .config("spark.sql.cteRecursionLevelLimit", "100000")
      // Parquet TIMESTAMP(NANOS) (the events table) is not a native Spark
      // type; read as long and convert in [[table]].
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      .getOrCreate()
  }

  /** Size of Spark's generated-class cache, set by [[session]]: above
    * the suite's whole three-pass working set (~1,600 classes), which
    * bounds every workload measured so far.
    */
  val CodegenCacheEntries: Int = 4096

  /** JVM-wide generated-class compiles so far and their Janino time in
    * ms (`CodegenMetrics`' compile count, `CodeGenerator.compileTime`);
    * the delta around a region is what that region compiled. Call it
    * only after [[session]]: touching the code generator first sizes
    * its cache.
    */
  def codegenTotals: (Long, Double) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        .compileTime / 1e6)

  /** Read one of the driver test tables: `$dir/$name.parquet`.
    *
    * Nanosecond-timestamp columns (read as long via
    * `spark.sql.legacy.parquet.nanosAsLong`) are truncated to microsecond
    * TimestampType — the same truncation DuckDB applies when reading the
    * same file, so oracle comparisons line up. `div` keeps the arithmetic
    * in exact integer space (a double division would lose precision above
    * 2^53 ns ≈ 1970+104 days).
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** Run `body` with a Spark job description (guide: label your jobs),
    * restoring the caller's label after — operators label their
    * internal phases (index-build writes, Lloyd iterations) so per-job
    * profiling and the UI attribute time to the right phase without
    * clobbering an enclosing label.
    */
  def labeled[A](spark: SparkSession, desc: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body
    finally sc.setJobDescription(prev)
  }
}
