package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** A managed Parquet-backed document collection — the engine-native
  * replacement for the reference's ArangoDB collection
  * (create-if-absent and append semantics, reference
  * ParquetArangoLoader.java:129-135; count as the test oracle,
  * ParquetArangoLoaderTest.java:114). Overwrite departs from the
  * reference's drop+recreate on purpose: the new rows are staged
  * beside the collection and swapped in through [[Publish]], so a
  * failed or crashed overwrite leaves the previous rows.
  *
  * A collection is a directory of Parquet files under a database base
  * path. All filesystem access goes through the Hadoop FileSystem API,
  * so the same code addresses local disk, HDFS, or an object store; at
  * 100 TB a collection is just a partitioned Parquet layout and every
  * read benefits from vectorization, pushdown, and partition pruning.
  */
final class Collection private[core] (
    val spark: SparkSession,
    val name: String,
    val path: String) {

  private def fs = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(): Boolean = fs.exists(new Path(path))

  /** Create the (empty) collection directory if absent. Runs crash
    * recovery first: creating a fresh directory on top of a stranded
    * swap would make the retired data look like cleanup-able garbage.
    */
  def create(): Unit = { recover(); fs.mkdirs(new Path(path)); () }

  /** Drop the collection and all its data (including any stranded
    * swap siblings — recovery first makes the delete total).
    */
  def drop(): Unit = {
    recover(); fs.delete(new Path(path), true); ()
  }

  private def hasData: Boolean = {
    recover()
    exists() &&
    fs.listStatus(new Path(path)).exists { f =>
      val n = f.getPath.getName
      // data files at the root, or partition subdirectories (k=v)
      n.endsWith(".parquet") || (f.isDirectory && !n.startsWith("_") &&
        !n.startsWith("."))
    }
  }

  /** Run before every data access: a stranded overwrite or [[compact]]
    * swap must never read as an empty collection.
    */
  private def recover(): Unit =
    Publish.recover(spark.sparkContext.hadoopConfiguration, new Path(path))

  /** Partition key columns of the collection's Hive-style layout, in
    * directory-nesting order — empty for flat collections. Discovered
    * by walking the first `k=v` directory chain (every chain of a
    * Spark-written partitioned layout carries the same keys in the
    * same order).
    */
  private def partitionKeys: Seq[String] = {
    val keys = Seq.newBuilder[String]
    var dir = new Path(path)
    var continue = fs.exists(dir)
    while (continue) {
      fs.listStatus(dir).find(f => f.isDirectory &&
          f.getPath.getName.matches("[^=]+=.*")) match {
        case Some(d) =>
          keys += d.getPath.getName.takeWhile(_ != '=')
          dir = d.getPath
        case None => continue = false
      }
    }
    keys.result()
  }

  /** Read the collection as a DataFrame (schema from Parquet footers,
    * exactly as the reference derives Avro schemas from footers).
    * An existing-but-empty collection reads as an empty 0-column frame.
    */
  def read(): DataFrame =
    if (hasData) spark.read.parquet(path)
    else spark.emptyDataFrame

  /** The one definition of the range-cluster layout, shared by write()
    * and compact() so the two paths can never silently diverge.
    */
  private def rangeClustered(df: DataFrame, cols: Seq[String],
      numFiles: Option[Int]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cs = cols.map(col)
    val rp = numFiles match {
      case Some(n) => df.repartitionByRange(n, cs: _*)
      case None => df.repartitionByRange(cs: _*)
    }
    rp.sortWithinPartitions(cs: _*)
  }

  /** Schema-drift guard for [[write]]'s Append mode: appending a frame
    * with renamed/retyped columns would land mixed-schema parquet files
    * under one collection — later reads resolve ONE footer and silently
    * drop (or fail on) the drifted files' columns, poisoning the
    * collection for every reader. Compare by (name → type), ignoring
    * nullability and column order (parquet resolves columns by name, so
    * those differences are harmless); fail loudly naming the drifted
    * columns. Cost: one footer-schema read per Append (the loader
    * appends once per LOAD, not per batch — [[graft.io.ParquetLoader.load]]).
    */
  private def checkAppendSchema(df: DataFrame): Unit = {
    val stored = spark.read.parquet(path).schema
    def types(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val sm = types(stored)
    val im = types(df.schema)
    if (sm == im) return
    val missing = (sm.keySet -- im.keySet).toSeq.sorted
    val extra = (im.keySet -- sm.keySet).toSeq.sorted
    val retyped = (sm.keySet & im.keySet).toSeq.sorted
      .filter(k => sm(k) != im(k))
      .map(k => s"$k: stored ${sm(k)} vs incoming ${im(k)}")
    throw new IllegalArgumentException(
      s"schema drift on append to collection '$name' ($path):" +
        (if (missing.nonEmpty)
          s" missing columns [${missing.mkString(", ")}]" else "") +
        (if (extra.nonEmpty)
          s" new columns [${extra.mkString(", ")}]" else "") +
        (if (retyped.nonEmpty)
          s" retyped columns [${retyped.mkString("; ")}]" else "") +
        " — align the frame to the stored schema, or pass " +
        "allowSchemaDrift = true to append anyway (readers then need " +
        "mergeSchema to see the union)")
  }

  /** Append or overwrite rows. `partitionBy` lays the collection out as
    * a Hive-style partitioned directory tree — at scale the primary
    * lever for partition pruning on reads (only matching subdirectories
    * are scanned when a filter hits a partition column). `clusterBy`
    * RANGE-CLUSTERS the data instead: rows are range-partitioned and
    * sorted within partitions on the given columns before writing, so
    * each parquet file (and each row group inside it) covers a narrow,
    * near-disjoint min/max range — the layout that lets parquet
    * predicate pushdown skip whole files/row groups on range filters
    * (the second pruning lever at 100 TB, for high-cardinality columns
    * where Hive partitioning would explode the directory count).
    * Complementary: partitionBy for low-cardinality dimensions,
    * clusterBy for ranges within them.
    *
    * Overwrite stages the rows beside the collection and swaps them in
    * through [[Publish]]: a failed job leaves the previous rows, a crash
    * leaves the old or the new rows for the next access's recovery,
    * and `df` may read the collection it replaces. Append publishes
    * file by file through Spark's output committer, so a crash
    * mid-commit can leave a prefix of the append visible; there is no
    * manifest, by decision.
    */
  def write(df: DataFrame, mode: SaveMode,
      maxRecordsPerFile: Long = 0L,
      partitionBy: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil,
      zOrderBy: Seq[String] = Nil,
      zOrderBits: Int = 10,
      allowSchemaDrift: Boolean = false): Unit = {
    require(clusterBy.isEmpty || zOrderBy.isEmpty,
      "clusterBy and zOrderBy are alternative layouts — pass one")
    recover() // never write beside a stranded swap
    if (mode == SaveMode.Append && !allowSchemaDrift && hasData)
      checkAppendSchema(df)
    val src =
      if (zOrderBy.nonEmpty)
        // multi-dimension clustering: rank-bucketed Morton order, so
        // footer min/max stays tight on EVERY zOrderBy column and a
        // filter on any of them prunes files (Layout.fileSpans is the
        // audit). clusterBy remains the 1-D range layout.
        graft.operators.Layout.zClustered(df, zOrderBy, zOrderBits)
      else if (clusterBy.isEmpty) df
      else rangeClustered(df, clusterBy, None)
    val w = src.write.option("maxRecordsPerFile", maxRecordsPerFile)
    val laid = if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w
    if (mode != SaveMode.Overwrite) laid.mode(mode).parquet(path)
    else {
      // the one overwrite (compact's too): fill a fresh staging sibling,
      // then swap it in; a failed job or swap drops the staging copy
      val staged = Publish.staging(new Path(path))
      try {
        laid.parquet(staged.toString)
        Publish.swap(spark.sparkContext.hadoopConfiguration, staged,
          new Path(path))
      } catch {
        // a copy this delete misses is dropped by the next recovery
        case e: Throwable => scala.util.Try(fs.delete(staged, true)); throw e
      }
    }
  }

  /** Document count — the reference test suite's only oracle. Reads
    * the parquet directly after the hasData probe (which already ran
    * crash recovery) instead of through read(), so each count pays ONE
    * recovery scan, not two — on an object store every recovery probe
    * is a LIST round trip.
    */
  def count(): Long =
    if (hasData) spark.read.parquet(path).count() else 0L

  /** Rewrite the collection into ≈`targetRecordsPerFile`-row files —
    * the small-files maintenance pass every append-fed collection
    * eventually needs (each append adds a file per write task, so many
    * small appends leave many tiny files; footer-open cost then
    * dominates every scan). The compacted copy is staged and swapped
    * in by [[Publish]], so a crash leaves the old or the new data, never
    * a mix. Like any destructive maintenance op this assumes no
    * concurrent writer (or concurrent compact), and in-flight readers
    * of the old directory should be drained first.
    *
    * A Hive-partitioned collection keeps its partition layout: the
    * partition keys are rediscovered from the directory tree and
    * re-applied on the staging write (rows co-located per key by a
    * hash repartition, so each partition value lands in few files);
    * `clusterBy` then sorts within the written files. Flat collections
    * with `clusterBy` get the full range-cluster layout (see
    * [[write]]) — the natural point to impose or repair it, since
    * compaction rewrites everything anyway.
    *
    * Returns (filesBefore, filesAfter) — counted recursively, so
    * partitioned layouts report real file counts.
    */
  def compact(targetRecordsPerFile: Long = 1 << 20,
      clusterBy: Seq[String] = Nil): (Int, Int) = {
    require(targetRecordsPerFile > 0, "targetRecordsPerFile must be > 0")
    recover()
    def dataFiles(p: Path): Int = {
      if (!fs.exists(p)) return 0
      var n = 0
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
    val before = dataFiles(new Path(path))
    if (!hasData) return (before, before)
    val parts = partitionKeys
    val df = read()
    val n = df.count()
    val files = math.max(1L,
      (n + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
    import org.apache.spark.sql.functions.col
    val laid =
      if (parts.nonEmpty) {
        val co = df.repartition(files, parts.map(col): _*)
        if (clusterBy.nonEmpty)
          co.sortWithinPartitions((parts ++ clusterBy).map(col): _*)
        else co
      }
      else if (clusterBy.isEmpty) df.repartition(files)
      else rangeClustered(df, clusterBy, Some(files))
    write(laid, SaveMode.Overwrite, partitionBy = parts)
    (before, dataFiles(new Path(path)))
  }

  /** Register the collection as a temp view so the full Spark SQL
    * surface queries it by name — the post-load query layer the
    * reference delegated to its database (SURVEY §2.2).
    */
  def createView(viewName: String = name): Unit =
    read().createOrReplaceTempView(viewName)
}

/** A "database" of collections rooted at a base path. */
final class CollectionManager(spark: SparkSession, baseDir: String) {
  def collection(name: String): Collection = {
    require(name.nonEmpty && !name.contains("/") && !name.contains(".."),
      s"invalid collection name: $name")
    new Collection(spark, name, s"$baseDir/$name")
  }
}
