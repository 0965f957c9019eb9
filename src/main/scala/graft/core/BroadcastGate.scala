package graft.core

import scala.util.DynamicVariable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.broadcast

/** The engine's one broadcast-vs-shuffle policy for a join side whose
  * size is only known at run time: broadcast it only when its MEASURED
  * size fits [[MaxBytes]]; above the bound it runs shuffled, which AQE
  * remains free to re-plan. A byte gate, not a row gate: verify joins
  * carry shingle arrays and embeddings, so a million narrow rows and a
  * thousand wide ones are not the same thing, and an unconditional
  * broadcast of a corpus-sized side (a web crawl's distinct words or
  * registered domains) is a driver OOM.
  *
  * Contract:
  *  - a frame side is a CACHED frame, measured by [[fits]] / [[hint]]:
  *    the cache is materialized (one job that only builds its buffers)
  *    only when its buffers are not loaded yet, then its in-memory size
  *    is read — a cache a prior action already loaded costs no job;
  *  - a side whose row count the caller already observed is measured
  *    as rows × bytes per row by [[rowsFit]], with no job;
  *  - every decision is logged once at INFO: site, measurement, gate
  *    and the branch taken;
  *  - the bound moves only through [[forced]], which specs use to pick
  *    a branch; no option, config key or parameter moves it.
  */
object BroadcastGate {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The gate, sized well under typical driver and executor memory. */
  val MaxBytes: Long = 128L << 20

  /** Replaces [[MaxBytes]] for every gate decision in its dynamic scope:
    * `Some(0)` forces every shuffle branch, `Some(Long.MaxValue)` every
    * broadcast one.
    */
  private[graft] val forced = new DynamicVariable[Option[Long]](None)

  private def maxBytes: Long = forced.value.getOrElse(MaxBytes)

  /** Plan-estimated size in bytes: for a cached-and-materialized plan
    * the measured in-memory size, otherwise the optimizer's estimate.
    */
  private[graft] def estimatedBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Whether the cached frame `df`'s measured size fits the gate. Each
    * cache in its plan whose buffers are not loaded is built by one
    * action over the cached batches: a `count()` would add its own
    * aggregation stages on top.
    */
  def fits(site: String, df: DataFrame): Boolean = {
    df.queryExecution.optimizedPlan.collect {
      case r: InMemoryRelation => r.cacheBuilder
    }.filterNot(_.isCachedColumnBuffersLoaded)
      .foreach(_.cachedColumnBuffers.count())
    val bytes = estimatedBytes(df)
    decide(site, s"$bytes B measured", bytes <= maxBytes)
  }

  /** A broadcast hint if the cached frame `df` [[fits]], else identity;
    * callers apply it to `df` or its projections.
    */
  def hint(site: String, df: DataFrame): DataFrame => DataFrame =
    if (fits(site, df)) broadcast(_) else identity

  /** Whether `rows` rows of `bytesPerRow` bytes each fit the gate. */
  def rowsFit(site: String, rows: Long, bytesPerRow: Long): Boolean =
    decide(site, s"$rows rows x $bytesPerRow B",
      BigInt(rows) * bytesPerRow <= maxBytes)

  /** The most rows of `bytesPerRow` bytes each that fit the gate. */
  def maxRows(bytesPerRow: Long): Long = maxBytes / bytesPerRow

  /** Mean bytes per row of the materialized cache `df`: its measured
    * size over its row count (from the loaded cache's statistics, else
    * one count); `Long.MaxValue` when it is empty.
    */
  def rowBytes(df: DataFrame): Long = {
    val rows = df.queryExecution.optimizedPlan.stats.rowCount
      .map(_.toLong).getOrElse(df.count())
    if (rows > 0) (estimatedBytes(df) / rows).toLong else Long.MaxValue
  }

  private def decide(site: String, measured: String, fit: Boolean)
      : Boolean = {
    log.info(s"broadcast gate $site: $measured vs $maxBytes B -> " +
      (if (fit) "broadcast" else "shuffle"))
    fit
  }
}
