package graft.core

import org.apache.spark.sql.DataFrame

/** Deterministic release of `localCheckpoint()` block storage.
  *
  * The iterative loops (Bpe / WordPiece distributed merge loops, the
  * ConnectedComponents fixpoints) re-checkpoint their working frame
  * every round and drop the old reference; the superseded blocks are
  * reclaimed only when the driver GC collects the old Dataset and the
  * ContextCleaner notices — so a 30k-merge run can transiently hold
  * many histogram generations in the block manager. This helper unpersists the checkpointed RDD
  * BEHIND a superseded frame explicitly (non-blocking), bounding the
  * footprint to the current generation plus the one being built.
  *
  * A `localCheckpoint()`ed Dataset's plan is a single `LogicalRDD`
  * leaf wrapping the persisted internal RDD — that RDD is the thing
  * to unpersist (`Dataset.unpersist()` only touches cache-manager
  * entries, which checkpoints never create). Call ONLY on frames this
  * code created via `localCheckpoint()` and no longer references; a
  * non-checkpoint plan is left untouched.
  */
object Checkpoints {

  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
