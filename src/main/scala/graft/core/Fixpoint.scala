package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** The round loop of the engine's distributed fixpoints (the
  * connected-components family: min-label propagation, star
  * contraction, frontier BFS). An operator supplies only the STEP — how
  * round k's frame is built from round k−1's — and this loop owns the
  * rest:
  *
  *  - lineage truncation: each round's frame is materialized once with
  *    truncated lineage ([[truncate]]), so a deep loop never stacks
  *    O(rounds) of Catalyst plan;
  *  - the round's convergence count and row count ride that one
  *    materializing job as `observe()` metrics (no separate count job);
  *  - per-round caches a step creates through `CacheScope.cached` are
  *    released when its round's frame is materialized;
  *  - a superseded round's checkpointed blocks are released at once
  *    ([[Checkpoints.release]]); the frames backing the result are
  *    registered with an enclosing [[CacheScope]] bracket instead;
  *  - a `maxRounds` guard that throws instead of looping forever;
  *  - every job of round k runs labelled `"<name> k"` (`Graft.labeled`;
  *    names read like `"clusters: round"`), and each round's (round,
  *    changed, rows) is logged and returned.
  */
object Fixpoint {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** One finished round: its number (the initial frame is round 0), the
    * count the step reported as changed, and the rows it materialized.
    */
  final case class Round(round: Int, changed: Long, rows: Long)

  /** The handle a step tags its frame with. `history` holds the frames
    * the loop keeps, oldest first: only the previous round's frame, or
    * every frame when the loop retains them.
    */
  final class Probe private[Fixpoint] (val round: Int,
      val history: Seq[DataFrame]) {
    private[Fixpoint] val obs = new Observation
    private[Fixpoint] var tagged = false

    /** `df` carrying this round's `changed` count (an aggregate over
      * `df`'s rows; by default its row count) and row count as metrics
      * of its materializing job.
      */
    def apply(df: DataFrame, changed: Column = count(lit(1))): DataFrame = {
      tagged = true
      df.observe(obs, changed.as("changed"), count(lit(1)).as("rows"))
    }
  }

  /** The converged frame, every frame kept (one, or all when retained),
    * and the per-round metrics.
    */
  final case class Result(frame: DataFrame, frames: Seq[DataFrame],
      rounds: Seq[Round])

  /** Iterate `step` from a lazy `init` the caller owns until a round
    * changes nothing: round 1 always runs (it materializes `init` inside
    * its own job), and each round is a local checkpoint that the next
    * one supersedes.
    */
  def run(name: String, init: DataFrame, maxRounds: Int)(
      step: (DataFrame, Probe) => DataFrame): Result =
    loop(name, init, None, maxRounds, reliable = false, retain = false,
      (r, _, _) => r.changed == 0L, step)

  /** A measured round 0: a frame the loop truncated itself, and how. */
  final case class Start(frame: DataFrame, round: Round, reliable: Boolean)

  /** Truncate and measure `build`'s frame as round 0 of loop `name`. */
  def start(name: String, reliable: Boolean = false)(
      build: Probe => DataFrame): Start = {
    val (frame, round) = measured(name, 0, Nil, reliable)(build)
    Start(frame, round, reliable)
  }

  /** Like [[run]], but from a [[start]]ed round 0 (truncating later
    * rounds the same way), which the loop then owns (releases when
    * superseded, or retains with every round), and stopping after the
    * first round — round 0 included — that `done` accepts. `done` sees
    * the round's metrics, the previous frame and the new one.
    */
  def runFrom(name: String, start: Start, maxRounds: Int,
      retain: Boolean = false,
      done: (Round, DataFrame, DataFrame) => Boolean = (r, _, _) =>
        r.changed == 0L)(step: (DataFrame, Probe) => DataFrame): Result =
    loop(name, start.frame, Some(start.round), maxRounds, start.reliable,
      retain, done, step)

  /** Eagerly materialize `df` with TRUNCATED lineage — nested
    * join/distinct/union layers would otherwise overflow Catalyst's
    * analysis recursion after 10–20 rounds. `localCheckpoint`
    * (executor-local, no configuration) by default; a reliable
    * `checkpoint` when `reliable` (requires
    * `sparkContext.setCheckpointDir` — the right choice on a large
    * cluster, where losing an executor must not strand many rounds of
    * iteration history). Reliable rounds persist the frame before the
    * checkpoint write (the write runs as its own job and would otherwise
    * recompute the whole round) and release the cache after. CAVEAT:
    * each reliable round leaves one checkpoint directory on the
    * checkpoint filesystem for the lifetime of the run — enable
    * `spark.cleaner.referenceTracking.cleanCheckpoints` (or clean the
    * checkpoint dir between runs) so a long loop does not accumulate
    * O(rounds) retired files.
    */
  def truncate(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) {
      val p = df.persist()
      try p.checkpoint()
      finally p.unpersist(blocking = false)
    } else df.localCheckpoint()

  /** Build, truncate and measure round `k`; caches the builder
    * registers are released once the frame is materialized.
    */
  private def measured(name: String, k: Int, history: Seq[DataFrame],
      reliable: Boolean)(build: Probe => DataFrame): (DataFrame, Round) = {
    val probe = new Probe(k, history)
    val frame = CacheScope.scoped {
      val df = build(probe)
      require(probe.tagged, s"$name: round $k did not tag its frame")
      Graft.labeled(df.sparkSession, s"$name $k")(truncate(df, reliable))
    }
    val m = probe.obs.getAsJava
    val r = Round(k, m.get("changed").asInstanceOf[Long],
      m.get("rows").asInstanceOf[Long])
    log.info(s"$name $k: changed=${r.changed} rows=${r.rows}")
    (frame, r)
  }

  private def loop(name: String, init: DataFrame, round0: Option[Round],
      maxRounds: Int, reliable: Boolean, retain: Boolean,
      done: (Round, DataFrame, DataFrame) => Boolean,
      step: (DataFrame, Probe) => DataFrame): Result = {
    // every frame so far, oldest first; the loop owns all but a lazy init
    var frames = Seq(init)
    def owned(f: DataFrame) = round0.isDefined || (f ne init)
    val rounds = Seq.newBuilder[Round] ++= round0
    var finished = round0.exists(done(_, init, init))
    var k = 0
    while (!finished) {
      k += 1
      if (k > maxRounds) {
        frames.filter(owned).foreach(Checkpoints.release)
        throw new IllegalStateException(
          s"did not converge by $name $maxRounds")
      }
      val prev = frames.last
      val (next, r) = measured(name, k,
        if (retain) frames else Seq(prev), reliable)(step(prev, _))
      finished = Graft.labeled(next.sparkSession, s"$name $k")(
        done(r, prev, next))
      rounds += r
      if (!retain && owned(prev)) Checkpoints.release(prev)
      frames = if (retain) frames :+ next else Seq(next)
    }
    // the kept frames back the result: released by an enclosing
    // CacheScope bracket at exit, else reclaimed by the context cleaner
    // once the result is dereferenced
    frames.filter(owned)
      .foreach(f => CacheScope.onRelease(() => Checkpoints.release(f)))
    Result(frames.last, frames, rounds.result())
  }
}
