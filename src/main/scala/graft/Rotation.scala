package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge,
  Observation, Row}

/**
 * A loop-carried frame slot: the one materialization rule every
 * checkpoint-rotated bounded-round operator shares.
 *
 * Each round's frame is re-exposed behind an opaque `LogicalRDD` scan
 * via an EAGER `localCheckpoint`, so the next round's plan bottoms out
 * there: a frame a round references more than once no longer grows the
 * analyzed plan geometrically across rounds (the `GraphAnalytics.hits`
 * lesson: five persist-rotated rounds OOMed an 8g driver in plan
 * stringification), and releasing a round's
 * persisted scaffolding has no cached plan left to recompile.
 *
 * `localCheckpoint` FREEZES the origin plan's estimated statistics
 * into the leaf; size-only estimation multiplies child sizes across
 * joins, so rotated leaves compound the products exponentially in
 * rounds. Every rotation therefore caps them at Long.MaxValue
 * ([[org.apache.spark.sql.GraftExpressionBridge.checkpointLeaf]]).
 *
 * The checkpoint's blocks belong to the RDD inside that leaf, which
 * `Dataset.unpersist` cannot reach. The slot takes the RDD from the
 * analyzed leaf itself and unpersists the SUPERSEDED one once the new
 * frame is materialized (nothing reads it any more), so a slot pins
 * exactly one checkpoint at any time, also while other threads
 * checkpoint concurrently (`Par.two`). [[release]] frees the last one;
 * a slot whose frame the caller returns is left to the harness's
 * `CacheScope.drain`, which runs after the result is consumed.
 *
 * Contract: a checkpointed frame is NOT recomputable once its blocks
 * are released, and localCheckpoint blocks do not survive executor
 * loss; a fault-tolerant cluster run would swap in
 * `checkpoint(eager = true)` with a checkpoint dir here.
 */
final class Rotation(keyed: Boolean = false) {
  private var held: Option[RDD[_]] = None

  /** Checkpoint `df` eagerly (armed inside a law window,
    * [[Rounds.gate]]), cap its frozen stats, release this slot's
    * previous blocks; the checkpointed frame, bound to `df`'s session. */
  def apply(df: DataFrame): DataFrame = keep(df, StaticPlan.armed(df))

  /** [[apply]] to `out(df)`, plus the row of `metrics` over `df`: the
    * metrics ride the checkpoint's own job (no extra job) and are
    * awaited without a cap. `out` drops what only the metrics read.
    * The observation attaches AFTER the armed rebind, so it completes
    * in the session the checkpoint runs in. */
  def observe(df: DataFrame, metrics: Seq[Column],
      out: DataFrame => DataFrame = identity): (DataFrame, Row) = {
    val obs = Observation()
    val run = StaticPlan.armed(df).observe(obs, metrics.head, metrics.tail: _*)
    (keep(df, out(run)), scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration.Inf))
  }

  /** Checkpoint `run` (the caller's `df`, possibly rebound) and bind
    * the result back to `df`'s session. A `keyed` slot's leaf keeps an
    * adaptive `run`'s hash partitioning, for a co-partitioned join next
    * round; not by default, since a cache over one reference to such a
    * leaf misses the plan's other references (kCore recomputed one). */
  private def keep(df: DataFrame, run: DataFrame): DataFrame = {
    val next = GraftExpressionBridge.checkpointLeaf(GraftExpressionBridge
      .rebind(df.sparkSession, run.localCheckpoint(true)),
      Option.when(keyed)(run))
    release()
    held = Some(GraftExpressionBridge.checkpointRdd(next))
    next
  }

  /** Free this slot's blocks; its last frame is unreadable after. */
  def release(): Unit = {
    held.foreach(GraftExpressionBridge.dropBlocks)
    held = None
  }
}
