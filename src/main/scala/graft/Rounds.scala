package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The loop driver every law-windowed bounded-round operator runs
 * through (Pregelix's shape: one iterative runtime, the operator
 * supplies only the superstep). A `Rounds` owns what each loop used to
 * hand-roll:
 *
 *  - the small-input law window ([[gate]]), armed on a row count the
 *    operator already pays for: its own count, or the observed row of
 *    its first rotation (which therefore runs unarmed);
 *  - the operator's [[Rotation]] slots ([[slot]]), released on every
 *    exit path, throws included; a slot whose frame is part of the
 *    result stays pinned after a normal return, for the harness's
 *    `CacheScope.drain` (or the caller) to release;
 *  - the round counter and its bound, the stop after the first round
 *    whose change count is 0, and the `(round, changed)` trace
 *    ([[loop]], [[track]], [[times]]);
 *  - the thread's short call site: `<name>` while the operator sets
 *    up, `<name> round <n>` inside round n (a nested loop appends its
 *    own `<unit> <n>`), restored on exit. Broadcast builds clone the
 *    caller thread's properties, so their jobs carry the label too.
 *
 * The operator keeps its superstep and its own convergence policy (a
 * throw on an exhausted budget, or a flag read off the trace). A
 * `Rounds` adds no Spark job: the window, the labels and the release
 * are driver-side state.
 */
final class Rounds private (name: String, spark: SparkSession) {
  private val slots = collection.mutable.ArrayBuffer.empty[(Rotation, Boolean)]
  private var label = name

  /** A [[Rotation]] slot released when the operator exits; with
    * `kept`, only when it throws (its frame is part of the result). */
  def slot(kept: Boolean = false): Rotation = {
    val rot = new Rotation
    slots += ((rot, kept))
    rot
  }

  /** Arm the small-input law for `rows` measured rows until the
    * enclosing round (or, outside a round, the operator) exits; its
    * dials merge over an outer window's. The broadcast-hint function
    * for the operator's measured-small join sides. */
  def gate(rows: Long): DataFrame => DataFrame = StaticPlan.arm(spark, rows)

  /** Rounds 1..`maxRounds` of `step` (given the round number),
    * stopping after the first round whose change count is 0; the
    * (round, changed) trace of the rounds run. */
  def loop(maxRounds: Long, unit: String = "round")
      (step: Int => Long): Seq[(Long, Long)] =
    track(maxRounds, unit)(step)(identity)

  /** [[loop]] for a step that returns more than its change count:
    * `changed` reads the count off each round's result; the (round,
    * result) trace. */
  def track[A](maxRounds: Long, unit: String = "round")
      (step: Int => A)(changed: A => Long): Seq[(Long, A)] = {
    val outer = label
    val trace = collection.mutable.ArrayBuffer.empty[(Long, A)]
    try {
      var round = 0
      var last = -1L
      while (round < maxRounds && last != 0L) {
        round += 1
        label = s"$outer $unit $round"
        spark.sparkContext.setCallSite(label)
        val out = StaticPlan.scoped(step(round))
        trace += ((round.toLong, out))
        last = changed(out)
      }
      trace.toSeq
    } finally {
      label = outer
      spark.sparkContext.setCallSite(outer)
    }
  }

  /** Exactly `n` rounds of `step`: a fixed-round loop. */
  def times(n: Long, unit: String = "round")(step: Int => Unit): Unit =
    loop(n, unit) { r => step(r); 1L }
}

object Rounds {
  /** Run operator `name`'s loop scaffold around `body`, in `spark`. */
  def apply[T](name: String, spark: SparkSession)(body: Rounds => T): T = {
    val rs = new Rounds(name, spark)
    val sc = spark.sparkContext
    val site = sc.getLocalProperty(ShortCallSite)
    var done = false
    try {
      sc.setCallSite(name)
      val out = StaticPlan.scoped(body(rs))
      done = true
      out
    } finally {
      rs.slots.foreach { case (rot, kept) => if (!done || !kept) rot.release() }
      sc.setLocalProperty(ShortCallSite, site)
    }
  }

  /** The local property `SparkContext.setCallSite` writes. */
  private val ShortCallSite = "callSite.short"
}
