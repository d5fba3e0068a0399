package graft

import org.apache.spark.sql.{Dataset, GraftExpressionBridge, SparkSession}
import org.apache.spark.storage.StorageLevel

/**
 * Session-wide registry of operator-internal persists.
 *
 * Operators persist exactly the frames their plans consume more than
 * once (shingle sets, loop invariants, normed vectors — see PLANS.md
 * "Rules of thumb"); those caches are correct *within* one query but
 * must not outlive it: a long-lived session running many queries (the
 * bench harness, a notebook, a query service) would otherwise pin an
 * ever-growing set of corpus-sized RDDs — round 2's bench recorded
 * 140.6s for a query that runs in 1.34s isolated, purely from cache
 * accretion + GC thrash.
 *
 * Protocol: operators route persists through [[persist]]; harnesses
 * call [[drain]] after consuming each query's result. Iterative
 * operators additionally [[unpersist]] superseded per-iteration frames
 * as soon as the next iteration's state is materialized, so even a
 * single long-running query (pagerank, k-means) holds O(1) pinned
 * frames, not O(iterations).
 */
object CacheScope {

  private val frames =
    new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  /** Persist (MEMORY_AND_DISK) and register for the next drain. The
    * cached physical plan is built here, so inside an armed law window
    * (`Rounds.gate`, `StaticPlan.withMeasured`) it is built armed; the frame
    * returned is bound to `ds`'s session either way. */
  def persist[T](ds: Dataset[T],
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] = {
    val p = GraftExpressionBridge.rebind(ds.sparkSession,
      StaticPlan.armed(ds).persist(level))
    frames.add(p)
    p
  }

  /** Eagerly release one superseded frame (iterative loops); cached
    * plans that read it are re-planned armed inside a window, as they
    * were built. */
  def unpersist(ds: Dataset[_]): Unit = {
    StaticPlan.armed(ds).unpersist(blocking = false)
    frames.remove(ds)
  }

  /** Release only the registered operator-internal frames — harness-
    * owned persists (e.g. ScaleSmoke's amplified fixtures) survive. */
  def drainRegistered(): Unit = {
    var d = frames.poll()
    while (d != null) { d.unpersist(blocking = false); d = frames.poll() }
  }

  /** Release every registered frame plus anything else in the session
    * cache (SQL-cached tables, third-party persists). RDD-level caches
    * are released too: `catalog.clearCache` only covers SQL-cached
    * plans, and the GraphX operators (connected components, triangle
    * count) pin raw vertex/edge RDDs that would otherwise accrete
    * across queries exactly like round 2's DataFrame persists did. */
  def drain(spark: SparkSession): Unit = {
    drainRegistered()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(GraftExpressionBridge.dropBlocks)
  }
}
