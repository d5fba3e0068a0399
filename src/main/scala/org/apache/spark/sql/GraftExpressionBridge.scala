package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Bridge to the Column <-> catalyst Expression converters, which are
 * `private[sql]` in Spark 4 (Column wraps a ColumnNode, not an
 * Expression, since the connect/classic split). Libraries that ship
 * custom catalyst expressions need exactly these two hooks; placing the
 * accessor inside `org.apache.spark.sql` is the established pattern for
 * that.
 */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A child of `spark`: a copy of its confs and catalog state that
    * shares its SparkContext, external catalog and cache manager.
    * Conf changes on either side do not reach the other. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `ds`'s analyzed plan as a Dataset of `session`: it plans and
    * runs under `session`'s confs. Already-analyzed plans are not
    * analyzed again; a Dataset of `session` is returned as it is. */
  def rebind[T](session: SparkSession, ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession eq session) ds
    else new classic.Dataset[T](session.asInstanceOf[classic.SparkSession],
      ds.queryExecution.analyzed, ds.encoder)

  /** Drop `rdd`'s cached blocks: what `RDD.unpersist` does after it
    * warns that a locally checkpointed RDD cannot be recomputed. The
    * callers release checkpoints on purpose, so the warning is noise. */
  def dropBlocks(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Wait until the (`private[spark]`) listener bus delivered every
    * queued event, so a listener's counts are complete. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** A shuffle map stage: the final stage of an AQE exchange job. */
  def isMapStage(stage: org.apache.spark.scheduler.StageInfo): Boolean =
    stage.shuffleDepId.isDefined

  /** Summed size estimate of the leaves of `df`'s analyzed plan, from
    * file listings and local data only: no Spark job runs. A leaf
    * without an estimate reports the unknown default (Long.MaxValue). */
  def leafBytes(df: DataFrame): BigInt =
    df.queryExecution.analyzed.collectLeaves().map(_.stats.sizeInBytes).sum

  /** The RDD holding a localCheckpoint'd Dataset's blocks: the
    * `LogicalRDD` leaf of its analyzed plan. */
  def checkpointRdd(df: DataFrame): org.apache.spark.rdd.RDD[_] =
    df.queryExecution.analyzed match {
      case lr: execution.LogicalRDD => lr.rdd
      case p => throw new IllegalArgumentException(
        s"not a checkpointed frame: ${p.nodeName}")
    }

  /**
   * `df`, a localCheckpoint of `run`, with its `LogicalRDD` leaf's
   * FROZEN origin statistics capped at Long.MaxValue bytes/rows
   * (first) and, when `run` is given, its partitioning known (second).
   *
   * First: `Dataset.localCheckpoint` deliberately snapshots
   * the origin plan's estimated `Statistics` into the resulting
   * `LogicalRDD` (`originStats`). Size-only estimation multiplies
   * child sizes across joins, so a checkpoint-rotated iterative loop
   * COMPOUNDS the frozen products: rotation n's leaf size is the
   * product of rotation n−1's leaf sizes across every join of the
   * round — exponential in rounds. After a few dozen rotations the
   * BigInt exponents reach millions of digits and every stats lookup
   * (join selection, runtime-filter injection) grinds the driver in
   * BigInteger ToomCook multiplies for MINUTES (jstack:
   * SizeInBytesOnlyStatsPlanVisitor → BigInteger.multiplyToomCook3).
   * Capping at Long.MaxValue keeps honest small estimates intact
   * (broadcast decisions unaffected) while making the compounding
   * harmless — a leaf is never worse than "unknown", which is exactly
   * the default a stats-free LogicalRDD would report.
   *
   * Second: the leaf reports the hash partitioning of `run`'s FINAL plan
   * when that hashes into the RDD's partition count: an adaptive plan
   * reports none before it runs, so the checkpoint froze none, and a
   * co-partitioned join on it would re-shuffle it every round. A
   * coalesced read reports `CoalescedHashPartitioning` (partition i
   * holds a run of hash buckets), which is never adopted.
   */
  def checkpointLeaf(df: DataFrame, run: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap,
      AttributeSet, ExpressionSet}
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
      UnknownPartitioning}
    val cap = BigInt(Long.MaxValue)
    df.queryExecution.analyzed match {
      case lr: execution.LogicalRDD =>
        val st = lr.computeStats()
        val adopted = run.map(_.queryExecution.executedPlan) match {
          case Some(a: execution.adaptive.AdaptiveSparkPlanExec)
              if lr.outputPartitioning.isInstanceOf[UnknownPartitioning] =>
            val ids = AttributeMap(a.executedPlan.output.zip(lr.output))
            Some(a.executedPlan.outputPartitioning).collect {
              case h: HashPartitioning => h.copy(expressions = h.expressions
                .map(_.transform { case x: Attribute => ids.getOrElse(x, x) }))
            }.filter(h => h.numPartitions == lr.rdd.getNumPartitions &&
              h.references.subsetOf(AttributeSet(lr.output)))
          case _ => None
        }
        if (st.sizeInBytes <= cap && st.rowCount.forall(_ <= cap) &&
            adopted.isEmpty) df
        else {
          val session = df.sparkSession.asInstanceOf[classic.SparkSession]
          val capped = st.copy(sizeInBytes = st.sizeInBytes.min(cap),
            rowCount = st.rowCount.map(_.min(cap)))
          classic.Dataset.ofRows(session,
            lr.copy(lr.output, lr.rdd, adopted.getOrElse(lr.outputPartitioning),
              lr.outputOrdering, lr.isStreaming, lr.stream)(
              session, Some(capped),
              Some(ExpressionSet(lr.constraints))))
        }
      case _ => df
    }
  }
}
