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

  /** `df`'s analyzed plan as a frame of `session`: the frame plans and
    * runs under `session`'s confs. Already-analyzed plans are not
    * analyzed again. */
  def rebind(session: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)

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
   * Cap a localCheckpoint'd Dataset's FROZEN origin statistics at
   * Long.MaxValue bytes/rows.
   *
   * Why this exists: `Dataset.localCheckpoint` deliberately snapshots
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
   */
  def capCheckpointStats(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.ExpressionSet
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    val cap = BigInt(Long.MaxValue)
    df.queryExecution.analyzed match {
      case lr: execution.LogicalRDD =>
        val st = lr.computeStats()
        if (st.sizeInBytes <= cap && st.rowCount.forall(_ <= cap)) df
        else {
          val session = df.sparkSession.asInstanceOf[classic.SparkSession]
          val capped = Statistics(
            sizeInBytes = st.sizeInBytes.min(cap),
            rowCount = st.rowCount.map(_.min(cap)),
            attributeStats = st.attributeStats,
            isRuntime = st.isRuntime)
          classic.Dataset.ofRows(session,
            lr.copy(lr.output, lr.rdd, lr.outputPartitioning,
              lr.outputOrdering, lr.isStreaming, lr.stream)(
              session, Some(capped),
              Some(ExpressionSet(lr.constraints))))
        }
      case _ => df
    }
  }
}
