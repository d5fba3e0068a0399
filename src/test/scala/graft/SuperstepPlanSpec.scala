package graft

import graft.analytics.GraphAnalytics
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, TestPlans}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import scala.jdk.CollectionConverters._

/** The PageRank kernel's superstep keeps the rank frame partitioned
  * like the cached edges, so from round 2 on (round 1 also builds the
  * two caches) a round's checkpoint plan shuffles the messages and
  * nothing else: one exchange, no broadcast, and none above the cached
  * edge scan. Checked armed (41 767 arcs: AQE off, derived partitions)
  * and unarmed (503 390 arcs, over the law's bound: AQE on, the
  * session's partitions). */
class SuperstepPlanSpec extends SparkSpec {

  /** The executed plans of the checkpoints `build` runs, in order. */
  private def checkpointPlans(build: => DataFrame): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd => TestPlans.of(end).foreach {
          case (name, plan) if name.toLowerCase.contains("checkpoint") =>
            plans.add(plan)
          case _ =>
        }
        case _ =>
      }
    }
    CacheScope.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      build
      TestBus.drain(spark.sparkContext)
      plans.asScala.toSeq
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      CacheScope.drain(spark)
    }
  }

  /** The children of a plan node, through adaptive stages. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case other => other.children
  }

  /** Every node of an executed plan. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)

  /** Whether `p` reads the cached edges with no join in between: an
    * exchange over such a node re-shuffles the edges. */
  private def readsEdges(p: SparkPlan): Boolean =
    isEdgeScan(p) || (kids(p) match {
      case Seq(only) => readsEdges(only)
      case _ => false
    })

  private def isExchange(p: SparkPlan): Boolean = p match {
    case _: Exchange | _: ReusedExchangeExec => true
    case _ => false
  }

  /** A scan of the cached edge frame (the only cache with a `d`). */
  private def isEdgeScan(p: SparkPlan): Boolean = p match {
    case s: InMemoryTableScanExec => s.output.exists(_.name == "d")
    case _ => false
  }

  private def assertSupersteps(plans: Seq[SparkPlan]): Unit = {
    assert(plans.size == 3, s"${plans.size} checkpoints for 3 rounds")
    plans.zipWithIndex.drop(1).foreach { case (plan, i) =>
      val all = nodes(plan)
      val exchanges = all.filter(isExchange)
      assert(exchanges.size == 1,
        s"round ${i + 1} plans ${exchanges.size} exchanges:\n$plan")
      assert(!all.exists(_.isInstanceOf[BroadcastExchangeLike]),
        s"round ${i + 1} broadcasts:\n$plan")
      assert(!exchanges.exists(x => kids(x).exists(readsEdges)),
        s"round ${i + 1} re-shuffles the cached edges:\n$plan")
      assert(all.exists(isEdgeScan), s"round ${i + 1} reads no cached edges")
    }
  }

  private def armed: DataFrame = Cliques.edges(spark)
  private def unarmed: DataFrame = Cliques.clique(spark, 710)

  Seq("armed" -> (() => armed), "unarmed" -> (() => unarmed)).foreach {
    case (path, edges) =>
      test(s"pageRank round >= 2: one exchange, no broadcast ($path)") {
        assertSupersteps(checkpointPlans(GraphAnalytics.pageRank(
          Cliques.store(edges()), Seq("e"), iters = 3)))
      }

      test(s"pageRankConvergence round >= 2: one exchange, no broadcast ($path)") {
        assertSupersteps(checkpointPlans(
          GraphAnalytics.pageRankConvergence(edges(), iters = 3)))
      }
  }
}
