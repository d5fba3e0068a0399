package graft

import java.util.concurrent.atomic.AtomicInteger
import graft.analytics.GraphAnalytics
import graft.model.GraphStore
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** Spark job budgets of armed bounded-round operators on a small
  * in-memory graph, construction and final collect separately. Every
  * eager action inside a `StaticPlan.withMeasured` window must run in
  * the armed child session: one that escapes plans under the caller's
  * AQE, which adds at least one stage-materialization job, so these
  * exact counts fail on it. */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** Two 145-vertex complete digraphs (two SCCs, 41 760 arcs) joined
    * one way, plus a 6-vertex directed tail: over 32 768 rows, so the
    * armed loops plan two shuffle partitions (with one, a count needs
    * no exchange and an escaped action would cost no extra job). */
  private def edges: DataFrame = {
    val k = spark.range(145).toDF("a")
    val clique = k.crossJoin(k.withColumnRenamed("a", "b"))
      .filter($"a" =!= $"b")
    clique.select($"a".as("s"), $"b".as("d"))
      .union(clique.select(($"a" + 145).as("s"), ($"b" + 145).as("d")))
      .union(Seq((0L, 145L), (144L, 290L), (290L, 291L), (291L, 292L),
        (292L, 293L), (293L, 294L), (294L, 295L)).toDF("s", "d"))
  }

  /** (jobs while building the frame, jobs of its final collect). */
  private def jobsOf(build: => DataFrame): (Int, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def counted(body: => Unit): Int = {
      TestBus.drain(spark.sparkContext)
      jobs.set(0)
      body
      TestBus.drain(spark.sparkContext)
      jobs.get
    }
    CacheScope.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      var df: DataFrame = null
      val construct = counted { df = build }
      val last = counted(df.collect())
      (construct, last)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      CacheScope.drain(spark)
    }
  }

  test("pageRank (3 iterations) job budget") {
    val store = GraphStore(Map.empty, Map("e" -> edges.select(
      $"s".as(GraphStore.SRC), $"d".as(GraphStore.DST))), Map("e" -> 1))
    assert(jobsOf(GraphAnalytics.pageRank(store, Seq("e"), iters = 3)) ==
      ((17, 3)))
  }

  test("katzCentrality job budget") {
    assert(jobsOf(GraphAnalytics.katzCentrality(edges, iters = 4)) ==
      ((18, 1)))
  }

  test("stronglyConnectedComponents job budget") {
    assert(jobsOf(GraphAnalytics.stronglyConnectedComponents(edges, "s",
      "d", maxPeels = 10)) == ((96, 1)))
  }
}
