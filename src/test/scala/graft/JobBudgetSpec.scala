package graft

import java.util.concurrent.atomic.AtomicInteger
import graft.analytics.GraphAnalytics
import graft.model.GraphStore
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

/** Spark job budgets of armed bounded-round operators on a small
  * in-memory graph, construction and final collect separately. Every
  * eager action inside a law window (`Rounds.gate`,
  * `StaticPlan.withMeasured`) must run in
  * the armed child session: one that escapes plans under the caller's
  * AQE, which adds at least one stage-materialization job, so these
  * exact counts fail on it. Also the persisted frames a power iteration
  * leaves pinned. */
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

  private def store: GraphStore = GraphStore(Map.empty, Map("e" ->
    edges.select($"s".as(GraphStore.SRC), $"d".as(GraphStore.DST))),
    Map("e" -> 1))

  /** Persisted RDDs that building `build` leaves pinned, from a drained
    * cache. */
  private def pinnedBy(build: => DataFrame): Int = {
    CacheScope.drain(spark)
    try {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      build
      (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    } finally CacheScope.drain(spark)
  }

  test("pageRank (3 iterations) job budget") {
    assert(jobsOf(GraphAnalytics.pageRank(store, Seq("e"), iters = 3)) ==
      ((17, 3)))
  }

  test("personalizedPageRank (3 iterations) job budget") {
    assert(jobsOf(GraphAnalytics.personalizedPageRank(store, Seq("e"),
      Seq(0L, 145L), iters = 3)) == ((17, 1)))
  }

  test("weightedPageRank (unit weights, 3 iterations) job budget") {
    assert(jobsOf(GraphAnalytics.weightedPageRank(
      edges.withColumn("w", lit(1.0)), iters = 3)) == ((19, 3)))
  }

  test("pageRankConvergence (3 iterations) job budget") {
    assert(jobsOf(GraphAnalytics.pageRankConvergence(edges, iters = 3)) ==
      ((20, 0)))
  }

  test("power iteration pins its loop invariants and one rank frame") {
    // edge frame, vertex frame and the last ranks: 3, not 2 + iters
    assert(pinnedBy(GraphAnalytics.pageRank(store, Seq("e"), iters = 6)) == 3)
    assert(pinnedBy(GraphAnalytics.katzCentrality(edges, iters = 6)) == 3)
  }

  test("katzCentrality job budget") {
    assert(jobsOf(GraphAnalytics.katzCentrality(edges, iters = 4)) ==
      ((18, 1)))
  }

  test("labelPropagation (3 iterations) job budget") {
    assert(jobsOf(GraphAnalytics.labelPropagation(store, Seq("e"),
      iters = 3)) == ((13, 1)))
  }

  test("shortestPathsTrace job budget") {
    assert(jobsOf(GraphAnalytics.shortestPathsTrace(
      edges.withColumn("w", lit(1.0)), Seq(0L, 290L), maxIters = 6)) ==
      ((16, 0)))
  }

  test("earliestArrivalTrace job budget") {
    assert(jobsOf(GraphAnalytics.earliestArrivalTrace(
      edges.withColumn("t", $"d" % 3), Seq(0L, 290L), maxRounds = 6)) ==
      ((13, 0)))
  }

  test("labelPropagationStable (semi-synchronous) job budget") {
    assert(jobsOf(GraphAnalytics.labelPropagationStable(store, Seq("e"),
      colorRounds = 150, maxSweeps = 1)) == ((604, 1)))
  }

  test("kCore job budget") {
    assert(jobsOf(GraphAnalytics.kCore(store, Seq("e"), k = 3,
      rounds = 10)) == ((8, 2)))
  }

  test("ccBigStar job budget") {
    assert(jobsOf(GraphAnalytics.ccBigStar(edges, rounds = 10)) ==
      ((22, 2)))
  }

  test("hits (3 iterations) job budget") {
    assert(jobsOf(GraphAnalytics.hits(store, Seq("e"), iters = 3)) ==
      ((30, 1)))
  }

  test("leidenFull job budget") {
    assert(jobsOf(GraphAnalytics.leidenFull(edges, maxLevels = 2,
      roundsPerLevel = 2)) == ((184, 1)))
  }

  test("stronglyConnectedComponents job budget") {
    assert(jobsOf(GraphAnalytics.stronglyConnectedComponents(edges, "s",
      "d", maxPeels = 10)) == ((96, 1)))
  }
}
