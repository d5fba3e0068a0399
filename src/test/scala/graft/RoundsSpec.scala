package graft

import graft.analytics.GraphAnalytics
import graft.model.GraphStore
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftExpressionBridge}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The loop driver of the law-windowed round loops ([[Rounds]]): the
  * stop rule and the trace, slot release on every exit path, the law
  * window's nesting, and the per-round call-site label. */
class RoundsSpec extends SparkSpec {
  import spark.implicits._

  private def frame: DataFrame =
    (1 to 40).map(i => (i % 7, i)).toDF("k", "v")

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private val ShufKey = "spark.sql.shuffle.partitions"
  private val AqeKey = "spark.sql.adaptive.enabled"
  private def armedConf(key: String): Option[String] =
    StaticPlan.armed(frame).sparkSession.conf.getOption(key)

  test("the loop stops after the first zero-change round; the trace lists the rounds run") {
    var steps = 0
    val trace = Rounds("stop", spark) { rs =>
      rs.loop(10) { r => steps += 1; Seq(3L, 1L, 0L, 5L)(r - 1) }
    }
    assert(trace == Seq((1L, 3L), (2L, 1L), (3L, 0L)))
    assert(steps == 3)
  }

  test("a loop out of budget returns its full trace") {
    val trace = Rounds("budget", spark)(_.loop(4)(r => r.toLong))
    assert(trace == (1 to 4).map(r => (r.toLong, r.toLong)))
    val tracked = Rounds("budget", spark)(_.track(2)(r => s"r$r")(_ => 1L))
    assert(tracked == Seq((1L, "r1"), (2L, "r2")))
  }

  test("a throw mid-round releases every slot") {
    val before = persisted
    val err = intercept[IllegalStateException] {
      Rounds("throws", spark) { rs =>
        val work = rs.slot()
        val kept = rs.slot(kept = true)
        kept(frame)
        rs.loop(5) { r =>
          work(frame.select(col("k"), (col("v") + r).as("v")))
          if (r == 2) throw new IllegalStateException("round 2 failed")
          1L
        }
      }
    }
    assert(err.getMessage == "round 2 failed")
    // nothing is returned on a throw, so the kept slot goes too
    assert(persisted == before,
      s"a throw left ${persisted -- before} pinned")
  }

  test("a returned frame stays readable after the loop exits") {
    val before = persisted
    val (df, slot) = Rounds("kept", spark) { rs =>
      val out = rs.slot(kept = true)
      val scratch = rs.slot()
      var df = out(frame)
      rs.times(3) { r =>
        scratch(df.groupBy("k").agg(sum("v").as("s")))
        df = out(df.select(col("k"), (col("v") + r).as("v")))
      }
      (df, out)
    }
    assert(persisted -- before == Set(GraftExpressionBridge.checkpointRdd(df).id),
      "only the returned frame's checkpoint may stay pinned")
    assert(df.agg(sum("v")).head().getLong(0) == (1 to 40).sum + 40 * 6)
    slot.release()
    assert(persisted == before)
  }

  test("a nested window merges its dials over the outer window's") {
    val root = StaticPlan.armed(frame).sparkSession
    Rounds("outer", spark) { rs =>
      rs.gate(40000L) // 2 partitions, AQE off
      assert(armedConf(ShufKey).contains("2"))
      Rounds("inner", spark) { in =>
        in.gate(70000L) // 3 partitions, AQE left alone
        assert(armedConf(ShufKey).contains("3"))
        assert(armedConf(AqeKey).contains("false"))
      }
      assert(armedConf(ShufKey).contains("2"),
        "the inner window must restore the outer window's dials")
      // a gate inside a round lasts until the round ends
      rs.loop(2) { r =>
        if (r == 1) {
          rs.gate(10L)
          assert(armedConf(ShufKey).contains("1"))
        } else assert(armedConf(ShufKey).contains("2"))
        1L
      }
    }
    assert(StaticPlan.armed(frame).sparkSession eq root,
      "the window must close with the operator")
  }

  test("every job of an armed 3-round LPA carries its round's call site") {
    // a path oscillates under synchronous LPA, so all 3 rounds run
    val path = (0L until 8L).map(i => (i, i + 1)).toDF(GraphStore.SRC,
      GraphStore.DST)
    val store = GraphStore(Map.empty, Map("e" -> path), Map("e" -> 1))
    val sc = spark.sparkContext
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        sites.add(String.valueOf(j.properties.getProperty("callSite.short")))
    }
    CacheScope.drain(spark)
    sc.setCallSite("caller")
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      GraphAnalytics.labelPropagation(store, Seq("e"), iters = 3)
      TestBus.drain(sc)
    } finally {
      sc.removeSparkListener(listener)
      CacheScope.drain(spark)
    }
    assert(sc.getLocalProperty("callSite.short") == "caller",
      "the caller's call site must come back")
    sc.clearCallSite()
    val seen = sites.asScala.toSeq
    val rounds = seen.filter(_.startsWith("labelPropagation round "))
    assert(seen.forall(s => s == "labelPropagation" || rounds.contains(s)),
      s"jobs outside the operator's labels: ${seen.mkString(", ")}")
    // each armed round runs its broadcast build and its checkpoint
    assert(rounds.groupBy(identity).map { case (s, js) => (s, js.size >= 2) } ==
      (1 to 3).map(r => (s"labelPropagation round $r", true)).toMap,
      s"per-round jobs: ${seen.mkString(", ")}")
  }
}
