package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.{DataFrame, GraftExpressionBridge}
import org.apache.spark.sql.functions._

/** The loop window of the small-input law ([[Rounds.gate]]) arms a
  * child session for its own thread and never writes a conf of
  * the caller's session: the caller's confs stay as they were DURING
  * the body, concurrent windows overlap with their own dials, nested
  * windows merge, and the eager actions of the body (here a
  * [[Rotation]]) plan under the armed dials. */
class StaticPlanSpec extends SparkSpec {
  import spark.implicits._

  private val AqeKey = "spark.sql.adaptive.enabled"
  private val ShufKey = "spark.sql.shuffle.partitions"
  private val CgKey = "spark.sql.codegen.wholeStage"
  private val FactoryKey = "spark.sql.codegen.factoryMode"

  private def confs: Seq[Option[String]] =
    Seq(AqeKey, ShufKey, CgKey).map(spark.conf.getOption)

  private def frame: DataFrame =
    (1 to 40).map(i => (i % 7, i)).toDF("k", "v")

  /** Partitions of a rotated shuffle: the armed count exactly when AQE
    * is off (AQE would coalesce the test session's 4). */
  private def rotatedParts(rot: Rotation): Int =
    GraftExpressionBridge.checkpointRdd(
      rot(frame.groupBy("k").agg(sum("v").as("s")))).getNumPartitions

  /** `body` inside a loop window gated on `rows`, given the window's
    * broadcast-hint function. */
  private def window[T](rows: Long, scalar: Boolean = false)
      (body: (DataFrame => DataFrame) => T): T =
    Rounds("spec", spark) { rs => body(rs.gate(rows, scalar)) }

  /** The armed dials a frame of the body would run under. */
  private def armedConf(key: String): Option[String] =
    StaticPlan.armed(frame).sparkSession.conf.getOption(key)

  test("an armed body leaves the caller's confs unchanged and plans its rotation armed") {
    val before = confs
    val rot = new Rotation
    // 40 000 rows: AQE off (< AqeOffRows), 2 partitions, codegen kept
    val (parts, aqe, cg, bound) = window(40000L) { _ =>
      assert(confs == before, "the window wrote a caller conf")
      val parts = rotatedParts(rot)
      assert(confs == before, "the rotation wrote a caller conf")
      val df = rot(frame)
      (parts, armedConf(AqeKey), armedConf(CgKey), df.sparkSession)
    }
    rot.release()
    assert(parts == 2, s"rotation planned $parts partitions, not the armed 2")
    assert(aqe.contains("false"))
    assert(cg == spark.conf.getOption(CgKey))
    assert(bound eq spark, "a rotation must return a caller-bound frame")
    assert(confs == before)
    // 32 768 rows (one partition's worth): whole-stage codegen off;
    // 40 000 rows of a scalar loop (below AqeOffRows): interpreted
    val codegen = Seq(CgKey, FactoryKey)
    val off = window(StaticPlan.RowsPerPartition)(_ => codegen.map(armedConf))
    assert(off == Seq(Some("false"), spark.conf.getOption(FactoryKey)),
      s"32 768 rows must turn whole-stage codegen off only: $off")
    val interpreted = window(40000L, scalar = true)(_ => codegen.map(armedConf))
    assert(interpreted == Seq(Some("false"), Some("NO_CODEGEN")),
      s"a scalar loop of 40 000 rows must run interpreted: $interpreted")
    // 70 000 rows: above AqeOffRows, so AQE and codegen are kept, also
    // for a scalar loop
    Seq(false, true).foreach { scalar =>
      val kept = window(70000L, scalar)(_ => (AqeKey +: codegen).map(armedConf))
      assert(kept == (AqeKey +: codegen).map(spark.conf.getOption),
        s"70 000 rows must keep AQE and codegen: $kept")
    }
  }

  // The name dates from armed windows that wrote the caller's confs and
  // serialized on a lock so the writes could not interleave. Windows no
  // longer write those confs; the case keeps the contract the lock
  // guarded: no armed dial leaks into the caller's session, during or
  // after two racing windows, while each body sees its own dials.
  test("two concurrent armed wraps do not leak confs (serialized)") {
    val before = confs
    val pool = Executors.newFixedThreadPool(2)
    val bothInside = new CountDownLatch(2)
    try {
      val runs = Seq(10L, 40000L).map { rows =>
        pool.submit(new Callable[(Boolean, Seq[Option[String]], Option[String])] {
          def call(): (Boolean, Seq[Option[String]], Option[String]) =
            window(rows) { _ =>
              bothInside.countDown()
              val overlapped = bothInside.await(60, TimeUnit.SECONDS)
              (overlapped, confs, armedConf(AqeKey))
            }
        })
      }
      runs.map(_.get(120, TimeUnit.SECONDS)).foreach {
        case (overlapped, inside, aqe) =>
          assert(overlapped, "the two windows did not run together")
          assert(inside == before, s"a window leaked into the caller: $inside vs $before")
          assert(aqe.contains("false"), "the armed body must see AQE off")
      }
    } finally pool.shutdown()
    assert(confs == before, s"confs leaked: $confs vs $before")
  }

  test("two concurrent armed windows on one session overlap, each with its own partitions") {
    val before = confs
    val pool = Executors.newFixedThreadPool(2)
    val bothInside = new CountDownLatch(2)
    try {
      val runs = Seq(10L, 40000L).map { rows =>
        pool.submit(new Callable[(Boolean, Int)] {
          def call(): (Boolean, Int) =
            window(rows) { _ =>
              bothInside.countDown()
              val overlapped = bothInside.await(60, TimeUnit.SECONDS)
              val rot = new Rotation
              try (overlapped, rotatedParts(rot)) finally rot.release()
            }
        })
      }
      assert(runs.map(_.get(120, TimeUnit.SECONDS)) ==
        Seq((true, 1), (true, 2)))
    } finally pool.shutdown()
    assert(confs == before)
  }

  test("nested armed wraps restore the outer wrap's confs") {
    val before = confs
    val rot = new Rotation
    window(40000L) { _ =>
      assert(armedConf(ShufKey).contains("2"))
      window(70000L) { _ =>
        // the inner window sets 3 partitions and leaves AQE and codegen
        // alone, so the outer window's AQE-off and codegen stay
        assert(armedConf(ShufKey).contains("3"))
        assert(armedConf(AqeKey).contains("false"))
        assert(rotatedParts(rot) == 3)
        window(10L) { _ =>
          assert(armedConf(ShufKey).contains("1"))
          assert(armedConf(CgKey).contains("false"))
        }
        assert(armedConf(ShufKey).contains("3"))
        assert(armedConf(CgKey) == spark.conf.getOption(CgKey),
          "the innermost window must restore the outer windows' codegen")
      }
      assert(armedConf(ShufKey).contains("2"),
        "the inner window must restore the outer window's partitions")
      assert(rotatedParts(rot) == 2)
    }
    rot.release()
    assert(StaticPlan.armed(frame).sparkSession eq spark)
    assert(confs == before)
  }

  test("Rotation.observe inside an armed window returns its row") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val rot = new Rotation
    // an observation attached on the wrong side of the rebind never
    // completes: bound the wait so the spec fails instead of hanging
    val n = Await.result(Future {
      window(100L) { _ =>
        rot.observe(frame.groupBy("k").agg(sum("v").as("s")),
          Seq(count(lit(1)).as("n")))._2.getLong(0)
      }
    }, 2.minutes)
    rot.release()
    assert(n == 7L)
  }

  test("unarmed path (rows above bound) touches no conf") {
    val shuf0 = spark.conf.get(ShufKey)
    val aqe0 = spark.conf.getOption(AqeKey)
    window(StaticPlan.SmallRows + 1) { _ =>
      assert(spark.conf.get(ShufKey) == shuf0)
      assert(spark.conf.getOption(AqeKey) == aqe0)
    }
  }

  test("the unarmed path creates no child") {
    val f = frame
    val rot = new Rotation
    window(StaticPlan.SmallRows + 1) { bc =>
      assert(StaticPlan.armed(f) eq f)
      assert(bc(f) eq f, "the unarmed hint function is the identity")
      assert(rot(f).sparkSession eq spark)
    }
    rot.release()
    assert(StaticPlan.armed(f) eq f, "no window: frames are not rebound")
  }
}
