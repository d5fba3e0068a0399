package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

class TraceSpec extends AnyFunSuite {
  test("counts attributed to spans add up to the listener's totals") {
    val spark = TestSession.spark
    val tracer = new Tracer(enabled = true)
    spark.sparkContext.addSparkListener(tracer.listener)
    val h = new Harness(spark, tracer, cores = 2)
    implicit val ec: ExecutionContext = ExecutionContext.global
    def work(n: Int) = spark.range(0, 2000 + n, 1, 3)
      .groupBy(col("id") % 7).count()
    try {
      // two concurrent clients, traced and untraced requests, and jobs
      // submitted from a pool thread that carries no job group
      val clients = (0 until 2).map { c =>
        Future {
          (0 until 6).map { i =>
            h.run("probe", "test", write = false, c, i, traced = i % 2 == 0) { req =>
              val df = req.construct("operators.test")(work(i))
              req.plan(df)
              req.exec("exec")(df.collect())
              None
            }
          }
        }
      }
      val stray = Future(work(99).collect().length)
      val ops = clients.flatMap(Await.result(_, Duration.Inf))
      Await.result(stray, Duration.Inf)
      PerfbenchBus.drain(spark.sparkContext)

      val sum = new Counts
      tracer.listener.bySpan.values.foreach(sum += _)
      assert(sum.asSeq == tracer.listener.total.asSeq)
      assert(tracer.listener.total.jobs >= 13)
      ops.filter(_.traced).foreach { op =>
        val c = tracer.listener.of(op.root)
        assert(c.jobs >= 1 && c.tasks >= 1, s"traced request ${op.root} got no work")
      }
      assert(ops.forall(_.error.isEmpty))
      assert(tracer.allSpans.exists(_.name == "plan"))
    } finally spark.sparkContext.removeSparkListener(tracer.listener)
  }
}
