package graft

import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.functions._

class ParSpec extends SparkSpec {
  import spark.implicits._

  test("two never returns while b still runs, even when a throws") {
    val bDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Par.two(throw new IllegalStateException("a failed"),
        { Thread.sleep(300); bDone.set(true) })
    }
    assert(e.getMessage == "a failed", "a's exception must propagate")
    assert(bDone.get, "two returned while b was still running")
  }

  test("an exception from b propagates after a finishes") {
    val e = intercept[IllegalArgumentException] {
      Par.two(Thread.sleep(50), throw new IllegalArgumentException("b failed"))
    }
    assert(e.getMessage == "b failed")
  }

  test("concurrent rotation loops each pin exactly one checkpoint") {
    val before = Pinned.checkpoints(spark)
    def loop(seed: Int): (Rotation, Long) = {
      val rot = new Rotation
      var df = rot((1 to 50).map(i => (i, seed)).toDF("k", "v"))
      for (r <- 1 to 8)
        df = rot(df.groupBy("k").agg((max("v") + r).as("v")))
      (rot, df.agg(sum("v")).head().getLong(0))
    }
    val ((ra, sa), (rb, sb)) = Par.two(loop(1), loop(2))
    assert(sa == 50L * (1 + 36) && sb == 50L * (2 + 36))
    assert((Pinned.checkpoints(spark) -- before).size == 2,
      "each slot must pin exactly its last checkpoint")
    ra.release(); rb.release()
    assert((Pinned.checkpoints(spark) -- before).isEmpty)
  }
}
