package graft

import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

class ParSpec extends AnyFunSuite {

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
}
