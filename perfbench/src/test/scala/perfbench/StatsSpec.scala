package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def samples(n: Int) = (1 to n).map(_.toDouble)
  /** The tail of `xs` when every sample counts towards the percentile. */
  private def all(xs: Seq[Double]) = Stats.tail(xs, xs.size)

  test("tail percentile is the highest one with at least 10 samples beyond it") {
    assert(all(samples(200)) == ((95, 190.0)))
    assert(all(samples(100)) == ((90, 90.0)))
    // 70 samples: p85 leaves 10 beyond, p86 only 9
    assert(all(samples(70))._1 == 85)
    assert(Stats.beyond(70, 85) == 10 && Stats.beyond(70, 86) == 9)
    // more samples than needed: capped at p95
    assert(all(samples(1000))._1 == 95)
  }

  test("every reported tail value has at least 10 samples beyond it") {
    for (n <- 21 to 400) {
      val xs = scala.util.Random.shuffle(samples(n))
      val (q, v) = all(xs)
      assert(q > 50 && xs.count(_ > v) >= 10, s"n=$n q=$q")
      assert(q == 95 || xs.count(_ > v) == 10 || Stats.beyond(n, q + 1) < 10)
    }
  }

  test("a fixed sample count fixes the percentile, however many samples run") {
    // 51 requests are guaranteed: p80 leaves 10 of them beyond
    assert(Stats.tailPercentile(51).contains(80))
    for (n <- Seq(51, 68, 85, 200)) {
      val (q, v) = Stats.tail(samples(n), 51)
      assert(q == 80 && v == Stats.percentile(samples(n), 80), s"n=$n")
    }
    assert(Stats.percentile(samples(85), 80) == 68.0)
  }

  test("too few samples fall back to the median") {
    assert(all(samples(12)) == ((50, 6.5)))
    assert(Stats.median(samples(12)) == 6.5)
  }

  test("a typical pass takes each request at its median over the passes") {
    def op(ms: Double) = OpRecord("k", "f", write = false, 0, 0, traced = false,
      0L, 0L, (ms * 1e6).toLong, 0, 0, 0, Map.empty, None)
    def pass(ms: Double*) = Pass(traced = false, ms.map(op))
    // the first pass is slow throughout; a later one has one slow request
    val w = WindowResult(Seq(pass(300, 900), pass(100, 500), pass(120, 2000)),
      0L, 0L, 0L)
    assert(math.abs(w.typicalPassS - (0.120 + 0.900)) < 1e-9)
    assert(pass(100, 500).serviceS == 0.6)
  }
}
