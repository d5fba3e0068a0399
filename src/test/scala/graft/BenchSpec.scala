package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  private val rows = Seq(
    ("slow", 9.0, None), ("e1", 7.0, Some("Boom")), ("mid", 4.0, None),
    ("e2", 5.0, Some("Oops")), ("fast", 0.5, None), ("e3", 3.0, Some("Bad")))

  test("valve keeps every error entry when they outnumber keepN") {
    val line = Bench.valveLine(rows, keepN = 1, tail = "}")
    Seq("e1" -> "Boom", "e2" -> "Oops", "e3" -> "Bad").foreach { case (k, e) =>
      assert(line.contains(s""""$k":"err:$e""""), s"$k dropped: $line")
    }
    assert(line.contains(""""slow":9"""))
    assert(!line.contains(""""mid"""") && !line.contains(""""fast""""))
    assert(line.contains(""","errors":3"""))
  }

  test("valve leaves error entries out of fast_sum and the total") {
    val line = Bench.valveLine(rows, keepN = 1, tail = "}")
    assert(line.contains(""""fast_omitted":2,"fast_sum":4.5"""), line)
    assert(line.contains(""""value":13.5,"""), line)
    val none = Bench.valveLine(rows, keepN = 0, tail = "}")
    assert(none.contains(""""fast_omitted":3,"fast_sum":13.5"""), none)
    assert(none.contains(""""err:Bad""""), none)
  }

  test("valve line is JSON ending in the given tail") {
    val line = Bench.valveLine(rows, keepN = 3, tail = ""","sf":"x"}""")
    assert(line.startsWith("""{"metric":"total","""))
    assert(line.endsWith(""""fast_omitted":0,"fast_sum":0,"errors":3,"sf":"x"}"""), line)
  }

  test("retry floors come only from a record of the run's directory") {
    def rec(sf: String, secs: Double) =
      s"""{"metric":"total","value":$secs,"unit":"sec","queries":{"q_a":$secs,"q_b":0.25},"sf":"$sf"}"""
    val records = Seq(
      "BENCH_LOCAL_r16.json" -> rec("/d/sf0.1", 3.0),
      "BENCH_LOCAL_r16_opt1.json" -> rec("/d/sf0.1", 2.0),
      "BENCH_LOCAL_r17.json" -> rec("/d/sf0.01", 1.0),
      "SCALE_x10.json" -> rec("/d/sf0.1x10", 9.0))
    assert(Bench.refFloors(records, "/d/sf0.1") == Map("q_a" -> 2.0, "q_b" -> 0.25))
    assert(Bench.refFloors(records, "/d/sf0.01") == Map("q_a" -> 1.0, "q_b" -> 0.25))
    assert(Bench.refFloors(records, "/d/sf0.1x10").isEmpty)
    assert(Bench.refFloors(records, "/d/other").isEmpty)
  }
}
