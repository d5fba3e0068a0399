package perfbench

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** The plain-Scala model agrees with the operators on the generated
  * sf0.001 tables, and a wrong answer is caught. */
class ReferenceSpec extends AnyFunSuite {
  private def dir = TestSession.sfDir.getOrElse(
    cancel("PERFBENCH_SF_DIR is unset; run `python3 perfbench/run.py --test`"))

  test("serve_mixed: writes, reads and read-your-writes checks all pass") {
    val spark = TestSession.spark
    val h = new Harness(spark, new Tracer(false), cores = 2)
    val o = ServeMixed.run(h, dir, TestSession.work, seed = 5, seconds = 4)
    val all = o.warmup ++ o.window.ops
    assert(all.exists(_.write) && all.exists(!_.write))
    assert(all.map(_.kind).toSet == Gen.Cycle.toSet)
    assert(all.flatMap(_.error).isEmpty, all.flatMap(_.error).mkString("\n"))
  }

  test("a wrong answer is reported") {
    val m = new Model(mutable.HashMap(1L -> Cust("a", 1, 2.0, "BUILDING")),
      mutable.HashMap.empty, mutable.HashMap.empty)
    val want = m.answer(Op.CustProps(Seq(1L, 2L)))
    assert(want == Seq(Norm.row(1L, "a", 1, 2.0, "BUILDING")))
    assert(Norm.diff("props", want, want).isEmpty)
    assert(Norm.diff("props", Seq(Norm.row(1L, "a", 1, 2.5, "BUILDING")), want).nonEmpty)
    assert(Norm.diff("props", Nil, want).nonEmpty)
  }
}
