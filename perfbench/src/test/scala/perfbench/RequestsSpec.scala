package perfbench

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

class RequestsSpec extends AnyFunSuite {
  private val cust = (0L until 500L)
  private val ord = (0L until 4000L)
  private val kv = (0 until 300).map(i => f"k$i%07d")

  private def gen(seed: Long) = new Gen(cust, ord, kv, seed)
  private def stream(seed: Long) = { val g = gen(seed); Seq.fill(20)(g.cycle()) }

  private def model() = new Model(
    mutable.HashMap.from(cust.map(k => k -> Cust(s"c$k", 1, 0.0, "BUILDING"))),
    mutable.HashMap.from(ord.map(k => k -> Ord(k % 500, "O", k.toDouble, "1-URGENT"))),
    mutable.HashMap.from(kv.map(k => k -> "v")))

  test("the same seed gives the same requests") {
    assert(stream(42) == stream(42))
  }

  test("different seeds give different streams") {
    assert(stream(42) != stream(43))
  }

  test("every cycle has the same mix of 12 reads and 5 writes") {
    stream(7).foreach { c =>
      assert(c.map(_.kind) == Gen.Cycle)
      assert(c.count(_.write) == 5 && c.count(!_.write) == 12)
    }
  }

  test("every cycle leaves each table at its starting size") {
    val m = model()
    val g = gen(3)
    (0 until 30).foreach { _ =>
      g.cycle().foreach(m(_))
      assert((m.cust.size, m.ord.size, m.kv.size) == ((500, 4000, 300)))
    }
  }

  test("reads ask for live keys; deleted keys are not drawn again") {
    val m = model()
    val g = gen(5)
    (0 until 10).foreach { _ =>
      g.cycle().foreach {
        case Op.CustProps(ids) => assert(ids.forall(m.cust.contains))
        case Op.OrdProps(ids) => assert(ids.forall(m.ord.contains))
        case op @ Op.Upsert(keys) =>
          assert(keys.take(Gen.UpsertSize - Gen.NewOrd).forall(m.ord.contains))
          assert(keys.takeRight(Gen.NewOrd).forall(!m.ord.contains(_)))
          m(op)
        case op @ Op.DeleteRows(cs, os) =>
          assert(cs.forall(m.cust.contains) && os.forall(m.ord.contains))
          m(op)
        case op => m(op)
      }
    }
  }

  test("Zipf(1.1) ids: hot ids repeat, all ids stay in the key set") {
    val hot = new HotKeys(cust.toArray, 1.1, 3)
    val draws = hot.draw(new scala.util.Random(1), 5000)
    assert(draws.forall(id => id >= 0 && id < 500))
    val top = draws.groupBy(identity).values.map(_.size).max
    assert(top > 5000 / 20, s"most frequent id drawn only $top times")
  }
}
