package perfbench

import scala.collection.mutable
import scala.util.Random

/** Zipf(s) over ranks 0..n-1: rank r is drawn with weight 1/(r+1)^s. */
final class Zipf(n: Int, s: Double) {
  require(n >= 1, "Zipf needs at least one item")
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def sample(rnd: Random): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Draws ids from a key set with Zipf popularity; which key is hot is a
  * seeded permutation, so hot keys are spread over the key range. */
final class HotKeys(keys: Array[Long], s: Double, seed: Long) {
  private val byRank: Array[Long] = new Random(seed).shuffle(keys.toSeq).toArray
  private val zipf = new Zipf(byRank.length, s)
  def draw(rnd: Random): Long = byRank(zipf.sample(rnd))
  def draw(rnd: Random, k: Int): Seq[Long] = Seq.fill(k)(draw(rnd))
}

/** A live key set that supports Zipf and uniform draws, and removal. */
final class Keys[K](init: Iterable[K], s: Double = 1.1) {
  private val buf = mutable.ArrayBuffer.from(init)
  private val pos = mutable.HashMap.from(buf.zipWithIndex)
  private val zipf = new Zipf(math.max(1, buf.size), s)
  def size: Int = buf.size
  def draw(rnd: Random): K = buf(rnd.nextInt(buf.size))
  /** A Zipf draw over the keys' current positions. */
  def hot(rnd: Random): K = buf(math.min(zipf.sample(rnd), buf.size - 1))
  def add(k: K): Unit = if (!pos.contains(k)) { pos(k) = buf.size; buf += k }
  def remove(k: K): Unit = pos.remove(k).foreach { i =>
    val last = buf.remove(buf.size - 1)
    if (i < buf.size) { buf(i) = last; pos(last) = i }
  }
  /** `n` distinct keys, drawn uniformly. */
  def distinct(rnd: Random, n: Int): Seq[K] = {
    val out = mutable.LinkedHashSet.empty[K]
    while (out.size < math.min(n, buf.size)) out += draw(rnd)
    out.toSeq
  }
}

final case class Cust(name: String, nation: Int, bal: Double, seg: String)
final case class Ord(cust: Long, status: String, price: Double, priority: String)

/** One serve_mixed request, as generated: everything the program is sent. */
sealed trait Op { def kind: String; def write: Boolean }

object Op {
  sealed trait Read extends Op { val write = false }
  sealed trait Write extends Op { val write = true }
  /** GetNeighbors.flat over `placed`, Out, filter on price, limit 5. */
  final case class Neighbors(ids: Seq[Long], minPrice: Double)
      extends Read { val kind = "gn_out" }
  /** GetProps.vertices on customer. */
  final case class CustProps(ids: Seq[Long]) extends Read { val kind = "props_cust" }
  /** GetProps.vertices on order. */
  final case class OrdProps(ids: Seq[Long]) extends Read { val kind = "props_ord" }
  /** Lookup on the order index by customer. */
  final case class IndexLookup(cust: Long) extends Read { val kind = "lookup_idx" }
  /** Scan.page over customer from a cursor. */
  final case class ScanPage(cursor: Long) extends Read { val kind = "scan" }
  /** Kv.get; only used by read-your-writes checks. */
  final case class KvGet(keys: Seq[String]) extends Read { val kind = "kv_get" }
  /** Mutations.addRows on customer. */
  final case class AddRows(rows: Seq[(Long, Cust)]) extends Write { val kind = "add_rows" }
  /** Mutations.upsert on order (and its index). */
  final case class Upsert(keys: Seq[Long]) extends Write { val kind = "upsert" }
  /** Mutations.deleteRows on customer, order and the order index. */
  final case class DeleteRows(cust: Seq[Long], ord: Seq[Long])
      extends Write { val kind = "delete_rows" }
  /** Kv.put. */
  final case class KvPut(pairs: Seq[(String, String)]) extends Write { val kind = "kv_put" }
  /** Kv.remove. */
  final case class KvRemove(keys: Seq[String]) extends Write { val kind = "kv_remove" }
}

/**
 * The seeded serve_mixed request stream. It tracks which keys its own
 * writes leave live, so a seed always gives the same sequence, whatever
 * the timing, and needs no answer from the program.
 *
 * Every cycle inserts as many keys into each table as it deletes, so the
 * tables keep their size however many cycles a run fits: add_rows brings
 * 100 new customers and delete_rows takes 100 away; upsert inserts 20
 * orders and delete_rows deletes 20; kv_put adds 50 keys and kv_remove
 * removes 50.
 */
final class Gen(cust: Iterable[Long], ord: Iterable[Long], kv: Iterable[String],
    seed: Long) {
  import Gen._
  import Op._
  private val rnd = new Random(seed * 1000003L + 7)
  private val perm = new Random(seed)
  private val custKeys = new Keys(perm.shuffle(cust.toSeq.sorted))
  private val ordKeys = new Keys(perm.shuffle(ord.toSeq.sorted))
  private val kvKeys = new Keys(kv.toSeq.sorted)
  /** Customers the orders refer to; a fixed domain, so GetNeighbors and
    * index lookups keep finding orders while customers are replaced. */
  private val buyers = new HotKeys(cust.toArray.sorted, 1.1, seed + 1)
  private var nextCust = cust.max + 1
  private var nextOrder = ord.max + 1
  private var writes = 0

  def next(kind: String): Op = kind match {
    case "gn_out" =>
      Neighbors(buyers.draw(rnd, 10), 50000.0 + rnd.nextInt(250) * 1000.0)
    case "props_cust" => CustProps(Seq.fill(10)(custKeys.hot(rnd)))
    case "props_ord" => OrdProps(Seq.fill(10)(ordKeys.hot(rnd)))
    case "lookup_idx" => IndexLookup(buyers.draw(rnd))
    case "scan" => ScanPage(rnd.nextLong(nextCust))
    case _ => writes += 1; nextWrite(kind)
  }

  private def nextWrite(kind: String): Op = kind match {
    case "add_rows" =>
      val keys = custKeys.distinct(rnd, AddRowsSize - NewCust) ++
        (nextCust until nextCust + NewCust)
      nextCust += NewCust
      keys.foreach(custKeys.add)
      AddRows(keys.map(k => k -> Cust(s"Customer#w${writes}k$k", rnd.nextInt(25),
        rnd.nextInt(1100000) / 100.0 - 1000.0, Segments(rnd.nextInt(5)))))
    case "upsert" =>
      val keys = ordKeys.distinct(rnd, UpsertSize - NewOrd) ++
        (nextOrder until nextOrder + NewOrd)
      nextOrder += NewOrd
      keys.foreach(ordKeys.add)
      Upsert(keys)
    case "delete_rows" =>
      val (cs, os) = (custKeys.distinct(rnd, NewCust), ordKeys.distinct(rnd, NewOrd))
      cs.foreach(custKeys.remove); os.foreach(ordKeys.remove)
      DeleteRows(cs, os)
    case "kv_put" =>
      val fresh = (0 until KvNew).map(i => f"n$writes%06d-$i%02d")
      val pairs = (kvKeys.distinct(rnd, KvNew) ++ fresh)
        .map(k => k -> s"v$writes-${rnd.nextInt(1000000)}")
      fresh.foreach(kvKeys.add)
      KvPut(pairs)
    case "kv_remove" =>
      val keys = kvKeys.distinct(rnd, KvNew)
      keys.foreach(kvKeys.remove)
      KvRemove(keys)
  }

  /** The next cycle: every cycle has the same mix, so every window does. */
  def cycle(): Seq[Op] = Cycle.map(next)
}

object Gen {
  /** One cycle of 12 reads and 5 writes. */
  val Cycle: Seq[String] = Seq("gn_out", "props_cust", "add_rows", "lookup_idx",
    "scan", "upsert", "props_ord", "gn_out", "lookup_idx", "delete_rows",
    "props_cust", "scan", "kv_put", "gn_out", "props_ord", "lookup_idx", "kv_remove")
  val AddRowsSize = 1000
  val NewCust = 100
  val UpsertSize = 100
  val NewOrd = 20
  val KvNew = 50
  val Segments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
}
