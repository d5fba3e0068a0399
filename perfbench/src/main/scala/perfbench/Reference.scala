package perfbench

import org.apache.spark.sql.Row

import scala.collection.mutable

/** Canonical text form of result rows, so Spark rows and plain-Scala
  * reference rows compare as sorted multisets. */
object Norm {
  def cell(v: Any): String = v match {
    case null => "null"
    case i: Int => i.toLong.toString
    case s: Short => s.toLong.toString
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }

  def row(cells: Any*): String = cells.map(cell).mkString("|")

  def rows(rs: Array[Row], cols: Seq[String]): Seq[String] =
    rs.toSeq.map(r => cols.map(c => cell(r.getAs[Any](c))).mkString("|")).sorted

  /** None when equal; otherwise a short description of the difference. */
  def diff(what: String, got: Seq[String], want: Seq[String]): Option[String] =
    if (got == want) None
    else {
      val extra = got.diff(want).take(2)
      val missing = want.diff(got).take(2)
      Some(s"$what: got ${got.size} rows, want ${want.size}; " +
        s"unexpected ${extra.mkString("[", "; ", "]")} " +
        s"missing ${missing.mkString("[", "; ", "]")}")
    }
}

/**
 * The expected content of serve_mixed's tables, kept in plain Scala. It
 * applies every write the program is sent and answers every read, so
 * each answer is checked against it.
 */
final class Model(val cust: mutable.HashMap[Long, Cust],
    val ord: mutable.HashMap[Long, Ord], val kv: mutable.HashMap[String, String]) {
  import Op._

  /** Customers at load; new orders are placed by `key % customers`. */
  val customers: Int = cust.size

  def apply(op: Op): Unit = op match {
    case AddRows(rows) => rows.foreach { case (k, c) => cust(k) = c }
    case Upsert(keys) => keys.foreach { k =>
      ord(k) = ord.get(k) match {
        case Some(o) => o.copy(status = "U", price = o.price + 1.0)
        case None => Ord(k % customers, "U", 1.0, "3-MEDIUM")
      }
    }
    case DeleteRows(cs, os) => cs.foreach(cust.remove); os.foreach(ord.remove)
    case KvPut(pairs) => pairs.foreach { case (k, v) => kv(k) = v }
    case KvRemove(keys) => keys.foreach(kv.remove)
    case _: Read =>
  }

  /** Expected rows of a read, sorted, in the columns it yields. */
  def answer(op: Read): Seq[String] = (op match {
    case Neighbors(ids, minPrice) =>
      val want = ids.toSet
      ord.toSeq.filter { case (_, o) => want(o.cust) && o.price > minPrice }
        .groupBy(_._2.cust).toSeq.flatMap { case (c, os) =>
          os.sortBy(_._1).take(5).map { case (k, o) =>
            Norm.row(c, 101, k, k, o.status, o.price) }
        }
    case CustProps(ids) => ids.distinct.flatMap(k => cust.get(k).map(c =>
      Norm.row(k, c.name, c.nation, c.bal, c.seg)))
    case OrdProps(ids) => ids.distinct.flatMap(k => ord.get(k).map(o =>
      Norm.row(k, o.cust, o.status, o.price, o.priority)))
    case IndexLookup(c) => ord.iterator.filter(_._2.cust == c)
      .map { case (k, o) => Norm.row(c, k, o.price) }.toSeq
    case ScanPage(cursor) => cust.keys.filter(_ > cursor).toSeq.sorted.take(100)
      .map(k => Norm.row(k, cust(k).name, cust(k).bal))
    case KvGet(keys) => keys.distinct.flatMap(k => kv.get(k).map(v => Norm.row(k, v)))
  }).sorted
}

object Model {
  /** The model of the generated customer and order tables (from the
    * generator's raw columns, see `perfbench/datagen.py`) and `kv`. */
  def load(dir: String, kv: Seq[(String, String)]): Model = {
    val r = new Raw(dir)
    val (name, nation, bal, seg) = (r.strings("customer", "c_name"),
      r.ints("customer", "c_nationkey"), r.doubles("customer", "c_acctbal"),
      r.strings("customer", "c_mktsegment"))
    val (cust, status, price, prio) = (r.longs("orders", "o_custkey"),
      r.strings("orders", "o_orderstatus"), r.doubles("orders", "o_totalprice"),
      r.strings("orders", "o_orderpriority"))
    new Model(
      mutable.HashMap.from(name.indices.map(i =>
        i.toLong -> Cust(name(i), nation(i), bal(i), seg(i)))),
      mutable.HashMap.from(cust.indices.map(i =>
        i.toLong -> Ord(cust(i), status(i), price(i), prio(i)))),
      mutable.HashMap.from(kv))
  }
}

/** Reads the generator's raw little-endian columns and text columns. */
final class Raw(dir: String) {
  import java.nio.{ByteBuffer, ByteOrder}
  import java.nio.file.{Files, Paths}

  private def buf(table: String, col: String, ext: String): ByteBuffer =
    ByteBuffer.wrap(Files.readAllBytes(Paths.get(dir, "raw", s"$table.$col.$ext")))
      .order(ByteOrder.LITTLE_ENDIAN)

  def longs(table: String, col: String): Array[Long] = {
    val b = buf(table, col, "i64").asLongBuffer()
    val a = new Array[Long](b.remaining()); b.get(a); a
  }

  def ints(table: String, col: String): Array[Int] = {
    val b = buf(table, col, "i32").asIntBuffer()
    val a = new Array[Int](b.remaining()); b.get(a); a
  }

  def doubles(table: String, col: String): Array[Double] = {
    val b = buf(table, col, "f64").asDoubleBuffer()
    val a = new Array[Double](b.remaining()); b.get(a); a
  }

  def strings(table: String, col: String): Array[String] =
    Files.readString(Paths.get(dir, "raw", s"$table.$col.txt")).split("\n", -1)
}
