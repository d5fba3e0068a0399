package perfbench

import graft.expr.FilterExpr.{Cmp, Lit, Prop}
import graft.model.GraphStore
import graft.operators.{GetNeighbors, GetProps, Kv, Lookup, Mutations, Scan}
import graft.sources.BucketedStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/**
 * serve_mixed: one closed-loop client; every cycle of 17 requests has 12
 * reads and 5 writes (29 % writes) over the customer and order tags and a
 * kv space, each held as a `BucketedStore` snapshot. Reads are
 * GetNeighbors over the orders as `placed` edges, GetProps, Lookup on a
 * covering index and Scan pages. `Gen` generates the requests from the
 * seed; every cycle leaves each table at the size it started with.
 *
 * A write reads the latest snapshot, applies a `Mutations` or `Kv`
 * operator and publishes the result with `BucketedStore.save` under the
 * table's other name (Spark cannot overwrite a table it is reading). The
 * order table carries a covering index on `o_custkey`, kept up to date
 * with `BucketedStore.indexApplyDelta`. A plain-Scala `Model` applies the
 * same writes; every read is checked against it, and every write is
 * followed by a read-your-writes check. Checks run after the request's
 * last call into the program, so they are in no request's time.
 */
object ServeMixed {
  val Buckets = 4
  val CustCols = Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
  val OrderCols = Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
  val IndexCols = Seq("o_custkey", GraphStore.VID, "o_totalprice")
  val Tables = Seq("cust", "ord", "ord_idx", "kv")
  /** Cycles a window holds at least; with fewer, slow and fast runs
    * would measure different request mixes. */
  val MinCycles = 3

  /** Which of each table's two names holds the latest snapshot. */
  final class Snapshots {
    private val gen = mutable.HashMap.from(Tables.map(_ -> 0))
    def current(t: String): String = s"${t}_${gen(t) % 2}"
    def next(t: String): String = s"${t}_${(gen(t) + 1) % 2}"
    def publish(t: String): Unit = gen(t) += 1
  }

  private val custSchema = StructType(Seq(
    StructField(GraphStore.VID, LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))
  private val kvSchema = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType)))

  private def frame(spark: SparkSession, rows: Seq[Row], schema: StructType) =
    spark.createDataFrame(rows.asJava, schema)

  private def keyFrame(spark: SparkSession, keys: Seq[Long]): DataFrame =
    frame(spark, keys.map(Row(_)), StructType(Seq(StructField(GraphStore.VID, LongType))))

  private def strKeyFrame(spark: SparkSession, keys: Seq[String]): DataFrame =
    frame(spark, keys.map(Row(_)), StructType(Seq(StructField("key", StringType))))

  /** Publish the initial snapshots: the "store load" of this workload. */
  def load(spark: SparkSession, dir: String, kv: Seq[(String, String)],
      snaps: Snapshots): Unit = {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .withColumnRenamed("c_custkey", GraphStore.VID)
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .withColumnRenamed("o_orderkey", GraphStore.VID)
    BucketedStore.save(cust, snaps.current("cust"), Buckets, Seq(GraphStore.VID))
    BucketedStore.save(ord, snaps.current("ord"), Buckets, Seq(GraphStore.VID))
    BucketedStore.rebuildIndex(ord, snaps.current("ord_idx"), Buckets, IndexCols)
    BucketedStore.save(frame(spark, kv.map { case (k, v) => Row(k, v) }, kvSchema),
      snaps.current("kv"), Buckets, Seq("key"))
  }

  /** Sends the generated requests to the program and checks each answer
    * against the model. */
  final class Client(h: Harness, m: Model, snaps: Snapshots) {
    import Op._
    private val spark = h.spark
    /** Rows and estimated bytes in the write batches, per request root. */
    val userRows = mutable.HashMap.empty[Long, (Long, Long)]

    private def load(req: Request, t: String): DataFrame =
      req.construct("sources.load")(BucketedStore.load(spark, snaps.current(t)))

    private def save(req: Request, df: DataFrame, t: String, key: String,
        layer: String = "sources.save"): Unit = {
      req.exec(layer)(BucketedStore.save(df, snaps.next(t), Buckets, Seq(key)))
      snaps.publish(t)
    }

    /** The latest snapshots as a graph: orders are also `placed` edges. */
    private def store(req: Request): GraphStore = {
      val ord = load(req, "ord")
      GraphStore(Map("customer" -> load(req, "cust"), "order" -> ord),
        Map("placed" -> ord.select(col("o_custkey").as(GraphStore.SRC),
          col(GraphStore.VID).as(GraphStore.DST), col(GraphStore.VID).as(GraphStore.RANK),
          col("o_orderstatus"), col("o_totalprice"))),
        Map("placed" -> 101))
    }

    /** The DataFrame answering a read, built from the latest snapshots. */
    private def query(req: Request, op: Read): DataFrame = op match {
      case Neighbors(ids, minPrice) =>
        val st = store(req)
        req.construct("operators.get_neighbors")(GetNeighbors.flat(st,
          GetNeighbors.Request(edgeTypes = Seq("placed"), vertexIds = Some(ids),
            direction = GetNeighbors.Out, edgeProps = Seq("o_orderstatus", "o_totalprice"),
            filter = Some(Cmp(">", Prop("o_totalprice"), Lit(minPrice))),
            limitPerVertex = Some(5))))
      case CustProps(ids) =>
        val st = store(req)
        req.construct("operators.get_props")(
          GetProps.vertices(st, "customer", ids, CustCols))
      case OrdProps(ids) =>
        val st = store(req)
        req.construct("operators.get_props")(
          GetProps.vertices(st, "order", ids, OrderCols))
      case IndexLookup(cust) =>
        val idx = load(req, "ord_idx")
        req.construct("operators.lookup")(Lookup(idx, Lookup.Request(
          contexts = Seq(Lookup.IndexQueryContext(Seq(Lookup.Prefix("o_custkey", cust)))),
          yieldCols = IndexCols, dedupKeys = Seq(GraphStore.VID))))
      case ScanPage(cursor) =>
        val cust = load(req, "cust")
        req.construct("operators.scan")(Scan.page(cust, GraphStore.VID,
          Seq("c_name", "c_acctbal"), limit = 100, cursor = Some(cursor)))
      case KvGet(keys) =>
        val space = load(req, "kv")
        req.construct("operators.kv")(Kv.get(space, strKeyFrame(spark, keys)))
    }

    private def compare(what: String, op: Read, df: DataFrame,
        rows: Array[Row]): Option[String] =
      Norm.diff(what, Norm.rows(rows, df.columns.toSeq), m.answer(op))

    /** Read-your-writes checks of a write, chosen before the model
      * applies it. */
    private def readBack(op: Write): Seq[Read] = op match {
      case AddRows(rows) => Seq(CustProps(rows.map(_._1).takeRight(10)))
      case Upsert(keys) => Seq(OrdProps(keys.take(5) ++ keys.takeRight(5)),
        IndexLookup(m.ord(keys.head).cust))
      case DeleteRows(cs, os) => Seq(CustProps(cs.take(10)), OrdProps(os.take(10)),
        IndexLookup(m.ord(os.head).cust))
      case KvPut(pairs) => Seq(KvGet(pairs.map(_._1).takeRight(10)))
      case KvRemove(keys) => Seq(KvGet(keys.take(10)))
    }

    /** Runs a read-your-writes check outside any request, so neither its
      * time nor its Spark jobs count for the write. */
    private def verify(what: String, op: Read): Option[String] = {
      val df = query(new Request(Span(-1L, "ryw", 0L, -1L, 0L, 0L), h.tracer), op)
      compare(s"read-your-writes after $what", op, df, df.collect())
    }

    private def family(op: Op): String = op match {
      case _: Neighbors => "get_neighbors"
      case _: CustProps | _: OrdProps => "get_props"
      case _: IndexLookup => "lookup"
      case _: ScanPage => "scan"
      case _: KvGet | _: KvPut | _: KvRemove => "kv"
      case _: Write => "mutations"
    }

    private def write(req: Request, op: Write): Unit = op match {
      case AddRows(rows) =>
        val incoming = frame(spark, rows.map { case (k, c) =>
          Row(k, c.name, c.nation, c.bal, c.seg) }, custSchema)
        val snap = load(req, "cust")
        val out = req.construct("operators.mutations")(Mutations.addRows(
          snap, incoming, Seq(GraphStore.VID), ifNotExists = false))
        req.plan(out)
        save(req, out, "cust", GraphStore.VID)
      case Upsert(keys) =>
        val snap = load(req, "ord")
        val idx = load(req, "ord_idx")
        val out = req.construct("operators.mutations")(Mutations.upsert(snap,
          keyFrame(spark, keys), Seq(GraphStore.VID), condition = None,
          sets = Seq("o_totalprice" -> (col("o_totalprice") + 1.0),
            "o_orderstatus" -> lit("U")),
          insertable = true,
          defaults = Map("o_custkey" -> (col(GraphStore.VID) % m.customers.toLong),
            "o_totalprice" -> lit(0.0), "o_orderpriority" -> lit("3-MEDIUM")))
          .drop("_inserted"))
        val delta = req.construct("sources.index_delta")(BucketedStore.indexApplyDelta(
          idx, out.filter(col(GraphStore.VID).isin(keys: _*)), Seq(GraphStore.VID),
          IndexCols))
        req.plan(out)
        save(req, out, "ord", GraphStore.VID)
        save(req, delta, "ord_idx", "o_custkey", layer = "sources.index_delta")
      case DeleteRows(cs, os) =>
        val (cust, ord, idx) = (load(req, "cust"), load(req, "ord"), load(req, "ord_idx"))
        val (ck, ok) = (keyFrame(spark, cs), keyFrame(spark, os))
        val (custOut, ordOut, idxOut) = req.construct("operators.mutations")(
          (Mutations.deleteRows(cust, ck, Seq(GraphStore.VID)),
            Mutations.deleteRows(ord, ok, Seq(GraphStore.VID)),
            Mutations.deleteRows(idx, ok, Seq(GraphStore.VID))))
        req.plan(ordOut)
        save(req, custOut, "cust", GraphStore.VID)
        save(req, ordOut, "ord", GraphStore.VID)
        save(req, idxOut, "ord_idx", "o_custkey")
      case KvPut(pairs) =>
        val space = load(req, "kv")
        val out = req.construct("operators.kv")(Kv.put(space,
          frame(spark, pairs.map { case (k, v) => Row(k, v) }, kvSchema)))
        req.plan(out)
        save(req, out, "kv", "key")
      case KvRemove(keys) =>
        val space = load(req, "kv")
        val out = req.construct("operators.kv")(Kv.remove(space, strKeyFrame(spark, keys)))
        req.plan(out)
        save(req, out, "kv", "key")
    }

    /** Rows and estimated bytes the user sent in a write. */
    private def userSize(op: Write): (Long, Long) = op match {
      case AddRows(rows) => (rows.size.toLong,
        rows.map { case (_, c) => 8L + c.name.length + 4 + 8 + c.seg.length }.sum)
      case Upsert(keys) => (keys.size.toLong, 8L * keys.size)
      case DeleteRows(cs, os) => ((cs.size + os.size).toLong, 8L * (cs.size + os.size))
      case KvPut(pairs) => (pairs.size.toLong,
        pairs.map { case (k, v) => (k.length + v.length).toLong }.sum)
      case KvRemove(keys) => (keys.size.toLong, keys.map(_.length.toLong).sum)
    }

    /** Sends one request; a read is checked against the model, a write is
      * applied to the model and then read back. */
    def run(op: Op, cycle: Int, traced: Boolean): OpRecord = op match {
      case r: Read =>
        h.run(r.kind, family(r), write = false, 0, cycle, traced) { req =>
          val df = query(req, r)
          req.plan(df)
          val rows = req.exec("exec")(df.collect())
          compare(r.kind, r, df, rows)
        }
      case w: Write =>
        val (checks, size) = (readBack(w), userSize(w))
        val rec = h.run(w.kind, family(w), write = true, 0, cycle, traced) { req =>
          userRows(req.root.id) = size
          write(req, w)
          None
        }
        m(w)
        if (rec.error.nonEmpty) rec
        else rec.copy(error = try checks.iterator.flatMap(verify(w.kind, _)).nextOption()
          catch { case e: Throwable => Some(s"read-your-writes after ${w.kind} threw $e") })
    }
  }

  /** Data files in the latest snapshot of every table. */
  def liveFiles(work: String, snaps: Snapshots): Int = Tables.map { t =>
    Option(new java.io.File(s"$work/warehouse/${snaps.current(t)}").listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
  }.sum

  def run(h: Harness, dir: String, work: String, seed: Long, seconds: Double): Outcome = {
    val spark = h.spark
    val kvRnd = new Random(seed)
    val kv = (0 until 2000).map(i => f"k$i%07d" -> s"v${kvRnd.nextInt(1000000)}")
    val snaps = new Snapshots
    // one load only: it publishes four bucketed tables (about 10 s cold)
    val loadS = Clock.seconds(load(spark, dir, kv, snaps))
    Clock.step("store loaded")
    val m = Model.load(dir, kv)
    Clock.step("model built")
    val gen = new Gen(m.cust.keys, m.ord.keys, kv.map(_._1), seed)
    val client = new Client(h, m, snaps)
    // warm-up: the stream's first cycle, untimed
    val (warm, warmS) = Clock.timed(gen.cycle().map(client.run(_, -1, traced = false)))
    Clock.step(f"warm-up done in $warmS%.2f s")
    val win = Window.closedLoop(h, 1, seconds, MinCycles) { (_, cycle) =>
      gen.cycle().map(client.run(_, cycle, Window.traced(h, cycle)))
    }

    val layer = mutable.LinkedHashMap("sources.live_files" -> liveFiles(work, snaps).toDouble)
    if (h.tracer.enabled) {
      val tracedWrites = win.ops.filter(o => o.write && o.traced && o.error.isEmpty)
      val c = new Counts
      tracedWrites.foreach(o => c += h.tracer.listener.of(o.root))
      val user = tracedWrites.flatMap(o => client.userRows.get(o.root))
      val (rows, bytes) = (user.map(_._1).sum, user.map(_._2).sum)
      layer("sources.rows_written_per_row_changed") = c.recordsWritten / math.max(1L, rows).toDouble
      layer("sources.bytes_written_per_user_byte") = c.bytesWritten / math.max(1L, bytes).toDouble
    }
    Outcome(warm, win, loadS, warmS, MinCycles * Gen.Cycle.size, layer.toMap)
  }
}
