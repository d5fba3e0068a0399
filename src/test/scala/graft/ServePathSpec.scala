package graft

import graft.analytics.GraphAnalytics
import graft.expr.FilterExpr.{Cmp, Lit, Prop}
import graft.model.GraphStore
import graft.operators.{GetNeighbors, GetProps, Lookup, Scan}
import graft.sources.BucketedStore
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, GraftExpressionBridge}
import org.apache.spark.sql.functions._

/** The serve binding ([[StaticPlan.bindSmall]]): per-request operators
  * over a small snapshot run interpreted in a child session, so a
  * request with fresh literals compiles no Janino class, returns the
  * rows codegen returns, and leaves the caller's session as it was. */
class ServePathSpec extends SparkSpec {
  private val WholeStage = "spark.sql.codegen.wholeStage"
  // internal Spark conf: if a Spark upgrade stops honouring it, the
  // zero-compile assertions below fail loudly
  private val FactoryMode = "spark.sql.codegen.factoryMode"
  private val Tz = "spark.sql.session.timeZone"

  private lazy val store: GraphStore = {
    val cust = spark.range(1, 301).select(col("id").as(GraphStore.VID),
      concat(lit("c"), col("id")).as("c_name"), (col("id") % 25).as("c_nation"))
    val ord = spark.range(1, 3001).select(col("id").as(GraphStore.VID),
      (col("id") % 300 + 1).as("o_custkey"),
      (col("id") * 7 % 1000).cast("double").as("o_totalprice"))
    Seq("sp_cust" -> cust, "sp_ord" -> ord).foreach { case (t, df) =>
      BucketedStore.save(df, t, 4, Seq(GraphStore.VID))
    }
    val o = BucketedStore.load(spark, "sp_ord")
    GraphStore(Map("customer" -> BucketedStore.load(spark, "sp_cust"), "order" -> o),
      Map("placed" -> o.select(col("o_custkey").as(GraphStore.SRC),
        col(GraphStore.VID).as(GraphStore.DST), col(GraphStore.VID).as(GraphStore.RANK),
        col("o_totalprice"))),
      Map("placed" -> 101))
  }

  // every call uses literals no earlier call used
  private var fresh = 0L
  private def next(): Long = { fresh += 1; fresh }

  private val requests: Seq[(String, () => DataFrame)] = Seq(
    "GetProps" -> (() => GetProps.vertices(store, "customer",
      Seq(next(), next() + 100, next() + 200), Seq("c_name", "c_nation"))),
    "Lookup" -> (() => Lookup(store.tag("order"), Lookup.Request(
      Seq(Lookup.IndexQueryContext(Seq(Lookup.Prefix("o_custkey", next() % 300 + 1)))),
      Seq(GraphStore.VID, "o_totalprice"), Seq(GraphStore.VID)))),
    "Scan" -> (() => Scan.page(store.tag("customer"), GraphStore.VID,
      Seq("c_name"), limit = 20, cursor = Some(next() % 250))),
    "GetNeighbors" -> (() => GetNeighbors.flat(store, GetNeighbors.Request(
      edgeTypes = Seq("placed"), vertexIds = Some(Seq(next() % 300 + 1, next() % 300 + 1)),
      edgeProps = Seq("o_totalprice"),
      filter = Some(Cmp(">", Prop("o_totalprice"), Lit(next().toDouble))),
      limitPerVertex = Some(5)))))

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  requests.foreach { case (name, request) =>
    test(s"$name on a small snapshot compiles nothing and matches codegen") {
      sorted(request()) // first call: JIT and file listings, not counted
      val df = request()
      assert(df.sparkSession ne spark, "small result was not bound")
      val before = compiles
      val rows = sorted(df)
      assert(compiles == before, s"$name compiled ${compiles - before} classes")
      // the same analyzed plan, run with the caller's codegen settings
      assert(rows == sorted(GraftExpressionBridge.rebind(spark, df)))
    }
  }

  test("an armed 3-round pageRank compiles nothing inside its rounds") {
    val store = Cliques.store(Cliques.edges(spark))
    // evict the JVM-wide codegen cache (100 entries): 150 stages, each
    // its own class
    (1 to 150).map(i => spark.range(1).select((col("id") + lit(i * 7919L)).as("x")))
      .reduce(_ union _).collect()
    // one round compiles the gate count and the few classes Spark
    // generates even interpreted, once per schema: the cache scans'
    // column accessors and the partial aggregate's row joiner
    GraphAnalytics.pageRank(store, Seq("e"), iters = 1)
    val before = compiles
    try GraphAnalytics.pageRank(store, Seq("e"), iters = 3)
    finally CacheScope.drain(spark)
    assert(compiles == before,
      s"the rounds compiled ${compiles - before} classes")
  }

  test("a frame over the bound stays on the caller's session") {
    val big = spark.range(1L << 40).toDF("id")
    assert(GraftExpressionBridge.leafBytes(big) >= StaticPlan.SmallBytes)
    val out = StaticPlan.bindSmall(big)
    assert(out eq big)
    assert(out.sparkSession eq spark)
  }

  test("a bound frame is returned as it is") {
    val bound = StaticPlan.bindSmall(spark.range(10).toDF("id"))
    assert(bound.sparkSession ne spark)
    assert(StaticPlan.bindSmall(bound) eq bound)
    assert(StaticPlan.rootOf(bound.sparkSession) eq spark)
  }

  test("the caller's codegen confs are untouched") {
    val confs = Seq(WholeStage, FactoryMode).map(k => k -> spark.conf.getOption(k))
    val bound = requests.map(_._2())
    bound.foreach(_.collect())
    val child = bound.head.sparkSession
    assert(child.conf.get(WholeStage) == "false")
    assert(child.conf.get(FactoryMode) == "NO_CODEGEN")
    assert(confs.forall { case (k, v) => spark.conf.getOption(k) == v })
  }

  test("a frame bound after a caller's time-zone change uses the new zone") {
    val zone = spark.conf.get(Tz)
    val epoch = from_unixtime(lit(0L))
    StaticPlan.bindSmall(spark.range(1).toDF("id")).collect()
    try {
      spark.conf.set(Tz, "America/Los_Angeles")
      // the select resolves in the bound frame's session
      val bound = StaticPlan.bindSmall(spark.range(1).toDF("id"))
      assert(bound.sparkSession ne spark)
      assert(bound.select(epoch).head.getString(0) == "1969-12-31 16:00:00")
    } finally spark.conf.set(Tz, zone)
    val back = StaticPlan.bindSmall(spark.range(1).toDF("id"))
    assert(back.select(epoch).head == spark.range(1).select(epoch).head)
  }
}
