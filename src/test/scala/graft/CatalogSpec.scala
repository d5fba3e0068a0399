package graft

import graft.catalog.{Catalog, CatalogReader, SchemaEvolution}
import graft.expr.FilterExpr
import graft.expr.FilterExpr._
import graft.model.GraphStore
import graft.sources.BucketedStore
import org.apache.spark.sql.functions._

class CatalogReaderSpec extends SparkSpec {
  import spark.implicits._

  test("catalog read applies TTL + evolved defaults + fixed width") {
    val rows = Seq(
      (1L, 1, "alice_longname", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, 2, "bo", java.sql.Timestamp.valueOf("2024-01-15 00:00:00")),
      (3L, 2, "expired", java.sql.Timestamp.valueOf("2023-01-01 00:00:00")))
      .toDF("_vid", SchemaEvolution.VersionCol, "name", "ts")
    val store = GraphStore(Map("t" -> rows), Map.empty, Map.empty)
    val space = Catalog.SpaceDef("s",
      tags = Map("t" -> Catalog.TagDef("t",
        fields = Seq(
          Catalog.FieldDef("name", sinceVersion = 2,
            default = Some(lit("dflt")), fixedWidth = Some(6))),
        ttl = Some(Catalog.TtlDef("ts", 86400L * 30)))),
      edges = Map.empty)
    val now = to_timestamp(lit("2024-01-20 00:00:00"))
    val out = CatalogReader.readTag(store, space, "t", now)
      .select("_vid", "name").as[(Long, String)].collect().toMap
    assert(!out.contains(3L)) // TTL-expired row invisible
    assert(out(1L) == "dflt  ") // v1 row: default, then fixed to width 6
    assert(out(2L) == "bo    ") // stored value padded
  }
}

class BucketedStoreSpec extends SparkSpec {

  // a previous JVM's in-memory catalog forgot these managed tables but
  // their warehouse directories survive — clear them or saveAsTable
  // refuses with LOCATION_ALREADY_EXISTS
  private def clearStale(tables: String*): Unit = tables.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(s"spark-warehouse/$t")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(loc)
    }
  }

  test("bucketed tables join without an exchange (colocated join)") {
    clearStale("bk_customer", "bk_placed")
    val store = GraphStore.cached(spark, sfDir)
    BucketedStore.save(store.tag("customer"), "bk_customer", 4, Seq("_vid"))
    BucketedStore.save(store.edge("placed"), "bk_placed", 4, Seq("_src"))
    val c = BucketedStore.load(spark, "bk_customer")
    val e = BucketedStore.load(spark, "bk_placed")
    val joined = e.join(c, e("_src") === c("_vid"))
    val plan = joined.queryExecution.executedPlan.toString
    // neither side may shuffle: bucket layout == reference's part
    // colocation of a vertex with its edges
    assert(!plan.contains("Exchange hashpartitioning"),
      s"unexpected shuffle in:\n$plan")
    assert(joined.count() == store.edge("placed").count())
  }

  test("alternating snapshots of bound writes: every load sees the latest rows") {
    import spark.implicits._
    // the serve path's publish cycle: read the latest snapshot, apply a
    // mutation (bound to the interpreted child session), save it under
    // the table's other name, read it back through the caller's session
    val names = Seq("bk_gen_0", "bk_gen_1")
    clearStale(names: _*)
    var model = (1L to 20L).map(k => k -> s"v$k").toMap
    BucketedStore.save(model.toSeq.toDF("id", "v"), names(0), 2, Seq("id"))
    (1 to 3).foreach { g =>
      val cur = BucketedStore.load(spark, names((g - 1) % 2))
      val batch = Seq(1L -> s"u$g", (100L + g) -> s"n$g")
      val out = graft.operators.Mutations.addRows(cur, batch.toDF("id", "v"),
        Seq("id"), ifNotExists = false)
      assert(out.sparkSession ne spark, "small mutation was not bound")
      BucketedStore.save(out, names(g % 2), 2, Seq("id"))
      model = model ++ batch
      // a DROP issued from the child session would leave this load on
      // the caller's stale cached relation of two generations ago
      val back = BucketedStore.load(spark, names(g % 2)).as[(Long, String)]
        .collect().toMap
      assert(back == model, s"generation $g read a stale snapshot")
    }
  }

  test("compact merges small files, preserving rows (CompactTask)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact")
      .resolve("frag").toString
    val store = GraphStore.cached(spark, sfDir)
    // simulate small-file proliferation: 24 one-partition micro-batches
    store.tag("customer").repartition(24)
      .write.mode("overwrite").parquet(dir)
    val before = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(before >= 20, s"fixture not fragmented: $before files")
    val sumBefore = spark.read.parquet(dir)
      .agg(org.apache.spark.sql.functions.sum("_vid")).head.getLong(0)
    val nBefore = spark.read.parquet(dir).count()
    val after = BucketedStore.compact(spark, dir, targetFileBytes = 64L << 20)
    assert(after <= 2, s"still fragmented after compact: $after files")
    assert(spark.read.parquet(dir).count() == nBefore)
    assert(spark.read.parquet(dir)
      .agg(org.apache.spark.sql.functions.sum("_vid")).head.getLong(0)
      == sumBefore)
  }

  test("rebuildIndex materializes a covering sorted projection") {
    clearStale("bk_part_idx")
    val store = GraphStore.cached(spark, sfDir)
    BucketedStore.rebuildIndex(store.tag("part"), "bk_part_idx", 4,
      Seq("p_size", "p_brand"))
    val idx = BucketedStore.load(spark, "bk_part_idx")
    assert(idx.columns.toSeq == Seq("p_size", "p_brand"))
    assert(idx.count() == store.tag("part").count())
  }

  test("indexApplyDelta replaces touched entries, equals a rebuild") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "nm")
    val oldIdx = base.select(col("nm"), col("id"))
    // row 2 renamed, row 4 inserted; rows 1 and 3 untouched
    val delta = Seq((2L, "B2"), (4L, "d")).toDF("id", "nm")
    val inc = BucketedStore.indexApplyDelta(oldIdx, delta,
      Seq("id"), Seq("nm", "id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(inc == Set(("a", 1L), ("c", 3L), ("B2", 2L), ("d", 4L)))
    // key not covered by the index -> loud failure, not silent corruption
    intercept[IllegalArgumentException] {
      BucketedStore.indexApplyDelta(oldIdx, delta, Seq("id"), Seq("nm"))
    }
  }
}

class HigherOrderExprSpec extends SparkSpec {
  import spark.implicits._

  val df = Seq((1L, Seq(1, 2, 3)), (2L, Seq(10, 20))).toDF("id", "xs")

  test("list literal / any / all / comprehension / reduce") {
    assert(df.filter(FilterExpr.predicate(
        AnyMatch(Prop("xs"), x => x > 15)))
      .select("id").as[Long].collect().toSeq == Seq(2L))
    assert(df.filter(FilterExpr.predicate(
        AllMatch(Prop("xs"), x => x < 5)))
      .select("id").as[Long].collect().toSeq == Seq(1L))
    val comp = df.select(FilterExpr.compile(
      Comprehension(Prop("xs"), x => x % 2 === 1, x => x * 10)).as("c"))
      .as[Seq[Int]].collect().toSeq
    assert(comp == Seq(Seq(10, 30), Seq.empty))
    val red = df.select(FilterExpr.compile(
      Reduce(Prop("xs"), Lit(0), (acc, x) => acc + x)).as("r"))
      .as[Int].collect().toSeq
    assert(red == Seq(6, 30))
    val ll = df.select(FilterExpr.compile(
      ListLit(Seq(Lit(1), Lit(2)))).as("l")).as[Seq[Int]].head()
    assert(ll == Seq(1, 2))
  }
}

/** Plan shapes 2/4: materialized index scan -> base-row fetch. */
class IndexFetchSpec extends SparkSpec {
  test("viaIndex returns the same rows as a direct filtered scan") {
    val part = GraphStore.table(spark, sfDir, "part")
    val index = part.select("p_size", "p_brand", "p_partkey") // covering proj
    val req = graft.operators.Lookup.Request(
      contexts = Seq(graft.operators.Lookup.IndexQueryContext(
        Seq(graft.operators.Lookup.Prefix("p_size", 10)),
        residual = Some(graft.expr.FilterExpr.Cmp(">",
          graft.expr.FilterExpr.Prop("p_retailprice"),
          graft.expr.FilterExpr.Lit(500.0))))),
      yieldCols = Seq("p_partkey", "p_name", "p_retailprice"),
      dedupKeys = Seq("p_partkey"))
    val got = graft.operators.Lookup.viaIndex(index, part,
      Seq("p_partkey"), req)
    val direct = part.filter(col("p_size") === 10 &&
        col("p_retailprice") > 500.0)
      .select("p_partkey", "p_name", "p_retailprice")
    assert(got.except(direct).isEmpty && direct.except(got).isEmpty)
  }
}

/** Recall@k: full probe = exact; fewer probes trade recall. */
class RecallSpec extends SparkSpec {
  import graft.pipeline.Similarity
  test("recall@k is 1.0 when probing all cells, <=1 otherwise") {
    val emb = GraphStore.table(spark, sfDir, "embeddings")
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      Seq(5L, 6L), k = 5)
    val full = Similarity.ivfTopK(emb, "vec_id", "embedding",
      Seq(5L, 6L), k = 5, nCells = 8, nProbe = 8)
    assert(Similarity.recallAtK(exact, full) == 1.0)
    val partial = Similarity.ivfTopK(emb, "vec_id", "embedding",
      Seq(5L, 6L), k = 5, nCells = 8, nProbe = 1)
    val r = Similarity.recallAtK(exact, partial)
    assert(r >= 0.0 && r <= 1.0)
    // the distributed per-query frame averages to the scalar metric
    val perQ = Similarity.recallPerQuery(exact, partial)
      .agg(org.apache.spark.sql.functions.sum("n_hit"),
        org.apache.spark.sql.functions.sum("n_exact")).head
    assert(math.abs(perQ.getLong(0).toDouble / perQ.getLong(1) - r) < 1e-9)
  }
}
