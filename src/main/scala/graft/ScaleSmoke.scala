package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Dedup

/**
 * Scale-headroom smoke: amplify the sf0.1 fixtures in-memory (N copies,
 * keys offset, text perturbed so copies aren't trivial exact dups) and
 * run the heaviest pipelines. The point is the SHAPE of the scaling
 * curve — a linear operator on 10x data should cost ~10x its marginal
 * per-row time, not 100x — catching quadratic blowups the fixed-SF
 * bench can't see. Results recorded in PLANS.md.
 */
object ScaleSmoke {
  /** Optional substring filter (SPARK_GRAFT_SMOKE_ONLY=ktruss,hits)
    * for isolating rows during iteration; fixtures still materialize. */
  private val only: Option[Seq[String]] =
    sys.env.get("SPARK_GRAFT_SMOKE_ONLY").map(_.split(",").toSeq)

  // set in main; lets time() sweep op-created RDD pins (localCheckpoint
  // blocks, GraphX RDDs) without touching the amplified fixtures
  @volatile private var sc: org.apache.spark.SparkContext = _

  def time(label: String)(f: => Long): Unit = {
    if (only.exists(pats => !pats.exists(label.contains) &&
        !label.contains("materialize"))) return
    val before = sc.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    val n = f
    println(f"SMOKE $label%-30s ${(System.nanoTime() - t0) / 1e9}%6.2f s  ($n rows)")
    // operator-internal persists must not accrete into the next
    // measurement; the smoke's own amplified fixtures stay cached.
    // drainRegistered alone leaks each op's FINAL localCheckpoint
    // blocks (they are not CacheScope-registered) — with 100+ rows of
    // checkpoint-rotating ops that creep OOM'd the 8g close run, so
    // every RDD pinned DURING the row is swept by id here.
    CacheScope.drainRegistered()
    if (!label.contains("materialize")) // fixture rows pin THEIR blocks
      (sc.getPersistentRDDs.keySet -- before).foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(
          org.apache.spark.sql.GraftExpressionBridge.dropBlocks))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_AMPLIFY", "10").toInt
    // r17 (VERDICT #7): the smoke honors the bench's core-count env so
    // the 10x amplified rows can be swept at 8 vs 32 cores — the
    // parallel-scaling shape sf0.1 itself cannot show (job floor).
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toInt)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    def amplify(df: DataFrame, keyCols: Seq[String], textCol: Option[String]): DataFrame = {
      val copies = spark.range(factor).select(col("id").as("_copy"))
      var out = df.crossJoin(copies)
      keyCols.foreach { k =>
        out = out.withColumn(k, col(k) + col("_copy") * 10000000L)
      }
      textCol.foreach { t =>
        // perturb: suffix differs per copy so copies are near-dups, not
        // exact dups (exercises the verify stage, not just exact hash)
        out = out.withColumn(t,
          concat(col(t), lit(" copytag"), col("_copy")))
      }
      out.drop("_copy")
    }

    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
    val docs = amplify(docs0, Seq("doc_id"), Some("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    val edges = amplify(li0, Seq("l_orderkey", "l_partkey"), None)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    println(s"amplification factor: $factor")
    time("docs materialize")(docs.count())
    time("edges materialize")(edges.count())

    time(s"minhash sigs ${factor}x")(
      Dedup.minhashSignatures(docs, "doc_id", "text", 4, 8).count())
    time(s"lsh candidates ${factor}x")(
      Dedup.lshCandidatePairs(
        Dedup.minhashSignatures(docs, "doc_id", "text", 4, 8), 8, 4,
        maxBucketSize = 64).count())
    time(s"dedup pipeline ${factor}x")(
      Dedup.dedupPipeline(docs, "doc_id", "text", 4, 8, 4, 0.5).count())
    time(s"simhash neardup ${factor}x")(
      Dedup.simhashNearDupPairs(docs, "doc_id", "text", 64, 3,
        maxBucketSize = 64).count())
    // copy-amplified corpus: every copy's every window duplicates the
    // original's — dup-position volume is ~(factor-1)/factor of all
    // windows, the worst case for the span merge
    time(s"dup spans ${factor}x")(
      Dedup.dupSpans(docs, "doc_id", "text", 8).count())

    // pagerank over the amplified edge list (disconnected copies —
    // structurally the same graph x N)
    val store = graft.model.GraphStore(
      Map.empty, Map("amp" -> edges.select(
        col("l_orderkey").as(graft.model.GraphStore.SRC),
        col("l_partkey").as(graft.model.GraphStore.DST),
        lit(0L).as(graft.model.GraphStore.RANK))),
      Map("amp" -> 1))
    time(s"pagerank 5 iters ${factor}x")(
      graft.analytics.GraphAnalytics.pageRank(store, Seq("amp"), 5).count())

    // kHop with the seed set replicated into every copy: frontier AND
    // edge list both scale by `factor`, so linear cost == linear time
    val seeds = (0 until factor).flatMap(c =>
      Seq(1L, 2L, 3L, 4L, 5L).map(_ + c * 10000000L))
    time(s"khop 3 hops ${factor}x")(
      graft.analytics.GraphAnalytics.kHop(store, Seq("amp"), seeds, 3).count())

    time(s"tfidf topterms ${factor}x")(
      graft.pipeline.TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", 5)
        .count())

    // incremental dedup: fixed stored index, amplified incoming batch
    val baseSigs = Dedup.minhashSignatures(docs0, "doc_id", "text", 4, 8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    baseSigs.count()
    time(s"dedup vs index ${factor}x incoming")(
      Dedup.dedupAgainstIndex(baseSigs,
        docs.withColumn("doc_id", col("doc_id") + 1000000000L),
        "doc_id", "text", 4, 8, 4, 0.5).count())

    // banded temporal join under a HOT TIME BUCKET: copies keep the
    // original time range, so every copy lands in the same w-buckets —
    // per-bucket row count scales by `factor` on both sides
    val ev0 = graft.sources.Tables.events(spark, sfDir)
    val ev = amplify(ev0.select(col("event_id"), col("user_id"),
        col("ts"), col("event_type"), col("value")),
        Seq("event_id"), None)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    time("events materialize")(ev.count())
    time(s"banded range join ${factor}x")(
      graft.operators.TemporalJoin.banded(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase"),
        leftKey = "user_id", rightKey = "user_id",
        leftTime = "ts", rightTime = "ts",
        loUs = 1L, hiUs = 6L * 3600 * 1000000,
        leftCols = Seq("event_id" -> "view_id", "user_id" -> "user_id"),
        rightCols = Seq("event_id" -> "buy_id", "value" -> "buy_value"))
        .count())

    // round-3 curation operators
    time(s"decontaminate ${factor}x corpus")(
      graft.pipeline.Curation.decontaminate(
        docs, docs0.filter(col("doc_id") % 29 === 0),
        "doc_id", "text", 4, 3).count())
    time(s"dup clusters ${factor}x")(
      graft.pipeline.Curation.dupClusters(docs, "doc_id", "text",
        4, 8, 4, 0.5).count())
    time(s"line dedup ${factor}x")(
      graft.pipeline.Curation.lineDedup(
        docs.select(col("doc_id"),
          graft.pipeline.TextAnalysis.tokens(col("text")).as("_toks"))
          .select(col("doc_id"),
            graft.pipeline.Curation.chunkLines(col("_toks"), 8).as("lines")),
        "doc_id", "lines").count())
    time(s"token entropy ${factor}x")(
      graft.pipeline.Curation.tokenEntropy(docs, "doc_id", "text").count())

    // real-codec multimodal path: encode + decode + raster stats per
    // row, iterator-to-iterator — must scale linearly with row count
    time(s"multimodal codec roundtrip ${factor}x")(
      graft.pipeline.Multimodal.pixelStats(
        graft.pipeline.Multimodal.synthesize(
          docs.select("doc_id"), "doc_id")).count())

    // weighted shortest paths + LPA over the amplified edge list,
    // seeds/vertices scaling with the copies
    val wEdges = edges.select(col("l_orderkey").as("s"),
      col("l_partkey").as("d"), (col("l_partkey") % 5 + 1).cast("double").as("w"))
    time(s"shortest paths 3 iters ${factor}x")(
      graft.analytics.GraphAnalytics.shortestPaths(wEdges, seeds, 3).count())
    time(s"label propagation 2 iters ${factor}x")(
      graft.analytics.GraphAnalytics.labelPropagation(store, Seq("amp"), 2)
        .count())

    time(s"weighted sample ${factor}x")(
      graft.operators.Sample.weightedByGroup(
        docs.withColumn("grp", col("doc_id") % 64),
        "grp", "doc_id", "n_chars", 10).count())

    val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val emb = amplify(emb0, Seq("vec_id"), None)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    time("embeddings materialize")(emb.count())
    time(s"int8 quantize ${factor}x")(
      graft.pipeline.Similarity.quantizeInt8(emb, "vec_id", "embedding")
        .count())

    // round-6 operators
    time(s"chunk windows ${factor}x")(
      graft.pipeline.Curation.chunkWindows(docs, "doc_id", "text",
        size = 64, stride = 48).count())

    // SemDeDup law: the coarse codebook scales WITH the corpus (the
    // paper's k ∝ corpus size), keeping cell sizes constant and the
    // intra-cell pair volume linear. Dense re-keying so `vec_id <
    // nCells` still selects real vectors as centroids.
    val nEmb0 = emb0.count()
    val embDense = emb0
      .crossJoin(spark.range(factor).select(col("id").as("_copy")))
      .withColumn("vec_id", col("vec_id") + col("_copy") * nEmb0)
      .drop("_copy")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    time("dense embeddings materialize")(embDense.count())
    time(s"semdedup ${factor}x (cells x$factor)")(
      graft.pipeline.Similarity.semDedup(embDense, "vec_id", "embedding",
        nCells = 16 * factor, threshold = 0.35).count())

    time(s"stream-static enrich ${factor}x events")(
      graft.streaming.EventStream.enrich(ev,
        spark.read.parquet(s"$sfDir/customer.parquet"),
        eventKey = "user_id", dimKey = "c_custkey",
        dimCols = Seq("c_name", "c_mktsegment")).count())

    // bigram LM train+score: corpus and LM vocabulary both grow with
    // the copies ("copytagN" tokens make each copy's tail bigrams
    // distinct) — the scoring join must stay corpus-linear
    time(s"bigram doc score ${factor}x")(
      graft.pipeline.TextAnalysis.bigramDocScore(docs, "doc_id", "text",
        minCount = 5).count())
    time(s"oov rate ${factor}x")(
      graft.pipeline.TextAnalysis.oovRate(docs, "doc_id", "text",
        vocabSize = 20).count())

    // random walks: seed set replicated into every copy (like kHop) —
    // walk count AND adjacency size both scale by `factor`
    time(s"random walks ${factor}x seeds")(
      graft.analytics.GraphAnalytics.randomWalks(store, Seq("amp"),
        seeds, nWalks = 4, steps = 6, maxDeg = 64).count())

    time(s"kcore 3 rounds ${factor}x")(
      graft.analytics.GraphAnalytics.kCore(store, Seq("amp"), k = 3,
        rounds = 12).count())

    // k-truss: per-round wedge join — Σdeg(a) candidate volume, which
    // the copy-disconnected graph keeps factor-linear (a fused graph
    // would square it; copies are the honest model of a bigger corpus)
    time(s"ktruss 2 rounds ${factor}x")(
      graft.analytics.GraphAnalytics.kTruss(store, Seq("amp"), k = 3,
        rounds = 12).count())
    // bipartite co-occurrence + butterfly census: copies keep each
    // order's bucket size unchanged, so capped pair fan-out C(8,2)
    // stays per-bucket constant and total volume factor-linear
    time(s"cooccurrence ${factor}x")(
      graft.analytics.GraphAnalytics.cooccurrence(edges,
        "l_orderkey", "l_partkey", maxPerLeft = 8, minCount = 2).count())
    time(s"butterflies ${factor}x")(
      graft.analytics.GraphAnalytics.butterflyStats(edges,
        "l_orderkey", "l_partkey", maxPerLeft = 8).count())

    // semantic decontam: bench slice fixed-rate (1/97 of the corpus),
    // codebook fixed — corpus side scales, bench broadcast grows with it
    time(s"semantic decontam ${factor}x")(
      graft.pipeline.Similarity.semanticDecontaminate(
        emb.filter(col("vec_id") % 97 =!= 0),
        emb.filter(col("vec_id") % 97 === 0),
        emb0.filter(col("vec_id") < 16),
        "vec_id", "embedding", threshold = 0.28).count())

    // round-6-late operators: HITS (the PageRank superstep twice per
    // round), the wedge-join family, the sketches, and the rollups
    time(s"hits 5 iters ${factor}x")(
      graft.analytics.GraphAnalytics.hits(store, Seq("amp"), 5).count())
    // disconnected copies keep wedge volume factor-linear — the term
    // the smoke must confirm (Σ deg² would go quadratic on a FUSED
    // graph; copies are the honest model of a bigger corpus)
    time(s"clustering coef ${factor}x")(
      graft.analytics.GraphAnalytics.clusteringCoef(store, Seq("amp"))
        .count())
    time(s"assortativity stats ${factor}x")(
      graft.analytics.GraphAnalytics.assortativityStats(store, Seq("amp"))
        .count())
    // per-component rollup: CC dominates; the two count shuffles must
    // stay vertex-/edge-linear on the copy-disconnected graph
    time(s"component stats ${factor}x")(
      graft.analytics.GraphAnalytics.componentStats(store, Seq("amp"))
        .count())
    time(s"cms registers ${factor}x")(
      graft.operators.Stats.cmsRegisters(edges, "l_partkey", 4, 256)
        .count())
    time(s"zipf table ${factor}x")(
      graft.pipeline.TextAnalysis.zipfTable(docs, "text").count())
    time(s"cohort retention ${factor}x")(
      graft.operators.Stats.cohortRetention(ev, "user_id", "ts").count())
    // round-8 ops: collocation joins are vocab-sized (corpus collapses
    // in the two count shuffles); novelty rides the shingle key like
    // line dedup; split is a pure narrow scan and must stay flat-linear
    time(s"collocations ${factor}x")(
      graft.pipeline.TextAnalysis.collocations(docs, "text", 5).count())
    time(s"doc novelty ${factor}x")(
      graft.pipeline.Curation.docNovelty(docs, "doc_id", "text", 4)
        .count())
    time(s"split assign ${factor}x")(
      graft.pipeline.Curation.splitAssign(docs, "doc_id", "text", 100, 100)
        .count())
    time(s"batch plan ${factor}x")(
      graft.pipeline.Curation.batchPlan(docs, "doc_id", "text", 8, 4, 4)
        .count())
    time(s"budget trim ${factor}x")(
      graft.pipeline.Curation.tokenBudgetTrim(docs, "doc_id", "text",
        "source", 2000L * factor, 16).count())
    // training cost is sample-sized by design; the term to watch is
    // the ENCODE pass (corpus × m broadcast lookups) staying linear
    time(s"pq codes ${factor}x")(
      graft.pipeline.Similarity.pqCodes(emb, "vec_id", "embedding",
        2, 4, 2, 64).count())

    // round-9 ops. containment rides the same inverted index as the
    // jaccard path (copy-amplified corpus = worst case: every copy's
    // shingles bucket with the original's); knn graph's pair volume is
    // capped per bucket; dsir/cross-source collapse to vocab-/fp-sized
    // shuffles; weighted pagerank = the pagerank recurrence + one
    // weight-sum join; funnel is per-step min + shrinking join
    time(s"containment ${factor}x")(
      Dedup.containmentPairs(docs, "doc_id", "text", 4, 0.5,
        maxDocFreq = 64).count())
    // knn graph: bucket count must scale WITH the corpus (the SemDeDup
    // k ∝ corpus law) — planes + log2(factor) keeps expected bucket
    // size constant; a fixed plane count on a 10x-duplicated corpus
    // densifies every bucket past the cap and (correctly) drops all
    val knnPlanes = 6 +
      math.ceil(math.log(factor.toDouble) / math.log(2.0)).toInt
    time(s"knn graph ${factor}x (planes $knnPlanes)")(
      graft.pipeline.Similarity.knnGraph(emb, "vec_id", "embedding",
        k = 3, numPlanes = knnPlanes, dim = 64, maxBucketSize = 128)
        .count())
    time(s"dsir evidence ${factor}x")(
      graft.pipeline.TextAnalysis.dsirEvidence(docs, "doc_id", "text",
        isTarget = col("doc_id") % 7 === 0).count())
    time(s"cross-source dups ${factor}x")(
      graft.pipeline.Curation.crossSourceDups(
        docs.withColumn("source", (col("doc_id") % 20).cast("string")),
        "text", "source").count())
    time(s"weighted pagerank 5 iters ${factor}x")(
      graft.analytics.GraphAnalytics.weightedPageRank(
        edges.select(col("l_orderkey").as("s"), col("l_partkey").as("d"),
          (col("l_partkey") % 5 + 1).cast("double").as("w")),
        iters = 5).count())
    time(s"funnel 3 steps ${factor}x")(
      graft.streaming.EventStream.funnel(ev, "user_id", "ts",
        "event_type", Seq("view", "click", "purchase")).count())

    // round-10 ops. fuzzy pairs on the amplified corpus is the
    // worst-case hot-block test: every copy shares its original's
    // 12-char key prefix, so blocks densify by `factor` and the
    // maxBlockSize cap is what bounds the pair volume. ivfpq composes
    // the IVF prune with ADC ranking; cells scale with the corpus
    // (the SemDeDup/knn-graph law) so cell size — and with it the
    // per-query candidate count — stays constant.
    time(s"fuzzy pairs ${factor}x")(
      Dedup.fuzzyPairs(
        docs.select(col("doc_id"), substring(col("text"), 1, 12).as("tkey")),
        "doc_id", "tkey", maxDist = 2, maxBlockSize = 512).count())
    time(s"ivfpq topk ${factor}x (cells x$factor)")(
      graft.pipeline.Similarity.ivfPqTopK(embDense, "vec_id", "embedding",
        queryIds = (0L to 4L), k = 5, nCells = 16 * factor, nProbe = 4,
        m = 2, kCodes = 4, iters = 2, dim = 64).count())

    // round-10-late ops. The z-order audit is two grouped passes over
    // the amplified edge list (bucketed rank, no global window) — must
    // stay row-linear. The compaction planner works on file METADATA;
    // its input here is the per-(source, file) rollup whose group
    // count is fixed, so the heavy term is the rollup scan itself.
    // pq re-rank: stage 1 is the ADC pass (corpus × m lookups); stage
    // 2 is bounded by queries × candidates regardless of corpus size.
    time(s"zorder skipping audit ${factor}x")(
      graft.sources.ZOrderLayout.skippingAudit(
        edges.select((col("l_partkey") % 256).as("x"),
          (col("l_orderkey") % 256).as("y"),
          (col("l_orderkey") * 100000 + col("l_partkey")).as("id")),
        "x", "y", "id", bits = 8, rowsPerFile = 4096,
        xLo = 32, xHi = 63, yLo = 96, yHi = 127).count())
    time(s"compaction plan ${factor}x")(
      graft.sources.Compaction.plan(
        docs.groupBy(col("source"), (col("doc_id") % 512).as("file_id"))
          .agg(sum(col("n_chars")).as("bytes")),
        "source", "file_id", "bytes", targetBytes = 30000L).count())
    time(s"embedding drift ${factor}x")(
      graft.pipeline.Similarity.embeddingDrift(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1), "embedding").count())
    time(s"pq rerank ${factor}x")(
      graft.pipeline.Similarity.pqRerankTopK(embDense, "vec_id",
        "embedding", queryIds = (0L to 4L), k = 5, candidates = 20,
        m = 2, kCodes = 4, iters = 2, dim = 64).count())

    // round-10 second wave. Entity resolution inherits the fuzzy-pairs
    // hot-block worst case (every copy shares its original's key
    // prefix) and adds CC over a match graph that scales with the
    // copies. earliest-arrival/closeness are frontier chains over
    // amplified edges with per-copy seeds. pit_join is the as-of
    // union+window merge — one key shuffle no matter how many facts
    // share a key. incr_agg's delta scales while the base aggregate
    // stays keys-sized. bpe collapses the corpus to vocab before any
    // explode; resource allocation is capped wedge pair-gen; the HLL
    // intersect is one register pass + scalar tail.
    time(s"entity resolution ${factor}x")(
      graft.pipeline.Curation.resolveEntities(
        docs.select(col("doc_id"),
          substring(col("text"), 1, 12).as("tkey")),
        "doc_id", "tkey", maxDist = 2, maxBlockSize = 512).count())
    val liTemporal = amplify(
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"),
          unix_micros(col("l_shipdate").cast("timestamp")).as("t")),
      Seq("l_orderkey", "l_partkey"), None)
      .select(col("l_orderkey"), col("l_partkey"), col("t"))
    time(s"earliest arrival 3 rounds ${factor}x")(
      graft.analytics.GraphAnalytics.earliestArrival(liTemporal,
        seeds, rounds = 3).count())
    time(s"closeness 3 hops ${factor}x")(
      graft.analytics.GraphAnalytics.closenessStats(store, Seq("amp"),
        seeds, maxHops = 3).count())
    val liFacts = amplify(
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"),
          col("l_shipdate")),
      Seq("l_suppkey"), None)
    val supAmp = amplify(
      spark.read.parquet(s"$sfDir/supplier.parquet")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal")),
      Seq("s_suppkey"), None)
    time(s"pit join ${factor}x facts")(
      graft.operators.Scd2.pointInTime(
        liFacts.select(col("l_orderkey"), col("l_suppkey"),
          (col("l_orderkey") % 2500).cast("long").as("fseq")),
        "l_suppkey", "fseq",
        supAmp.select(col("s_suppkey").as("key"),
          (col("s_suppkey") % 2500).cast("long").as("seq"),
          when(col("s_suppkey") % 5 === 0, "del").otherwise("put").as("op"),
          col("s_name"), col("s_acctbal")),
        "key", "seq", "op", Seq("s_name", "s_acctbal")).count())
    time(s"incr agg ${factor}x delta")({
      val cut = "1999-01-01"
      val baseAgg = liFacts.filter(col("l_shipdate") < lit(cut))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
      val delta = liFacts.filter(col("l_shipdate") >= lit(cut))
        .select(col("l_suppkey"), lit("ins").as("op"), col("l_quantity"))
        .unionByName(liFacts.filter(col("l_shipdate") < lit(cut) &&
            col("l_orderkey") % 7 === 0)
          .select(col("l_suppkey"), lit("del").as("op"),
            col("l_quantity")))
      graft.streaming.ChangeLogListener.maintainAgg(baseAgg, delta,
        "l_suppkey", "op", "l_quantity", "n_rows", "sum_qty").count()
    })
    time(s"bpe merges ${factor}x")(
      graft.pipeline.TextAnalysis.bpePairCounts(docs, "text", 20).count())
    time(s"resource alloc ${factor}x")(
      graft.analytics.GraphAnalytics.resourceAllocation(store, Seq("amp"),
        maxDegree = 16, minCommon = 2).count())
    time(s"hll intersect ${factor}x")(
      graft.operators.Stats.hllIntersect(
        edges.select(when(col("l_partkey") % 2 === 0, "a").otherwise("b")
          .as("s"), col("l_orderkey")),
        "s", "l_orderkey").count())

    // round-10 third wave. ppjoin's worst case is the copy-amplified
    // corpus (copies share most shingles with their originals — prefix
    // buckets densify); sigma rides the kHop frontier with per-copy
    // seeds; cms join size is two register passes; ks drift collapses
    // each side to bins; linkage eval inherits the fuzzy caps; star
    // join's fact side is the amplified edge table re-derived.
    time(s"ppjoin ${factor}x")(
      Dedup.ppjoinPairs(docs, "doc_id", "text", n = 4,
        tNum = 1, tDen = 2).count())
    time(s"path counts 3 hops ${factor}x")(
      graft.analytics.GraphAnalytics.shortestPathCounts(store,
        Seq("amp"), seeds, maxHops = 3).count())
    time(s"cms join size ${factor}x")(
      graft.operators.Stats.cmsJoinSize(edges, "l_partkey",
        edges, "l_partkey", depth = 4, width = 65536).count())
    time(s"ks drift ${factor}x")(
      graft.operators.Stats.ksDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "n_chars", lo = 0L, width = 100L, nBins = 30).count())
    time(s"linkage eval ${factor}x")(
      graft.pipeline.Curation.linkageEval(
        docs.select(col("doc_id"), col("text"),
          substring(col("text"), 1, 12).as("tkey")),
        "doc_id", "text", "tkey", maxDist = 2, maxBlockSize = 512,
        maxGroup = 64).count())
    time(s"decayed activity ${factor}x")(
      graft.streaming.EventStream.decayedActivity(ev, "user_id", "ts",
        halfLifeUs = 6L * 3600 * 1000000, maxShift = 16).count())
    time(s"session paths ${factor}x")(
      graft.streaming.EventStream.sessionPaths(ev, gapMinutes = 30,
        maxLen = 5, topK = 20).count())

    // round-10 fourth wave. skipgram's explode is a bounded ×2w
    // multiplier collapsing to the pair vocab; phrase search prunes
    // postings to the query vocab before any shuffle; node2vec's
    // frontier stays seeds-sized on the amplified graph (per-copy
    // seeds); merkle collapses both replicas to 64-bucket sketches;
    // reciprocity is one distinct-arc shuffle + a self-semi-join;
    // quantile assign is a broadcast-array narrow map.
    time(s"skipgram counts ${factor}x")(
      graft.pipeline.TextAnalysis.skipgramCounts(docs, "text",
        window = 2, minCount = 5).count())
    time(s"phrase search ${factor}x")(
      graft.pipeline.TextAnalysis.phraseSearch(docs, "doc_id", "text",
        Seq(Seq("row", "scan"), Seq("stream", "table", "hash"))).count())
    time(s"node2vec walks ${factor}x seeds")(
      graft.analytics.GraphAnalytics.node2vecWalks(store, Seq("amp"),
        seeds, nWalks = 2, steps = 4, maxDeg = 64,
        wReturn = 1, wNear = 4, wFar = 2).count())
    time(s"merkle diff ${factor}x")(
      graft.operators.Audit.merkleDiff(edges,
        edges.filter(col("l_orderkey") % 1001 =!= 0), "l_orderkey",
        Seq("l_partkey"), nBuckets = 64).count())
    time(s"reciprocity ${factor}x")(
      graft.operators.Audit.reciprocity(
        edges.select((col("l_partkey") % 997).as("s"),
          (col("l_orderkey") % 997).as("d")), "s", "d").count())
    time(s"interevent hist ${factor}x")(
      graft.streaming.EventStream.intereventHist(ev, "user_id", "ts",
        "event_id", binSec = 600, maxBin = 24).count())
    time(s"quantile assign ${factor}x")(
      graft.operators.Stats.quantileAssign(edges, "l_orderkey",
        lo = 0L, width = 1000000L, nBins = 100,
        permille = Seq(250, 500, 750)).count())
    time(s"unigram draws ${factor}x")(
      graft.pipeline.TextAnalysis.unigramDraws(docs, "text", k = 32,
        seed = 42L).count())
    time(s"range bounds ${factor}x")(
      graft.sources.ZOrderLayout.rangeBounds(edges, "l_orderkey",
        sampleMod = 101, nParts = 32).count())

    // round-10 fifth wave. lubyMIS/priorityColoring filter the pinned
    // arc frame per round through two semi-joins (O(1) pinned frames,
    // lineage break per round); knn curve is the assortativity two-join
    // shape; pair stats is ONE full-scan aggregate; vocab growth
    // windows only the per-doc frame; peak concurrency collapses to 2
    // delta rows per session before its two-level prefix sum.
    time(s"luby mis ${factor}x")(
      graft.analytics.GraphAnalytics.lubyMIS(store, Seq("amp"),
        rounds = 3).count())
    time(s"priority coloring ${factor}x")(
      graft.analytics.GraphAnalytics.priorityColoring(store, Seq("amp"),
        rounds = 4).count())
    time(s"nbr degree curve ${factor}x")(
      graft.analytics.GraphAnalytics.neighborDegreeCurve(store,
        Seq("amp")).count())
    time(s"lang confusion ${factor}x")(
      graft.pipeline.TextAnalysis.langConfusion(docs, "lang", "text")
        .count())
    time(s"pair stats ${factor}x")(
      graft.operators.Stats.pairStats(
        edges.select((col("l_partkey") % 100000).as("pk"),
          (col("l_orderkey") % 100000).as("ok")),
        Seq("pk", "ok")).count())
    time(s"vocab growth ${factor}x")(
      graft.pipeline.TextAnalysis.vocabGrowth(docs, "doc_id", "text",
        bucketSize = 100).count())
    time(s"peak concurrency ${factor}x")(
      graft.streaming.EventStream.peakConcurrency(ev, gapMinutes = 30)
        .count())
    time(s"maximal matching ${factor}x")(
      graft.analytics.GraphAnalytics.maximalMatching(store, Seq("amp"),
        rounds = 25).count())
    time(s"indep cascade ${factor}x seeds")(
      graft.analytics.GraphAnalytics.independentCascade(store,
        Seq("amp"), seeds, thetaPermille = 500, rounds = 3).count())
    // planes scale with the corpus (the knn-graph guard above): fixed
    // planes at 10x leave every LSH bucket above the cap -> 0 rows
    val lnPlanes = 6 +
      math.ceil(math.log(factor.toDouble) / math.log(2.0)).toInt
    time(s"label noise ${factor}x (planes $lnPlanes)")(
      graft.pipeline.Similarity.labelNoiseAudit(emb, "vec_id",
        "embedding", "label", k = 3, numPlanes = lnPlanes, dim = 64,
        maxBucketSize = 128).count())
    time(s"kcenter seeds ${factor}x")(
      graft.pipeline.Similarity.kCenterSeeds(emb, "vec_id",
        "embedding", k = 4).count())
    time(s"dsir select ${factor}x")(
      graft.pipeline.TextAnalysis.dsirSelect(docs, "doc_id", "text",
        isTarget = col("doc_id") % 7 === 0).count())
    time(s"linkpred auc ${factor}x")(
      graft.analytics.GraphAnalytics.linkPredAuc(store, Seq("amp"),
        testMod = 5, maxDegree = 64).count())

    // ---- round-10 wave 6/7 ----
    val ampEdges = edges.select(col("l_orderkey").as("s"),
      col("l_partkey").as("d"))
    time(s"hyperball 2 rounds ${factor}x")(
      graft.analytics.GraphAnalytics.hyperBall(ampEdges, rounds = 2)
        .count())
    time(s"eff diameter 2 rounds ${factor}x")(
      graft.analytics.GraphAnalytics.neighborhoodFunction(ampEdges,
        rounds = 2).count())
    time(s"cc bigstar 6 rounds ${factor}x")(
      graft.analytics.GraphAnalytics.ccBigStar(
        ampEdges.toDF("a", "b"), rounds = 16).count())
    val ampVerts = ampEdges.select(col("s").as("v"))
      .unionByName(ampEdges.select(col("d").as("v"))).distinct()
    time(s"louvain move ${factor}x")(
      graft.analytics.GraphAnalytics.louvainMove(ampEdges.toDF("a", "b"),
        ampVerts.select(col("v"), (col("v") % 7).as("c"))).count())
    time(s"ppmi ${factor}x")(
      graft.pipeline.TextAnalysis.ppmi(docs, "text", window = 2,
        minCount = 5).count())
    val bloomData = liFacts.select((col("l_suppkey") % 8).as("bkt"),
      col("l_orderkey").as("key"))
    time(s"bloom build+probe ${factor}x")(
      graft.operators.BloomIndex.probe(
        graft.operators.BloomIndex.build(bloomData, "bkt", "key", 256, 2),
        bloomData.distinct(), bloomData, "bkt", "key", 256, 2).count())
    // dHash: the codec decode is the cost — linear per image
    val ampMedia = graft.pipeline.Multimodal.synthesize(docs, "doc_id")
    time(s"image dhash ${factor}x")(
      graft.pipeline.Multimodal.dHash(ampMedia).toDF().count())
    // the synthetic corpus has only 24 dim blocks, so at 10x every
    // block exceeds the production cap and is dropped — this row
    // measures that the cap DEFENDS (near-zero pair work), not pair
    // throughput; real corpora have diverse dims (see PLANS.md note)
    time(s"image neardup capped ${factor}x")(
      graft.pipeline.Multimodal.dhashNearDup(
        graft.pipeline.Multimodal.dHash(ampMedia).toDF(),
        maxHamming = 6, maxBlockSize = 256).count())
    val ordAmp = amplify(
      spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_custkey").as("k"), col("o_orderkey")),
      Seq("o_orderkey"), None)
    val custAmp = amplify(
      spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey").as("k"), col("c_nationkey")),
      Seq(), None)
    time(s"ivm join delta ${factor}x")(
      graft.streaming.ChangeLogListener.ivmJoinDelta(
        ordAmp.filter(col("o_orderkey") % 11 =!= 0),
        ordAmp.filter(col("o_orderkey") % 11 === 0),
        custAmp.filter(col("k") % 13 =!= 0),
        custAmp.filter(col("k") % 13 === 0), "k").count())
    time(s"ams f2 ${factor}x")(
      graft.operators.Stats.amsF2(edges, "l_partkey").count())

    // ---- round-10 wave 8/9/10 ----
    time(s"textrank ${factor}x")(
      graft.pipeline.TextAnalysis.textRank(docs, "text", window = 2,
        minCount = 5, iters = 5, topK = 20).count())
    time(s"louvain contract ${factor}x")(
      graft.analytics.GraphAnalytics.contractGraph(
        ampEdges.toDF("a", "b"),
        ampVerts.select(col("v"), (col("v") % 7).as("c"))).count())
    time(s"audio features ${factor}x")(
      graft.pipeline.Multimodal.audioFeatures(ampMedia).toDF().count())
    time(s"image patches ${factor}x")(
      graft.pipeline.Multimodal.imagePatches(ampMedia, grid = 4)
        .toDF().count())
    time(s"k anonymity ${factor}x")(
      graft.pipeline.Curation.kAnonymityAudit(
        docs.select(col("lang"), col("source"), col("n_chars")),
        Seq("lang", "source"), "n_chars", k = 10, l = 5).count())
    val ccLabels = graft.analytics.GraphAnalytics
      .ccBigStar(ampEdges.toDF("a", "b"), rounds = 16)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ccLabels.count()
    time(s"cc incremental ${factor}x delta")(
      graft.analytics.GraphAnalytics.ccIncremental(ccLabels,
        edges.filter(col("l_partkey") % 13 === 0)
          .select(col("l_partkey").as("a"), col("l_orderkey").as("b")),
        rounds = 16).count())
    time(s"coreness K=3 ${factor}x")(
      graft.analytics.GraphAnalytics.coreness(ampEdges.toDF("a", "b"),
        maxK = 3, roundsPerK = 12).count())
    time(s"poisson bootstrap ${factor}x")(
      graft.operators.Stats.poissonBootstrap(
        edges.select((col("l_orderkey") * 100000 + col("l_partkey"))
          .as("rid"), (col("l_partkey") % 97).cast("double").as("val")),
        "rid", "val", reps = 20).count())

    // ---- round-10 waves 11-14 ----
    time(s"hist match ${factor}x")(
      graft.pipeline.Curation.histogramMatch(docs,
        docs.filter(col("lang") === "en"), "doc_id", "n_chars",
        binWidth = 50L).count())
    time(s"conductance ${factor}x")(
      graft.analytics.GraphAnalytics.conductance(ampEdges.toDF("a", "b"),
        ampVerts.select(col("v"), (col("v") % 7).as("c"))).count())
    time(s"landmark sketch ${factor}x")(
      graft.analytics.GraphAnalytics.landmarkPairEstimate(
        graft.analytics.GraphAnalytics.landmarkDistances(
          ampEdges.toDF("a", "b"), seeds.take(8), rounds = 3),
        spark.createDataFrame(
          Seq(1L, 2L, 3L).flatMap(u => Seq(4L, 5L).map(v => (u, v))))
          .toDF("u", "v")).count())
    time(s"feature hash ${factor}x")(
      graft.pipeline.TextAnalysis.featureHash(docs, "doc_id", "text",
        b = 10).count())
    time(s"audio silence ${factor}x")(
      graft.pipeline.Multimodal.silenceRuns(ampMedia, eps = 16)
        .toDF().count())
    time(s"snm pairs ${factor}x")(
      graft.pipeline.Dedup.snmPairs(
        docs.select(col("doc_id"), substring(col("text"), 1, 16)
          .as("nkey")), "doc_id", "nkey", window = 3).count())
    time(s"ivfpq residual ${factor}x")(
      graft.pipeline.Similarity.ivfPqResidualTopK(emb, "vec_id",
        "embedding", queryIds = (0L to 4L), k = 5, nCells = 16,
        nProbe = 4, m = 2, kCodes = 4, iters = 2, dim = 64).count())

    // ---- round-10 waves 15/16 ----
    time(s"item cosine ${factor}x")(
      graft.analytics.GraphAnalytics.itemCosine(edges, "l_orderkey",
        "l_partkey", maxPerBasket = 8, minCount = 2).count())
    time(s"pagerank converge ${factor}x")(
      graft.analytics.GraphAnalytics.pageRankConvergence(ampEdges,
        iters = 3).count())
    time(s"densest subgraph ${factor}x")(
      graft.analytics.GraphAnalytics.densestSubgraph(
        ampEdges.toDF("a", "b"), epsPermille = 0, rounds = 3).count())
    time(s"weighted median ${factor}x")(
      graft.operators.Stats.weightedMedian(
        edges.select((col("l_partkey") % 7).as("g"),
          (col("l_orderkey") % 50).as("v"),
          (col("l_partkey") % 5 + 1).as("w")), "g", "v", "w").count())

    // ---- round-11 rows (strict isolation protocol) ----
    // per-copy modded graphs: copy-disjoint subgraphs with constant
    // per-copy diameter — the partitioned-100TB shape; cost should
    // ride the copy count, not blow up on it
    val copyOf = (col("l_orderkey") / 10000000L).cast("long") * 1000000L
    val sccE = edges.select(
      (copyOf + pmod(col("l_orderkey"), lit(250L))).as("s"),
      (copyOf + pmod(col("l_partkey"), lit(250L))).as("d"))
    time(s"scc peeling ${factor}x")(
      graft.analytics.GraphAnalytics.stronglyConnectedComponents(
        sccE, "s", "d", maxPeels = 30).count())
    time(s"cc converged trace ${factor}x")(
      graft.analytics.GraphAnalytics.ccBigStarTrace(
        ampEdges.toDF("a", "b"), maxRounds = 16).count())
    val lv = pmod(col("l_orderkey"), lit(600L))
    val lhead = lv - pmod(lv, lit(5L))
    val louvE = edges.select((copyOf + lv).as("a"),
        (copyOf + lhead + pmod(col("l_partkey"), lit(5L))).as("b"))
      .unionByName(edges.select((copyOf + lhead).as("a"),
        (copyOf + pmod(lhead + 5L, lit(600L))).as("b")))
    time(s"louvain levels ${factor}x")(
      graft.analytics.GraphAnalytics.louvainLevels(louvE,
        maxLevels = 3, roundsPerLevel = 4).count())
    // Leiden = the same level loop + per-level intra-community CC;
    // gadget chains + clique pulls (the q_leiden_levels shape) keep
    // the refinement pass genuinely splitting at scale
    val gid = pmod(col("l_orderkey"), lit(60L))
    val leidE = louvE
      .unionByName(edges.select((copyOf + gid + 1000L).as("a"),
        (copyOf + gid + 1200L).as("b")))
      .unionByName(edges.select((copyOf + gid + 1100L).as("a"),
        (copyOf + gid + 1200L).as("b")))
      .unionByName(edges.select((copyOf + gid + 1200L).as("a"),
        (copyOf + gid * 5L + pmod(col("l_partkey"), lit(3L))).as("b")))
    time(s"leiden levels ${factor}x")(
      graft.analytics.GraphAnalytics.leidenLevels(leidE,
        maxLevels = 3, roundsPerLevel = 4).count())
    // full Leiden adds the theta-sampled merge sweeps + connectivity
    // split + seeded aggregation; per-sweep frames are (vertex +
    // intra-edge)-sized, so the curve must stay near-linear
    time(s"leiden full ${factor}x")(
      graft.analytics.GraphAnalytics.leidenFull(leidE,
        maxLevels = 3, roundsPerLevel = 4, mergeSweeps = 2).count())
    // byte-fallback encode: fallback decomposition rides the
    // DISTINCT-WORD table; the corpus pays one token explode
    time(s"bpe bytes encode ${factor}x")(
      graft.pipeline.TextAnalysis.bpeEncodeBytes(docs, "text",
        docs.select(col("doc_id"),
          concat_ws(" ", col("source"), col("text")).as("btext")),
        "doc_id", "btext", nMerges = 4).count())
    // finite-theta Leiden: same frames as leiden full, the draw adds
    // two window sums over the candidate frame per sweep
    time(s"leiden theta ${factor}x")(
      graft.analytics.GraphAnalytics.leidenFull(leidE,
        maxLevels = 2, roundsPerLevel = 4, mergeSweeps = 2,
        theta = Some(8L)).count())
    // tokenizer round-trip: decode rides the distinct-word table's
    // piece arrays; the corpus pays one ORDERED token explode + a
    // per-doc sorted collect (the reassembly)
    time(s"bpe roundtrip ${factor}x")(
      graft.pipeline.TextAnalysis.bpeRoundtrip(docs, "text",
        docs.select(col("doc_id"),
          concat_ws(" ", col("source"), col("text"),
            lit("café 中文 x😀y")).as("btext")),
        "doc_id", "btext", nMerges = 4).count())
    time(s"unigram roundtrip ${factor}x")(
      graft.pipeline.TextAnalysis.unigramRoundtrip(docs, "text",
        docs.select(col("doc_id"),
          concat_ws(" ", col("source"), col("text"),
            lit("café 中文 x😀y")).as("btext")),
        "doc_id", "btext", maxPieceLen = 4, seedSize = 40,
        vocabSize = 24, nRounds = 2).count())
    // MoG two-layer ANN: fixture size scales with the factor; the
    // exact substrate is the n^2 CONTROL (bounded by maxN, raised
    // here deliberately to watch the quadratic term)
    time(s"mog graph ann ivf ${factor}x")({
      val mog = graft.pipeline.Similarity.mogEmbeddings(spark,
        n = 512 * factor, dim = 16, nClusters = 8)
      graft.pipeline.Similarity.graphAnnIvfTopK(mog, "vec_id",
        "embedding",
        graft.pipeline.Similarity.exactKnnEdges(mog, "vec_id",
          "embedding", k = 8, maxN = 512 * factor),
        queryIds = (0L to 15L), nCells = 32, nProbe = 6,
        beam = 12, rounds = 6, k = 5).count()
    })
    // r16: the PRODUCTION two-layer path on clustered data — salted
    // LSH + 3-round NN-descent substrate (no n² control anywhere),
    // Lloyd-trained coarse layer, query-aware entries. Everything is
    // linear in n: the salting keeps per-vector pair work at ~cap
    // regardless of cluster size, descent fan-out is expandCap²-
    // bounded, training is nCells-broadcast passes, walk frames are
    // query-sized.
    time(s"mog refine trained ann ${factor}x")({
      val mogB = graft.pipeline.Similarity.mogEmbeddings(spark,
        n = 4096 * factor, dim = 16, nClusters = 8, block = true)
      graft.pipeline.Similarity.graphAnnIvfTopKWith(mogB, "vec_id",
        "embedding",
        graft.pipeline.Similarity.knnDescent(mogB, "vec_id",
          "embedding", k = 16, numPlanes = 6, dim = 16,
          maxBucketSize = 128, expandCap = 16, maxRounds = 3)
          .select("vec_id", "nbr_id"),
        queryIds = (0 until 16).map(_ * 256L),
        centroids = graft.pipeline.Similarity.ivfTrain(mogB,
          "vec_id", "embedding", nCells = 32, iters = 3),
        nProbe = 6, beam = 12, rounds = 7, k = 5).count()
    })
    time(s"balanced partition ${factor}x")(
      graft.analytics.GraphAnalytics.balancedPartition(louvE,
        k = 8, rounds = 4, capPermille = 1250).count())
    time(s"bpe train 4 merges ${factor}x")(
      graft.pipeline.TextAnalysis.bpeTrain(docs, "text", nMerges = 4)
        .count())
    time(s"knn refine ${factor}x (planes $knnPlanes)")(
      graft.pipeline.Similarity.knnRefine(emb, "vec_id", "embedding",
        k = 3, numPlanes = knnPlanes, dim = 64, maxBucketSize = 128,
        expandCap = 6).count())
    time(s"weighted matching ${factor}x")(
      graft.analytics.GraphAnalytics.weightedMatching(
        edges.groupBy((col("l_partkey") % 200).as("a"),
          (col("l_orderkey") % 200 + 300).as("b"))
          .agg(count(lit(1)).as("w")),
        rounds = 15).count())
    time(s"scc condensation ${factor}x")(
      graft.analytics.GraphAnalytics.sccCondensation(sccE, "s", "d",
        maxPeels = 30).count())
    time(s"knn descent 2 rounds ${factor}x (planes $knnPlanes)")(
      graft.pipeline.Similarity.knnDescent(emb, "vec_id", "embedding",
        k = 3, numPlanes = knnPlanes, dim = 64, maxBucketSize = 128,
        expandCap = 6, maxRounds = 2).count())
    time(s"interval join full ${factor}x")(
      graft.streaming.EventStream.intervalJoinFullStreaming(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase"),
        key = "user_id", window = "6 hours").count())

    // ---- round-12 rows (strict isolation protocol) ----
    // unigram trainer: corpus collapses once to the word table; the
    // copytag suffixes multiply the WORD vocab by ~factor, so the EM
    // rounds ride a factor-linear vocab — the frame the smoke checks
    time(s"unigram train 2 rounds ${factor}x")(
      graft.pipeline.TextAnalysis.unigramTrain(docs, "text",
        maxPieceLen = 4, seedSize = 40, vocabSize = 24,
        nRounds = 2).count())
    time(s"unigram encode ${factor}x")(
      graft.pipeline.TextAnalysis.unigramEncodeCounts(docs, "doc_id",
        "text", maxPieceLen = 4, seedSize = 40, vocabSize = 24,
        nRounds = 2).count())
    // loss pruner adds one vocab-sized self-re-segmentation DP per
    // round on top of the trainer — same factor-linear word table
    time(s"unigram train loss 2 rounds ${factor}x")(
      graft.pipeline.TextAnalysis.unigramTrainLoss(docs, "text",
        maxPieceLen = 4, seedSize = 40, vocabSize = 12,
        nRounds = 2).count())
    // distance-family traces: per-round one extra anti-join count on
    // the vertex-sized frame — cost must stay round x frontier-linear
    time(s"spath trace ${factor}x")(
      graft.analytics.GraphAnalytics.shortestPathsTrace(
        ampEdges.toDF("s", "d").withColumn("w", lit(1.0)),
        seeds = (1L to 5L), maxIters = 6).count())
    time(s"ivf drift ${factor}x (cells x$factor)")({
      val trained = graft.pipeline.Similarity.ivfTrain(
        embDense.filter(col("vec_id") % 3 =!= 0), "vec_id", "embedding",
        nCells = 16 * factor, iters = 1)
      graft.pipeline.Similarity.ivfOccupancyDrift(trained,
        graft.pipeline.Similarity.ivfAppend(trained,
          embDense.filter(col("vec_id") % 3 === 0), "vec_id",
          "embedding")).count()
    })

    // ---- round-13 rows (strict isolation protocol) ----
    // semi-sync LPA (the r12 op without a smoke row): after the r13
    // pruning a sweep's vote volume sums to |E| across the classes
    // (edges pre-split by src color), so cost must scale with
    // factor x |E| + (nColors + nSweeps) job floors — NOT
    // nColors x |E| (the r12 shape this row guards against). Graph:
    // one edge per orderkey (a factor-x star forest like the gate
    // fixture's shape) — the full bipartite graph needs 40+ colors
    // (each a priority-coloring round) and would measure the coloring
    // loop's round floor, not the sweep volume this row checks.
    val starStore = graft.model.GraphStore(
      Map.empty, Map("amp" -> edges
        .groupBy(col("l_orderkey"))
        .agg(min(col("l_partkey")).as("p"))
        .select(col("l_orderkey").as(graft.model.GraphStore.SRC),
          col("p").as(graft.model.GraphStore.DST),
          lit(0L).as(graft.model.GraphStore.RANK))),
      Map("amp" -> 1))
    time(s"lpa stable 2 sweeps ${factor}x")(
      graft.analytics.GraphAnalytics.labelPropagationStable(
        starStore, Seq("amp"), colorRounds = 24, maxSweeps = 2).count())
    // centrality power iterations: one edge join + one groupBy-sum
    // per round; the mod scales with factor so the vertex set (and
    // the distinct edge set) grows ~linearly instead of saturating
    time(s"katz 4 iters ${factor}x")(
      graft.analytics.GraphAnalytics.katzCentrality(
        edges.select((col("l_orderkey") % (250 * factor)).as("s"),
          (col("l_partkey") % (250 * factor)).as("d")),
        iters = 4, alpha = 0.002).count())
    time(s"eigencentrality 4 iters ${factor}x")(
      graft.analytics.GraphAnalytics.eigenvectorCentrality(
        edges.select((col("l_orderkey") % (250 * factor)).as("s"),
          (col("l_partkey") % (250 * factor)).as("d")),
        iters = 4).count())
    // wordpiece trainer: corpus collapses once to the word table;
    // per merge a vocab-sized symbol count + pair count + argmax row
    time(s"wordpiece train 4 merges ${factor}x")(
      graft.pipeline.TextAnalysis.wordpieceTrain(docs, "text",
        nMerges = 4).count())
    time(s"wordpiece encode ${factor}x")({
      val v = graft.pipeline.TextAnalysis.wordpieceVocab(docs, "text",
        nMerges = 4)
      graft.pipeline.TextAnalysis.wordpieceEncodeCounts(docs, "doc_id",
        "text", v, maxPieceLen = 8).count()
    })
    // graph ANN: frontier frames are (queries x beam x degree)-sized
    time(s"graph ann topk ${factor}x")(
      graft.pipeline.Similarity.graphAnnTopK(emb, "vec_id", "embedding",
        graft.pipeline.Similarity.knnRefine(emb, "vec_id", "embedding",
          k = 6, numPlanes = knnPlanes, dim = 64, maxBucketSize = 128,
          expandCap = 8).select("vec_id", "nbr_id"),
        queryIds = (0L to 9L),
        entryIds = Seq(7L, 42L, 97L, 123L, 211L, 333L),
        beam = 8, rounds = 6, k = 5).count())
    // bert wordpiece: two-inventory spans x broadcast vocab + one fold
    time(s"wordpiece bert encode ${factor}x")({
      val v = graft.pipeline.TextAnalysis.wordpieceBertVocab(docs,
        "text", nMerges = 4)
      graft.pipeline.TextAnalysis.wordpieceBertEncodeCounts(docs,
        "doc_id", "text", v, maxPieceLen = 8).count()
    })
    // single-linkage cuts: one composite-keyed CC pass for all cuts
    time(s"single linkage cuts ${factor}x")(
      graft.pipeline.Similarity.singleLinkageCuts(
        graft.pipeline.Similarity.knnGraph(emb, "vec_id", "embedding",
          k = 3, numPlanes = knnPlanes, dim = 64, maxBucketSize = 128)
          .select(col("vec_id"), col("nbr_id"),
            floor(col("sim") * lit(1000000.0) + lit(0.5)).cast("long")
              .as("simx")),
        thresholds = Seq(300000L, 340000L), maxRounds = 16).count())
    // boruvka: per round one edge double-join + component-keyed
    // argmax; the chosen component graph halves per round
    time(s"boruvka mst ${factor}x")(
      graft.analytics.GraphAnalytics.boruvkaMst(
        edges.select((col("l_orderkey") % (24 * factor)).as("a"),
          (col("l_partkey") % (24 * factor)).as("b"),
          ((col("l_orderkey") * 7 + col("l_partkey")) % 97).as("w")),
        maxRounds = 12).count())

    // terminal sentinel: scripts/smoke.sh asserts this line printed —
    // a run that crashes after SOME rows must still fail loudly
    println("SMOKE-DONE")
    spark.stop()
  }
}
