package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Deduplication operators for training-data pipelines, each designed
 * around one shuffle on a content-derived key so they hold at corpus
 * scale:
 *
 *  - exact: hash-groupBy on a normalized fingerprint;
 *  - n-gram Jaccard: shingle inverted index -> pair co-counts -> |A∩B| /
 *    (|A|+|B|-|A∩B|), with a document-frequency cap so stop-shingles
 *    don't quadratically blow up the pair join;
 *  - MinHash + LSH: k portable hash functions over shingles, banded
 *    signatures, bucket join for candidate pairs;
 *  - SimHash: bitwise majority vote over token hashes — near-dup
 *    distance = hamming distance of compact ints.
 *
 * All hashing goes through md5 hex (via `conv`) rather than Spark's
 * xxhash64 so every result is reproducible in any engine (the DuckDB
 * oracle included) — hash quality is equivalent for dedup purposes.
 */
object Dedup {

  /** Portable 32-bit token hash: first 8 md5 hex digits as int64. */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Exact dedup summary: one row per distinct normalized content with
    * the surviving (minimum) id and the duplicate count. */
  def exactSummary(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Exact dedup: keep the minimum-id row per normalized content.
    * Winner election is a map-side-combinable `min` aggregate plus a
    * semi-join on (fingerprint, id) — NOT a window over the
    * fingerprint: a boilerplate document duplicated across millions of
    * rows would land that fingerprint's every full-width row on one
    * window reducer, while the aggregate shrinks it to one row per map
    * task and the semi-join shuffle keys on (fp, id), which hot
    * fingerprints spread across their many distinct ids. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withFp = df.withColumn("_fp", TextAnalysis.fingerprint(col(textCol)))
    val winners = withFp.groupBy(col("_fp")).agg(min(col(idCol)).as(idCol))
    withFp.join(winners, Seq("_fp", idCol), "left_semi").drop("_fp")
  }

  /** Distinct word n-gram shingles per document: (id, shingle). */
  def shingles(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    // Materialize the token array in its own projection FIRST: higher-
    // order functions (transform/slice lambdas) evaluate interpreted,
    // without codegen's subexpression elimination — inlining the
    // tokenizer expression here would re-run the regex split once PER
    // ARRAY ELEMENT (~50x per document, measured 2.6s -> 0.3s at sf0.1).
    val toks = col("_toks")
    // guard: sequence(1, 0) would DESCEND in Spark — short docs must
    // yield an empty shingle set, not a bogus one.
    val grams = when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array())
    df.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col("id"), explode(array_distinct(grams)).as("shingle"))
  }

  /**
   * Bloom-prefiltered incremental exact dedup — the re-crawl shape at
   * corpus scale. Joining an incoming batch against a 100 TB stored
   * corpus's fingerprint set shuffles the whole batch; instead, build
   * ONE compact Bloom filter over the stored fingerprints (Spark's
   * native `bloom_filter_agg`, the same structure RocksDB uses to
   * prefilter every point lookup in the reference's storage engine,
   * rocksdb block-based-table bloom) and broadcast it. Incoming rows
   * the bloom rejects are DEFINITELY new (no false negatives) and
   * bypass the join; only the "maybe" rows — true dups plus the
   * configured false-positive sliver — verify against the stored set
   * with an exact anti-join. The OUTPUT is exact (the bloom only
   * prunes the verify join's input); the shuffled volume drops to
   * ~(dup rate + fpp) of the batch.
   *
   * Returns the genuinely-new incoming rows as (idCol, fp).
   */
  def bloomDedupNew(stored: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, expectedItems: Long = 1000000L,
      numBits: Long = 8388608L): DataFrame =
    bloomDedupNewFp(
      stored.select(TextAnalysis.fingerprint(col(textCol)).as("fp")),
      incoming, idCol, textCol, expectedItems, numBits)

  /** [[bloomDedupNew]] against a MATERIALIZED fingerprint index (an
    * `fp` column) — the production/incremental-ingest shape, where the
    * stored corpus's fingerprints are an at-rest artifact and raw text
    * is never re-read to dedup a batch
    * ([[graft.streaming.IngestDedup]] is the foreachBatch loop). */
  def bloomDedupNewFp(storedFp: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, expectedItems: Long = 1000000L,
      numBits: Long = 8388608L): DataFrame = {
    val sFp = storedFp.select(col("fp"))
      .transform(graft.CacheScope.persist(_)) // feeds bloom + verify join
    // One numBits/8-byte scalar fetched to the driver and embedded as
    // a constant: might_contain requires a constant/scalar-subquery
    // bloom, and this IS the production shape — the corpus bloom is a
    // precomputed artifact shipped with the fingerprint index, not a
    // per-query join side. (The fetch is a single aggregated row, not
    // a data collect.)
    val bfBytes = sFp.agg(graft.functions.BloomOps.bloomAgg(
        xxhash64(col("fp")), expectedItems, numBits).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val inc = incoming.select(col(idCol),
      TextAnalysis.fingerprint(col(textCol)).as("fp"))
    // bloom_filter_agg over ZERO rows yields null (ADVICE r5): a null
    // bloom constant would make might_contain null and both branches
    // below drop every row — with nothing stored, everything is new
    if (bfBytes == null) return inc
    val flagged = inc
      .withColumn("_maybe", graft.functions.BloomOps.mightContain(
        lit(bfBytes), xxhash64(col("fp"))))
    val definitelyNew = flagged.filter(!col("_maybe"))
      .select(col(idCol), col("fp"))
    val verified = flagged.filter(col("_maybe"))
      .select(col(idCol), col("fp"))
      .join(sFp.distinct(), Seq("fp"), "left_anti")
      .select(col(idCol), col("fp"))
    definitelyNew.unionByName(verified)
  }

  /**
   * Exact-substring duplicate SPANS — the ExactSubstr dedup of
   * "Deduplicating Training Data Makes Language Models Better" (Lee
   * et al. 2022), re-expressed relationally: any k-token window whose
   * content appears earlier in the corpus (global first occurrence =
   * minimum (doc, pos)) marks its positions as duplicated; per
   * document, overlapping marked windows merge into maximal spans
   * `(span_start, span_end)` (1-based token positions, inclusive) a
   * cleaner can cut out. The suffix-array machinery of the paper is a
   * single-machine construction; the relational form is three linear
   * passes that shuffle on shingle content and doc id respectively.
   *
   * Scale shape: positioned k-gram frame is token-count-sized (narrow
   * rows, one explode); first-occurrence election is a map-side-
   * combinable `min` aggregate (no window over hot shingle groups —
   * same law as [[exact]]); the join back keys on the shingle; the
   * interval merge is a per-doc window over only the DUPLICATED
   * positions (output-sized, not corpus-sized). All-integer output.
   */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val toks = col("_toks")
    val grams = when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
      .otherwise(array())
    // positioned (NOT distinct) shingles: pos is the 1-based token
    // index of the window start
    val sh = df.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col("id"), posexplode(grams).as(Seq("pos0", "shingle")))
      .select(col("id"), (col("pos0") + 1).as("pos"), col("shingle"))
      .transform(graft.CacheScope.persist(_))
    val firsts = sh.groupBy(col("shingle"))
      .agg(min(struct(col("id"), col("pos"))).as("keeper"))
    val dups = sh.join(firsts, Seq("shingle"))
      .filter(struct(col("id"), col("pos")) =!= col("keeper"))
      .select(col("id"), col("pos"))
    // merge overlapping/touching windows into maximal spans: the
    // previous window covers tokens [prev, prev+k-1], so the next
    // window starts a NEW span only past prev+k (pos == prev+k means
    // the covered ranges touch exactly and still merge — ADVICE r5)
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    dups
      .withColumn("_new",
        when(lag(col("pos"), 1).over(w).isNull ||
          col("pos") > lag(col("pos"), 1).over(w) + k, 1L)
          .otherwise(0L))
      .withColumn("span_id", sum(col("_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("span_id"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"))
      .select(col("id"), col("span_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_dup_tokens"))
  }

  /**
   * N-gram Jaccard near-duplicate pairs (id_a < id_b, jaccard >=
   * threshold). `maxDocFreq` drops shingles shared by more than that
   * many documents before the pair join — the standard guard against
   * stop-shingle quadratic blowup; 0 disables.
   */
  /**
   * Shared inverted-index pair counting for the set-overlap metrics:
   * from a (id, shingle) frame, every (id_a < id_b) pair sharing at
   * least one shingle, with the shared count and both set sizes.
   * `maxDocFreq` drops stop-shingles before the pair join (0 disables).
   *
   * The shingle frame feeds the doc-size aggregate AND the inverted
   * index, and sizes joins the pair frame twice (a-side, b-side);
   * without persists the tokenize+shingle scan executes 3x per run
   * (explain showed the parquet scan tripled). Corpus-sized, so
   * MEMORY_AND_DISK — recomputing shingles at 100 TB costs more than
   * spilling them. Pair counting has NO self-join: group ids per
   * shingle, emit intra-bucket (i < j) pairs, count pair occurrences =
   * |A ∩ B| — the shingle frame shuffles once, not twice. No broadcast
   * hint on `sizes` (corpus-sized, one row per doc) — AQE picks
   * broadcast at runtime when it actually fits.
   */
  private def shinglePairCounts(sh: DataFrame,
      maxDocFreq: Int): DataFrame = {
    val filtered0 =
      if (maxDocFreq <= 0) sh
      else {
        val freq = sh.groupBy("shingle")
          .agg(count(lit(1)).as("df_cnt"))
          .filter(col("df_cnt") <= maxDocFreq)
        sh.join(freq.select("shingle"), Seq("shingle"))
      }
    val filtered = filtered0.transform(graft.CacheScope.persist(_))
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("sz"))
      .transform(graft.CacheScope.persist(_))
    val buckets = filtered.groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    val nestedPairs = transform(col("ids"), (x, i) =>
      transform(slice(col("ids"), i + 2, size(col("ids"))),
        y => struct(x.as("a"), y.as("b"))))
    buckets.select(explode(flatten(nestedPairs)).as("p"))
      .groupBy(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")),
        Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")),
        Seq("id_b"))
  }

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDocFreq: Int = 0): DataFrame =
    shinglePairCounts(shingles(df, idCol, textCol, n), maxDocFreq)
      // Portable.quant, not round(): i/union can tie the 4-decimal half
      // exactly (32-divisible union), where round() is engine-dependent
      .withColumn("jaccard", graft.functions.Portable.quant(
        col("n_shared").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_shared")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /**
   * Shingle CONTAINMENT pairs — the asymmetric twin of
   * [[ngramJaccardPairs]] (Broder 1997's "containment"): |A∩B| /
   * min(|A|, |B|), the signal that catches a small document EMBEDDED in
   * a large one (quote farms, boilerplate wrappers, doc-in-doc crawl
   * artifacts) where symmetric Jaccard stays low because the union is
   * dominated by the big side. Returns (id_a < id_b, n_shared, sz_a,
   * sz_b) plus the quantized containment ratio, cut at `threshold`.
   *
   * Scale shape: [[shinglePairCounts]] — the SAME persisted-shingle
   * inverted index, stop-shingle cap, and intra-bucket pair explode as
   * the Jaccard path; only the final metric differs. The exact-integer
   * evidence (n_shared, sz_a, sz_b) rides the gate; the ratio is
   * Portable-quantized.
   */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDocFreq: Int = 0): DataFrame =
    shinglePairCounts(shingles(df, idCol, textCol, n), maxDocFreq)
      .withColumn("containment", graft.functions.Portable.quant(
        col("n_shared").cast("double") /
          least(col("sz_a"), col("sz_b")), 4))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "n_shared", "sz_a", "sz_b", "containment")

  /**
   * Blocked fuzzy matching — record linkage by edit distance (titles,
   * names, URLs): pairs of normalized key strings within `maxDist`
   * Levenshtein edits. The quadratic guard is BLOCKING (classic record
   * linkage): candidates must share (length band, first character) —
   * an edit-distance-≤d match can only cross d length units, so a
   * band of width 4 with maxDist ≤ 2 never splits a true pair whose
   * lengths sit in one band (pairs straddling a band boundary are the
   * documented recall trade; production runs band twice with offset
   * blocks). `maxBlockSize` drops degenerate blocks (the empty-string
   * block, a hot prefix) before pair generation.
   *
   * Levenshtein itself is an exact integer metric with the identical
   * definition in Spark and DuckDB — gate-hashable as-is.
   */
  def fuzzyPairs(df: DataFrame, idCol: String, keyCol: String,
      maxDist: Int, maxBlockSize: Int): DataFrame = {
    // band width 4 ⇒ the no-split invariant (a true pair's lengths land
    // in one band) only holds for maxDist <= 2; enforce rather than
    // silently lose cross-band matches at larger distances
    require(maxDist >= 1 && maxDist <= 2,
      s"maxDist $maxDist must be in [1,2]: the length-band-4 blocking " +
        "is recall-safe only up to 2 edits (band twice with offset " +
        "blocks for larger distances)")
    val keyed = df.select(col(idCol).as("id"),
        trim(lower(col(keyCol))).as("k"))
      .filter(length(col("k")) > 0)
      .withColumn("blk", concat_ws("#",
        (length(col("k")) / 4).cast("long"), substring(col("k"), 1, 1)))
      .transform(graft.CacheScope.persist(_)) // feeds cap agg + both sides
    val okBlocks = keyed.groupBy("blk").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz").between(2, maxBlockSize)).select("blk")
    val inBlk = keyed.join(okBlocks, Seq("blk"))
    inBlk.join(inBlk.select(col("blk"), col("id").as("id_b"),
        col("k").as("kb")), Seq("blk"))
      .filter(col("id") < col("id_b"))
      .withColumn("dist", levenshtein(col("k"), col("kb")))
      .filter(col("dist") <= maxDist)
      .select(col("id").as("id_a"), col("id_b"), col("dist"))
  }

  /**
   * EXACT set-similarity self-join by prefix filtering (SSJoin/PPJoin
   * lineage: Chaudhuri et al. ICDE'06, Xiao et al. WWW'08): all pairs
   * of documents whose DISTINCT-token Jaccard ≥ tNum/tDen, with NO
   * recall loss — the lossless alternative to the capped inverted-
   * index (`ngramJaccardPairs`) and probabilistic (MinHash/SimHash)
   * paths. Tokens get a global rarity order (df asc, token asc); each
   * document indexes only its first `|s| − ⌈t·|s|⌉ + 1` rarest tokens
   * (any true pair must share one — the prefix-filter theorem), and
   * only those candidates are verified with an exact intersection.
   * The threshold test is the integer cross-multiplication
   * `tDen·i ≥ tNum·(|a|+|b|−i)` — no float anywhere; `jaccard_ppm` is
   * the integer-div similarity for ranking.
   *
   * Scale shape: candidate volume is driven by the RAREST tokens'
   * bucket sizes (a token sits in a prefix only when the document has
   * few rarer ones), which is the theorem-backed replacement for hard
   * bucket caps; verification joins bounded per-doc token arrays to
   * candidate pairs only. The global rarity rank is a window over the
   * VOCAB frame (the zipfTable law), never the corpus.
   */
  def ppjoinPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, tNum: Int, tDen: Int): DataFrame = {
    require(tNum >= 1 && tDen >= tNum,
      s"threshold $tNum/$tDen must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    // word n-gram shingles, not raw tokens: prefix filtering's candidate
    // volume is governed by how discriminative the RARE elements are,
    // and shingles (unlike common words) are rare by construction
    val toks = shingles(df, idCol, textCol, n)
      .withColumnRenamed("shingle", "tok")
      .transform(graft.CacheScope.persist(_)) // feeds rank, prefix, sets
    val rank = toks.groupBy("tok").agg(count(lit(1)).as("dfreq"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("dfreq"), col("tok"))).cast("long"))
    val sz = toks.groupBy("id").agg(count(lit(1)).as("sz"))
    // prefixLen = sz - ceil(t*sz) + 1, exact: ceil(p*sz/q) = (p*sz+q-1) div q
    val pref = toks.join(rank, "tok")
      .withColumn("pos", row_number().over(
        Window.partitionBy("id").orderBy("rnk")))
      .join(sz, "id")
      .filter(col("pos") <=
        col("sz") - expr(s"($tNum * sz + ${tDen - 1}) div $tDen") + 1)
      .select("id", "tok")
      // persisted AND eagerly filled (r16-opt): the candidate self-join
      // consumes pref on BOTH sides, and with AQE both exchange
      // materializations race the unfilled cache CONCURRENTLY — each
      // computed the full vocab-rank window (probe: job-time sum 8.7 s
      // for a 4.8 s wall). One fill job makes both sides cached scans.
      .transform(graft.CacheScope.persist(_))
    pref.count()
    val cand = pref.join(
        pref.select(col("tok"), col("id").as("id_b")), Seq("tok"))
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b")).distinct()
    val sets = toks.groupBy("id")
      .agg(sort_array(collect_list(col("tok"))).as("ts"))
      .transform(graft.CacheScope.persist(_)) // joined at both ends
    cand
      .join(sets.select(col("id").as("id_a"), col("ts").as("ts_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("ts").as("ts_b")), "id_b")
      .withColumn("inter",
        size(array_intersect(col("ts_a"), col("ts_b"))).cast("long"))
      .withColumn("sz_a", size(col("ts_a")).cast("long"))
      .withColumn("sz_b", size(col("ts_b")).cast("long"))
      .filter(lit(tDen.toLong) * col("inter") >=
        lit(tNum.toLong) * (col("sz_a") + col("sz_b") - col("inter")))
      .withColumn("jaccard_ppm", expr(
        "inter * 1000000L div (sz_a + sz_b - inter)"))
      .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard_ppm")
  }

  /** Per-document distinct shingle array + size from a (id, shingle)
    * frame. */
  def shingleSets(sh: DataFrame): DataFrame =
    sh.groupBy("id").agg(collect_set(col("shingle")).as("shs"),
      count(lit(1)).as("sz"))

  /** Exact-Jaccard verification of candidate pairs — the second stage
    * of the standard MinHash dedup pipeline (LSH proposes, exact
    * similarity disposes): each (id_a, id_b) candidate joins the two
    * documents' distinct shingle sets from a precomputed (persisted)
    * [[shingleSets]] frame, which joins the pair frame on both sides;
    * jaccard = |A∩B| / (|A|+|B|−|A∩B|). */
  def verifyJaccardFrom(sets: DataFrame, pairs: DataFrame): DataFrame =
    pairs
      .join(sets.select(col("id").as("id_a"), col("shs").as("sha"),
        col("sz").as("sza")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("shs").as("shb"),
        col("sz").as("szb")), "id_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .select(col("id_a"), col("id_b"),
        graft.functions.Portable.quant(col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")), 4).as("jaccard"))

  /**
   * The end-to-end MinHash dedup pipeline: shingle ONCE (persisted —
   * the frame feeds both the signature aggregation and the verification
   * sets), LSH-band for candidates, verify candidates by exact Jaccard,
   * drop the higher id of each verified pair. Returns the surviving
   * rows of `df`.
   */
  def dedupPipeline(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    val sh = shingles(df, idCol, textCol, n)
      .transform(graft.CacheScope.persist(_))
    val cands = lshCandidatePairs(
      minhashSignaturesFrom(sh, numHashes), numHashes, bands)
    val sets = shingleSets(sh).transform(graft.CacheScope.persist(_))
    val losers = verifyJaccardFrom(sets, cands)
      .filter(col("jaccard") >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** MinHash parameters: h_i(x) = (a_i * h32(x) + b_i) mod p, with p
    * prime below 2^31 and a_i < 2^20 so products stay well inside int64
    * (overflow would throw under ANSI mode). */
  val MinhashP = 2147483647L
  def minhashParams(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      // Fixed, seed-free parameter schedule: deterministic across
      // engines and sessions.
      ((131071L * (i + 1)) % 1048573L + 1L, (524287L * (i + 7)) % MinhashP)
    }

  /** Per-document MinHash signature: columns mh0..mh{k-1}. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int): DataFrame =
    minhashSignaturesFrom(shingles(df, idCol, textCol, n), numHashes)

  /** Signature aggregation over a prebuilt (id, shingle) frame. */
  def minhashSignaturesFrom(sh: DataFrame, numHashes: Int): DataFrame = {
    val withH = sh.withColumn("h", hash32(col("shingle")))
    val aggs = minhashParams(numHashes).zipWithIndex.map {
      case ((a, b), i) =>
        min(pmod(col("h") * a + b, lit(MinhashP))).as(s"mh$i")
    }
    withH.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * LSH candidate pairs: band the signature (bands × rowsPerBand =
   * numHashes), group ids per (band, band-signature) bucket, emit
   * intra-bucket pairs, distinct.
   *
   * One pass, one shuffle: bands are exploded from each signature row
   * (not a per-band union, which would re-execute the whole signature
   * computation per band), and pairs are generated inside each bucket
   * with array combinatorics instead of a self-join (a self-join would
   * recompute the upstream a second time AND quadratically shuffle).
   * `maxBucketSize` drops degenerate buckets (hot band signatures) the
   * way the jaccard path caps document frequency; 0 disables.
   */
  /** Explode a signature frame into (id, band, sig) bucket rows. */
  private def bandFrame(signatures: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val bandStructs = (0 until bands).map { bIdx =>
      val cols = (bIdx * rowsPerBand until (bIdx + 1) * rowsPerBand)
        .map(i => col(s"mh$i"))
      struct(lit(bIdx).as("band"), concat_ws(":", cols: _*).as("sig"))
    }
    signatures
      .select(col("id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.sig").as("sig"))
  }

  def lshCandidatePairs(signatures: DataFrame, numHashes: Int,
      bands: Int, maxBucketSize: Int = 0): DataFrame = {
    val banded = bandFrame(signatures, numHashes, bands)
    val buckets = banded.groupBy(col("band"), col("sig"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    val capped =
      if (maxBucketSize <= 0) buckets
      else buckets.filter(size(col("ids")) <= maxBucketSize)
    // all (i < j) pairs within the sorted bucket id array
    val nestedPairs = transform(col("ids"), (x, i) =>
      transform(slice(col("ids"), i + 2, size(col("ids"))),
        y => struct(x.as("a"), y.as("b"))))
    capped
      .select(explode(flatten(nestedPairs)).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()
  }

  /**
   * Incremental dedup against a stored signature index — the re-crawl
   * shape: at ingest time only the SIGNATURES of the existing corpus are
   * kept (numHashes columns per doc, not the text), and each incoming
   * document is checked against them. Candidates come from the banded
   * bucket join (same pigeonhole as [[lshCandidatePairs]]); the verdict
   * is the MinHash jaccard ESTIMATE — the fraction of agreeing signature
   * components — since the old text is gone. Each flagged incoming doc
   * reports its best match (highest agreement, lowest existing id on
   * ties).
   *
   * Scale shape: band explode on both sides, one bucket-join shuffle
   * (the signature index is corpus-sized; the incoming batch is usually
   * the small side and AQE broadcasts it), one agreement join, one
   * per-incoming-doc window. Returns (id, dup_of, agree).
   */
  def dedupAgainstIndex(existingSigs: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, n: Int, numHashes: Int,
      bands: Int, minAgree: Double): DataFrame = {
    val newSigs = minhashSignatures(incoming, idCol, textCol, n, numHashes)
      .transform(graft.CacheScope.persist(_))
    val cand = bandFrame(newSigs, numHashes, bands)
      .join(bandFrame(existingSigs, numHashes, bands)
        .withColumnRenamed("id", "old_id"), Seq("band", "sig"))
      .select(col("id"), col("old_id")).distinct()
    val mhEq = (0 until numHashes).map(i =>
      when(col(s"mh$i") === col(s"omh$i"), 1).otherwise(0))
      .reduce(_ + _)
    val renamedOld = existingSigs.select(
      col("id").as("old_id") +:
        (0 until numHashes).map(i => col(s"mh$i").as(s"omh$i")): _*)
    val w = Window.partitionBy(col("id"))
      .orderBy(col("agree").desc, col("old_id"))
    cand.join(newSigs, "id").join(renamedOld, "old_id")
      .withColumn("agree",
        graft.functions.Portable.quant(mhEq.cast("double") / numHashes, 4))
      .filter(col("agree") >= minAgree)
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("id"), col("old_id").as("dup_of"), col("agree"))
  }

  /**
   * SimHash over whitespace tokens: bit j of the signature is the sign
   * of the sum over tokens of (2·bit_j(md5(token)) − 1). `bits` ≤ 32
   * (nibble-extracted from the md5 hex prefix, engine-portable).
   */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 16): DataFrame = {
    require(bits % 4 == 0 && bits <= 64, "bits must be a multiple of 4 <= 64")
    val tok = df.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
    // Two flat projections (NOT a withColumn-per-bit chain — an 80-deep
    // Project stack costs quadratic analyzer time and dominated the
    // query at every scale). The hex prefix is parsed in 8-digit words —
    // ONE conv() string-parse per 32 bits per token — and each bit is
    // then a long shift folded into its aggregate expression. Bit b is
    // bit (b%4) of hex digit b/4, exactly as the nibble-at-a-time
    // formulation (and the DuckDB oracle) defines it.
    val nDigits = bits / 4
    val wordCols = (0 until (nDigits + 7) / 8).map { w =>
      val width = math.min(8, nDigits - w * 8)
      conv(substring(col("hx"), 1 + w * 8, width), 16, 10)
        .cast("long").as(s"w$w")
    }
    val words = tok.select(col("id"), md5(col("tok")).as("hx"))
      .select(col("id") +: wordCols: _*)
    def bitOf(b: Int): Column = {
      val i0 = b / 4                         // hex digit index
      val w = i0 / 8                         // word index
      val width = math.min(8, nDigits - w * 8)
      val shift = (width - 1 - (i0 - w * 8)) * 4 + b % 4
      shiftright(col(s"w$w"), shift) % 2
    }
    val sums = (0 until bits).map(b => sum(bitOf(b) * 2 - 1).as(s"s$b"))
    val grouped = words.groupBy(col("id")).agg(sums.head, sums.tail: _*)
    val sig = (0 until bits).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    grouped.select(col("id"), sig.as("simhash"))
  }

  /** Hamming distance between two simhash signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * SimHash near-duplicate pairs with hamming distance ≤ `maxHamming`,
   * found by signature banding: split the `bits`-wide signature into
   * `maxHamming + 1` bands — any pair within the distance budget must
   * agree exactly on at least one band (pigeonhole), so candidates come
   * from one bucket join instead of an all-pairs scan; the exact
   * hamming check then filters the bucket.
   */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      bits: Int, maxHamming: Int, maxBucketSize: Int = 0): DataFrame = {
    val nBands = maxHamming + 1
    val bandWidth = math.max(bits / nBands, 1)
    val sigs = simhash(df, idCol, textCol, bits)
    val bandStructs = (0 until nBands).map { bIdx =>
      val lo = bIdx * bandWidth
      val width = if (bIdx == nBands - 1) bits - lo else bandWidth
      // extract the band: (sig >> lo) mod 2^width
      val bandVal = pmod(shiftrightunsigned(col("simhash"), lo),
        lit(math.pow(2, width).toLong))
      struct(lit(bIdx).as("band"), bandVal.as("sig"))
    }
    val banded = sigs
      .select(col("id"), col("simhash"), explode(array(bandStructs: _*)).as("b"))
      .select(col("id"), col("simhash"),
        col("b.band").as("band"), col("b.sig").as("sig"))
    val buckets0 = banded.groupBy(col("band"), col("sig"))
      .agg(sort_array(collect_list(struct(col("id"), col("simhash"))))
        .as("members"))
      .filter(size(col("members")) > 1)
    // hot band-signature buckets generate |bucket|^2 pairs — the 10x
    // amplification smoke went quadratic without this cap, the same
    // stop-shingle guard the jaccard/LSH paths have; 0 disables (the
    // oracle query runs uncapped at fixture scale).
    val buckets =
      if (maxBucketSize <= 0) buckets0
      else buckets0.filter(size(col("members")) <= maxBucketSize)
    val nestedPairs = transform(col("members"), (x, i) =>
      transform(slice(col("members"), i + 2, size(col("members"))),
        y => struct(x.getField("id").as("id_a"),
          y.getField("id").as("id_b"),
          hamming(x.getField("simhash"), y.getField("simhash"))
            .as("dist"))))
    buckets.select(explode(flatten(nestedPairs)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.dist").as("dist"))
      .filter(col("dist") <= maxHamming)
      .distinct()
  }

  /**
   * Sorted-neighborhood method (Hernández & Stolfo 1995 — the classic
   * record-linkage blocking [[fuzzyPairs]]' length-band blocking
   * complements): sort all records by the normalized key and emit
   * every pair within `window` positions of each other — catches
   * typo-adjacent keys that land far apart under equality blocking
   * but adjacent under lexicographic order. Output: (id_a, id_b,
   * rank_gap), one row per in-window pair, id_a ranked before id_b.
   *
   * Scale shape: the global rank is the TWO-LEVEL law (local
   * row_number inside key-prefix buckets + cumulative bucket offsets
   * from a buckets-sized window — the sort never runs on one
   * partition; prefix-bucket order is consistent with full-key order
   * because the bucket IS a key prefix); pair generation joins rank
   * blocks of width `window` against themselves and their successor —
   * each row meets ≤ 2·window candidates, never a rank×rank join.
   */
  def snmPairs(df: DataFrame, idCol: String, keyCol: String,
      window: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val k = df.select(col(idCol).as("id"), col(keyCol).as("key"))
      .withColumn("bkt", substring(col("key"), 1, 2))
      .transform(graft.CacheScope.persist(_))
    val local = k.withColumn("lrk", row_number().over(
      Window.partitionBy(col("bkt")).orderBy(col("key"), col("id"))))
    // buckets-sized frame: the only unpartitioned window in the plan
    val offsets = k.groupBy("bkt").agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(
        Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    val ranked = local.join(broadcast(offsets), "bkt")
      .select(col("id"), col("key"), (col("off") + col("lrk")).as("rk"))
      .transform(graft.CacheScope.persist(_))
    val left = ranked.select(col("id").as("id_a"), col("rk").as("ra"),
      expr(s"(rk - 1) div $window").as("blk"))
    val right = ranked.select(col("id").as("id_b"), col("rk").as("rb"),
        explode(array(expr(s"(rk - 1) div $window"),
          expr(s"(rk - 1) div $window - 1"))).as("blk"))
    left.join(right, "blk")
      .filter(col("rb") > col("ra") && col("rb") - col("ra") <= window)
      .select(col("id_a"), col("id_b"), (col("rb") - col("ra"))
        .as("rank_gap"))
  }
}
