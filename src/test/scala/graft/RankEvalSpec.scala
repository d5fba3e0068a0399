package graft

import graft.pipeline.Similarity
import org.apache.spark.sql.functions._

class RankEvalSpec extends SparkSpec {
  import spark.implicits._

  // exact list for query 1: a(0.9) b(0.8) c(0.7) -> ranks 1,2,3
  private val exact = Seq(
    (1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.7),
    (2L, 10L, 0.9), (2L, 11L, 0.8))
    .toDF("query_id", "cand_id", "sim")

  test("reversed list: recall-perfect but maximal displacement") {
    // query 1 approx returns the same 3 candidates REVERSED
    val approx = Seq(
      (1L, 10L, 0.1), (1L, 11L, 0.2), (1L, 12L, 0.3),
      (2L, 10L, 0.9), (2L, 11L, 0.8))
      .toDF("query_id", "cand_id", "sim")
    val out = Similarity.rankDisplacement(exact, approx)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // recall would be 1.0 for both queries; footrule separates them:
    // q1 displacements |1-3| + |2-2| + |3-1| = 4, max 2
    assert(out(1L) == ((3L, 3L, 4L, 2L)))
    // q2 approx identical -> zero displacement
    assert(out(2L) == ((2L, 2L, 0L, 0L)))
  }

  test("missing candidates: displacement only over the common set") {
    val approx = Seq(
      (1L, 10L, 0.9), (1L, 99L, 0.8), (1L, 12L, 0.7)) // 11 missing, 99 noise
      .toDF("query_id", "cand_id", "sim")
    val out = Similarity.rankDisplacement(exact, approx)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // common = {10 (erk1/ark1), 12 (erk3/ark3)} -> sum 0
    assert(out(1L) == ((3L, 2L, 0L, 0L)))
    // query 2 absent from approx entirely -> zeros via the left join
    assert(out(2L) == ((2L, 0L, 0L, 0L)))
  }

  test("mrrEval: true-nearest rank, integer rr, miss = 0") {
    val approx = Seq(
      (1L, 11L, 0.95), (1L, 10L, 0.5),   // truth 10 lands at rank 2
      (2L, 77L, 0.9))                    // truth 10 missing entirely
      .toDF("query_id", "cand_id", "sim")
    val out = Similarity.mrrEval(exact, approx)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((10L, 2L, 500000L)))
    assert(out(2L) == ((10L, 0L, 0L)))
  }

  test("labelNoiseAudit: uniform labels agree, distinct labels zero") {
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(d => math.sin((i * 8 + d + 1).toDouble)))
    }
    val same = vecs.map { case (i, v) => (i, v, "x") }
      .toDF("vec_id", "embedding", "label")
    val s = Similarity.labelNoiseAudit(same, "vec_id", "embedding",
        "label", k = 3, numPlanes = 2, dim = 8, maxBucketSize = 64)
      .as[(Long, String, Long, Long)].collect()
    assert(s.nonEmpty && s.forall(r => r._3 == r._4)) // all neighbors agree
    val diff = vecs.map { case (i, v) => (i, v, s"l$i") }
      .toDF("vec_id", "embedding", "label")
    val d = Similarity.labelNoiseAudit(diff, "vec_id", "embedding",
        "label", k = 3, numPlanes = 2, dim = 8, maxBucketSize = 64)
      .as[(Long, String, Long, Long)].collect()
    assert(d.nonEmpty && d.forall(_._4 == 0L)) // nobody agrees
    CacheScope.drain(spark)
  }

  test("kCenterSeeds: hand farthest-first order and radius curve") {
    val emb = Seq(
      (1L, Array(0.0, 0.0)), (2L, Array(1.0, 0.0)),
      (3L, Array(10.0, 0.0)), (4L, Array(4.0, 0.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kCenterSeeds(emb, "vec_id", "embedding", k = 4)
      .as[(Int, Long, Double)].collect().sortBy(_._1).toList
    // seed1 = min id (0,0); farthest = (10,0) d²=100; then (4,0)
    // min(16, 36) = 16; finally (1,0) min(1, 81, 9) = 1
    assert(got == List((1, 1L, 0.0), (2, 3L, 100.0), (3, 4L, 16.0),
      (4, 2L, 1.0)))
    CacheScope.drain(spark)
  }

  test("kCenterSeeds releases every superseded seed checkpoint") {
    val emb = (1 to 12).map(i => (i.toLong, Array(i * 1.0, (i % 3) * 2.0)))
      .toDF("vec_id", "embedding")
    val before = Pinned.checkpoints(spark)
    val got = Similarity.kCenterSeeds(emb, "vec_id", "embedding", k = 6)
      .collect()
    assert(got.length == 6)
    val pinned = Pinned.checkpoints(spark) -- before
    assert(pinned.size <= 1, s"${pinned.size} seed checkpoints pinned")
    CacheScope.drain(spark)
  }
}
