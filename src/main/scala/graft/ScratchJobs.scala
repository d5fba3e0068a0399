package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.sql.{GraftExpressionBridge, SparkSession}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

/**
 * Job-floor probe (not part of the driver contract): runs one
 * registered query twice (warm + timed) with a SparkListener counting
 * jobs and per-job wall, and prints the distribution. This is the
 * instrument behind the r15 broadcast-hint law — it showed
 * q_leiden_full's 25 s wall was 663 AQE exchange-materialization jobs
 * whose duration sum ≈ wall (job COUNT, not repeated work), which a
 * per-query timer cannot distinguish from slow operators.
 *
 * AQE exchange jobs (the final stage is a shuffle map stage) are
 * counted apart from call-site jobs: their number varies from run to
 * run, so only call-site counts compare exactly between builds.
 *
 * Usage: SPARK_GRAFT_PROBE=q_leiden_full sbt "runMain graft.ScratchJobs"
 */
object ScratchJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val qname = sys.env.getOrElse("SPARK_GRAFT_PROBE", "q_leiden_full")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // r17: attribute each job to its submission call site so the
    // per-operator job budget is readable (guide §1.5). Job id ->
    // (start, site), written on the listener thread, read on this one.
    val started = new ConcurrentHashMap[Int, (Long, String)]
    val t = new ConcurrentLinkedQueue[(Int, Double)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.put(j.jobId, (System.nanoTime(), j.stageInfos
          .maxByOption(_.stageId).fold("?") { s =>
            (if (GraftExpressionBridge.isMapStage(s)) "[aqe] " else "") + s.name }))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        t.add((j.jobId, Option(started.get(j.jobId))
          .fold(0.0)(s => (System.nanoTime() - s._1) / 1e9)))
    })
    def site(id: Int): String = Option(started.get(id)).fold("?")(_._2)
    for (q <- qname.split(",").map(_.trim).filter(_.nonEmpty)) {
      def run(): Long = SparkEntry.queries(q)(spark, sfDir).count()
      CacheScope.drain(spark)
      run() // warm
      CacheScope.drain(spark)
      GraftExpressionBridge.drainListeners(spark.sparkContext)
      started.clear(); t.clear()
      val t0 = System.nanoTime()
      val n = run()
      val wall = (System.nanoTime() - t0) / 1e9
      GraftExpressionBridge.drainListeners(spark.sparkContext)
      val durs = t.asScala.toSeq.sortBy(-_._2)
      val nAqe = durs.count { case (id, _) => site(id).startsWith("[aqe]") }
      println(f"SCRATCH $q jobs=${durs.size} site_jobs=${durs.size - nAqe} " +
        f"aqe_jobs=$nAqe wall=$wall%.1f rows=$n " +
        f"jobsum=${durs.map(_._2).sum}%.1f")
      println("SCRATCH top15: " + durs.take(15).map { case (id, d) =>
        f"j$id=$d%.2f" }.mkString(" "))
      // per-call-site rollup: job count + summed seconds, heaviest first
      val bySite = durs.groupBy { case (id, _) => site(id) }
        .map { case (s, ds) => (s, ds.size, ds.map(_._2).sum) }
        .toSeq.sortBy(-_._3)
      bySite.take(12).foreach { case (s, n, d) =>
        println(f"SCRATCH site n=$n%3d sum=$d%6.2f  $s") }
    }
    spark.stop()
  }
}
