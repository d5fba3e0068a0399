package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftExpressionBridge}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Checkpoint RDDs pinned in `spark`'s context (local checkpoints are
  * persisted RDDs whose checkpoint data is materialized). */
object Pinned {
  def checkpoints(spark: org.apache.spark.sql.SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if rdd.isCheckpointed => id
    }.toSet
}

class RotationSpec extends SparkSpec {
  import spark.implicits._

  private def frame: DataFrame =
    (1 to 40).map(i => (i % 7, i)).toDF("k", "v")

  test("after N rounds the slot pins exactly its current checkpoint") {
    val before = Pinned.checkpoints(spark)
    val rot = new Rotation
    var df = rot(frame)
    for (r <- 1 to 5) df = rot(df.select(col("k"), (col("v") + r).as("v")))
    val held = Pinned.checkpoints(spark) -- before
    assert(held == Set(GraftExpressionBridge.checkpointRdd(df).id))
    assert(df.agg(sum("v")).head().getLong(0) == (1 to 40).sum + 40 * 15)
    rot.release()
    assert((Pinned.checkpoints(spark) -- before).isEmpty,
      "release() left the slot's checkpoint pinned")
  }

  test("observe counts the frame inside the checkpoint job") {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val shuffled = frame.groupBy("k").agg(sum("v").as("s"))
    def jobsOf(body: => Unit): Int = {
      TestBus.drain(spark.sparkContext)
      jobs.set(0)
      body
      TestBus.drain(spark.sparkContext)
      jobs.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val rot = new Rotation
      val plain = jobsOf(rot(shuffled))
      var n = -1L
      val observed = jobsOf {
        n = rot.observe(shuffled, Seq(count(lit(1)).as("n")))._2.getLong(0)
      }
      assert(n == shuffled.count())
      assert(observed == plain, s"observe ran $observed jobs, apply $plain")
      val (kept, row) = rot.observe(shuffled,
        Seq(count(when(col("s") > 30, lit(1))).as("big")), _.select("k"))
      assert(kept.columns.toSeq == Seq("k"))
      assert(row.getLong(0) == shuffled.filter(col("s") > 30).count())
      rot.release()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("30 rotations of a self-join keep the leaf's size estimate capped") {
    val rot = new Rotation
    var df = rot(frame)
    for (_ <- 1 to 30)
      df = rot(df.as("a").join(df.as("b"), Seq("k", "v")).select("k", "v"))
    val stats = df.queryExecution.analyzed.stats
    assert(stats.sizeInBytes <= BigInt(Long.MaxValue))
    assert(df.count() == 40L)
    rot.release()
  }

  test("released checkpoints log no lineage WARN") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    // RDD subclasses log under their own class names, so listen on the
    // package; the session's ERROR root level would hide a WARN. The
    // session starts first: starting one resets the logging config.
    spark.sparkContext
    val name = "org.apache.spark.rdd"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("rotation-warns", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warns.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = new LoggerConfig(name, Level.WARN, false)
    logger.addAppender(appender, Level.WARN, null)
    ctx.getConfiguration.addLogger(name, logger)
    ctx.updateLoggers()
    try {
      val rot = new Rotation
      var df = rot(frame)
      for (r <- 1 to 5) df = rot(df.select(col("k"), (col("v") + r).as("v")))
      rot.release()
    } finally {
      ctx.getConfiguration.removeLogger(name)
      ctx.updateLoggers()
      appender.stop()
    }
    assert(warns.isEmpty,
      s"released checkpoints warned: ${warns.asScala.mkString("; ")}")
  }

  /** (file, line number, enclosing member def, line) of every operator
    * source line under graft/{analytics,pipeline}. */
  private def operatorLines: Seq[(String, Int, String, String)] = {
    val root = new java.io.File("src/main/scala/graft")
    val dirs = Seq("analytics", "pipeline").map(new java.io.File(root, _))
    assert(dirs.forall(_.isDirectory), s"sources not found under $root")
    val member = """^  (?:private )?def (\w+)""".r.unanchored
    for {
      d <- dirs
      f <- d.listFiles().toSeq.sortBy(_.getName) if f.getName.endsWith(".scala")
      lines = java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq
      defs = lines.scanLeft("") {
        case (_, member(name)) => name
        case (cur, _) => cur
      }.tail
      ((line, owner), i) <- lines.zip(defs).zipWithIndex
    } yield (f.getName, i + 1, owner, line)
  }

  test("checkpoints and block ids stay behind Rotation") {
    val offenders = operatorLines.collect {
      case (f, n, _, line) if line.contains("localCheckpoint(") ||
        line.contains("getPersistentRDDs") => s"$f:$n"
    }
    assert(offenders.isEmpty,
      s"materialization outside graft.Rotation: ${offenders.mkString(", ")}")
  }

  test("law windows and round-loop slots stay behind Rounds") {
    // the PageRank family's persist-rotated kernel keeps its own window;
    // three fixed-round loops run unwindowed on bare slots
    val windowed = Set("powerIterate", "pageRankConvergence")
    val bare = Set("landmarkDistances", "kmeansParallelInit", "kCenterSeeds")
    val offenders = operatorLines.collect {
      case (f, n, owner, line) if !line.trim.startsWith("//") &&
        (line.contains("StaticPlan.withMeasured(") && !windowed(owner) ||
          line.contains("new graft.Rotation") && !bare(owner)) =>
        s"$f:$n ($owner)"
    }
    assert(offenders.isEmpty,
      s"hand-rolled round loop scaffold outside graft.Rounds: ${offenders.mkString(", ")}")
  }
}
