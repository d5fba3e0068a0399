package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `parent` is 0 for a request's
  * root span; all spans of one request share `request`. Times are
  * wall-clock milliseconds (comparable with Spark event times) plus a
  * monotonic nanosecond duration. */
final case class Span(id: Long, name: String, parent: Long, request: Long,
    startMs: Long, startNs: Long) {
  @volatile var endMs: Long = Long.MaxValue
  @volatile var endNs: Long = 0L
  def durMs: Double = (endNs - startNs) / 1e6
}

/** Spark work counted against one span (or against no span: id 0). */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskBusyMs = 0L
  var schedWaitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var recordsWritten = 0L
  var bytesWritten = 0L
  var spillBytes = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskBusyMs += o.taskBusyMs; schedWaitMs += o.schedWaitMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes
    recordsWritten += o.recordsWritten; bytesWritten += o.bytesWritten
    spillBytes += o.spillBytes
  }

  def asSeq: Seq[Long] = Seq(jobs, stages, tasks, taskBusyMs, schedWaitMs,
    shuffleWriteBytes, shuffleReadBytes, recordsWritten, bytesWritten,
    spillBytes)
}

/**
 * Benchmark-side tracing: spans kept in memory, and a SparkListener that
 * counts jobs, stages and tasks and attributes them to request spans.
 *
 * Every request runs under its own Spark job group, named after its
 * root span id. In a traced run some requests are traced (their spans
 * are kept) and some are not, so the run can compare the two. A job
 * goes to the root span its group names, when that request was running
 * at the job's start. Jobs from threads that carry no group, or a stale
 * one inherited when a pool thread was created, go to the one request
 * running at the job's start, when exactly one was. Jobs of untraced
 * requests, and jobs that cannot be placed, go to id 0. Per-span counts
 * therefore always add up to the listener's totals.
 */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val roots = new ConcurrentHashMap[Long, (Span, Boolean)]()

  /** Open a span. Child spans of untraced requests are not kept. */
  def begin(name: String, parent: Long, request: Long,
      traced: Boolean = true): Span = {
    val id = ids.incrementAndGet()
    val s = Span(id, name, parent, if (parent == 0L) id else request,
      System.currentTimeMillis(), System.nanoTime())
    if (enabled) {
      if (parent == 0L) roots.put(id, (s, traced))
      if (traced) spans.put(id, s)
    }
    s
  }

  def end(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
  }

  /** Time `body` as a child span of `parent`. */
  def span[T](name: String, parent: Span)(body: => T): T = {
    val s = begin(name, parent.id, parent.request,
      enabled && spans.containsKey(parent.id))
    try body finally end(s)
  }

  def allSpans: Seq[Span] = spans.values().asScala.toSeq.sortBy(_.id)

  /** Root span id that owns a job started at `timeMs` under `group`. */
  private[perfbench] def owner(group: Option[String], timeMs: Long): Long = {
    def running(r: (Span, Boolean)) =
      r._1.startMs <= timeMs && timeMs <= r._1.endMs
    def idOf(r: (Span, Boolean)) = if (r._2) r._1.id else 0L
    group.flatMap(_.toLongOption).flatMap(id => Option(roots.get(id)))
      .filter(running) match {
      case Some(r) => idOf(r)
      case None =>
        val open = roots.values().asScala.filter(running).toSeq
        if (open.size == 1) idOf(open.head) else 0L
    }
  }

  val listener = new CountingListener(this)

  /** Write every kept span as one JSON line. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""request":${s.request},"start_ms":${s.startMs},""" +
        f""""dur_ms":${s.durMs}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Counts Spark work per span; see [[Tracer]] for the attribution rule. */
final class CountingListener(tracer: Tracer) extends SparkListener {
  private val lock = new Object
  private val jobSpan = mutable.HashMap.empty[Int, Long]
  private val jobSubmitMs = mutable.HashMap.empty[Int, Long]
  private val jobWaited = mutable.HashSet.empty[Int]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val perSpan = mutable.HashMap.empty[Long, Counts]
  val total = new Counts

  private def countsOf(span: Long): Counts =
    perSpan.getOrElseUpdate(span, new Counts)

  private def bump(span: Long)(f: Counts => Unit): Unit = {
    f(countsOf(span)); f(total)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val span = tracer.owner(group, e.time)
    jobSpan(e.jobId) = span
    jobSubmitMs(e.jobId) = e.time
    e.stageIds.foreach(stageJob(_) = e.jobId)
    bump(span)(_.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobSpan.get)
        .foreach(s => bump(s)(_.stages += 1))
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = lock.synchronized {
    stageJob.get(e.stageId).foreach { job =>
      if (jobWaited.add(job)) {
        val wait = math.max(0L, e.taskInfo.launchTime - jobSubmitMs(job))
        bump(jobSpan(job))(_.schedWaitMs += wait)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    stageJob.get(e.stageId).flatMap(jobSpan.get).foreach { s =>
      val m = e.taskMetrics
      bump(s) { c =>
        c.tasks += 1
        c.taskBusyMs += e.taskInfo.duration
        if (m != null) {
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.recordsWritten += m.outputMetrics.recordsWritten
          c.bytesWritten += m.outputMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Counts of one root span (a request); zero when it ran no job. */
  def of(span: Long): Counts = lock.synchronized {
    val c = new Counts
    perSpan.get(span).foreach(c += _)
    c
  }

  /** Every span's counts, including the unattributed bucket (id 0). */
  def bySpan: Map[Long, Counts] = lock.synchronized {
    perSpan.map { case (k, v) => val c = new Counts; c += v; k -> c }.toMap
  }
}

/** Samples JVM heap use on a daemon thread and reads total GC time. */
final class JvmSampler(periodMs: Long = 20L) {
  private val mem = ManagementFactory.getMemoryMXBean
  @volatile private var peak = 0L
  @volatile private var running = true
  private val gcAtStart = gcMs()

  private val thread = new Thread(() => {
    while (running) {
      peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
      Thread.sleep(periodMs)
    }
  }, "perfbench-jvm-sampler")
  thread.setDaemon(true)
  thread.start()

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Stops sampling; returns (GC seconds since start, peak heap MB). */
  def stop(): (Double, Double) = {
    running = false
    thread.join()
    ((gcMs() - gcAtStart) / 1000.0, peak / 1048576.0)
  }
}
