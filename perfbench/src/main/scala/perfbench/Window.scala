package perfbench

/** Wall-clock helpers. */
object Clock {
  private val jvmStart = java.lang.management.ManagementFactory
    .getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def step(what: String): Unit = System.err.println(
    f"perfbench: ${(System.currentTimeMillis() - jvmStart) / 1000.0}%7.2f s $what")

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = f
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def seconds(f: => Unit): Double = timed(f)._2
}

/** One client's pass through its cycle of requests. Its time is the sum
  * of its requests' latencies: the time the program spent serving the
  * pass, without the benchmark's own checks between requests. */
final case class Pass(traced: Boolean, ops: Seq[OpRecord]) {
  def serviceS: Double = ops.map(_.latencyMs).sum / 1000.0
}

/** The measured window: passes of all clients, its wall-clock span, and
  * the task time Spark spent in it (traced runs only). */
final case class WindowResult(passes: Seq[Pass], startNs: Long, endNs: Long,
    taskBusyMs: Long) {
  def ops: Seq[OpRecord] = passes.flatMap(_.ops)
  def wallS: Double = (endNs - startNs) / 1e9

  /** A typical pass: each request of the cycle at its median latency
    * over the passes, summed. Passes have the same requests in the same
    * order, and one slow pass (the first after warm-up, or one the
    * machine slowed) moves this less than it moves the median pass. */
  def typicalPassS: Double =
    if (passes.isEmpty) 0.0
    else (0 until passes.map(_.ops.size).min)
      .map(i => Stats.median(passes.map(_.ops(i).latencyMs))).sum / 1000.0
}

/** What a workload hands back: its warm-up requests, the measured
  * window, the set-up parts it timed itself, the number of requests
  * every window holds at least (which fixes the tail percentile), and
  * the per-layer metrics only it can compute. */
final case class Outcome(warmup: Seq[OpRecord], window: WindowResult,
    storeLoadS: Double, setupExtraS: Double, minSamples: Int,
    layerMetrics: Map[String, Double] = Map.empty)

object Window {
  /** Alternate passes are traced in a traced run, so the run can compare
    * traced with untraced requests. */
  def traced(h: Harness, cycle: Int): Boolean = h.tracer.enabled && cycle % 2 == 0

  /**
   * Closed loop: `clients` threads each run whole cycles back to back,
   * starting new ones until `seconds` have passed (and at least
   * `minCycles`); each client sends its next request only after the
   * previous one completed. Whole cycles keep the request mix of every
   * window the same. `cycle(client, n)` runs the client's n-th cycle.
   */
  def closedLoop(h: Harness, clients: Int, seconds: Double, minCycles: Int = 1)(
      cycle: (Int, Int) => Seq[OpRecord]): WindowResult = {
    val busyAtStart = h.taskBusyMs()
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val out = Array.fill(clients)(Vector.empty[Pass])
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        try {
          var n = 0
          while (System.nanoTime() < deadline || n < minCycles) {
            val ops = cycle(c, n)
            out(c) :+= Pass(ops.exists(_.traced), ops)
            n += 1
          }
        } catch { case e: Throwable => errors.add(e) }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    val passes = out.toSeq.flatten
    val end = (passes.flatMap(_.ops).map(_.endNs) :+ start).max
    WindowResult(passes, start, end, h.taskBusyMs() - busyAtStart)
  }
}
