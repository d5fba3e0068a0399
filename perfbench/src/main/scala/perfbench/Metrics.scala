package perfbench

/** The metric sets every run reports, and how they are computed from the
  * measured requests. Names and units match BENCHMARK.json. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "ops_s" -> "ops/s", "p50_ms" -> "ms", "p95_ms" -> "ms",
    "pass_s" -> "s", "setup_s" -> "s")

  val Families: Seq[String] =
    Seq("get_neighbors", "get_props", "lookup", "scan", "mutations", "kv")
  val AnalyticsOps: Seq[String] =
    Seq("pagerank", "connected_components", "katz", "leiden_full")
  val PipelineOps: Seq[String] = Seq("dedup_pipeline")

  /** Every per-layer metric. A workload that does not exercise a layer
    * reports 0 for it. */
  val PerLayer: Seq[(String, String)] =
    Seq("construct", "plan", "exec").map(p => s"phase.${p}_ms" -> "ms") ++
    Seq("construct", "plan", "exec").map(p => s"phase.${p}_s" -> "s") ++
    Families.map(f => s"operators.$f.p50_ms" -> "ms") ++
    Seq("write_p50_ms" -> "ms",
      "sources.save.p50_ms" -> "ms", "sources.load.p50_ms" -> "ms",
      "sources.index_delta.p50_ms" -> "ms",
      "sources.rows_written_per_row_changed" -> "ratio",
      "sources.bytes_written_per_user_byte" -> "ratio",
      "sources.live_files" -> "count",
      "model.store_load_s" -> "s") ++
    (AnalyticsOps.map("analytics." + _) ++ PipelineOps.map("pipeline." + _))
      .flatMap(op => Seq(s"$op.s" -> "s", s"$op.jobs" -> "count",
        s"$op.construct_frac" -> "ratio")) ++
    Seq("cache.pinned_before_drain" -> "count", "cache.drain_ms" -> "ms",
      "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
      "spark.sched_wait_ms" -> "ms", "spark.task_busy_frac" -> "ratio",
      "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
      "spark.spill_mb" -> "MB", "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
      "trace.overhead_p50_ms" -> "ms")

  private val MB = 1048576.0

  def endToEnd(r: Report, o: Outcome, sessionS: Double): Unit = {
    val w = o.window
    val lat = w.ops.map(_.latencyMs)
    r.put("ops_s", w.ops.size / w.passes.map(_.serviceS).sum, "ops/s")
    r.put("p50_ms", Stats.median(lat), "ms")
    val (q, tail) = Stats.tail(lat, o.minSamples)
    r.put("p95_ms", tail, "ms")
    r.notes += s"p95_ms is the p$q of ${lat.size} requests (the highest " +
      s"percentile with at least 10 beyond it in ${o.minSamples}, the requests " +
      "every window holds)"
    r.put("pass_s", w.typicalPassS, "s")
    r.notes += s"pass_s is the typical pass of ${w.passes.size}, which took " +
      w.passes.map(p => f"${p.serviceS}%.2f").mkString(" ") + " s"
    r.put("setup_s", sessionS + o.storeLoadS + o.setupExtraS, "s")
  }

  def perLayer(r: Report, h: Harness, o: Outcome, gcS: Double,
      heapMb: Double): Unit = {
    val w = o.window
    val ops = w.ops
    def med(xs: Seq[Double]) = Stats.median(xs)
    Seq("construct", "plan", "exec").zip(Seq[OpRecord => Double](
      _.constructMs, _.planMs, _.execMs)).foreach { case (p, f) =>
      r.put(s"phase.${p}_ms", med(ops.map(f)), "ms")
      r.put(s"phase.${p}_s",
        med(w.passes.map(_.ops.map(f).sum / 1000.0)), "s")
    }
    Families.foreach { f =>
      r.put(s"operators.$f.p50_ms",
        med(ops.filter(_.family == f).map(_.latencyMs)), "ms")
    }
    r.put("write_p50_ms", med(ops.filter(_.write).map(_.latencyMs)), "ms")
    Seq("save", "load", "index_delta").foreach { l =>
      r.put(s"sources.$l.p50_ms", med(ops.flatMap(_.layerMs.get(s"sources.$l"))), "ms")
    }
    r.put("model.store_load_s", o.storeLoadS, "s")

    // Spark work of the traced requests, per request and per pass.
    val traced = ops.filter(_.traced)
    val counts = traced.map(op => h.tracer.listener.of(op.root))
    val c = new Counts
    counts.foreach(c += _)
    val n = math.max(1, traced.size).toDouble
    val tracedPasses = math.max(1, w.passes.count(_.traced)).toDouble
    r.put("spark.jobs_per_op", c.jobs / n, "count")
    r.put("spark.tasks_per_op", c.tasks / n, "count")
    r.put("spark.sched_wait_ms", c.schedWaitMs / math.max(1L, c.jobs).toDouble, "ms")
    r.put("spark.task_busy_frac", w.taskBusyMs / (w.wallS * 1000.0 * h.cores), "ratio")
    r.put("spark.shuffle_write_mb", c.shuffleWriteBytes / MB / tracedPasses, "MB")
    r.put("spark.shuffle_read_mb", c.shuffleReadBytes / MB / tracedPasses, "MB")
    r.put("spark.spill_mb", c.spillBytes / MB / tracedPasses, "MB")
    r.put("jvm.gc_s", gcS, "s")
    r.put("jvm.heap_peak_mb", heapMb, "MB")
    r.put("trace.overhead_p50_ms", med(traced.map(_.latencyMs)) -
      med(ops.filterNot(_.traced).map(_.latencyMs)), "ms")
    r.notes += s"spark.* counts cover ${traced.size} traced requests in " +
      s"${tracedPasses.toInt} traced passes; " +
      s"${ops.size - traced.size} requests ran untraced"

    val units = PerLayer.toMap
    o.layerMetrics.foreach { case (k, v) => r.put(k, v, units(k)) }
    PerLayer.foreach { case (k, u) => if (!r.metrics.contains(k)) r.put(k, 0.0, u) }
  }
}
