package perfbench

import graft.{CacheScope, SparkEntry}
import graft.model.GraphStore

import scala.collection.mutable

/**
 * batch_iter: one client runs `SparkEntry.queries` entries back to back,
 * with `CacheScope.drain` before each (in the op's time, in no phase).
 * Two warm-up passes, then at least two timed passes, more while the
 * window is open; a pass always runs to its end. Each op's action writes its result as parquet under the work directory,
 * where `perfbench/run.py` checks it against the entry's DuckDB oracle.
 *
 * Longer loops do not fit in every pass of a run that must stay short
 * (leiden_full alone runs about 330 jobs, 20-30 s on 4 cores); a traced
 * run measures each of TraceOps once after its window.
 */
object BatchIter {
  /** Query name and the layer it exercises, in pass order. */
  val PassOps: Seq[(String, String)] = Seq(
    "q_pagerank" -> "analytics.pagerank",
    "q_connected_components" -> "analytics.connected_components",
    "q_dedup_pipeline" -> "pipeline.dedup_pipeline")

  /** Untimed passes before the window. After one, a pass still ran 30-60 %
    * slower than a settled one on 4 cores; after two, about 10 %. */
  val WarmPasses = 2

  /** Passes a window holds at least, so every run measures the same ops;
    * a traced run also needs one traced and one untraced pass. */
  val MinPasses = 2

  /** Ops a traced run measures once, after its window. */
  val TraceOps: Seq[(String, String)] = Seq(
    "q_katz" -> "analytics.katz",
    "q_leiden_full" -> "analytics.leiden_full")

  def oracleSql: Map[String, String] =
    (PassOps ++ TraceOps).map { case (n, _) => n -> SparkEntry.oracleSql(n) }.toMap

  private def outDir(work: String, client: Int, cycle: Int, name: String) =
    s"$work/out/${if (client < 0) s"w$cycle" else s"p$cycle"}/$name"

  /** Result directories of the ops that completed, to be checked. */
  def outputs(work: String, ops: Seq[OpRecord]): Seq[(String, String)] =
    ops.filter(_.error.isEmpty)
      .map(op => op.kind -> outDir(work, op.client, op.cycle, op.kind))

  /** (persisted RDDs before the drain, drain milliseconds), per op. */
  private val drains = mutable.ArrayBuffer.empty[(Int, Double)]

  private def op(h: Harness, dir: String, work: String, name: String,
      layer: String, client: Int, cycle: Int, traced: Boolean): OpRecord = {
    val spark = h.spark
    val pinned = spark.sparkContext.getPersistentRDDs.size
    val rec = h.run(name, layer.takeWhile(_ != '.'), write = false, client, cycle,
      traced) { req =>
      req.call("cache.drain")(CacheScope.drain(spark))
      val df = req.construct(layer)(SparkEntry.queries(name)(spark, dir))
      req.plan(df)
      req.exec("exec")(df.write.mode("overwrite")
        .parquet(outDir(work, client, cycle, name)))
      None
    }
    if (client >= 0) drains += ((pinned, rec.layerMs.getOrElse("cache.drain", 0.0)))
    rec
  }

  def run(h: Harness, dir: String, work: String, seconds: Double): Outcome = {
    val loads = (0 until 2).map { i =>
      Clock.seconds {
        if (i == 0) GraphStore.cached(h.spark, dir) else GraphStore.tpch(h.spark, dir)
      }
    }
    val (warm, warmS) = Clock.timed((0 until WarmPasses).flatMap(i =>
      PassOps.map { case (n, l) => op(h, dir, work, n, l, -1, i, traced = false) }))
    Clock.step(f"warm-up done in $warmS%.2f s")
    val win = Window.closedLoop(h, 1, seconds, MinPasses) { (c, cycle) =>
      PassOps.map { case (n, l) =>
        op(h, dir, work, n, l, c, cycle, Window.traced(h, cycle)) }
    }
    val once = if (!h.tracer.enabled) Nil else TraceOps.map { case (n, l) =>
      op(h, dir, work, n, l, -1, WarmPasses, traced = true) }
    val layer = mutable.LinkedHashMap.empty[String, Double]
    (PassOps ++ TraceOps).foreach { case (n, l) =>
      val runs = (win.ops ++ once).filter(_.kind == n)
      layer(s"$l.s") = Stats.median(runs.map(_.latencyMs / 1000.0))
      layer(s"$l.construct_frac") =
        Stats.median(runs.map(r => r.constructMs / math.max(1e-9, r.latencyMs)))
      layer(s"$l.jobs") = Stats.median(runs.filter(_.traced)
        .map(r => h.tracer.listener.of(r.root).jobs.toDouble))
    }
    layer("cache.pinned_before_drain") = Stats.median(drains.map(_._1.toDouble).toSeq)
    layer("cache.drain_ms") = Stats.median(drains.map(_._2).toSeq)
    Outcome(warm ++ once, win, Stats.median(loads), warmS, MinPasses * PassOps.size,
      layer.toMap)
  }
}
