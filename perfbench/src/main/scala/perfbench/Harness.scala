package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** One request as measured. Latency runs from the request's first call
  * into the program to the end of its action; the correctness check
  * that follows is not part of it. */
final case class OpRecord(kind: String, family: String, write: Boolean,
    client: Int, cycle: Int, traced: Boolean, root: Long,
    startNs: Long, endNs: Long, constructMs: Double, planMs: Double,
    execMs: Double, layerMs: Map[String, Double], error: Option[String]) {
  def latencyMs: Double = (endNs - startNs) / 1e6
}

/**
 * The phases of one request. Every call into the program goes through
 * one of three timers: `construct` (the operator call that returns a
 * DataFrame, including any jobs it runs eagerly), `plan` (forcing
 * `queryExecution.executedPlan`) and `exec` (the action). Each timer
 * also opens a span named after the layer it calls into.
 */
final class Request(val root: Span, tracer: Tracer) {
  private[perfbench] var constructNs = 0L
  private[perfbench] var planNs = 0L
  private[perfbench] var execNs = 0L
  private[perfbench] val layerNs = mutable.LinkedHashMap.empty[String, Long]
  /** End of the last call into the program. */
  private[perfbench] var lastNs = 0L

  private def timed[T](layer: String)(f: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val out = tracer.span(layer, root)(f)
    lastNs = System.nanoTime()
    layerNs(layer) = layerNs.getOrElse(layer, 0L) + (lastNs - t0)
    (out, lastNs - t0)
  }

  def construct[T](layer: String)(f: => T): T = {
    val (out, dt) = timed(layer)(f); constructNs += dt; out
  }

  def plan(df: DataFrame): Unit = {
    val (_, dt) = timed("plan")(df.queryExecution.executedPlan); planNs += dt
  }

  def exec[T](layer: String)(f: => T): T = {
    val (out, dt) = timed(layer)(f); execNs += dt; out
  }

  /** A call into the program that is in none of the three phases; it
    * still counts in the request's latency. */
  def call[T](layer: String)(f: => T): T = timed(layer)(f)._1
}

/** Runs requests under their own Spark job group and span. */
final class Harness(val spark: SparkSession, val tracer: Tracer,
    val cores: Int) {

  /** Task time Spark has reported so far; 0 when not tracing. */
  def taskBusyMs(): Long =
    if (!tracer.enabled) 0L
    else {
      PerfbenchBus.drain(spark.sparkContext)
      tracer.listener.total.taskBusyMs
    }

  /** Run one request; `body` returns an error message when the answer
    * is wrong. A thrown exception also counts as a failed request. */
  def run(kind: String, family: String, write: Boolean, client: Int,
      cycle: Int, traced: Boolean)(body: Request => Option[String]): OpRecord = {
    val sc = spark.sparkContext
    val root = tracer.begin(kind, 0L, 0L, traced && tracer.enabled)
    val req = new Request(root, tracer)
    sc.setJobGroup(root.id.toString, kind, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val err =
      try body(req)
      catch {
        case e: Throwable =>
          req.lastNs = System.nanoTime()
          Some(s"$kind threw ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(300))
      } finally {
        sc.clearJobGroup()
        tracer.end(root)
      }
    OpRecord(kind, family, write, client, cycle, traced && tracer.enabled,
      root.id, t0, math.max(t0, req.lastNs), req.constructNs / 1e6, req.planNs / 1e6,
      req.execNs / 1e6, req.layerNs.map { case (k, v) => k -> v / 1e6 }.toMap,
      err)
  }
}

/** Metrics of one run, in the order they were added. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]
  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
}
