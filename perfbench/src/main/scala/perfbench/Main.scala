package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/**
 * Runs one workload in this JVM and writes its result as JSON.
 *
 * Usage: Main --workload <serve_mixed|batch_iter> --seed <n>
 *   --seconds <s> --trace <0|1> --data <dir> --work <dir> --cores <n>
 *   --out <file>
 *
 * `--data` holds the generated parquet tables; every file the run writes
 * goes under `--work`. `perfbench/run.py` generates the data, launches
 * this main and prints the metrics.
 */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val (data, work, cores) = (args("data"), args("work"), args("cores").toInt)

    val sampler = if (trace) Some(new JvmSampler()) else None
    val (spark, sessionS) = Clock.timed(session(work, cores))
    Clock.step(f"session started in $sessionS%.2f s")
    val tracer = new Tracer(trace)
    if (trace) spark.sparkContext.addSparkListener(tracer.listener)
    val h = new Harness(spark, tracer, cores)

    val batch = workload == "batch_iter"
    val outcome = workload match {
      case "serve_mixed" => ServeMixed.run(h, data, work, seed, seconds)
      case "batch_iter" => BatchIter.run(h, data, work, seconds)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Clock.step("window done")
    val report = new Report
    if (trace) {
      PerfbenchBus.drain(spark.sparkContext)
      val (gcS, heapMb) = sampler.get.stop()
      Metrics.perLayer(report, h, outcome, gcS, heapMb)
      tracer.dump(Paths.get(work, "spans.jsonl"))
    } else Metrics.endToEnd(report, outcome, sessionS)
    val all = outcome.warmup ++ outcome.window.ops
    val errors = all.flatMap(_.error)
    Files.writeString(Paths.get(args("out")), Json.result(
      attempted = all.size, failed = errors.size, errors = errors,
      report = report,
      outputs = if (batch) BatchIter.outputs(work, all) else Nil,
      oracle = if (batch) BatchIter.oracleSql else Map.empty))
    spark.stop()
    Clock.step("stopped")
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  def result(attempted: Int, failed: Int, errors: Seq[String], report: Report,
      outputs: Seq[(String, String)], oracle: Map[String, String]): String = {
    val metrics = report.metrics.map { case (k, (v, u)) =>
      s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}"
    }.mkString("{", ", ", "}")
    val outs = outputs.map { case (n, p) =>
      s"{${str("name")}: ${str(n)}, ${str("path")}: ${str(p)}}" }
    Seq(
      s"${str("attempted")}: $attempted",
      s"${str("failed")}: $failed",
      s"${str("errors")}: ${errors.take(20).map(str).mkString("[", ", ", "]")}",
      s"${str("metrics")}: $metrics",
      s"${str("notes")}: ${report.notes.map(str).mkString("[", ", ", "]")}",
      s"${str("outputs")}: ${outs.mkString("[", ", ", "]")}",
      s"${str("oracle_sql")}: " + oracle.map { case (k, v) =>
        s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")
    ).mkString("{", ", ", "}\n")
  }
}
