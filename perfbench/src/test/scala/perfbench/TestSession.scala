package perfbench

import org.apache.spark.sql.SparkSession

/** One local session for every spec, with its files under target/. */
object TestSession {
  val work: String = new java.io.File("target/test-work").getAbsolutePath
  lazy val spark: SparkSession = Main.session(work, cores = 2)

  /** Generated sf0.001 tables; `python3 perfbench/run.py --test` sets it. */
  def sfDir: Option[String] = sys.env.get("PERFBENCH_SF_DIR")
}
