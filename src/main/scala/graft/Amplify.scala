package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit, max}

/**
 * Writes an N-fold copy of an sf fixture directory, the input on which
 * `Verify`, `scripts/check.py` and `Bench` run the registered queries at
 * N times the rows (`scripts/smoke.sh` chains the four).
 *
 * Copy `c` adds `c × B` to every key column ([[isKey]]); `B` is the
 * smallest power of ten above the largest key in the source. One stride
 * shared by every key domain makes each copy a disjoint, isomorphic
 * image of the source: every foreign key joins inside its copy
 * (`events.user_id → c_custkey` included), and ids that collide across
 * GraphStore tags collide the same way in every copy. Copy 0 is the
 * source row for row, so the fixed seeds and ids in the queries still
 * exist; copies `c ≥ 1` append ` copytag<c>` to `documents.text`, which
 * makes them near-duplicates rather than exact ones. Timestamps are not
 * shifted, so time buckets get N times denser. Every column keeps its
 * type.
 *
 * Each table is written as a directory `<table>.parquet` with one file
 * per copy, in copy order.
 *
 * Usage: sbt "runMain graft.Amplify <srcDir> <dstDir> <N>"
 */
object Amplify {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val Ids = Set("doc_id", "vec_id", "event_id", "user_id")

  def isKey(column: String): Boolean = column.endsWith("key") || Ids(column)

  /** The smallest power of ten above every key of `tables`. */
  private def stride(tables: Seq[DataFrame]): Long = {
    val top = tables.flatMap { df =>
      val row = df.select(df.columns.filter(isKey)
        .map(k => max(col(k)).cast("long")).toIndexedSeq: _*).head()
      (0 until row.length).filterNot(row.isNullAt).map(row.getLong)
    }.max
    Iterator.iterate(1L)(_ * 10).dropWhile(_ <= top).next()
  }

  /** Copy `c` of `df`: keys shifted by `c * stride`, `text` tagged. */
  private def copy(df: DataFrame, c: Int, stride: Long): DataFrame =
    df.select(df.schema.fields.toIndexedSeq.map { f =>
      if (isKey(f.name))
        (col(f.name) + lit(c * stride)).cast(f.dataType).as(f.name)
      else if (f.name == "text" && c > 0)
        concat(col(f.name), lit(s" copytag$c")).as(f.name)
      else col(f.name)
    }: _*)

  /** Writes `n` copies of every table of `src` under `dst`; returns the
    * stride. */
  def write(spark: SparkSession, src: String, dst: String, n: Int): Long = {
    require(n >= 1, s"copies must be >= 1, got $n")
    require(new java.io.File(src).getCanonicalPath !=
      new java.io.File(dst).getCanonicalPath, "dstDir must differ from srcDir")
    val tables = Tables.map(t => t -> spark.read.parquet(s"$src/$t.parquet"))
    val b = stride(tables.map(_._2))
    // int32 keys (nation and region keys) must still fit after the shift
    require(n * b <= Int.MaxValue, s"$n copies at stride $b overflow int32 keys")
    // one task writes the copies in order, one file of exactly one copy
    // each: N files give a scan N times the source's tasks
    tables.foreach { case (t, df) =>
      (0 until n).map(copy(df, _, b)).reduce(_ union _).coalesce(1)
        .write.option("maxRecordsPerFile", df.count())
        .mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    b
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: graft.Amplify <srcDir> <dstDir> <N>")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val b = write(spark, args(0), args(1), args(2).toInt)
    println(s"[amplify] ${args(0)} x${args(2)} -> ${args(1)} (key stride $b)")
    spark.stop()
  }
}
