package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, length, lit, max, substring}
import org.scalatest.BeforeAndAfterAll

class AmplifySpec extends SparkSpec with BeforeAndAfterAll {
  private val n = 3
  private lazy val dst =
    java.nio.file.Files.createTempDirectory("amplify-spec").toString
  private lazy val stride = Amplify.write(spark, sfDir, dst, n)

  private def src(t: String): DataFrame = spark.read.parquet(s"$sfDir/$t.parquet")
  private def amp(t: String): DataFrame = { stride; spark.read.parquet(s"$dst/$t.parquet") }

  override def afterAll(): Unit = {
    val d = new java.io.File(dst)
    if (d.exists()) org.apache.commons.io.FileUtils.deleteDirectory(d)
  }

  /** Rows of `df` in copy `c`: every key in `[c * stride, (c + 1) * stride)`. */
  private def copyOf(df: DataFrame, c: Int): DataFrame =
    df.where(df.columns.filter(Amplify.isKey).map { k =>
      col(k) >= c * stride && col(k) < (c + 1) * stride
    }.reduce(_ && _))

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("the stride is the smallest power of ten above every key") {
    val top = Amplify.Tables.flatMap { t =>
      src(t).columns.filter(Amplify.isKey).map(k =>
        src(t).agg(max(col(k)).cast("long")).head().getLong(0))
    }.max
    assert(stride > top && stride / 10 <= top, s"stride $stride, top key $top")
    assert(Iterator.iterate(stride)(_ / 10).takeWhile(_ > 1).forall(_ % 10 == 0))
  }

  test("every table keeps the schema Spark reads") {
    Amplify.Tables.foreach(t => assert(amp(t).schema == src(t).schema, t))
  }

  test("every table holds N times the source rows, one file per copy") {
    Amplify.Tables.foreach { t =>
      assert(amp(t).count() == n * src(t).count(), t)
      assert(new java.io.File(s"$dst/$t.parquet").list()
        .count(_.endsWith(".parquet")) == n, s"$t: one file per copy")
    }
  }

  test("copy 0 equals the source row for row") {
    Amplify.Tables.foreach(t => assert(sameRows(copyOf(amp(t), 0), src(t)), t))
  }

  test("copies >= 1 change only documents.text outside the key columns") {
    for (t <- Amplify.Tables; c <- 1 until n) {
      val df = copyOf(amp(t), c)
      val tag = s" copytag$c"
      val undone = df.select(df.schema.fields.toIndexedSeq.map { f =>
        if (Amplify.isKey(f.name))
          (col(f.name) - lit(c * stride)).cast(f.dataType).as(f.name)
        else if (t == "documents" && f.name == "text") {
          assert(df.where(!col("text").endsWith(tag)).isEmpty, s"copy $c untagged")
          substring(col("text"), lit(1), length(col("text")) - tag.length)
            .as("text")
        } else col(f.name)
      }: _*)
      assert(sameRows(undone, src(t)), s"$t copy $c")
    }
    assert(copyOf(amp("documents"), 1).join(src("documents"), "text").isEmpty)
  }

  test("foreign keys join N times their 1x count") {
    val joins = Seq(
      ("lineitem", "orders", col("l_orderkey") === col("o_orderkey")),
      ("lineitem", "part", col("l_partkey") === col("p_partkey")),
      ("lineitem", "supplier", col("l_suppkey") === col("s_suppkey")),
      ("orders", "customer", col("o_custkey") === col("c_custkey")),
      ("customer", "nation", col("c_nationkey") === col("n_nationkey")),
      ("events", "customer", col("user_id") === col("c_custkey")))
    joins.foreach { case (a, b, on) =>
      val one = src(a).join(src(b), on).count()
      assert(one > 0, s"$a x $b joins nothing at 1x")
      assert(amp(a).join(amp(b), on).count() == n * one, s"$a x $b")
    }
  }
}
