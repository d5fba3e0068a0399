package graft.operators

import graft.StaticPlan.bindSmall
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * ScanVertex / ScanEdge — paginated full scan of a tag/edge table with a
 * resume cursor (reference: src/storage/query/ScanVertexProcessor
 * .cpp:27-100 — prefix scan + limit + cursor = next storage key).
 *
 * Spark-first: keyset pagination. The cursor is the last key of the
 * previous page; a page is `key > cursor ORDER BY key LIMIT n`, which
 * Catalyst plans as TakeOrderedAndProject (distributed top-k — no global
 * sort materialization) with the `key > cursor` predicate pushed to the
 * parquet scan. On sorted/bucketed storage at 100 TB this prunes to the
 * files past the cursor (SURVEY.md §7.4 pt 7).
 */
object Scan {

  final case class Page(rows: DataFrame, nextCursor: Option[Any])

  /** One page of a keyset-paginated scan over `keyCols`-sorted data. */
  def page(table: DataFrame, keyCol: String, props: Seq[String],
      limit: Int, cursor: Option[Any]): DataFrame = {
    val after = cursor match {
      case Some(k) => table.filter(col(keyCol) > lit(k))
      case None => table
    }
    bindSmall(after.orderBy(col(keyCol)).limit(limit)
      .select((keyCol +: props).map(col): _*))
  }

  /**
   * Multi-tag vertex scan: one row per vertex holding the requested
   * props of EVERY tag the vertex has (nulls where a tag is absent) —
   * the reference's ScanVertexRequest carries a list of tag prop sets
   * and emits one row per vertex with per-tag columns
   * (src/storage/query/ScanVertexProcessor.cpp:27-100).
   */
  def multiTagPage(store: graft.model.GraphStore,
      tagProps: Map[String, Seq[String]], keyCol: String, limit: Int,
      cursor: Option[Any]): DataFrame = {
    val perTag = tagProps.toSeq.sortBy(_._1).map { case (tag, props) =>
      store.tag(tag).select((keyCol +: props).map(col): _*)
    }
    val joined = perTag.reduce(_.join(_, Seq(keyCol), "full_outer"))
    val after = cursor match {
      case Some(k) => joined.filter(col(keyCol) > lit(k))
      case None => joined
    }
    after.orderBy(col(keyCol)).limit(limit)
  }

  /**
   * Range-partitioned at-rest layout for cursor-pruned scans: the key's
   * coarse range (`_kr = key div width`) becomes a Hive partition
   * column. Together with [[pageRangePruned]] this is the at-rest
   * statement of SURVEY §7.4 pt 7 — a pagination cursor prunes FILES
   * (directories wholly behind the cursor never enter the scan's file
   * listing), not just rows. Width trades directory count against
   * pruning granularity; at 100 TB pick width so one range ≈ one
   * target file (e.g. 10^6 keys).
   */
  def writeRangePartitioned(df: DataFrame, path: String, keyCol: String,
      width: Long): Unit =
    df.withColumn("_kr", expr(s"$keyCol div $width"))
      .write.mode("overwrite").partitionBy("_kr").parquet(path)

  /**
   * Keyset page over a [[writeRangePartitioned]] layout: the cursor
   * bounds BOTH the key (`key > cursor`, the pushed row filter) and
   * its monotone coarse range (`_kr >= cursor div width`, a STATIC
   * partition filter Catalyst resolves against the directory listing,
   * so partitions behind the cursor contribute zero files).
   * PlanShapeSpec asserts the pruned file count at runtime.
   */
  def pageRangePruned(table: DataFrame, keyCol: String, width: Long,
      props: Seq[String], limit: Int, cursor: Option[Long]): DataFrame = {
    val after = cursor match {
      case Some(k) =>
        table.filter(col("_kr") >= lit(k / width) && col(keyCol) > lit(k))
      case None => table
    }
    after.orderBy(col(keyCol)).limit(limit)
      .select((keyCol +: props).map(col): _*)
  }

  /** Page plus the resume cursor (max key of the page), for drivers that
    * loop pages like the reference's client. */
  def pageWithCursor(table: DataFrame, keyCol: String, props: Seq[String],
      limit: Int, cursor: Option[Any]): Page = {
    val rows = page(table, keyCol, props, limit, cursor)
    // cursor type follows the key column (int or string vids alike)
    val next = Option(rows.agg(max(col(keyCol))).head.getAs[Any](0))
    Page(rows, next)
  }
}
