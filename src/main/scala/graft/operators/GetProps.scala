package graft.operators

import graft.StaticPlan.bindSmall
import graft.expr.FilterExpr
import graft.model.GraphStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * GetProps — point fetch of tag rows / edge rows by key
 * (reference: src/storage/exec/TagNode.h:43-107 point-get of one vertex's
 * tag row; src/storage/exec/EdgeNode.h:77-157 point-get by full edge key;
 * driven by GetPropsProcessor).
 *
 * In Spark the point-get is a key-predicate scan: small key sets compile
 * to `isin` (parquet row-group pruning does the "point" part), large key
 * sets become a broadcast semi-join. Projection is plain `select` —
 * column pruning reaches the scan (reference's PropContext `returned_`
 * flags, src/storage/query/QueryBaseProcessor.h:33-102). Results of
 * small snapshots run interpreted ([[graft.StaticPlan.bindSmall]]).
 */
object GetProps {

  private val ISIN_MAX = 1024

  /** Fetch tag props for a vertex id set (int or string vids). */
  def vertices(store: GraphStore, tag: String, ids: Seq[Any],
      props: Seq[String], filter: Option[FilterExpr] = None): DataFrame = {
    val df = store.tag(tag)
    val keyed =
      if (ids.size <= ISIN_MAX) df.filter(col(GraphStore.VID).isin(ids: _*))
      else df.join(
        broadcast(Keys.frame(df.sparkSession, ids, GraphStore.VID)),
        Seq(GraphStore.VID), "left_semi")
    val filtered = filter.map(f => keyed.filter(FilterExpr.predicate(f)))
      .getOrElse(keyed)
    bindSmall(filtered.select((GraphStore.VID +: props).map(col): _*))
  }

  /** Fetch edge props by full edge key (src, rank, dst) — the reference's
    * FetchEdgeNode keyed get. */
  def edges(store: GraphStore, edgeType: String,
      keys: Seq[(Long, Long, Long)], props: Seq[String]): DataFrame = {
    val df = store.edge(edgeType)
    val spark = df.sparkSession
    import spark.implicits._
    val keyDf = broadcast(
      keys.toDF(GraphStore.SRC, GraphStore.RANK, GraphStore.DST))
    // The src set prunes the scan BEFORE the exact key semi-join: isin
    // on the key prefix pushes to parquet (row-group min/max +
    // dictionary pruning) — the reference's prefix-scan point get
    // (src/storage/exec/EdgeNode.h:77-157 seeks a (src, type) prefix,
    // bloom-filter assisted); the semi-join alone would scan every row.
    // Large batches skip the isin (an unbounded In literal blows up the
    // driver/analyzer) and prefix-prune with a broadcast semi-join on
    // the src column instead, same as vertices() above.
    val srcs = keys.map(_._1).distinct
    val pruned =
      if (srcs.size <= ISIN_MAX) df.filter(col(GraphStore.SRC).isin(srcs: _*))
      else df.join(
        broadcast(Keys.frame(spark, srcs, GraphStore.SRC)),
        Seq(GraphStore.SRC), "left_semi")
    bindSmall(pruned
      .join(keyDf, Seq(GraphStore.SRC, GraphStore.RANK, GraphStore.DST),
        "left_semi")
      .select((Seq(GraphStore.SRC, GraphStore.RANK, GraphStore.DST) ++ props)
        .map(col): _*))
  }
}
