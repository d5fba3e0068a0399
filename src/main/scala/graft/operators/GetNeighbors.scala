package graft.operators

import graft.StaticPlan.bindSmall
import graft.expr.FilterExpr
import graft.model.GraphStore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * GetNeighbors — the reference's flagship read: one-hop traversal from a
 * set of input vertices with pushed-down projection, filter, per-vertex
 * aggregate stats, per-vertex limit, and reservoir sampling
 * (reference: src/storage/query/GetNeighborsProcessor.cpp:173-252 plan
 * build — TagNodes + SingleEdgeNodes -> HashJoinNode -> FilterNode ->
 * AggregateNode -> GetNeighbors(Sample)Node).
 *
 * Spark-first re-expression: edges live in per-type DataFrames keyed by
 * `_src`; direction is handled by reading the same table keyed by `_dst`
 * with src/dst swapped and a negated type id — the reference instead
 * double-stores every edge under ±edgeType
 * (src/storage/query/QueryBaseProcessor.inl:208-234). Per-vertex limit is
 * a rank-over-window (partitioned by the input vertex, ordered by
 * `(_type, _rank, _dst)` to preserve the reference's storage-key order,
 * src/storage/exec/StorageIterator.h — edges arrive sorted by
 * (edgeType, rank, dst)). Stats are a `groupBy(_vid).agg(...)`, the
 * natural partial+final split of the reference's per-part DataSet append
 * (GetNeighborsProcessor.cpp:124-139).
 *
 * Scale notes: the vertex-id filter is an `isin` (pushed to parquet
 * row-group pruning) for small id lists and a broadcast semi-join above
 * the threshold; the window and groupBy shuffle once on `_vid` and AQE
 * handles skewed hot vertices. Results over small snapshots run
 * interpreted ([[graft.StaticPlan.bindSmall]]): every request's id list
 * and filter literals would otherwise compile fresh classes.
 */
object GetNeighbors {

  sealed trait Direction
  case object Out extends Direction
  case object In extends Direction
  case object Both extends Direction

  /** Per-vertex stat over the edge stream — SUM/COUNT/AVG/MIN/MAX only
    * (reference: src/storage/exec/AggregateNode.h:71-88). */
  final case class StatSpec(prop: String, stat: String, alias: String)

  final case class Request(
      edgeTypes: Seq[String],
      /** None = go over all vertices. Ids are whatever type the store's
        * `_vid` column carries — the reference supports both int and
        * fixed-string vids (src/mock/MockData.cpp int-vid variants). */
      vertexIds: Option[Seq[Any]] = None,
      direction: Direction = Out,
      edgeProps: Seq[String] = Nil,
      /** Tag props of the input vertex, joined into the stream before
        * the filter runs — the reference's HashJoinNode publishes tag
        * props into the expression context so filters see tag+edge
        * together (src/storage/exec/HashJoinNode.h:19-164). */
      tagProps: Map[String, Seq[String]] = Map.empty,
      filter: Option[FilterExpr] = None,
      limitPerVertex: Option[Int] = None,
      sample: Option[Int] = None, // reservoir size per vertex
      sampleSeed: Long = 42L,
      stats: Seq[StatSpec] = Nil)

  private val ISIN_MAX = 1024

  /** Restrict to the requested vertex set: isin (parquet-prunable) for
    * small sets, broadcast semi-join otherwise. */
  private def restrict(df: DataFrame, idCol: String, ids: Option[Seq[Any]]): DataFrame =
    ids match {
      case None => df
      case Some(vs) if vs.size <= ISIN_MAX => df.filter(col(idCol).isin(vs: _*))
      case Some(vs) =>
        df.join(broadcast(Keys.frame(df.sparkSession, vs, idCol)),
          Seq(idCol), "left_semi")
    }

  /**
   * Directed edge stream: one row per traversed edge with columns
   * `_vid` (the input vertex), `_type` (+id out / -id in, mirroring the
   * reference's signed edgeType), `_rank`, `_nbr` (the neighbor), plus
   * the requested props.
   */
  def edgeStream(store: GraphStore, req: Request): DataFrame = {
    val perType = req.edgeTypes.flatMap { et =>
      val df = store.edge(et)
      val tid = store.edgeTypeIds(et)
      val props = req.edgeProps.filter(df.columns.contains)
      val out = df.select(
        Seq(col(GraphStore.SRC).as("_vid"), lit(tid).as("_type"),
          col(GraphStore.RANK), col(GraphStore.DST).as("_nbr")) ++
          props.map(col): _*)
      val in = df.select(
        Seq(col(GraphStore.DST).as("_vid"), lit(-tid).as("_type"),
          col(GraphStore.RANK), col(GraphStore.SRC).as("_nbr")) ++
          props.map(col): _*)
      req.direction match {
        case Out => Seq(restrict(out, "_vid", req.vertexIds))
        case In => Seq(restrict(in, "_vid", req.vertexIds))
        case Both => Seq(restrict(out, "_vid", req.vertexIds),
          restrict(in, "_vid", req.vertexIds))
      }
    }
    val unioned = perType.reduce(_ unionByName _)
    // vertex ⋈ edge colocated join (HashJoinNode): attach the input
    // vertex's tag props so the filter can reference them. Missing tag
    // rows yield nulls (the reference publishes an empty Value).
    val withTags = req.tagProps.foldLeft(unioned) {
      case (df, (tag, props)) =>
        val tagDf = restrict(store.tag(tag), GraphStore.VID, req.vertexIds)
          .select((GraphStore.VID +: props).map(col): _*)
          .withColumnRenamed(GraphStore.VID, "_vid")
        df.join(tagDf, Seq("_vid"), "left_outer")
    }
    req.filter match {
      case Some(f) => withTags.filter(FilterExpr.predicate(f))
      case None => withTags
    }
  }

  /** Storage-key order within a vertex: (edgeType, rank, dst) —
    * reference src/storage/exec/StorageIterator.h iteration order. */
  private def keyOrder: Seq[Column] =
    Seq(col("_type"), col("_rank"), col("_nbr"))

  /**
   * Flat result: one row per surviving edge, post-filter per-vertex limit
   * applied in storage-key order (limit applies to the post-filter stream,
   * reference plan order GetNeighborsProcessor.cpp:225-247).
   */
  def flat(store: GraphStore, req: Request): DataFrame = {
    val edges = edgeStream(store, req)
    val limited = req.limitPerVertex match {
      case Some(k) =>
        val w = Window.partitionBy(col("_vid")).orderBy(keyOrder: _*)
        edges.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") <= k).drop("_rn")
      case None => edges
    }
    bindSmall(req.sample match {
      case Some(k) =>
        Sample.hashSamplePerGroup(limited, "_vid", col("_nbr"), keyOrder, k)
      case None => limited
    })
  }

  /** Per-vertex `_stats` aggregates over the post-filter edge stream
    * (reference: src/storage/exec/AggregateNode.h:125-155). */
  def stats(store: GraphStore, req: Request): DataFrame = {
    require(req.stats.nonEmpty, "stats request needs at least one StatSpec")
    // Stat inputs resolve independently of the returned props (the
    // reference's StatProp list is separate from returned_ flags —
    // src/storage/exec/AggregateNode.h:17-162): project them through
    // the edge stream whether or not the caller also yields them.
    val statProps = req.stats.map(_.prop)
      .filter(p => p != "*" && !p.startsWith("_"))
    val edges = edgeStream(store,
      req.copy(edgeProps = (req.edgeProps ++ statProps).distinct))
    val aggs = req.stats.map { s =>
      val c = col(s.prop)
      (s.stat.toLowerCase match {
        case "sum" => sum(c)
        case "count" => count(if (s.prop == "*") lit(1) else c)
        case "avg" => avg(c)
        case "min" => min(c)
        case "max" => max(c)
        case other => throw new IllegalArgumentException(s"stat $other")
      }).as(s.alias)
    }
    bindSmall(edges.groupBy(col("_vid")).agg(aggs.head, aggs.tail: _*))
  }

  /**
   * Reference-shaped nested result: one row per input vertex with the
   * `_stats` aggregate struct and each edge type's matches collected as
   * an ordered array of structs — the Spark mapping of the
   * `_vid, _stats, _edge:e:p1:p2…` response columns
   * (src/storage/exec/GetNeighborsNode.h:50-115, SURVEY.md §1.3).
   *
   * Single shuffle: stats aggregate over the full post-filter stream
   * while the per-vertex limit is applied *inside* the aggregation
   * (`slice` of the key-ordered collected array) — the plan order the
   * reference builds (FilterNode → AggregateNode → GetNeighborsNode,
   * GetNeighborsProcessor.cpp:225-247).
   */
  def grouped(store: GraphStore, req: Request): DataFrame = {
    val edges = edgeStream(store, req)
    val payload = struct(
      (Seq("_type", "_rank", "_nbr") ++
        req.edgeProps.filter(edges.columns.contains)).map(col): _*)
    val statAggs = req.stats.map { s =>
      val c = col(s.prop)
      (s.stat.toLowerCase match {
        case "sum" => sum(c)
        case "count" => count(if (s.prop == "*") lit(1) else c)
        case "avg" => avg(c)
        case "min" => min(c)
        case "max" => max(c)
        case other => throw new IllegalArgumentException(s"stat $other")
      }).as(s.alias)
    }
    val collected = sort_array(collect_list(payload)).as("_all")
    val base = edges.groupBy(col("_vid"))
      .agg(collected, statAggs: _*)
    val limited = req.limitPerVertex match {
      case Some(k) => base.withColumn("_edges", slice(col("_all"), 1, k))
      case None => base.withColumn("_edges", col("_all"))
    }
    val statsCol =
      if (req.stats.isEmpty) Seq.empty
      else Seq(struct(req.stats.map(s => col(s.alias)): _*).as("_stats"))
    val result = limited.select(col("_vid") +: statsCol :+ col("_edges"): _*)
    // `_tag:t:p1:p2…` cells: one struct column per requested tag with
    // the input vertex's tag props (null struct when the vertex lacks
    // the tag — the reference's empty Value).
    bindSmall(req.tagProps.foldLeft(result) { case (df, (tag, props)) =>
      val cell = store.tag(tag).select(col(GraphStore.VID).as("_vid"),
        struct(props.map(col): _*).as(s"_tag_$tag"))
      df.join(cell, Seq("_vid"), "left_outer")
    })
  }
}
