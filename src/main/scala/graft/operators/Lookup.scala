package graft.operators

import graft.StaticPlan.bindSmall
import graft.expr.FilterExpr
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Lookup — secondary-index scan with column hints, residual filter, and
 * cross-context dedup (reference: src/storage/index/LookupBaseProcessor
 * .inl:140-263 — four plan shapes over IndexScanNode -> [IndexVertexNode/
 * IndexEdgeNode] -> [IndexFilterNode] -> IndexOutputNode -> DeDupNode).
 *
 * Hint model, validated exactly like the reference's IndexScanNode
 * (src/storage/exec/IndexScanNode.h:27-41): N PREFIX (equality) hints on
 * a leading run of index columns, followed by at most one RANGE hint,
 * which must be last.
 *
 * Spark-first: no physical index is materialized — the hint conjunction
 * compiles to a predicate that Catalyst pushes into the parquet scan
 * (min/max row-group pruning plays the role of the ordered index; the
 * reference's covering-index distinction collapses because column pruning
 * already reads only what's yielded). Multiple IndexQueryContexts (an OR
 * of predicates) become a union of per-context frames deduped on the
 * key columns — the reference's DeDupNode
 * (src/storage/exec/DeDupNode.h:17-58, dedup cols chosen at
 * LookupBaseProcessor.inl:70-75).
 */
object Lookup {

  sealed trait ColumnHint { def column: String }
  /** Equality hint on one index column. */
  final case class Prefix(column: String, value: Any) extends ColumnHint
  /** Range hint; either bound optional, inclusiveness explicit. */
  final case class Range(column: String,
      lo: Option[Any] = None, loInclusive: Boolean = true,
      hi: Option[Any] = None, hiInclusive: Boolean = false) extends ColumnHint

  /** One OR-branch: a hint run + optional residual filter (the
    * reference's IndexFilterNode over non-indexed columns). */
  final case class IndexQueryContext(hints: Seq[ColumnHint],
      residual: Option[FilterExpr] = None)

  final case class Request(contexts: Seq[IndexQueryContext],
      yieldCols: Seq[String], dedupKeys: Seq[String])

  /** Mirrors IndexScanNode's hint-shape validation: prefixes first, at
    * most one range, range must be last. */
  def validateHints(hints: Seq[ColumnHint]): Unit = {
    require(hints.nonEmpty, "at least one column hint required")
    val rangeIdx = hints.zipWithIndex.collect { case (_: Range, i) => i }
    require(rangeIdx.size <= 1, "at most one RANGE hint")
    require(rangeIdx.forall(_ == hints.size - 1), "RANGE hint must be last")
  }

  private def hintPredicate(hints: Seq[ColumnHint]): Column = {
    validateHints(hints)
    hints.map {
      case Prefix(c, v) => col(c) === lit(v)
      case Range(c, lo, loInc, hi, hiInc) =>
        val loC = lo.map(v => if (loInc) col(c) >= lit(v) else col(c) > lit(v))
        val hiC = hi.map(v => if (hiInc) col(c) <= lit(v) else col(c) < lit(v))
        (loC.toSeq ++ hiC.toSeq).reduceOption(_ && _).getOrElse(lit(true))
    }.reduce(_ && _)
  }

  def apply(table: DataFrame, req: Request): DataFrame = {
    val perContext = req.contexts.map { ctx =>
      val scanned = table.filter(hintPredicate(ctx.hints))
      ctx.residual match {
        case Some(f) => scanned.filter(FilterExpr.predicate(f))
        case None => scanned
      }
    }
    bindSmall(perContext.reduce(_ unionByName _)
      .dropDuplicates(req.dedupKeys)
      .select(req.yieldCols.map(col): _*))
  }

  /**
   * Plan shapes 2/4 with a *materialized* index: scan the (sorted,
   * bucketed) index projection with the hints, then fetch the base rows
   * the hits point to — the reference's IndexScanNode →
   * IndexVertexNode/IndexEdgeNode → [IndexFilterNode] → IndexOutputNode
   * chain (src/storage/index/LookupBaseProcessor.inl:304-439). The
   * index-hit set is usually tiny relative to the base table, so the
   * fetch is a semi-join AQE turns into a broadcast.
   *
   * Use when yield/residual needs non-indexed columns; when the index
   * covers them, plain [[apply]] on the index table is shape 1/3.
   */
  def viaIndex(indexTable: DataFrame, baseTable: DataFrame,
      keyCols: Seq[String], req: Request): DataFrame = {
    // Per-context fetch + residual, exactly like apply(): each
    // IndexQueryContext is its own IndexScanNode → Index{Vertex,Edge}Node
    // → [IndexFilterNode] branch; only the final DeDupNode is shared.
    // (Folding every residual over one unioned fetch would AND residuals
    // across OR-contexts — dropping rows from residual-free contexts.)
    val perContext = req.contexts.map { ctx =>
      val hits = indexTable.filter(hintPredicate(ctx.hints))
        .select(keyCols.map(col): _*).dropDuplicates(keyCols)
      val fetched = baseTable.join(hits, keyCols, "left_semi")
      ctx.residual match {
        case Some(f) => fetched.filter(FilterExpr.predicate(f))
        case None => fetched
      }
    }
    bindSmall(perContext.reduce(_ unionByName _)
      .dropDuplicates(req.dedupKeys)
      .select(req.yieldCols.map(col): _*))
  }
}
