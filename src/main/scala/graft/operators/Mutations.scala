package graft.operators

import graft.StaticPlan.bindSmall
import graft.expr.FilterExpr
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Mutation semantics as snapshot-in → snapshot-out table transforms
 * (SURVEY.md §2.7). The reference's per-key memory locks, index-delta
 * batches and TOSS cross-part atomicity exist to make concurrent
 * single-row RPCs safe; a Spark batch write is atomic at job-commit
 * level, so only the *merge semantics* carry over:
 *
 *  - addVertices / addEdges (reference: src/storage/mutate/
 *    AddVerticesProcessor.cpp:23-341): upsert of incoming rows, with
 *    `if_not_exists` keeping the first-seen row (visited-set + old-value
 *    probe, :135-300) and default mode keeping the last write.
 *  - delete* (Delete{Vertices,Tags,Edges}Processor.cpp): anti-join.
 *  - update/upsert (src/storage/exec/UpdateNode.h:22-436): read-modify-
 *    write with a condition filter, dependency-ordered SET evaluation
 *    (`a = 1, b = a + 1` — :67-118), and insertable mode that fills
 *    unset props from defaults before applying SETs.
 *
 * Snapshot transforms over small snapshots run interpreted
 * ([[graft.StaticPlan.bindSmall]]): each batch's keys and SET values
 * are literals that would otherwise compile fresh classes per write.
 */
object Mutations {

  /**
   * Merge `incoming` into `existing` on `keys`.
   * ifNotExists=true → first writer (existing) wins; false → incoming
   * (last writer) wins. The reference resolves duplicate keys *within*
   * one batch with an in-order visited-set (first-seen wins under
   * if_not_exists, last write wins otherwise); batches there arrive as
   * ordered thrift lists. A DataFrame carries no row order, so callers
   * with key-duplicate batches must pass `incomingOrder` (e.g. a batch
   * sequence column) — later-ordered rows win when ifNotExists=false,
   * earlier when true. Without it, duplicate in-batch keys tie
   * nondeterministically; key-unique batches (the common case) are
   * unaffected.
   */
  def addRows(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
      ifNotExists: Boolean, incomingOrder: Option[Column] = None): DataFrame = {
    val cols = existing.columns.toSeq
    val batchOrd = incomingOrder.getOrElse(lit(0L)).cast("long")
    // _bord is computed on the un-projected incoming frame: the order
    // column need not be part of the table schema.
    val tagged = existing.select(cols.map(col): _*)
      .withColumn("_prio", lit(0)).withColumn("_bord", lit(0L))
      .unionByName(incoming.withColumn("_bord", batchOrd)
        .select((cols :+ "_bord").map(col): _*)
        .withColumn("_prio", lit(1)))
    val ord =
      if (ifNotExists) Seq(col("_prio").asc, col("_bord").asc)
      else Seq(col("_prio").desc, col("_bord").desc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    bindSmall(tagged.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_prio", "_bord", "_rn"))
  }

  /** Delete rows whose key appears in `keys` (anti-join rewrite).
    * No forced broadcast: delete sets can be table-sized; AQE picks
    * broadcast at runtime when the key side actually fits. */
  def deleteRows(existing: DataFrame, keys: DataFrame,
      keyCols: Seq[String]): DataFrame =
    bindSmall(existing.join(keys, keyCols, "left_anti"))

  /** Delete by predicate (reference's delete-by-lookup composition). */
  def deleteWhere(existing: DataFrame, pred: FilterExpr): DataFrame =
    existing.filter(!FilterExpr.predicate(pred))

  /**
   * DeleteTags (reference: src/storage/mutate/DeleteTagsProcessor.cpp):
   * remove only the named tags' rows for the given vertex ids — the
   * vertex's rows under every *other* tag survive untouched. This is the
   * semantics DeleteVertices does NOT have (that one removes every tag
   * row of the vid). Each tag is an independent DataFrame in our model,
   * so the per-tag delete is an anti-join on the tag's own frame and
   * non-targeted tags pass through by identity — no cross-tag shuffle
   * at all, which is exactly the reference's per-tag key delete.
   */
  def deleteTags(tags: Map[String, DataFrame], vidCol: String,
      deleteVids: DataFrame, tagsToDelete: Set[String]): Map[String, DataFrame] = {
    val keySide = deleteVids.select(vidCol).distinct()
    tags.map { case (name, df) =>
      name -> (if (tagsToDelete(name))
        df.join(keySide, Seq(vidCol), "left_anti")
      else df)
    }
  }

  /**
   * Conditional read-modify-write over the whole table: rows matching
   * `where` get the SET list applied **in order** — each SET sees the
   * values produced by earlier SETs, the reference's dependency-ordered
   * evaluation (UpdateNode.h:67-118). Non-matching rows pass through.
   */
  def updateWhere(table: DataFrame, where: FilterExpr,
      sets: Seq[(String, Column)]): DataFrame = {
    val cond = FilterExpr.predicate(where)
    // Sequential fold: SET i is expressed over columns already rewritten
    // by SETs < i, so `a = a + 1, b = a` uses the *new* a.
    bindSmall(sets.foldLeft(table.withColumn("_upd", cond)) { case (df, (c, v)) =>
      df.withColumn(c, when(col("_upd"), v).otherwise(col(c)))
    }.drop("_upd"))
  }

  /**
   * Upsert: rows of `updates` (keyed by `keys`) merge into `table`.
   * Existing rows must pass `condition` (over their old values) to be
   * updated; missing keys are inserted from `defaults` when `insertable`,
   * then the ordered SET list runs over the merged row. Returns the new
   * table plus an `_inserted` flag column (the reference's
   * UpdateResultNode yield, src/storage/exec/UpdateResultNode.h).
   */
  def upsert(table: DataFrame, updates: DataFrame, keys: Seq[String],
      condition: Option[FilterExpr], sets: Seq[(String, Column)],
      insertable: Boolean, defaults: Map[String, Column]): DataFrame = {
    val cols = table.columns.toSeq
    val upd = updates.select(keys.map(col): _*)
      .withColumn("_touched", lit(true))
    val joined = table.withColumn("_exists", lit(true))
      .join(upd, keys, "full_outer")
    val touched = coalesce(col("_touched"), lit(false))
    val exists = coalesce(col("_exists"), lit(false))
    val condOk = condition.map(FilterExpr.predicate).getOrElse(lit(true))
    // Row states: existing & touched & cond -> update; existing otherwise
    // -> passthrough; new & insertable -> defaults + SETs.
    val inserted = touched && !exists
    val applies = (touched && exists && condOk) || inserted
    val withDefaults = cols.foldLeft(joined) { case (df, c) =>
      if (keys.contains(c)) df
      else df.withColumn(c,
        when(inserted, defaults.getOrElse(c, lit(null))).otherwise(col(c)))
    }
    val afterSets = sets.foldLeft(
      withDefaults.withColumn("_apply", applies)) { case (df, (c, v)) =>
      df.withColumn(c, when(col("_apply"), v).otherwise(col(c)))
    }
    val kept = if (insertable) afterSets else afterSets.filter(exists)
    bindSmall(kept.withColumn("_inserted", inserted)
      .select((cols :+ "_inserted").map(col): _*))
  }

  /**
   * Referential cascade delete — the "right to be forgotten" batch
   * statement (delete a key set from the root table AND every row
   * transitively referencing it through FK chains; the reference's
   * DeleteVertices + DeleteEdges only covers one hop,
   * src/storage/mutate/DeleteVerticesProcessor.cpp): `levels` is the
   * FK chain root-first — (table_name, table, key_col, fk_col) where
   * level 0's fk_col names the column matched against `victims` and
   * each later level's fk_col references the PREVIOUS level's key_col.
   * Emits the audit evidence per table: (table, n_before, n_deleted,
   * n_after) — the numbers a deletion-compliance report needs; the
   * surviving tables themselves are `deleteRows(table, matchedKeys)`
   * (anti-join), not recomputed here.
   *
   * Scale shape: one LEFT SEMI join per level on the FK (AQE
   * broadcasts the shrinking key frame while it fits); the matched
   * frame persists because it feeds both the count and the next
   * level's key projection; counts are single aggregated rows.
   */
  def cascadeDelete(levels: Seq[(String, DataFrame, String, String)],
      victims: DataFrame): DataFrame = {
    require(levels.nonEmpty, "need at least the root level")
    val vCol = victims.columns.head
    var keys = victims.select(col(vCol).as("_k")).distinct()
    val reports = levels.map { case (name, df, keyCol, fkCol) =>
      val matched = df.join(keys.select(col("_k").as(fkCol)),
          Seq(fkCol), "left_semi")
        .transform(graft.CacheScope.persist(_)) // count + next keys
      val rep = df.agg(count(lit(1)).as("n_before"))
        .crossJoin(broadcast(
          matched.agg(count(lit(1)).as("n_deleted"))))
        .select(lit(name).as("table"), col("n_before"),
          col("n_deleted"),
          (col("n_before") - col("n_deleted")).as("n_after"))
      keys = matched.select(col(keyCol).as("_k")).distinct()
      rep
    }
    reports.reduce(_ unionByName _)
  }
}
