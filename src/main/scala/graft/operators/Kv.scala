package graft.operators

import graft.StaticPlan.bindSmall
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * GeneralStorageService — the reference's plain per-space KV surface:
 * put / get / remove (reference: src/storage/kv/{Get,Put,Remove}
 * Processor.cpp, handlers at src/storage/GeneralStorageServiceHandler
 * .cpp:29-47).
 *
 * Spark-first: the space is a two-column DataFrame `(key, value)`;
 * `put` is a last-writer-wins merge, `get` a broadcast semi-join,
 * `remove` an anti-join — the same snapshot-in/snapshot-out discipline
 * as §2.7 mutations. Results over small spaces run interpreted
 * ([[graft.StaticPlan.bindSmall]]).
 */
object Kv {

  /** Upsert a batch of pairs (last writer wins on duplicate keys);
    * small spaces run interpreted through `addRows`. */
  def put(space: DataFrame, pairs: DataFrame): DataFrame =
    Mutations.addRows(space, pairs, Seq("key"), ifNotExists = false)

  /** Fetch values for a key set; missing keys are absent (the
    * reference returns partial results with a key-not-found code).
    * Key sides are unhinted — AQE broadcasts them when they fit. */
  def get(space: DataFrame, keys: DataFrame): DataFrame =
    bindSmall(space.join(keys, Seq("key"), "left_semi"))

  /** Remove a key set. */
  def remove(space: DataFrame, keys: DataFrame): DataFrame =
    bindSmall(space.join(keys, Seq("key"), "left_anti"))
}
