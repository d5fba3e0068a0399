package graft

import graft.model.GraphStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** In-memory graphs for the loop budget and plan specs. */
object Cliques {
  /** Two 145-vertex complete digraphs (two SCCs, 41 760 arcs) joined
    * one way, plus a 6-vertex directed tail: over 32 768 rows, so the
    * armed loops plan two shuffle partitions (with one, a count needs
    * no exchange and an escaped action would cost no extra job). */
  def edges(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val k = clique(spark, 145)
    k.union(k.select((col("s") + 145).as("s"), (col("d") + 145).as("d")))
      .union(Seq((0L, 145L), (144L, 290L), (290L, 291L), (291L, 292L),
        (292L, 293L), (293L, 294L), (294L, 295L)).toDF("s", "d"))
  }

  /** The complete digraph (s, d) on vertices 0 until `n`. */
  def clique(spark: SparkSession, n: Int): DataFrame = {
    val k = spark.range(n).toDF("a")
    k.crossJoin(k.withColumnRenamed("a", "b")).filter(col("a") =!= col("b"))
      .select(col("a").as("s"), col("b").as("d"))
  }

  /** `edges` as the one edge type "e" of a store. */
  def store(edges: DataFrame): GraphStore = GraphStore(Map.empty,
    Map("e" -> edges.select(col("s").as(GraphStore.SRC),
      col("d").as(GraphStore.DST))), Map("e" -> 1))
}
