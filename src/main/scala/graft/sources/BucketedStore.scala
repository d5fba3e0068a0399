package graft.sources

import graft.StaticPlan
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/**
 * Co-located physical layout — the Spark equivalent of the reference's
 * part colocation (`hash(vid) % parts` puts a vertex and all its edges
 * in the same part, src/utils/NebulaKeyUtils.h:14-26), which is what
 * makes its one-hop join shuffle-free.
 *
 * Bucketed tables (`bucketBy(id) + sortBy(id)`) give Catalyst the same
 * guarantee: a join of two tables bucketed on the join key plans as a
 * sort-merge join with NO Exchange on either side. At 100 TB this is
 * the difference between a full-network shuffle of the edge table per
 * query and a purely local join; the rebuild-index admin task (§2.9)
 * maps to re-bucketing a projection the same way.
 */
object BucketedStore {

  /** Persist a frame bucketed+sorted on the key columns. A small frame
    * is written interpreted ([[StaticPlan.bindSmall]]); the DROP and
    * the directory delete run on the caller's root session, whose
    * relation cache must forget the dropped table's files. */
  def save(df: DataFrame, table: String, buckets: Int,
      keys: Seq[String]): Unit = {
    val spark = StaticPlan.rootOf(df.sparkSession)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // A managed-table directory from a PRIOR session survives the
    // in-memory catalog (DROP above only sees this session's entries),
    // and CREATE then fails with LOCATION_ALREADY_EXISTS — clear it.
    val loc = new Path(spark.conf.get("spark.sql.warehouse.dir"),
      table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(loc, true)
    StaticPlan.bindSmall(df).write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  def load(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /**
   * CompactTask / FlushTask analog (reference:
   * src/storage/admin/CompactTask.cpp — a manual RocksDB full
   * compaction merging many small L0 SSTs into few sorted files).
   * The Spark-side failure mode it addresses is the same: continuous
   * `addRows` micro-batches leave a parquet directory with thousands
   * of KB-sized files, and at 100 TB the scan cost is dominated by
   * per-file open/footer overhead, not bytes.
   *
   * Rewrites the directory to ~`ceil(totalBytes / targetFileBytes)`
   * files (data unchanged). Writes to a sibling temp dir first, then
   * atomically swaps via rename — the compacted snapshot replaces the
   * fragmented one only after a complete successful write, the same
   * publish-then-swap discipline the reference gets from RocksDB's
   * compaction output versioning. Returns the resulting file count.
   */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): Int = {
    val hp = new Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, path)
    val entries = fs.listStatus(hp)
    // A Hive-partitioned dir (key=value subdirs) must be compacted per
    // leaf: reading it whole would surface the partition columns as
    // data and write back a silently FLATTENED, unpartitioned layout.
    val subdirs = entries.filter(st =>
      st.isDirectory && !st.getPath.getName.startsWith("_"))
    require(subdirs.isEmpty,
      s"compact: $path contains partition subdirectories " +
        s"(${subdirs.take(3).map(_.getPath.getName).mkString(", ")}...); " +
        "compact each leaf directory instead")
    val dataFiles = entries.filter { st =>
      st.isFile && !st.getPath.getName.startsWith("_")
    }
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val tmp = new Path(hp.getParent, hp.getName + "._compact_tmp")
    fs.delete(tmp, true)
    // coalesce, not repartition: merging files needs no shuffle — each
    // output task reads a run of input files locally.
    spark.read.parquet(path).coalesce(nOut)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val old = new Path(hp.getParent, hp.getName + "._compact_old")
    fs.delete(old, true)
    if (!fs.rename(hp, old))
      throw new java.io.IOException(s"compact: cannot stage $path")
    if (!fs.rename(tmp, hp)) {
      fs.rename(old, hp) // roll back — original snapshot still intact
      throw new java.io.IOException(s"compact: cannot publish $path")
    }
    fs.delete(old, true)
    fs.listStatus(hp).count { st =>
      st.isFile && st.getPath.getName.endsWith(".parquet")
    }
  }

  /**
   * Crash recovery for the two-rename publish window. The swap
   * sequence leaves exactly three observable crash states, each
   * resolvable without data loss because a complete snapshot always
   * exists on disk:
   *
   *  1. crash before `rename(hp, old)` completes: main dir intact,
   *     maybe a `._compact_tmp` — drop the tmp.
   *  2. crash between the two renames: main dir ABSENT, `._compact_old`
   *     holds the original, `._compact_tmp` holds the compacted copy —
   *     restore the original (the conservative choice: the tmp is
   *     complete too, but the original is the snapshot readers saw).
   *  3. crash after `rename(tmp, hp)`: main dir is the compacted
   *     snapshot, a stale `._compact_old` remains — drop it.
   *
   * Idempotent; called automatically at the start of [[compact]], and
   * safe to invoke on any store directory at open time.
   */
  def recover(spark: SparkSession, path: String): Unit = {
    val hp = new Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(hp.getParent, hp.getName + "._compact_tmp")
    val old = new Path(hp.getParent, hp.getName + "._compact_old")
    if (!fs.exists(hp) && fs.exists(old) && !fs.rename(old, hp))
      throw new java.io.IOException(s"recover: cannot restore $path")
    fs.delete(tmp, true)
    fs.delete(old, true)
  }

  /** RebuildIndexTask analog: materialize a sorted, bucketed projection
    * over selected columns (a covering "index" table). One job over an
    * immutable snapshot — no operation-log catch-up needed
    * (SURVEY.md §2.9). */
  def rebuildIndex(df: DataFrame, table: String, buckets: Int,
      indexCols: Seq[String]): Unit =
    save(df.select(indexCols.head, indexCols.tail: _*), table, buckets,
      Seq(indexCols.head))

  /**
   * Write-path index maintenance — the reference rewrites index keys
   * ATOMICALLY with every mutation (AddVerticesProcessor deletes the
   * old index key and inserts the new one per touched row,
   * src/storage/mutate/AddVerticesProcessor.cpp:118-160) rather than
   * rebuilding. Same law here: the entries of touched keys are
   * replaced — one key-anti-join against the delta + a union of the
   * delta's fresh projections. At 100 TB a rebuild is a full-table
   * sort; this costs only |delta| against the index's bucket files.
   * The gate (q_index_incremental) hashes this incremental result
   * against the oracle's FULL re-projection of the merged table —
   * incremental == rebuild, checked per round.
   */
  def indexApplyDelta(oldIndex: DataFrame, newRows: DataFrame,
      keys: Seq[String], indexCols: Seq[String]): DataFrame = {
    require(keys.forall(indexCols.contains),
      s"index cols $indexCols must cover the table key $keys " +
        "(the reference embeds the vid in every index key)")
    StaticPlan.bindSmall(oldIndex
      .join(newRows.select(keys.head, keys.tail: _*).distinct(),
        keys, "left_anti")
      .unionByName(newRows.select(indexCols.head, indexCols.tail: _*))
      // the using-column join fronts the key; restore index-key order
      .select(indexCols.head, indexCols.tail: _*))
  }
}
