package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Upsert sinks (SURVEY.md S8-S10).
  *
  * The reference upserts via MongoDB `bulk_write(UpdateOne(..., $set))`
  * (`worker.py:87-94,122-124`, `enter_wordvecs.py:40-53`,
  * `calculate_idf_scores.py:82-85`) — per-key merge semantics. Plain
  * Spark-on-Parquet has no MERGE, so the engine provides it two ways:
  * [[mergeByKey]] merges two frames by join, and an append-only store
  * of `batch=N` slices reads back through [[latestByKey]], so a batch
  * writes only its own rows and never rewrites the store.
  */
object Upsert {

  /** Merge `updates` into `existing` by `key`: update rows replace
    * matching keys, unmatched update rows are inserts, unmatched existing
    * rows survive. Row-presence (not per-value) dispatch: when an update
    * row matches, its value wins even when that value is NULL — matching
    * Mongo `$set` (the reference stores `doc_vectors=None` for
    * `known_tokens == 0`, `worker.py:87-94`; a per-value coalesce could
    * never write that NULL back). Columns absent from `updates`
    * entirely keep their existing value.
    */
  def mergeByKey(existing: DataFrame, updates: DataFrame, key: String): DataFrame = {
    val e = existing.alias("e")
    // Row presence is tracked with an explicit always-true marker, NOT
    // the update key's null-ness: a NULL-key update row never joins
    // (null === null is false), and key-based dispatch would then read
    // every shared column from the absent e-side, erasing the row's
    // real values into NULLs. With the marker, such a row surfaces as
    // an insert carrying its own values.
    // marker name must be free in BOTH frames: an input column named
    // __graft_upd would be silently overwritten by withColumn (and the
    // output column set would change), so probe for an unused suffix
    val marker = Iterator.from(0)
      .map(i => if (i == 0) "__graft_upd" else s"__graft_upd$i")
      .find(m => !existing.columns.contains(m) && !updates.columns.contains(m))
      .get
    val u = updates.withColumn(marker, lit(true)).alias("u")
    val joined = e.join(u, col(s"e.$key") === col(s"u.$key"), "full_outer")
    val updatePresent = col(s"u.$marker").isNotNull
    val cols = (existing.columns ++ updates.columns).distinct.map { c =>
      val inE = existing.columns.contains(c)
      val inU = updates.columns.contains(c)
      val expr =
        if (inE && inU) when(updatePresent, col(s"u.$c")).otherwise(col(s"e.$c"))
        else if (inU) col(s"u.$c")
        else col(s"e.$c")
      expr.as(c)
    }
    joined.select(cols.toIndexedSeq: _*)
  }

  /** The upserted view of a store written as `batch=N` slices: for each
    * `key`, the whole row of its highest `batch`. A later row wins even
    * where its values are NULL — Mongo `$set`, as in [[mergeByKey]] —
    * and a consolidated `batch=-1` slice sorts below every later one.
    *
    * Batch ids order the slices only within one checkpoint lineage: a
    * store is fed by one stream and its checkpoint, as the other
    * `batch=N` artifacts are. A fresh checkpoint restarts the ids at 0,
    * so its slices would overwrite or sort below the old lineage's.
    */
  def latestByKey(slices: DataFrame, key: String): DataFrame = {
    val rank = Iterator.from(0).map(i => s"__graft_rank$i")
      .find(c => !slices.columns.contains(c)).get
    slices
      .withColumn(rank, row_number().over(
        Window.partitionBy(col(key)).orderBy(col("batch").desc)))
      .filter(col(rank) === 1)
      .drop(rank)
  }
}
