package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion for the persisted index families — the takedown/supersede
  * story a year-long corpus loop needs. Every index layout here
  * (minhash bands, LSH buckets, IVF/IVFPQ lists, BM25 postings) is
  * append-only with immutable ids, so deletion is a TOMBSTONE SET:
  * `<table>_tombstones` (id) records deleted ids, every query/check
  * path anti-joins it (a broadcast against the index scan — no new
  * exchange, the zero-shuffle plan pins hold), and the physical fold
  * runs at COMPACTION cadence, rewriting each index table without the
  * tombstoned rows and clearing the set.
  *
  * Crash correctness comes from having exactly ONE piece of mutable
  * deletion state: the id set itself. Nothing else is written at delete
  * time — BM25's df/N/avgdl corrections, for example, are derived at
  * query time from `postings ∩ tombstones`, so a kill anywhere leaves
  * query results consistent with whichever rows/ids are visible, and
  * the fold is idempotent (re-running filters already-filtered tables
  * against a set that no longer matches anything).
  *
  * Contracts:
  *  - deleting an id NOT in the index is a no-op (it just sits in the
  *    set until the next fold);
  *  - a tombstoned id must NOT be re-appended until a fold has run —
  *    the fold removes every row under the id, including a post-delete
  *    re-add. Supersede = tombstone the old id and append the new
  *    content under a NEW id (content-addressed ids make this natural),
  *    or fold first;
  *  - the set rides a broadcast on every consult, so fold before it
  *    grows past broadcast size (the same dial as compaction: a few
  *    10⁷ ids between folds is fine, mass takedowns should fold after);
  *  - deleted CONTENT is re-admittable immediately, before any fold:
  *    admission/dedup checks consult the set, so a copy of a deleted
  *    doc arriving under a NEW id matches nothing, admits as novel,
  *    and re-indexes (pinned by RefreshLoopSpec's takedown-mid-loop
  *    case) — takedown suppresses the old rows, it does not ban the
  *    content;
  *  - a BUILD under a reused table name is a fresh index: every index
  *    build clears any pre-existing tombstone set once its new tables
  *    have LANDED, so a new corpus never silently loses ids deleted
  *    from a prior index — and a build that fails early leaves the old
  *    index with its deletions intact (clearing first would un-delete
  *    docs on the still-serving old index the moment a build aborts).
  *
  * Reference anchor: the reference has no index deletion surface at
  * all (its job outputs are immutable files); the tombstone-and-fold
  * shape is the standard LSM discipline, applied to bucketed tables.
  */
object Tombstones {

  private[operators] def tableName(table: String): String =
    s"${table}_tombstones"

  private def exists(spark: SparkSession, t: String): Boolean =
    spark.sessionState.catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier(t))

  /** Record `ids` as deleted for index family `table`. Idempotent: ids
    * already tombstoned are skipped (the set stays duplicate-free, so
    * derived corrections never double-count). Returns the number of
    * NEWLY tombstoned ids.
    */
  def add(spark: SparkSession, table: String, ids: DataFrame,
          idCol: String): Long = {
    val t = tableName(table)
    val incoming = ids.select(col(idCol).cast("long").as("id")).distinct()
    val fresh = (if (exists(spark, t))
      incoming.join(spark.table(t), Seq("id"), "left_anti")
    else incoming).persist()
    try {
      val n = fresh.count()
      if (n > 0) BucketedJoin.appendBucketed(fresh, t, "id", defaultBuckets = 4)
      n
    } finally fresh.unpersist()
  }

  /** The current tombstone set as a one-column (id: long) frame, or
    * None when no id was ever tombstoned (callers skip the anti-join
    * entirely — the no-deletions plan is byte-identical to pre-deletion
    * plans).
    */
  private[operators] def idSet(spark: SparkSession,
                               table: String): Option[DataFrame] = {
    val t = tableName(table)
    if (exists(spark, t)) Some(spark.table(t)) else None
  }

  /** `df` without rows whose `c` column is tombstoned for `table` — a
    * broadcast anti-join when tombstones exist, `df` untouched (same
    * plan object) otherwise.
    */
  private[operators] def filterOut(spark: SparkSession, table: String,
                                   df: DataFrame, c: String): DataFrame =
    idSet(spark, table).fold(df)(without(df, c, _))

  /** `df` without rows whose `c` column is in `ids` (an [[idSet]]). */
  private[operators] def without(df: DataFrame, c: String,
                                 ids: DataFrame): DataFrame =
    df.join(broadcast(ids), df(c) === ids("id"), "left_anti")

  /** Physically fold the tombstones into the index: every `(tableName,
    * idColumn, bucketKey)` target present once its interrupted swap
    * has rolled stages its copy without the tombstoned rows as ONE
    * wave, the staged copies swap in target order
    * ([[BucketedJoin.rewriteAll]]), and the set is cleared afterwards.
    * Idempotent — a kill during the wave leaves every target untouched
    * plus staged debris the re-run drops; a kill during the swaps
    * leaves some targets filtered (one perhaps mid-swap, which the
    * re-run rolls forward), and the re-run filters them again at no
    * loss; the set is only cleared once every target has swapped.
    */
  def fold(spark: SparkSession, table: String,
           targets: Seq[(String, String, String)]): Unit =
    idSet(spark, table).foreach { ids =>
      BucketedJoin.rewriteAll(spark, targets.map { case (t, idc, key) =>
        BucketedJoin.Rewrite(t, key, without(_, idc, ids))
      })
      clear(spark, table)
    }

  /** Drop the tombstone set (after a successful fold). */
  def clear(spark: SparkSession, table: String): Unit =
    BucketedJoin.dropWithLocation(spark, tableName(table))
}
