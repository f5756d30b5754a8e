package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

/** Bucketed co-located join — the faithful Spark analog of the
  * reference's map-side merge join precondition
  * (`core:mapreduce/lib/join/CompositeInputFormat.java:120-130`: k
  * datasets identically partitioned AND sorted, split i joined against
  * split i with no shuffle at join time).
  *
  * `bucketBy(n, key).sortBy(key)` persists exactly that invariant in the
  * table layout; a subsequent equi-join of two tables bucketed the same
  * way runs as a sort-merge join with NO Exchange on either side — the
  * shuffle was paid once at write time, like the reference's
  * pre-partitioned inputs. At 100 TB this is the pattern for repeated
  * fact⋈fact joins: bucket both tables on the join key once, join many
  * times shuffle-free.
  */
object BucketedJoin {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The bucket count a shard MERGE should build with: `table0`'s
    * layout wins (the merged tables rebucket `table1`'s rows into it),
    * and a differing `table1` spec is warned about loudly — the merge
    * is correct either way (bucketing is a co-location/file-layout
    * property, never a correctness one), but silently changing a
    * family's bucket profile surprises capacity planning. Shared by
    * every family's mergeShards twin.
    */
  private[operators] def mergedBucketCount(spark: SparkSession,
                                           table0: String,
                                           table1: String): Int = {
    def spec(t: String) = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t))
      .bucketSpec.map(_.numBuckets)
    val (b0, b1) = (spec(table0), spec(table1))
    if (b0 != b1)
      log.warn(s"mergeShards: $table0 (${b0.getOrElse("unbucketed")} " +
        s"buckets) and $table1 (${b1.getOrElse("unbucketed")} buckets) " +
        s"disagree on bucket layout — the merged family keeps $table0's; " +
        s"$table1's rows rebucket into it")
    b0.getOrElse(8)
  }

  /** Drop `table` from the catalog AND delete its warehouse directory:
    * the default in-memory catalog forgets tables across JVMs while
    * their files survive, and saveAsTable/RENAME refuse a fresh managed
    * table over an existing location.
    */
  private[graft] def dropWithLocation(spark: SparkSession,
                                      table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(s"$warehouse/${table.toLowerCase}")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(loc, true)
  }

  /** Persist `df` as a bucketed, per-bucket-sorted table, replacing any
    * prior table and its files (see [[dropWithLocation]]). `sortCols`
    * appends SECONDARY sort columns after the bucket key — the layout
    * dial behind e.g. the BM25 block-max index (sorted `(term, blk,
    * doc_id)` files make pushed doc/block predicates page-skippable);
    * [[appendBucketed]] and [[rewriteBucketed]] read the sort spec back
    * from the catalog, so the layout survives appends and compactions.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int, sortCols: Seq[String] = Nil,
                    options: Map[String, String] = Map.empty): Unit = {
    val spark = df.sparkSession
    dropWithLocation(spark, table)
    df.write.mode("overwrite")
      .options(options)
      .bucketBy(buckets, key).sortBy(key, sortCols: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Append `df` to an existing bucketed table, preserving the layout:
    * rows are re-bucketed by the table's OWN bucket spec (read from the
    * catalog, so a caller can't silently mis-bucket) and written with
    * the table's own sort spec and write options (its page geometry),
    * merged under `options`. Later co-located joins still see one
    * partition per bucket with NO Exchange — at most a LOCAL
    * per-partition sort re-merges the per-append sorted runs. Append
    * cost is O(df), never O(table): this is the incremental half of the
    * pay-the-shuffle-once contract ([[writeBucketed]] being the
    * build-once half, [[compactBucketed]] the occasional fold of
    * accumulated append files). Falls back to a fresh [[writeBucketed]]
    * when the table doesn't exist yet.
    *
    * The write: the rows shuffle on their bucket id
    * `pmod(hash(key), n)` with NO fixed partition count, so every
    * bucket's rows share one shuffle partition — one new file per
    * non-empty bucket, whatever partitioning `df` arrives with — while
    * adaptive execution may coalesce a small delta's partitions into
    * few write tasks (a one-bucket table merges into one partition,
    * no shuffle). A crash mid-write leaves the table as it was (the
    * job commit publishes the files) or with this append's files
    * landed; callers whose appends are not row-idempotent repair by
    * anti-join ([[Retrieval.bm25Append]], which lands several tables'
    * appends as one concurrent wave).
    */
  def appendBucketed(df: DataFrame, table: String, key: String,
                     defaultBuckets: Int = 8,
                     options: Map[String, String] = Map.empty): Unit = {
    val spark = df.sparkSession
    val cat = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    if (!cat.tableExists(ident))
      writeBucketed(df, table, key, defaultBuckets, options = options)
    else {
      val meta = cat.getTableMetadata(ident)
      val spec = meta.bucketSpec
      val n = spec.map(_.numBuckets).getOrElse(defaultBuckets)
      // the table's OWN sort spec (key + any secondary layout columns),
      // so appends preserve e.g. a block-max (term, blk, doc_id) layout
      val sortCols = spec.map(_.sortColumnNames).filter(_.nonEmpty)
        .getOrElse(Seq(key))
      byBucket(df, key, n, fixed = false)
        .write.mode("append")
        .options(meta.storage.properties ++ options)
        .bucketBy(n, key).sortBy(sortCols.head, sortCols.tail: _*)
        .format("parquet")
        .saveAsTable(table)
    }
  }

  /** `df` with each of `n` buckets' rows in one partition: shuffled
    * on the bucket id Spark's bucketed writer assigns (`fixed`: into
    * exactly n partitions; else into the session's count, which
    * adaptive execution may coalesce), or, for one bucket, merged into
    * one partition with no shuffle. */
  private def byBucket(df: DataFrame, key: String, n: Int,
                       fixed: Boolean): DataFrame = {
    val id = pmod(hash(col(key)), lit(n))
    if (n == 1) df.coalesce(1)
    else if (fixed) df.repartition(n, id)
    else df.repartition(id)
  }

  /** Fold a bucketed table's accumulated append file sets back to one
    * file per bucket. O(table) once, instead of every batch paying it:
    * run on the compaction cadence, not the ingest cadence. A table
    * whose listing already shows at most one file per bucket id (e.g.
    * right after a [[rewriteBucketed]] fold) is left as it is — no
    * Spark job, no rewrite.
    *
    * Crash-safe swap: the rewrite stages into `<table>_compacting`, the
    * original renames aside to `<table>_old`, the staged table renames
    * in, and ONLY THEN is the original dropped — no step deletes the
    * only copy, so a kill at any point leaves the rows recoverable and
    * [[recoverCompacted]] (run automatically on the next compact)
    * rolls the swap forward or back. The one non-atomic window is the
    * instant between the two renames, where `table` is briefly absent
    * from the catalog (readers in that window retry after recovery);
    * data files are never at risk.
    */
  def compactBucketed(spark: SparkSession, table: String, key: String): Unit = {
    recoverCompacted(spark, table)
    if (!oneFilePerBucket(spark, table)) rewriteBucketed(spark, table, key)(identity)
  }

  /** True when every data file of `table` carries a bucket id in its
    * name and no bucket id repeats — a driver-side listing, no job.
    */
  private def oneFilePerBucket(spark: SparkSession, table: String): Boolean = {
    import org.apache.spark.sql.execution.datasources.BucketingUtils
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bucketIds = fs.listStatus(loc).toSeq
      .filterNot(f => f.getPath.getName.startsWith("_") ||
        f.getPath.getName.startsWith("."))
      .map(f => if (f.isFile) BucketingUtils.getBucketId(f.getPath.getName) else None)
    fs.exists(loc) && {
      val ids = bucketIds
      ids.forall(_.isDefined) && ids.distinct.size == ids.size
    }
  }

  /** The compaction swap, generalized: replace a bucketed table with
    * `transform` of itself in two steps (see [[compactBucketed]] for
    * the recovery states):
    *  1. STAGE: `transform` of the live rows lands as
    *     `<table>_compacting` in the table's own layout — bucket count,
    *     the sort columns the output still carries, and the table's
    *     write options (its parquet page geometry), all read back from
    *     the catalog. A kill here leaves the original untouched and a
    *     partial stage that recovery drops.
    *  2. SWAP: rename-aside → rename-in → drop-old; a kill between the
    *     renames rolls forward (a staged table is only renamed once
    *     complete), before the first rolls back.
    * Used for filtered rewrites — e.g. retention pruning of an
    * append-only ledger — where the rewrite must never risk the only
    * copy. [[rewriteAll]] runs several tables' stages as one wave.
    */
  def rewriteBucketed(spark: SparkSession, table: String, key: String)
                     (transform: DataFrame => DataFrame): Unit =
    rewriteBucketedImpl(spark, table, key, failAt = -1)(transform)

  /** Crash injected by [[rewriteBucketedImpl]]'s test seam. */
  private[graft] final class InjectedRewriteCrash(val at: Int)
    extends RuntimeException(s"injected rewrite crash after boundary $at")

  /** [[rewriteBucketed]] with a crash-injection seam: `failAt` ≥ 0
    * throws [[InjectedRewriteCrash]] immediately AFTER the numbered
    * swap boundary — 0 stage write, 1 debris clear, 2 rename-aside,
    * 3 rename-in, 4 old-copy drop (complete). Chaos specs drive every
    * boundary and assert [[recoverCompacted]] (run on the next rewrite,
    * or by heal-on-read callers) restores a consistent table;
    * production calls pass -1 (no injection).
    */
  private[graft] def rewriteBucketedImpl(spark: SparkSession, table: String,
                                         key: String, failAt: Int)
                                        (transform: DataFrame => DataFrame)
      : Unit = {
    def boundary(i: Int): Unit =
      if (failAt == i) throw new InjectedRewriteCrash(i)
    recoverCompacted(spark, table)
    stage(spark, Rewrite(table, key, transform))
    boundary(0)
    swapStaged(spark, table, boundary)
  }

  /** Crash injected by a [[rewriteAll]] seam: after boundary `at` (of
    * [[rewriteBucketedImpl]]'s numbering) of `table`'s rewrite. */
  private[graft] final class InjectedWaveCrash(val table: String, val at: Int)
    extends RuntimeException(s"injected crash in $table's rewrite after boundary $at")

  /** One table's rewrite: `transform` of its live rows, bucketed by
    * `key`. */
  private[graft] final case class Rewrite(table: String, key: String,
                                          transform: DataFrame => DataFrame)

  /** Rewrite several tables as ONE stage wave, then the swaps: every
    * interrupted swap rolls first (so no stage reads a table a sibling
    * is renaming, and a table a killed swap left absent is back before
    * presence is judged), a table still absent is skipped (an optional
    * table the index does not have), every stage then runs
    * concurrently ([[Retrieval.fanOut]]), and only once ALL have
    * landed does each table swap, in `rewrites` order. Transforms may
    * read any of the tables: every stage sees the pre-rewrite state.
    * `seam(table, i)` runs after boundary i of that table's rewrite
    * (0 on the staging thread once its stage has landed, 1–4 the swap
    * steps of [[rewriteBucketedImpl]]; a crash seam, a no-op in
    * production). A kill during the wave leaves every original
    * untouched and staged debris that the next rewrite (or
    * [[recoverCompacted]]) drops; a kill during the swaps leaves a
    * prefix of `rewrites` swapped in, at most one table mid-swap (its
    * complete stage rolls forward) and the rest staged, which the next
    * rewrite drops and restages.
    */
  private[graft] def rewriteAll(spark: SparkSession, rewrites: Seq[Rewrite],
                                seam: (String, Int) => Unit = (_, _) => ())
      : Unit = {
    rewrites.foreach(r => recoverCompacted(spark, r.table))
    val present = rewrites.filter(r => spark.sessionState.catalog
      .tableExists(org.apache.spark.sql.catalyst.TableIdentifier(r.table)))
    Retrieval.fanOut(spark, present, present.size) { r =>
      stage(spark, r)
      seam(r.table, 0)
    }
    present.foreach(r => swapStaged(spark, r.table, seam(r.table, _)))
  }

  /** Land `transform` of `table`'s live rows as `<table>_compacting`
    * in the table's own layout (see [[rewriteBucketed]]). */
  private def stage(spark: SparkSession, r: Rewrite): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(r.table))
    val spec = meta.bucketSpec
    val n = spec.map(_.numBuckets).getOrElse(8)
    val out = r.transform(spark.table(r.table))
    // preserve secondary sort layout columns across the rewrite — but
    // only those the transform's output still carries (a derived-table
    // rewrite may emit a different schema with its own plain layout)
    val sortTail = spec.map(_.sortColumnNames.drop(1)).getOrElse(Nil)
      .filter(out.columns.toSet)
    // all rows of a bucket in one task → one file per non-empty bucket.
    // Partitioned on the bucket id, not on `key`: over the table's own
    // bucketed scan an exchange on `key` is planned away (the scan
    // already satisfies it), the scan is then de-bucketed as unneeded,
    // and every task writes a file for every bucket it sees. The count
    // is fixed at n: a whole-table rewrite keeps n write tasks
    writeBucketed(byBucket(out, r.key, n, fixed = true),
      s"${r.table}_compacting", r.key, n, sortTail, meta.storage.properties)
  }

  /** Swap a staged `<table>_compacting` in: clear debris, rename the
    * original aside, rename the stage in, drop the original;
    * `boundary(i)` runs after step i (1–4 of [[rewriteBucketedImpl]]). */
  private def swapStaged(spark: SparkSession, table: String,
                         boundary: Int => Unit): Unit = {
    val tmp = s"${table}_compacting"
    val old = s"${table}_old"
    // clear stale debris (a forgotten catalog entry or orphaned dir
    // would make the rename-aside collide)
    dropWithLocation(spark, old)
    boundary(1)
    spark.sql(s"ALTER TABLE $table RENAME TO $old")
    boundary(2)
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    boundary(3)
    spark.sql(s"DROP TABLE $old")
    boundary(4)
  }

  /** Repair an interrupted [[compactBucketed]] swap. Idempotent; safe
    * to call when no compact ever ran. States and actions:
    *  - `table` present, `<table>_compacting` present (killed before
    *    the rename-aside): the staged copy may be partial — drop it,
    *    the original is untouched;
    *  - `table` absent, `<table>_compacting` present (killed between
    *    the renames): the staged copy is complete (it is only ever
    *    renamed aside AFTER the stage write finishes) — roll FORWARD by
    *    renaming it in;
    *  - `table` absent, only `<table>_old` present: roll BACK by
    *    renaming the original home;
    *  - `table` present, `<table>_old` present (killed before the final
    *    drop): finish the drop.
    */
  def recoverCompacted(spark: SparkSession, table: String): Unit = {
    val cat = spark.sessionState.catalog
    def exists(t: String) =
      cat.tableExists(org.apache.spark.sql.catalyst.TableIdentifier(t))
    val tmp = s"${table}_compacting"
    val old = s"${table}_old"
    if (!exists(table)) {
      if (exists(tmp)) spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
      else if (exists(old)) spark.sql(s"ALTER TABLE $old RENAME TO $table")
    }
    if (exists(table)) {
      if (exists(old)) spark.sql(s"DROP TABLE $old")
      if (exists(tmp)) dropWithLocation(spark, tmp)
    }
  }

  /** Join two same-bucketed tables on their bucket key. The returned
    * plan contains no shuffle for the join itself (verify with
    * `hasJoinShuffle`).
    */
  def join(spark: SparkSession, leftTable: String, rightTable: String,
           key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)

  /** True if the executed plan still contains an Exchange feeding the
    * join — the assertion hook for the no-shuffle invariant.
    */
  def hasJoinShuffle(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("Exchange hashpartitioning")
  }
}
