package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** The deterministic doc/vector → shard router shared by the streaming
  * refresh loop ([[graft.streaming.RefreshLoop.shardOf]] delegates
  * here), the sharded serving entry points' callers, and the one
  * reshard protocol ([[split]]/[[merge]]) every index family's
  * `splitShard`/`mergeShards` runs through.
  *
  * `shardOf(id, S) = pmod(xxhash64(id), S)`. The family's ONE
  * operational property beyond determinism: it is HIERARCHICAL under
  * doubling — `h mod 2S ∈ {i, i+S}` exactly when `h mod S = i`, so
  * growing a family S → 2S splits every shard LOCALLY into two
  * children (child i keeps `shardOf(id, 2S) = i`, child i+S the rest)
  * with zero cross-shard movement: the reshard cost is O(shard being
  * split), other shards' bytes never move, and splitting all S shards
  * yields exactly the canonical 2S-shard family the router addresses
  * directly. That is what makes a 10⁸ → 10⁹ deployment's migration an
  * incremental per-shard operation instead of a rebuild-everything.
  *
  * RESHARD CRASH CONTRACT (the one protocol behind every family's
  * split and merge — the reference's output-commit discipline,
  * `core:mapreduce/lib/output/FileOutputCommitter.java`: tasks write
  * aside, the job commit marks the output done, and each output format
  * supplies only its record writer; here each [[Family]] supplies only
  * its table layout and the steps that must compute):
  *  1. BUILD: the children (or the merged table) build COMPLETELY from
  *     the live parent(s) — every table of the target's layout and its
  *     tombstone set cleared first, so a crash mid-build leaves the
  *     parent serving and the re-run rebuilds from scratch;
  *  2. MARKER: `<parent>_splitdone` (`<merged>_mergedone`) lands;
  *  3. RETIRE: every table of the parent's layout ([[Family.parts]])
  *     and its tombstone set drop, then the marker clears.
  * A re-run after ANY kill consults the marker first: present ⇒ the
  * targets are complete and only the retire resumes (the parent may be
  * half-dropped — rebuilding from it would corrupt the targets, which
  * is exactly what the marker exists to prevent); absent ⇒ rebuild
  * from the intact parent. Serve the PARENT family until the call
  * returns; after a crash, re-run it before serving either family.
  * Crash seam (`failAt` ≥ 0 throws [[Retrieval.InjectedSplitCrash]]
  * after the boundary): split 0 prepare, 1 child0 built, 2 child1
  * built, 3 marker landed, 4 parent retired (before the marker
  * clears); merge 0 prepare, 1 merged built, 2 marker landed, 3
  * parents retired.
  *
  * Reference lineage: the hash-partitioner contract
  * (`hadoop-mapreduce-client-core:org/apache/hadoop/mapreduce/lib/
  * partition/HashPartitioner.java:36-40` — placement by key hash mod
  * partitions), extended with the doubling property the reference's
  * fixed partition count never needed.
  */
object Sharding {

  /** A row's serving shard in an S-shard family. */
  def shardOf(id: Column, nShards: Int): Column =
    pmod(xxhash64(id), lit(nShards))

  /** The split predicate for growing shard `shardIndex` of an
    * `nShards`-family into its FIRST child (the second child is the
    * negation): true iff the row stays at index `shardIndex` in the
    * doubled 2·nShards family. Rows of shard i can only land at i or
    * i + nShards under doubling (see the object doc), so the two
    * children partition the parent exactly.
    */
  private[operators] def staysInFirstChild(id: Column, shardIndex: Int,
                                           nShards: Int): Column =
    shardOf(id, 2 * nShards) === shardIndex

  /** The split resume marker of `parent` (see the crash contract). */
  private[graft] def splitMarker(parent: String): String =
    s"${parent}_splitdone"

  /** The merge resume marker of `merged` (see the crash contract). */
  private[graft] def mergeMarker(merged: String): String =
    s"${merged}_mergedone"

  /** How one table of a family layout reshards. */
  private[graft] sealed trait Role
  /** Row-partitioned by the `id` column: a split filters the parent's
    * rows into each child, a merge unions the parents' rows. */
  private[graft] final case class Rows(id: String) extends Role
  /** Additive count deltas without doc attribution: a merge unions the
    * parents' rows; only the family's own build can split them. */
  private[graft] case object Counts extends Role
  /** A per-shard constant (quantizer, codebook, drift reference): a
    * split copies it verbatim. */
  private[graft] case object Copy extends Role
  /** Computed by the family's [[Family.derive]] (or its own build). */
  private[graft] case object Derived extends Role

  /** Table `<shard><suffix>` of a family layout, bucketed by `key`.
    * A reshard writes the target in its source's layout — bucket
    * count, the prefix of the secondary sort columns the written rows
    * still carry, and, when such a sort survives, the source's write
    * options (its page geometry), all read back from the catalog. */
  private[graft] final case class Part(
      suffix: String, key: String, role: Role = Derived)

  /** An index family as the reshard protocol sees it: `parts` is its
    * FULL table layout (what a retire drops), `probe` the suffix of
    * the table whose presence means the shard is live. The defaults
    * split by filtering [[Rows]], copying [[Copy]] tables and calling
    * [[derive]]; merge by unioning [[Rows]]/[[Counts]] and calling
    * [[derive]]. A family overrides only what must compute.
    */
  private[graft] abstract class Family(val probe: String,
                                       val parts: Seq[Part]) {
    /** Heal or fold a live source before anything reads it. */
    def prepare(spark: SparkSession, table: String): Unit = ()

    /** A row-partitioned part's rows for a target built from
      * `parents` (applied per parent, before any union). */
    def rows(spark: SparkSession, parents: Seq[String],
             df: DataFrame): DataFrame = df

    /** Write the [[Derived]] tables of `table`, freshly built from
      * `parents` with `buckets` buckets. */
    def derive(spark: SparkSession, table: String, parents: Seq[String],
               buckets: Int): Unit = ()

    /** Build one split child from the live `parent`; `keep(idCol)` is
      * this child's row predicate. */
    def buildChild(spark: SparkSession, parent: String, child: String,
                   keep: String => Column, buckets: Int): Unit = {
      for (p <- parts; src = parent + p.suffix if exists(spark, src))
        p.role match {
          case Rows(id) =>
            writeLike(spark, rows(spark, Seq(parent),
                Tombstones.filterOut(spark, parent, spark.table(src), id)
                  .filter(keep(id))),
              src, child + p.suffix, p, Some(buckets))
          case Copy =>
            writeLike(spark, spark.table(src), src, child + p.suffix, p, None)
          case _ =>
        }
      derive(spark, child, Seq(parent), buckets)
    }

    /** Build the merged table from the live `parents`. */
    def buildMerged(spark: SparkSession, parents: Seq[String],
                    merged: String, buckets: Int): Unit = {
      for (p <- parts if unions(p)) {
        val srcs = parents.map(_ + p.suffix)
        if (exists(spark, srcs.head)) {
          val union = parents.zip(srcs).map { case (t, src) =>
            val df = spark.table(src)
            rows(spark, parents, p.role match {
              case Rows(id) => Tombstones.filterOut(spark, t, df, id)
              case _ => df
            })
          }.reduce(_.unionByName(_))
          writeLike(spark, union, srcs.head, merged + p.suffix, p,
            Some(buckets))
        }
      }
      derive(spark, merged, parents, buckets)
    }
  }

  /** Split `parent` (shard `shardIndex` of an `nShards`-family) into
    * its two hierarchical children under the crash contract. */
  private[graft] def split(spark: SparkSession, fam: Family, parent: String,
                           child0: String, child1: String, shardIndex: Int,
                           nShards: Int, failAt: Int = -1): Unit = {
    require(nShards >= 1 && shardIndex >= 0 && shardIndex < nShards,
      s"splitShard: shardIndex $shardIndex out of range for $nShards shards")
    require(Seq(parent, child0, child1).distinct.size == 3,
      s"splitShard: $parent, $child0 and $child1 must be distinct tables")
    GraftFunctions.ensureRegistered(spark)
    val marker = splitMarker(parent)
    if (!exists(spark, marker)) {
      require(exists(spark, parent + fam.probe),
        s"splitShard: ${parent + fam.probe} does not exist (and no " +
          s"$marker marker — nothing to resume)")
      heal(spark, fam, parent)
      boundary(failAt, 0)
      val buckets = bucketsOf(spark, parent + fam.probe)
      for ((child, first) <- Seq(child0 -> true, child1 -> false)) {
        def keep(id: String): Column = {
          val p = staysInFirstChild(col(id), shardIndex, nShards)
          if (first) p else !p
        }
        retire(spark, fam, child)
        fam.buildChild(spark, parent, child, keep, buckets)
        boundary(failAt, if (first) 1 else 2)
      }
      BucketedJoin.writeBucketed(spark.range(1).toDF("done"), marker,
        "done", 1)
      boundary(failAt, 3)
    }
    retire(spark, fam, parent)
    boundary(failAt, 4)
    BucketedJoin.dropWithLocation(spark, marker)
  }

  /** Merge two doc-disjoint shards into `merged` under the crash
    * contract. */
  private[graft] def merge(spark: SparkSession, fam: Family, parent0: String,
                           parent1: String, merged: String,
                           failAt: Int = -1): Unit = {
    val parents = Seq(parent0, parent1)
    require((parents :+ merged).distinct.size == 3,
      s"mergeShards: $parent0, $parent1 and $merged must be distinct tables")
    GraftFunctions.ensureRegistered(spark)
    GraftFunctions.unionGuard(spark)
    val marker = mergeMarker(merged)
    if (!exists(spark, marker)) {
      require(parents.forall(p => exists(spark, p + fam.probe)),
        s"mergeShards: both $parent0 and $parent1 must exist " +
          s"(no $marker marker — nothing to resume)")
      for (p <- fam.parts if unions(p))
        require(exists(spark, parent0 + p.suffix) ==
            exists(spark, parent1 + p.suffix),
          s"mergeShards: $parent0 and $parent1 disagree on their " +
            s"'${p.suffix}' tables — a merge would silently drop one " +
            "side's rows; rebuild that table or split the other shard")
      parents.foreach(heal(spark, fam, _))
      boundary(failAt, 0)
      val buckets = BucketedJoin.mergedBucketCount(spark,
        parent0 + fam.probe, parent1 + fam.probe)
      retire(spark, fam, merged)
      fam.buildMerged(spark, parents, merged, buckets)
      boundary(failAt, 1)
      BucketedJoin.writeBucketed(spark.range(1).toDF("done"), marker,
        "done", 1)
      boundary(failAt, 2)
    }
    parents.foreach(retire(spark, fam, _))
    boundary(failAt, 3)
    BucketedJoin.dropWithLocation(spark, marker)
  }

  /** Parts a merge unions ([[Rows]] and [[Counts]]). */
  private def unions(p: Part): Boolean = p.role match {
    case Rows(_) | Counts => true
    case _ => false
  }

  private def boundary(failAt: Int, i: Int): Unit =
    if (failAt == i) throw new Retrieval.InjectedSplitCrash(i)

  private[operators] def exists(spark: SparkSession, t: String): Boolean =
    spark.sessionState.catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier(t))

  private def bucketsOf(spark: SparkSession, t: String): Int =
    spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t))
      .bucketSpec.map(_.numBuckets).getOrElse(8)

  /** Roll every layout table's interrupted compaction swap, then the
    * family's own prepare (tombstone fold, retrain guard). */
  private def heal(spark: SparkSession, fam: Family, t: String): Unit = {
    fam.parts.foreach(p => BucketedJoin.recoverCompacted(spark, t + p.suffix))
    fam.prepare(spark, t)
  }

  /** Drop every table of `t`'s layout and its tombstone set — a
    * retiring parent, or a target about to build (whatever a prior
    * index under its name left must not mix into the fresh one). */
  private def retire(spark: SparkSession, fam: Family, t: String): Unit = {
    for (p <- fam.parts if exists(spark, t + p.suffix))
      BucketedJoin.dropWithLocation(spark, t + p.suffix)
    Tombstones.clear(spark, t)
  }

  /** Write `df` as `dst` in the layout of `src` (see [[Part]]). */
  private def writeLike(spark: SparkSession, df: DataFrame, src: String,
                        dst: String, part: Part,
                        buckets: Option[Int]): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(src))
    val spec = meta.bucketSpec
    val sortTail = spec.map(_.sortColumnNames.drop(1)).getOrElse(Nil)
      .takeWhile(df.columns.toSet)
    BucketedJoin.writeBucketed(df, dst, part.key,
      buckets.getOrElse(spec.map(_.numBuckets).getOrElse(1)), sortTail,
      if (sortTail.isEmpty) Map.empty else meta.storage.properties)
  }
}
