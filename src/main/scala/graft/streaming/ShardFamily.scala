package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.operators.{Dedup, LangModel, ProductQuant, Retrieval,
  Sharding, Similarity}

/** A RESIZABLE shard family for the refresh loop — the online-reshard
  * story: the round-16 `splitShard`/`mergeShards` operations assume the
  * family is not being served/absorbed into while they run, and the
  * loop's `*Shards` parameters pin the table list at construction. This
  * holder closes the gap: the loop reads the CURRENT slot list at each
  * epoch boundary, and split/merge REQUESTS queue here and execute at
  * the next SAFE boundary — an epoch entry whose predecessor committed
  * (a replay with possibly-partial appends defers the reshard one
  * epoch, so repair anti-joins always see the tables the crashed
  * attempt wrote). The swap is atomic from the loop's view: an epoch
  * snapshots the slot list once at entry and routes/repairs/compacts
  * against that snapshot throughout.
  *
  * SLOTS, not a flat list: after splitting ONE shard of an S-family,
  * the family is mixed-granularity — the split children answer to
  * `shardOf(id, 2S) ∈ {i, i+S}` while the rest still answer to
  * `shardOf(id, S)`. Each [[ShardFamily.Slot]] carries its own
  * (shardIndex, nShards) level; the hierarchical router
  * ([[graft.operators.Sharding]] — doubling refines every residue class
  * locally) guarantees the slot predicates partition the id space, and
  * [[ShardFamily.validate]] re-checks the partition after every
  * reshard. Serving-side callers are unaffected: the sharded query
  * entries take any doc-disjoint table list ([[tables]]), placement-
  * blind.
  *
  * Crash story (the "between retire and swap" window): each queued
  * reshard runs the family's marker-protocol split/merge, which heals
  * its own boundaries on re-run. If the driver dies AFTER the reshard
  * completed (parent retired, marker cleared) but BEFORE the in-memory
  * swap was observed — or the operator restarts the loop with the
  * pre-split list and re-requests the split — the request detects the
  * completed state (parent's probe table absent, both children
  * present) and applies only the slot transform. A half-done reshard
  * resumes from its marker; a parent absent WITHOUT complete children
  * fails loudly.
  *
  * Thread-safety: requests may arrive from any thread (e.g. an
  * operator console) while the stream runs; [[applyPending]] is
  * synchronized and called only from the loop's serial foreachBatch
  * thread (or directly by non-streaming callers between their own
  * serving calls).
  */
object ShardFamily {

  /** One shard's place in the hierarchical router: the rows with
    * `shardOf(id, nShards) == shardIndex`. A canonical S-family is the
    * slots (tᵢ, i, S); splitting slot (t, i, n) yields (c0, i, 2n) and
    * (c1, i+n, 2n); merging is the inverse.
    */
  final case class Slot(table: String, shardIndex: Int, nShards: Int) {
    private[streaming] def pred(id: Column): Column =
      Sharding.shardOf(id, nShards) === shardIndex
  }

  /** The index-family dispatch: the family's reshard layout (its probe
    * table signals liveness) run through the one reshard protocol
    * ([[graft.operators.Sharding]]). LM split needs the parent's corpus
    * slice (counts carry no doc attribution) — pass it through
    * [[ShardFamily.requestSplit]]'s `lmDocs`.
    */
  sealed abstract class Kind(family: Sharding.Family) {
    private[streaming] def probe(table: String): String =
      table + family.probe
    private[streaming] def split(spark: SparkSession, parent: String,
                                 child0: String, child1: String,
                                 shardIndex: Int, nShards: Int,
                                 lmDocs: Option[(DataFrame, String, String)])
        : Unit =
      Sharding.split(spark, family, parent, child0, child1, shardIndex,
        nShards)
    private[streaming] def merge(spark: SparkSession, parent0: String,
                                 parent1: String, merged: String): Unit =
      Sharding.merge(spark, family, parent0, parent1, merged)
  }

  /** BM25 lexical serving shards ([[graft.operators.Retrieval]]). */
  case object Bm25 extends Kind(Retrieval.reshard)

  /** Bigram-LM serving shards ([[graft.operators.LangModel]]) — split
    * requires the parent's corpus slice via `lmDocs`. */
  case object Lm extends Kind(LangModel.reshard) {
    private[streaming] override def split(spark: SparkSession,
        parent: String, c0: String, c1: String, i: Int, n: Int,
        lmDocs: Option[(DataFrame, String, String)]): Unit = {
      val (docs, idCol, textCol) = lmDocs.getOrElse(throw
        new IllegalArgumentException("ShardFamily(Lm).requestSplit needs " +
          "lmDocs = (the parent shard's absorbed corpus, idCol, textCol): " +
          "LM counts carry no doc attribution, so the split re-trains " +
          "the children from the corpus (LangModel.splitShard contract)"))
      LangModel.splitShard(spark, parent, c0, c1, docs, idCol, textCol, i, n)
    }
  }

  /** IVF vector serving shards ([[graft.operators.Similarity]]). */
  case object Ivf extends Kind(Similarity.ivfReshard)

  /** IVFPQ vector serving shards ([[graft.operators.ProductQuant]]). */
  case object IvfPq extends Kind(ProductQuant.reshard)

  /** MinHash ADMISSION shards ([[graft.operators.Dedup]] — the
    * `indexShards` family of [[RefreshLoop.minhashRefresh]]). */
  case object MinhashAdmission extends Kind(Dedup.reshard)

  /** LSH ADMISSION shards ([[graft.operators.Similarity]] — the
    * `indexShards` family of [[RefreshLoop.embeddingRefresh]]). */
  case object LshAdmission extends Kind(Similarity.lshReshard)

  /** A canonical S-shard family: table i owns residue class i mod S. */
  def apply(kind: Kind, tables: Seq[String]): ShardFamily =
    new ShardFamily(kind, canonicalSlots(tables))

  private[streaming] def canonicalSlots(tables: Seq[String]): Seq[Slot] =
    tables.zipWithIndex.map { case (t, i) => Slot(t, i, tables.size) }

  /** The slot list must PARTITION the id space: every residue class of
    * the finest level covered exactly once. Holds by construction for
    * canonical families and is preserved by split/merge; re-checked
    * after every reshard so a buggy request sequence fails loudly
    * instead of double-routing docs.
    */
  private[streaming] def validate(slots: Seq[Slot]): Unit = {
    require(slots.nonEmpty, "a shard family needs at least one slot")
    require(slots.map(_.table).distinct.size == slots.size,
      s"duplicate tables in shard family: ${slots.map(_.table)}")
    val finest = slots.map(_.nShards).max
    slots.foreach(s => require(finest % s.nShards == 0,
      s"slot levels must nest by doubling: ${s.nShards} does not divide " +
        s"the finest level $finest"))
    val covered = slots.flatMap(s => s.shardIndex until finest by s.nShards)
    require(covered.size == finest && covered.distinct.size == finest,
      s"slots must partition the id space: residues covered = " +
        s"${covered.sorted} of 0..${finest - 1}")
  }
}

final class ShardFamily private (val kind: ShardFamily.Kind,
                                 initial: Seq[ShardFamily.Slot]) {
  import ShardFamily._

  ShardFamily.validate(initial)

  @volatile private var cur: Seq[Slot] = initial
  private val pending =
    new java.util.concurrent.ConcurrentLinkedQueue[
      (SparkSession, Seq[Slot]) => Seq[Slot]]()

  /** The current slot list (an epoch snapshots this once at entry). */
  def slots: Seq[Slot] = cur

  /** The current table list — what serving-side callers pass to the
    * sharded query entries. */
  def tables: Seq[String] = cur.map(_.table)

  /** True when reshard requests are queued but not yet applied. */
  def hasPending: Boolean = !pending.isEmpty

  /** Queue a split of `parent` into two hierarchical children; executed
    * by the loop at the next safe epoch boundary (call [[applyPending]]
    * directly when no stream is attached). `lmDocs` only for the
    * [[ShardFamily.Lm]] kind (the corpus the parent absorbed).
    */
  def requestSplit(parent: String, child0: String, child1: String,
                   lmDocs: Option[(DataFrame, String, String)] = None)
      : Unit =
    pending.add { (spark, slots) =>
      val slot = slots.find(_.table == parent).getOrElse(
        throw new IllegalArgumentException(
          s"requestSplit: $parent is not in the family " +
            s"(${slots.map(_.table).mkString(", ")})"))
      def exists(t: String) = spark.sessionState.catalog.tableExists(
        org.apache.spark.sql.catalyst.TableIdentifier(t))
      // heal the retire-before-swap crash window: a completed split
      // (parent probe gone, no resumable marker, children present)
      // applies only the slot transform
      if (exists(kind.probe(parent)) ||
          exists(Sharding.splitMarker(parent)))
        kind.split(spark, parent, child0, child1, slot.shardIndex,
          slot.nShards, lmDocs)
      else require(exists(kind.probe(child0)) && exists(kind.probe(child1)),
        s"requestSplit: $parent is retired but its children " +
          s"$child0/$child1 are missing — nothing to heal from")
      slots.flatMap { s =>
        if (s.table == parent)
          Seq(Slot(child0, slot.shardIndex, 2 * slot.nShards),
            Slot(child1, slot.shardIndex + slot.nShards, 2 * slot.nShards))
        else Seq(s)
      }
    }

  /** Queue a merge of two SIBLING slots (the children of one doubling:
    * levels equal, indexes i and i+n at level 2n) back into one. */
  def requestMerge(table0: String, table1: String, merged: String): Unit =
    pending.add { (spark, slots) =>
      def slotOf(t: String) = slots.find(_.table == t).getOrElse(
        throw new IllegalArgumentException(
          s"requestMerge: $t is not in the family"))
      val (s0, s1) = (slotOf(table0), slotOf(table1))
      require(s0.nShards == s1.nShards && s0.nShards % 2 == 0,
        s"requestMerge: $table0 and $table1 are not at the same even " +
          s"level (${s0.nShards} vs ${s1.nShards})")
      val n = s0.nShards / 2
      val lo = math.min(s0.shardIndex, s1.shardIndex)
      require(math.max(s0.shardIndex, s1.shardIndex) == lo + n && lo < n,
        s"requestMerge: $table0 (index ${s0.shardIndex}) and $table1 " +
          s"(index ${s1.shardIndex}) are not doubling siblings at level " +
          s"${s0.nShards}")
      def exists(t: String) = spark.sessionState.catalog.tableExists(
        org.apache.spark.sql.catalyst.TableIdentifier(t))
      val loTable = if (s0.shardIndex == lo) table0 else table1
      val hiTable = if (s0.shardIndex == lo) table1 else table0
      if (exists(kind.probe(loTable)) || exists(kind.probe(hiTable)) ||
          exists(Sharding.mergeMarker(merged)))
        kind.merge(spark, loTable, hiTable, merged)
      else require(exists(kind.probe(merged)),
        s"requestMerge: $table0/$table1 are retired but $merged is " +
          "missing — nothing to heal from")
      slots.filterNot(s => s.table == table0 || s.table == table1) :+
        Slot(merged, lo, n)
    }

  /** AUTO-MERGE policy (round 18): queue sibling merges until the
    * PROJECTED slot count is at most `maxShards`, returning how many
    * were queued (0 when the family already fits, the queue is
    * non-empty, or no sibling pair exists yet). The serving motivation
    * is the families whose per-query cost is inherently S-linear —
    * additive-count folds like LM scoring (BASELINE.md round-17 S=32
    * table: lm grows with S while bag/vector hold), which plan
    * grouping provably cannot flatten because every shard's counts
    * contribute to every score. For those, the lever is FEWER shards;
    * this applies it as loop policy instead of operator advice.
    *
    * Mechanics: deepest levels merge first (undoing the most recent
    * doublings); each queued merge shrinks the projected count by one.
    * A mixed-granularity family may lack enough sibling pairs to reach
    * the cap in one pass — the policy converges over successive calls
    * (each merge creates the next level's sibling), which is exactly
    * the safe-boundary cadence the loop runs it at. Merged names come
    * from `nameFor(loTable, hiTable)` — the default is deterministic
    * (`<lo>_mg`, the lo table's name suffixed once), so a crashed-and-
    * restarted loop re-queues the SAME merge and the marker protocol
    * resumes it instead of orphaning a half-built table under a fresh
    * name. Uniqueness: every merge consumes its lo table (the slot is
    * replaced), so no two merges — within one pass or across levels —
    * ever share a lo name; repeated folding stacks suffixes
    * (`x_mg`, `x_mg_mg`, …) rather than colliding. No-op (0) when
    * requests are already pending: enforcement on a stale projection
    * would double-queue the same siblings.
    */
  def enforceMaxShards(maxShards: Int,
                       nameFor: (String, String) => String =
                         (lo, _) => s"${lo}_mg"): Int = synchronized {
    require(maxShards >= 1, s"maxShards must be >= 1, got $maxShards")
    if (hasPending || cur.size <= maxShards) return 0
    var projected = cur
    var queued = 0
    var progress = true
    while (projected.size > maxShards && progress) {
      progress = false
      // deepest level first; within a level, lowest index first
      val byDepth = projected.sortBy(s => (-s.nShards, s.shardIndex))
      byDepth.find { lo =>
        lo.nShards % 2 == 0 && lo.shardIndex < lo.nShards / 2 &&
          projected.exists(hi => hi.nShards == lo.nShards &&
            hi.shardIndex == lo.shardIndex + lo.nShards / 2)
      }.foreach { lo =>
        val n = lo.nShards / 2
        val hi = projected.find(h => h.nShards == lo.nShards &&
          h.shardIndex == lo.shardIndex + n).get
        val merged = nameFor(lo.table, hi.table)
        requestMerge(lo.table, hi.table, merged)
        projected = projected.filterNot(s =>
          s.table == lo.table || s.table == hi.table) :+
          Slot(merged, lo.shardIndex, n)
        queued += 1
        progress = true
      }
    }
    queued
  }

  /** Run every queued reshard and swap the slot list. The refresh loop
    * calls this at epoch entry ONLY when the epoch is not a repair
    * replay (see the class doc); non-streaming callers may call it
    * whenever no serving/absorb over the family is in flight.
    */
  def applyPending(spark: SparkSession): Unit = synchronized {
    while (!pending.isEmpty) {
      val updated = pending.poll()(spark, cur)
      ShardFamily.validate(updated)
      cur = updated
    }
  }
}
