package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.operators.{BucketedJoin, Dedup, LangModel, Retrieval, Similarity}

/** Continuous corpus refresh — the streaming form of the incremental
  * dedup loop (dd5 check + dd6 absorb), lifted onto Structured
  * Streaming: each micro-batch of documents is
  *
  *  1. near-dup-checked WITHIN the batch (MinHash LSH pairs — a doc
  *     whose near-duplicate with a smaller id arrived in the same
  *     micro-batch is a dup);
  *  2. checked AGAINST the standing persisted MinHash index
  *     ([[Dedup.minhashDedupAgainst]] — O(batch), co-located bucketed
  *     joins, the corpus is never re-scanned);
  *  3. split: dup rows and novel rows hand off to the caller's router
  *     (write to quarantine/clean sinks, metrics, …);
  *  4. the novel rows are absorbed into the index
  *     ([[Dedup.minhashIndexAppend]] — O(novel)), so the NEXT
  *     micro-batch deduplicates against everything admitted so far.
  *
  * At 100 TB standing corpus the per-batch cost tracks the batch
  * (BASELINE.md measures the check flat and the append batch-sized as
  * the corpus grows 5×); run [[graft.operators.BucketedJoin.compactBucketed]]
  * on a slow cadence to fold accumulated append files.
  *
  * Intra-batch policy is pairwise-greedy, matching the batch dedup
  * family: a doc is a dup if it has a near-duplicate with a SMALLER id
  * in the same batch (no transitive closure — for near-dup chains
  * a~b~c with a≁c, both b and c drop; exact duplicates always chain
  * correctly since equality is transitive).
  *
  * The returned writer still needs a checkpoint/trigger/start from the
  * caller.
  *
  * Restart semantics — EFFECTIVELY-ONCE absorb at ANY crash point:
  * foreachBatch may REPLAY the last epoch after a crash. The
  * `<table>_epochs` ledger is two-phase: the epoch's admitted (novel)
  * ids land BEFORE the index appends — the authoritative admission
  * decision — and a `commit` marker lands after them. A replay of a
  * decided epoch reconstructs `novel` from the recorded ids, excludes
  * exactly those ids from its index check (so the dup/novel outputs
  * reproduce the original run even when the crashed attempt partially
  * landed), and re-runs any un-committed appends in REPAIR mode —
  * row-level anti-joins that complete a partial append without
  * duplicating rows (an index-key scan per table, paid only on the
  * crash-recovery epoch). Committed replays skip the appends outright.
  * The index therefore never holds a row twice, under any interleaving
  * of crash and replay. Route dups/novel with an epoch-keyed sink
  * (e.g. overwrite-by-epoch partition) for the same property on the
  * caller's side.
  *
  * The appends run on the micro-batch's cloned session; any OTHER
  * session reading the index tables afterwards must
  * `spark.catalog.refreshTable` first (standard semantics for a table
  * appended outside the reader's session).
  */
object RefreshLoop {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Ledger phases for one epoch: (novel ids recorded COMPLETELY,
    * commit marker seen, any novel id rows present). The ledger is
    * TWO-PHASE — the epoch's
    * admitted (novel) ids land BEFORE the index appends as the
    * authoritative admission decision, the `commit` marker lands after
    * — so a replay can tell "never decided" (run normally), "decided,
    * appends not known complete" (reconstruct novel from the recorded
    * ids and run the appends in row-level repair mode), and
    * "completed" (marker: skip appends) apart.
    *
    * "Decided" is gated on phase 1's OWN completeness marker
    * (`noveldone`, written after the id rows), not on the presence of
    * id rows: an append can crash with rows partially visible, and a
    * replay that trusted a partial id set would silently drop the
    * missing ids from `novel` and never index them. Without the marker
    * the replay re-runs the admission decision from scratch (the index
    * is untouched at that point — phase 1 precedes every index append —
    * so the decision is reproducible) and [[recordNovel]] completes the
    * partial id set row-level.
    *
    * Also rolls forward/back any compaction swap a previous run left
    * mid-flight on the ledger itself ([[compactLedger]] crash between
    * renames): without the recovery, a replayed epoch would read an
    * ABSENT ledger as (false, false) and re-run a committed epoch as
    * undecided — against the grown index every previously-novel id
    * self-matches and the replay emits wrong dup/novel output.
    */
  private def epochPhases(spark: SparkSession, table: String,
                          epoch: Long): (Boolean, Boolean, Boolean) = {
    BucketedJoin.recoverCompacted(spark, s"${table}_epochs")
    val cat = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(s"${table}_epochs")
    if (!cat.tableExists(ident)) (false, false, false)
    else {
      val phases = spark.table(s"${table}_epochs")
        .filter(col("epoch") === epoch).select("phase").distinct()
        .collect().map(_.getString(0)).toSet
      // Legacy-ledger upgrade: epochs written before the `noveldone`
      // marker existed carry only novel/commit rows. `commit` lands
      // strictly AFTER the id rows, so it implies the decision
      // completed — without this, a replayed committed legacy epoch
      // would re-run admission against the grown index (previously
      // admitted ids self-match → wrong dup/novel routing). The third
      // flag (any novel rows) drives append REPAIR mode for an
      // uncommitted legacy epoch, whose appends may have partially
      // landed even though `decided` reads false.
      (phases.contains("noveldone") || phases.contains("commit"),
        phases.contains("commit"), phases.contains("novel"))
    }
  }

  /** Ids this epoch admitted (one column named `as`). */
  private def epochIds(spark: SparkSession, table: String, epoch: Long,
                       as: String): DataFrame =
    spark.table(s"${table}_epochs")
      .filter(col("epoch") === epoch && col("phase") === "novel")
      .select(col("id").as(as))

  /** One marker row (null id) for `phase`, typed off the id frame. */
  private def markerRow(spark: SparkSession, ids: DataFrame, epoch: Long,
                        phase: String): DataFrame =
    ids.limit(0)
      .select(lit(epoch).as("epoch"), lit(phase).as("phase"),
        col(ids.columns.head).as("id"))
      .unionByName(spark.range(1)
        .select(lit(epoch).as("epoch"), lit(phase).as("phase"),
          lit(null).cast(ids.schema.head.dataType).as("id")))

  /** Phase 1: record `epoch`'s admission decision before any append —
    * the id rows, then a `noveldone` completeness marker. A re-run
    * after a crash mid-phase-1 (ids partially visible, no marker)
    * anti-joins the rows that already landed, so the ledger never holds
    * an id twice and the completed set is exactly the decision.
    */
  private def recordNovel(spark: SparkSession, table: String, epoch: Long,
                          ids: DataFrame): Unit = {
    val cat = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(s"${table}_epochs")
    val idName = ids.columns.head
    val fresh = if (cat.tableExists(ident))
      ids.join(epochIds(spark, table, epoch, idName), Seq(idName), "left_anti")
    else ids
    BucketedJoin.appendBucketed(
      fresh.select(lit(epoch).as("epoch"), lit("novel").as("phase"),
        col(idName).as("id")),
      s"${table}_epochs", "epoch", defaultBuckets = 1)
    BucketedJoin.appendBucketed(markerRow(spark, ids, epoch, "noveldone"),
      s"${table}_epochs", "epoch", defaultBuckets = 1)
  }

  /** How many recent epochs the ledger retains through compaction.
    * Replay only ever consults the MOST RECENT epoch (offsets commit
    * after foreachBatch returns, so older epochs can never re-fire);
    * without pruning, the "novel" rows are a full admission log that
    * grows with the corpus lifetime — at 10¹⁰ admitted docs that is
    * hundreds of GB of ledger for a structure whose working set is one
    * epoch. 8 is a deep safety margin over the required 1.
    */
  private val LedgerRetainEpochs = 8L

  /** Fold AND prune the epoch ledger if it exists (it doesn't until
    * the first epoch with a non-empty novel set commits): one
    * crash-safe rewrite keeps only the last [[LedgerRetainEpochs]]
    * epochs' rows, bounding the ledger to O(retained batches). */
  private def compactLedger(spark: SparkSession, table: String,
                            epoch: Long): Unit = {
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(s"${table}_epochs")
    if (spark.sessionState.catalog.tableExists(ident))
      BucketedJoin.rewriteBucketed(spark, s"${table}_epochs", "epoch")(
        _.filter(col("epoch") >= epoch - LedgerRetainEpochs))
  }

  /** Phase 2: mark `epoch`'s appends complete, so later replays skip
    * the repair scans. One marker row (null id). */
  private def commitEpoch(spark: SparkSession, table: String, epoch: Long,
                          ids: DataFrame): Unit =
    BucketedJoin.appendBucketed(markerRow(spark, ids, epoch, "commit"),
      s"${table}_epochs", "epoch", defaultBuckets = 1)

  /** The per-micro-batch body of [[minhashRefresh]], exposed so a
    * replayed epoch can be exercised directly (crash-recovery specs,
    * backfill drivers). See [[minhashRefresh]] for semantics.
    */
  def minhashBatch(table: String, textCol: String, idCol: String,
                   threshold: Double = 0.5, k: Int = 3,
                   numHashes: Int = 64, bands: Int = 16,
                   bm25Table: Option[String] = None,
                   lmTable: Option[String] = None,
                   compactEvery: Int = 0,
                   bm25Shards: Option[Seq[String]] = None,
                   lmShards: Option[Seq[String]] = None,
                   indexShards: Option[Seq[String]] = None,
                   bm25Family: Option[ShardFamily] = None,
                   lmFamily: Option[ShardFamily] = None,
                   indexFamily: Option[ShardFamily] = None,
                   maxShardsPerFamily: Option[Int] = None)
                  (onBatch: (DataFrame, DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, epoch: Long) => {
      val spark = batch.sparkSession
      // heal any compaction swap a crash left mid-flight on the index
      // tables before the first read (epochPhases does the ledger's).
      // indexShards: the ADMISSION index itself is sharded — `table`
      // anchors only the epoch ledger, and the check/absorb run
      // against the shard family. The heals run over the CURRENT
      // (pre-reshard) tables, so a queued online split/merge never
      // reads a mid-swap parent; reshard children are born healed.
      indexFamily.map(_.tables).orElse(indexShards).getOrElse(Seq(table))
        .foreach { t =>
          BucketedJoin.recoverCompacted(spark, s"${t}_sigs")
          BucketedJoin.recoverCompacted(spark, s"${t}_bands")
        }
      (bm25Table.toSeq ++
        bm25Family.map(_.tables).orElse(bm25Shards).getOrElse(Nil)).foreach { t =>
        BucketedJoin.recoverCompacted(spark, t)
        BucketedJoin.recoverCompacted(spark, s"${t}_terms")
        BucketedJoin.recoverCompacted(spark, s"${t}_stats")
        BucketedJoin.recoverCompacted(spark, s"${t}_pos")
      }
      (lmTable.toSeq ++
        lmFamily.map(_.tables).orElse(lmShards).getOrElse(Nil)).foreach { t =>
        BucketedJoin.recoverCompacted(spark, t)
        BucketedJoin.recoverCompacted(spark, s"${t}_vocab")
        // the V ledger too: a crash inside LangModel.compact's _stats
        // rename-aside would otherwise leave the table absent and the
        // next append would CREATE a fresh one holding only its own
        // delta — silent permanent V loss (all three tables recover,
        // the LangModel.score entry discipline)
        BucketedJoin.recoverCompacted(spark, s"${t}_stats")
        // the generation ledger too: a crash inside its compact fold
        // would otherwise let the next absorb CREATE a fresh ledger
        // holding only its own row (harmless to correctness — the
        // summed generation changes either way, so caches refold —
        // but the heal keeps the ledger's history intact)
        BucketedJoin.recoverCompacted(spark, s"${t}_gen")
      }
      val (decided, committed, hasNovelRows) = epochPhases(spark, table, epoch)
      // repair whenever the ledger holds id rows for this epoch, even
      // if the completeness marker is missing (legacy pre-noveldone
      // ledgers): appends may have partially landed either way
      val repairMode = decided || hasNovelRows
      // ONLINE RESHARD: run queued split/merge requests at this epoch
      // boundary — but ONLY when the epoch is not a repair replay: a
      // crashed epoch's partial appends live under the PARENT tables,
      // and its repair anti-joins must see them there. A request that
      // arrives during a repair epoch defers one epoch (the next entry
      // follows a committed epoch) — the routed-absorb replay therefore
      // stays exact across any swap.
      if (!repairMode) {
        val fams = Seq(bm25Family, lmFamily, indexFamily).flatten
        fams.foreach(_.applyPending(spark))
        // AUTO-MERGE dial (round 18): families whose serving cost is
        // inherently S-linear (LM's additive count folds — BASELINE.md
        // S=32 table) get capped here as policy, not advice. Queue at
        // this safe boundary and apply IMMEDIATELY (still the same
        // committed-predecessor boundary); a mixed-granularity family
        // without enough sibling pairs converges over epochs.
        maxShardsPerFamily.foreach { cap =>
          fams.foreach { f =>
            if (f.enforceMaxShards(cap) > 0) f.applyPending(spark)
          }
        }
      }
      // EPOCH SNAPSHOT of each family's slots: routing, repair, and
      // compaction all read this one list, so a request arriving
      // mid-epoch cannot shift the family under the running epoch
      val bm25Slots = bm25Family.map(_.slots)
        .orElse(bm25Shards.map(ShardFamily.canonicalSlots))
      val lmSlots = lmFamily.map(_.slots)
        .orElse(lmShards.map(ShardFamily.canonicalSlots))
      val admSlots = indexFamily.map(_.slots)
        .orElse(indexShards.map(ShardFamily.canonicalSlots))
      // micro-batch sources re-read on every action; pin the batch once
      val b = batch.persist()
      try {
        val intra = Dedup.minhashLshPairs(b, textCol, idCol,
            k, numHashes, bands, threshold)
          .select(col("idb").as("batch_id"), col("ida").as("match_id"),
            col("est_jaccard"), lit("batch").as("source"))
        val inter0 = Dedup.minhashDedupAgainstSharded(spark,
          admSlots.map(_.map(_.table)).getOrElse(Seq(table)), b, textCol,
          idCol, threshold, k, numHashes, bands)
        // a replay of an epoch whose ledger holds id rows sees an index
        // that may already hold rows this epoch absorbed — exclude
        // exactly those, so the replay reproduces the original run's
        // outputs at any crash point. Gated on repairMode, NOT decided:
        // a legacy (pre-noveldone) uncommitted epoch has no completeness
        // marker but its appends may have partially landed, and without
        // the exclusion those docs self-match, route as dups, drop out
        // of novel, and their partial index rows are never repaired.
        // Safe when the ids never reached the index (new-format
        // phase-1 crash): the anti-join is a no-op there.
        val interAdj = if (repairMode)
          inter0.join(epochIds(spark, table, epoch, "corpus_id"),
            Seq("corpus_id"), "left_anti")
        else inter0
        val inter = interAdj
          .select(col("batch_id"), col("corpus_id").as("match_id"),
            col("est_jaccard"), lit("corpus").as("source"))
        val dups = inter.unionByName(intra).persist()
        try {
          // on replay the RECORDED ids are the admission decision;
          // localCheckpoint pins novel's ROWS, cutting its plan's
          // lineage to the index tables — the appends below can no
          // longer invalidate or recompute it (batch-sized data)
          val novel = (if (decided)
              b.join(epochIds(spark, table, epoch, idCol), Seq(idCol),
                "left_semi")
            else
              b.join(dups.select(col("batch_id").as(idCol)).distinct(),
                Seq(idCol), "left_anti"))
            .localCheckpoint()
          onBatch(dups, novel, epoch)
          if (!committed) {
            if (!novel.isEmpty) {
              if (!decided) recordNovel(spark, table, epoch, novel.select(idCol))
              // serving indexes first, admission index last,
              // commit marker after all (the embeddingBatch ordering)
              bm25Table.foreach(t => Retrieval.bm25Append(spark, t, novel,
                idCol, textCol, repair = repairMode))
              lmTable.foreach(t => LangModel.append(spark, t, novel,
                idCol, textCol, epoch, repair = repairMode))
              bm25Slots.foreach(routeToSlots(novel, idCol, _) {
                (t, slice) =>
                  Retrieval.bm25Append(spark, t, slice, idCol, textCol,
                    repair = repairMode)
              })
              lmSlots.foreach(routeToSlots(novel, idCol, _) {
                (t, slice) =>
                  LangModel.append(spark, t, slice, idCol, textCol,
                    epoch, repair = repairMode)
              })
              admSlots match {
                case Some(sl) => routeToSlots(novel, idCol, sl) {
                  (t, slice) =>
                    Dedup.minhashIndexAppend(spark, t, slice, textCol,
                      idCol, k, numHashes, bands, repair = repairMode)
                }
                case None =>
                  Dedup.minhashIndexAppend(spark, table, novel, textCol,
                    idCol, k, numHashes, bands, repair = repairMode)
              }
              commitEpoch(spark, table, epoch, novel.select(idCol))
            }
            if (compactEvery > 0 && (epoch + 1) % compactEvery == 0) {
              admSlots.map(sl =>
                  rotateShard(Some(sl.map(_.table)), epoch, compactEvery))
                .getOrElse(Seq(table)).foreach { t =>
                BucketedJoin.compactBucketed(spark, s"${t}_sigs", "id")
                BucketedJoin.compactBucketed(spark, s"${t}_bands", "bandkey")
              }
              compactLedger(spark, table, epoch)
              (bm25Table.toSeq ++
                rotateShard(bm25Slots.map(_.map(_.table)), epoch,
                  compactEvery)).foreach { t =>
                BucketedJoin.compactBucketed(spark, t, "term")
                BucketedJoin.compactBucketed(spark, s"${t}_terms", "term")
                BucketedJoin.compactBucketed(spark, s"${t}_stats", "n_docs")
                // positional twin (present only for positions = true
                // indexes; bm25Append maintains it automatically)
                if (spark.sessionState.catalog.tableExists(
                    org.apache.spark.sql.catalyst.TableIdentifier(s"${t}_pos")))
                  BucketedJoin.compactBucketed(spark, s"${t}_pos", "term")
              }
              // LangModel.compact folds all four LM tables (bigram
              // deltas, counted vocab, stats ledger, generation) itself
              (lmTable.toSeq ++ rotateShard(lmSlots.map(_.map(_.table)),
                  epoch, compactEvery))
                .foreach(t => LangModel.compact(spark, t))
            }
          }
        } finally dups.unpersist()
      } finally b.unpersist()
    }

  /** ROTATING shard compaction: each compaction epoch folds exactly
    * ONE shard of the family — shard `(epoch+1)/compactEvery mod S` —
    * so the compaction spike is O(1) tables per epoch regardless of
    * shard count, while every shard still folds once per
    * S·compactEvery epochs (hygiene cadence, correctness unaffected:
    * compaction never changes query results, only file counts). The
    * alternative — folding ALL shards each cadence — was measured
    * scaling the spike with table count (BASELINE.md round-15: +5–6 s
    * at just 4 shard tables; an O(100)-shard deployment would stall
    * for minutes every cadence epoch). Single-table twins
    * (`bm25Table`/`lmTable`/`ivfTable`/`pqTable`) still fold every
    * cadence — one table is the spike floor.
    */
  private[graft] def rotateShard(ts: Option[Seq[String]], epoch: Long,
                                 compactEvery: Int): Seq[String] =
    ts.filter(_.nonEmpty).map { s =>
      Seq(s((((epoch + 1) / compactEvery) % s.size).toInt))
    }.getOrElse(Nil)

  /** Sharded-twin absorb: each admitted doc/vector routes to exactly
    * one SLOT by id hash (the slot's own (shardIndex, nShards) level —
    * [[ShardFamily.Slot]]; a canonical S-family degenerates to
    * `shardOf(id, S)`). Deterministic, so a replay routes identically
    * and each shard's repair anti-join sees exactly its own rows. A
    * crash between shard appends heals like the single-table case:
    * every shard append re-runs in repair mode on replay, row-level
    * idempotent per table. Which slots are non-empty is decided by ONE
    * aggregation over the checkpoint-pinned `novel` rows at the
    * family's FINEST level (per-residue counts are O(finest) rows; a
    * slot is non-empty iff one of its residue classes is), not a
    * per-shard isEmpty probe, which paid ~2 extra Spark actions per
    * shard per family on the hot refresh path.
    */
  private def routeToSlots(novel: DataFrame, idCol: String,
                           slots: Seq[ShardFamily.Slot])
                          (append: (String, DataFrame) => Unit): Unit = {
    val finest = slots.map(_.nShards).max
    val hit = novel
      .groupBy(shardOf(col(idCol), finest).as("_r"))
      .count().collect().map(_.getLong(0)).toSet
    slots.foreach { s =>
      if ((s.shardIndex until finest by s.nShards).exists(r => hit(r.toLong)))
        append(s.table, novel.filter(
          shardOf(col(idCol), s.nShards) === s.shardIndex))
    }
  }

  /** The deterministic shard router shared by the loop and its
    * consumers: a document's serving shard is `xxhash64(id) mod S`.
    * Serving-side callers pass the SAME shard table list to
    * [[graft.operators.Retrieval.bm25ShardedQuery]] /
    * [[graft.operators.LangModel.scoreSharded]] — the router only
    * decides placement; sharded serving folds global stats regardless
    * of which shard holds which doc.
    */
  def shardOf(id: org.apache.spark.sql.Column, nShards: Int)
      : org.apache.spark.sql.Column =
    graft.operators.Sharding.shardOf(id, nShards)

  /** `onBatch(dups, novel, epoch)`: `dups` is
    * (batch_id, match_id, est_jaccard, source) where source is
    * "corpus" (matched the standing index) or "batch" (matched a
    * smaller-id doc in the same micro-batch); `novel` is the admitted
    * subset of the batch, already absorbed into the index by the time
    * the call returns the next epoch.
    *
    * `bm25Table`: also absorb the admitted documents into a standing
    * BM25 index ([[graft.operators.Retrieval.bm25Append]]) — the
    * lexical twin of embeddingRefresh's `ivfTable`: the serving index
    * stays fresh as a side effect of admission, under the same
    * effectively-once ledger (replayed epochs re-run the absorb in
    * repair mode, which completes partial postings row-level and
    * recomputes the derived df/stats tables from the postings).
    *
    * `lmTable`: also absorb the admitted documents into a standing
    * bigram LM ([[graft.operators.LangModel.append]]) — the
    * quality-model twin: corpus statistics stay fresh as a side effect
    * of admission. Replays repair row-level through the epoch-tagged
    * count deltas; the vocab union is idempotent by construction.
    *
    * `compactEvery` > 0 folds the accumulated per-append files back to
    * one per bucket ([[graft.operators.BucketedJoin.compactBucketed]])
    * after every Nth epoch — the slow-cadence maintenance that keeps
    * file counts bounded on a long-running stream (each epoch's append
    * adds one file set per bucket; lookups stay correct either way,
    * compaction is purely about file-count/open-cost hygiene). The
    * epoch ledger compacts on the same cadence. SHARD families fold
    * ROTATING — one shard per family per cadence epoch
    * ([[rotateShard]]) — so the compaction spike stays O(1) tables at
    * any shard count.
    *
    * `bm25Shards` / `lmShards`: the SHARDED serving twins — the layout
    * when the standing serving index outgrows one table (BASELINE.md
    * round-15: one 10⁷-doc positional BM25 index is 5.85 GB on disk;
    * at 10⁸ admitted docs the loop must absorb into shards or die).
    * Each admitted doc routes to exactly one shard by [[shardOf]]
    * (id-hash, deterministic — replays route identically, so each
    * shard's repair anti-join sees exactly its own rows), appends stay
    * O(novel) per shard, and serving reads the shard list through
    * [[graft.operators.Retrieval.bm25ShardedQuery]] /
    * [[graft.operators.LangModel.scoreSharded]], which fold global
    * stats across shards (gated ≡ one whole index at t32/t35). The
    * same effectively-once ledger covers every shard: the commit
    * marker lands only after ALL shard appends, and an un-committed
    * replay re-runs each shard append in repair mode.
    *
    * `indexShards`: the ADMISSION index itself sharded — the last
    * single-table structure in the loop (at 10⁹ admitted docs the
    * signature/band tables hit the same per-box wall the serving
    * indexes did). When set, `table` anchors ONLY the epoch ledger;
    * the dup check runs [[graft.operators.Dedup
    * .minhashDedupAgainstSharded]] (batch hashed once, per-shard
    * co-located joins, exact union), admitted docs route to their
    * [[shardOf]] shard's index, per-shard appends repair row-level on
    * replay, and compaction rotates one admission shard per cadence
    * epoch. Grow a shard with [[graft.operators.Dedup.splitShard]].
    *
    * `bm25Family` / `lmFamily` / `indexFamily`: the ONLINE-RESHARD form
    * of the `*Shards` parameters (pass one or the other per family —
    * the Family wins when both are set). A [[ShardFamily]] is a
    * resizable slot list: `requestSplit`/`requestMerge` queue while the
    * stream runs, the loop applies them at the next epoch boundary
    * whose predecessor committed (a repair replay defers the swap one
    * epoch so its anti-joins see the crashed attempt's tables), and the
    * epoch snapshots the slot list once at entry — routing, repair and
    * compaction all see one consistent family per epoch. The realistic
    * trigger is exactly a hot, growing stream: the family grows without
    * stopping the loop, under the same effectively-once ledger.
    */
  def minhashRefresh(stream: DataFrame, table: String,
                     textCol: String, idCol: String,
                     threshold: Double = 0.5, k: Int = 3,
                     numHashes: Int = 64, bands: Int = 16,
                     bm25Table: Option[String] = None,
                     lmTable: Option[String] = None,
                     compactEvery: Int = 0,
                     bm25Shards: Option[Seq[String]] = None,
                     lmShards: Option[Seq[String]] = None,
                     indexShards: Option[Seq[String]] = None,
                     bm25Family: Option[ShardFamily] = None,
                     lmFamily: Option[ShardFamily] = None,
                     indexFamily: Option[ShardFamily] = None,
                     maxShardsPerFamily: Option[Int] = None)
                    (onBatch: (DataFrame, DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val body = minhashBatch(table, textCol, idCol, threshold, k,
      numHashes, bands, bm25Table, lmTable, compactEvery, bm25Shards,
      lmShards, indexShards, bm25Family, lmFamily, indexFamily,
      maxShardsPerFamily)(onBatch)
    stream.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      body(batch, epoch)
    }
  }

  /** Complete a retrain a previous run left mid-flight on a serving
    * index (the heal-on-read discipline, lifted to the retrain's
    * rename-aside): a crashed [[graft.operators.Similarity.ivfRetrain]]
    * / [[graft.operators.ProductQuant.ivfPqRetrain]] leaves the corpus
    * under `<renamed>_retrainsrc`. If the rebuilt table also landed
    * (killed between the final build step and the source drop), only
    * the stale source needs dropping; otherwise the retrain resumes
    * from the rename-aside — O(corpus), paid only on the
    * crash-recovery epoch, and REQUIRED before any append: the append
    * reads tables the crashed retrain may have removed.
    */
  private def healCrashedRetrain(spark: SparkSession, table: String,
                                 pq: Boolean, nassign: Int): Unit = {
    def exists(t: String) = spark.sessionState.catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier(t))
    val renamed = if (pq) s"${table}_vecs" else table
    val src = s"${renamed}_retrainsrc"
    if (exists(src)) {
      if (exists(renamed)) BucketedJoin.dropWithLocation(spark, src)
      else if (pq) {
        log.warn(s"IVFPQ index $table: resuming a crashed retrain")
        graft.operators.ProductQuant.ivfPqRetrain(spark, table,
          nassign = nassign)
      } else {
        log.warn(s"IVF index $table: resuming a crashed retrain")
        Similarity.ivfRetrain(spark, table, nassign)
      }
    }
  }

  /** Shared drift response for the IVF/IVFPQ serving twins
    * (single-table and sharded): a drifted absorb warns loudly naming
    * the index, and `retrainOnDrift` closes the loop in-epoch — the
    * same semantics per SHARD as per whole index (each shard carries
    * its own build-time drift reference, so a drifting region retrains
    * only the shards it routed to). */
  private def handleDrift(spark: SparkSession, t: String,
                          st: Similarity.IvfAppendStats, epoch: Long,
                          pq: Boolean, retrainOnDrift: Boolean,
                          nassign: Int): Unit =
    if (st.drifted) {
      val kind = if (pq) "IVFPQ" else "IVF"
      val cure = if (pq) s"ProductQuant.ivfPqRetrain($t)"
                 else s"Similarity.ivfRetrain($t)"
      if (retrainOnDrift) {
        log.warn(
          s"$kind serving index $t: batch mean top-1 cosine " +
            f"${st.batchMeanTop1Cos}%.4f vs build " +
            f"${st.buildMeanTop1Cos}%.4f at epoch $epoch — " +
            "drift; retraining in-epoch (retrainOnDrift)")
        if (pq) graft.operators.ProductQuant.ivfPqRetrain(spark, t,
          nassign = nassign)
        else Similarity.ivfRetrain(spark, t, nassign)
      } else log.warn(
        s"$kind serving index $t: batch mean top-1 cosine " +
          f"${st.batchMeanTop1Cos}%.4f vs build ${st.buildMeanTop1Cos}%.4f " +
          s"at epoch $epoch — distribution drift; schedule $cure")
    }

  /** The per-micro-batch body of [[embeddingRefresh]], exposed like
    * [[minhashBatch]]. */
  def embeddingBatch(table: String, idCol: String, vecCol: String,
                     threshold: Double = 0.999,
                     nBits: Int = 16, nTables: Int = 8,
                     seed: Long = 42L,
                     ivfTable: Option[String] = None, nassign: Int = 2,
                     pqTable: Option[String] = None,
                     retrainOnDrift: Boolean = false,
                     compactEvery: Int = 0,
                     ivfShards: Option[Seq[String]] = None,
                     pqShards: Option[Seq[String]] = None,
                     indexShards: Option[Seq[String]] = None,
                     ivfFamily: Option[ShardFamily] = None,
                     pqFamily: Option[ShardFamily] = None,
                     indexFamily: Option[ShardFamily] = None)
                    (onBatch: (DataFrame, DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, epoch: Long) => {
      val spark = batch.sparkSession
      // indexShards: the LSH ADMISSION index itself is sharded —
      // `table` anchors only the epoch ledger (see minhashBatch). Heals
      // run over the CURRENT (pre-reshard) tables, like minhashBatch —
      // in particular healCrashedRetrain runs BEFORE any queued split,
      // which rejects a live retrain rename-aside.
      indexFamily.map(_.tables).orElse(indexShards).getOrElse(Seq(table))
        .foreach { t =>
          BucketedJoin.recoverCompacted(spark, s"${t}_vecs")
          BucketedJoin.recoverCompacted(spark, s"${t}_buckets")
        }
      (ivfTable.toSeq ++
        ivfFamily.map(_.tables).orElse(ivfShards).getOrElse(Nil)).foreach { t =>
        BucketedJoin.recoverCompacted(spark, t)
        healCrashedRetrain(spark, t, pq = false, nassign)
      }
      (pqTable.toSeq ++
        pqFamily.map(_.tables).orElse(pqShards).getOrElse(Nil)).foreach { t =>
        BucketedJoin.recoverCompacted(spark, t)
        BucketedJoin.recoverCompacted(spark, s"${t}_vecs")
        healCrashedRetrain(spark, t, pq = true, nassign)
      }
      val (decided, committed, hasNovelRows) = epochPhases(spark, table, epoch)
      val repairMode = decided || hasNovelRows
      // ONLINE RESHARD at a safe boundary only — see minhashBatch
      if (!repairMode)
        Seq(ivfFamily, pqFamily, indexFamily).flatten
          .foreach(_.applyPending(spark))
      val ivfSlots = ivfFamily.map(_.slots)
        .orElse(ivfShards.map(ShardFamily.canonicalSlots))
      val pqSlots = pqFamily.map(_.slots)
        .orElse(pqShards.map(ShardFamily.canonicalSlots))
      val admSlots = indexFamily.map(_.slots)
        .orElse(indexShards.map(ShardFamily.canonicalSlots))
      val b = batch.persist()
      try {
        val intra = Similarity.cosineNearDupPairsBlocked(b, idCol, vecCol,
            threshold, nBits, nTables, seed)
          .select(col("idb").as("batch_id"), col("ida").as("match_id"),
            col("cos"), lit("batch").as("source"))
        val inter0 = Similarity.lshDedupAgainstSharded(spark,
          admSlots.map(_.map(_.table)).getOrElse(Seq(table)), b, idCol,
          vecCol, threshold, nBits, nTables, seed)
        // repairMode, not decided — see the minhashBatch note (legacy
        // uncommitted epochs must exclude recorded ids too)
        val interAdj = if (repairMode)
          inter0.join(epochIds(spark, table, epoch, "corpus_id"),
            Seq("corpus_id"), "left_anti")
        else inter0
        val inter = interAdj
          .select(col("batch_id"), col("corpus_id").as("match_id"),
            col("cos"), lit("corpus").as("source"))
        val dups = inter.unionByName(intra).persist()
        try {
          // localCheckpoint pins novel's ROWS independent of the index
          // tables, so NEITHER append below can invalidate the other's
          // input — the round-6 ordering hazard (append LSH first →
          // novel recomputes against the grown index, self-matches,
          // and the IVF absorb writes an empty frame) is structurally
          // gone rather than comment-enforced; on replay the RECORDED
          // ids are the admission decision
          val novel = (if (decided)
              b.join(epochIds(spark, table, epoch, idCol), Seq(idCol),
                "left_semi")
            else
              b.join(dups.select(col("batch_id").as(idCol)).distinct(),
                Seq(idCol), "left_anti"))
            .localCheckpoint()
          onBatch(dups, novel, epoch)
          if (!committed) {
            if (!novel.isEmpty) {
              if (!decided) recordNovel(spark, table, epoch, novel.select(idCol))
              // default: drift is surfaced, not auto-acted (ivfRetrain
              // swaps tables this loop reads — the maintenance cadence
              // is the safe place). retrainOnDrift closes the loop
              // in-epoch; a kill mid-retrain heals on the replay
              // (healCrashedRetrain above).
              ivfTable.foreach { t =>
                handleDrift(spark, t,
                  Similarity.ivfAppend(spark, t, novel, idCol, vecCol,
                    nassign, repair = repairMode),
                  epoch, pq = false, retrainOnDrift, nassign)
              }
              pqTable.foreach { t =>
                handleDrift(spark, t,
                  graft.operators.ProductQuant.ivfPqAppend(spark, t,
                    novel, idCol, vecCol, nassign, repair = repairMode),
                  epoch, pq = true, retrainOnDrift, nassign)
              }
              // sharded vector twins — the serving layout when the
              // standing index outgrows one table: admitted vectors
              // route to exactly one shard by [[shardOf]] and absorb
              // via the per-shard frozen-quantizer appends; drift is
              // watched per shard (each shard's own build reference)
              ivfSlots.foreach(routeToSlots(novel, idCol, _) {
                (t, slice) =>
                  handleDrift(spark, t,
                    Similarity.ivfAppend(spark, t, slice, idCol, vecCol,
                      nassign, repair = repairMode),
                    epoch, pq = false, retrainOnDrift, nassign)
              })
              pqSlots.foreach(routeToSlots(novel, idCol, _) {
                (t, slice) =>
                  handleDrift(spark, t,
                    graft.operators.ProductQuant.ivfPqAppend(spark, t,
                      slice, idCol, vecCol, nassign, repair = repairMode),
                    epoch, pq = true, retrainOnDrift, nassign)
              })
              admSlots match {
                case Some(sl) => routeToSlots(novel, idCol, sl) {
                  (t, slice) =>
                    Similarity.lshIndexAppend(spark, t, slice, idCol,
                      vecCol, nBits, nTables, seed, repair = repairMode)
                }
                case None =>
                  Similarity.lshIndexAppend(spark, table, novel, idCol,
                    vecCol, nBits, nTables, seed, repair = repairMode)
              }
              commitEpoch(spark, table, epoch, novel.select(idCol))
            }
            if (compactEvery > 0 && (epoch + 1) % compactEvery == 0) {
              admSlots.map(sl =>
                  rotateShard(Some(sl.map(_.table)), epoch, compactEvery))
                .getOrElse(Seq(table)).foreach { t =>
                BucketedJoin.compactBucketed(spark, s"${t}_vecs", "id")
                BucketedJoin.compactBucketed(spark, s"${t}_buckets", "bkey")
              }
              compactLedger(spark, table, epoch)
              (ivfTable.toSeq ++
                rotateShard(ivfSlots.map(_.map(_.table)), epoch,
                  compactEvery)).foreach(t =>
                BucketedJoin.compactBucketed(spark, t, "cid"))
              (pqTable.toSeq ++
                rotateShard(pqSlots.map(_.map(_.table)), epoch,
                  compactEvery)).foreach { t =>
                BucketedJoin.compactBucketed(spark, t, "cid")
                BucketedJoin.compactBucketed(spark, s"${t}_vecs", "nid")
              }
            }
          }
        } finally dups.unpersist()
      } finally b.unpersist()
    }

  /** The embedding twin of [[minhashRefresh]]: micro-batches of
    * vectors dedup against a persisted LSH bucket index
    * ([[Similarity.lshIndexBuild]] — the admission-control structure
    * whose check cost is O(batch + collisions), FLAT as the corpus
    * grows) and within themselves (LSH-blocked cosine pairs), then
    * novel vectors are absorbed with [[Similarity.lshIndexAppend]] so
    * the next micro-batch sees them. An IVF dedup check would pay
    * O(batch · probeFrac · corpus) — the probed lists grow with N —
    * so the loop deliberately does NOT check against IVF; pass
    * `ivfTable` to also absorb admitted vectors into a standing IVF
    * QUERY-serving index ([[Similarity.ivfAppend]], frozen centroids),
    * keeping the serving index fresh as a side effect of admission.
    * `pqTable` is the IVFPQ twin: admitted vectors absorb into a
    * standing [[graft.operators.ProductQuant.ivfPqBuild]] index
    * ([[graft.operators.ProductQuant.ivfPqAppend]] — frozen coarse
    * centroids AND frozen codebook), under the same effectively-once
    * ledger (replays re-run the absorb in row-level repair mode) and
    * the same drift warning (cure: `ProductQuant.ivfPqRetrain`, from
    * the maintenance cadence).
    *
    * `dups` rows are (batch_id, match_id, cos, source ∈ batch|corpus);
    * a resubmitted id matches its own indexed row (no self-filter,
    * like the minhash twin). `nBits`/`nTables`/`seed` must match the
    * index build. Same effectively-once restart contract (epoch
    * ledger) and `compactEvery` cadence as [[minhashRefresh]].
    *
    * `retrainOnDrift = true` closes the drift loop: when an absorb's
    * coarse-drift signal fires ([[graft.operators.Similarity
    * .IvfAppendStats]]`.drifted` — the DevDrift-measured recall-decay
    * mode, 1.00 → 0.19 under frozen centroids), the epoch immediately
    * retrains the affected serving index
    * ([[graft.operators.Similarity.ivfRetrain]] /
    * [[graft.operators.ProductQuant.ivfPqRetrain]]) so the NEXT batch
    * assigns against centroids that cover the drifted region. The
    * retrain is O(corpus) — the drifting epoch stalls for it, which is
    * the point of the opt-in (default false keeps the warn-only
    * behavior for operators who retrain from a maintenance cadence). A
    * kill mid-retrain heals on the replayed epoch before any append
    * (the rename-aside is resumed or its leftover dropped), so the
    * effectively-once contract is unchanged. Cadence interaction with
    * `compactEvery`: a retrain REWRITES the index one-file-per-bucket,
    * so the next scheduled compaction of that table is a near-no-op —
    * the two cadences compose without coordination; drift does not
    * reset the compaction counter.
    *
    * `ivfShards` / `pqShards`: the SHARDED vector serving twins — the
    * routing that lets the loop MAINTAIN the doc-disjoint shard
    * indexes [[graft.operators.Similarity.ivfShardedQuery]] /
    * [[graft.operators.ProductQuant.ivfPqShardedQuery]] serve from
    * (the `bm25Shards`/`lmShards` pattern applied to vectors: when the
    * standing serving index outgrows one table, the loop must absorb
    * into shards or stop maintaining them). Each admitted vector
    * routes to exactly one shard by [[shardOf]] (deterministic —
    * replays route identically, so each shard's repair anti-join sees
    * exactly its own rows) and absorbs via the per-shard
    * frozen-quantizer append ([[graft.operators.Similarity.ivfAppend]]
    * / [[graft.operators.ProductQuant.ivfPqAppend]]); the coarse-drift
    * signal and `retrainOnDrift` apply PER SHARD against each shard's
    * own build-time reference, crashed per-shard retrains heal on
    * replay, and compaction covers every shard on the same cadence.
    * The same effectively-once ledger covers all shards: the commit
    * marker lands only after ALL shard appends.
    *
    * `indexShards`: the LSH ADMISSION index itself sharded (the
    * [[minhashRefresh]] `indexShards` contract for vectors): `table`
    * anchors only the epoch ledger, the dup check runs
    * [[graft.operators.Similarity.lshDedupAgainstSharded]], admitted
    * vectors route to their [[shardOf]] shard's index, and compaction
    * rotates one admission shard per cadence epoch. Grow a shard with
    * [[graft.operators.Similarity.splitLshShard]].
    */
  def embeddingRefresh(stream: DataFrame, table: String,
                       idCol: String, vecCol: String,
                       threshold: Double = 0.999,
                       nBits: Int = 16, nTables: Int = 8,
                       seed: Long = 42L,
                       ivfTable: Option[String] = None, nassign: Int = 2,
                       pqTable: Option[String] = None,
                       retrainOnDrift: Boolean = false,
                       compactEvery: Int = 0,
                       ivfShards: Option[Seq[String]] = None,
                       pqShards: Option[Seq[String]] = None,
                       indexShards: Option[Seq[String]] = None,
                       ivfFamily: Option[ShardFamily] = None,
                       pqFamily: Option[ShardFamily] = None,
                       indexFamily: Option[ShardFamily] = None)
                      (onBatch: (DataFrame, DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val body = embeddingBatch(table, idCol, vecCol, threshold, nBits,
      nTables, seed, ivfTable, nassign, pqTable, retrainOnDrift,
      compactEvery, ivfShards, pqShards, indexShards, ivfFamily,
      pqFamily, indexFamily)(onBatch)
    stream.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      body(batch, epoch)
    }
  }
}
