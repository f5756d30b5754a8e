package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Deduplication operators for training-data pipelines:
  * exact, n-gram Jaccard, MinHash+LSH, SimHash. All shuffle only on
  * compact keys (digests / band hashes), never on document text, so they
  * scale to 100 TB: the candidate-pair space is bounded by bucket
  * collisions, not n².
  */
object Dedup {

  /** Exact dedup: group by content digest, keep the smallest id.
    * One shuffle on a 16-byte key; partial aggregation combines map-side.
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Word k-shingles as a distinct array column (basis for Jaccard /
    * MinHash) — the native `word_shingles` kernel (one pass, one hash
    * set; the slice/concat/array_distinct composition measured 4× the
    * cost of the whole tokenize stage). Requires
    * `GraftFunctions.ensureRegistered` on the session (all Dedup
    * entry points call it).
    */
  def shingles(text: Column, k: Int = 3): Column =
    graft.functions.GraftFunctions.wordShingles(TextOps.tokens(text), k)

  /** Exact n-gram Jaccard near-dup pairs: (ida, idb, jaccard) for every
    * a < b with jaccard ≥ threshold, where jaccard = i / (na + nb − i)
    * over word k-shingle sets (i shared shingles, na and nb set sizes).
    *
    * Hot-shingle cap: a shingle held by more than `maxShingleFreq`
    * (id, shingle) rows is dropped before anything is counted, so it
    * counts toward neither the intersection nor either set size —
    * Jaccard over the post-cap shingle universe (stop-word shingle
    * suppression; a dense shingle space becomes a cheap no-op instead
    * of a quadratic join). `Int.MaxValue` means no cap.
    *
    * The posting-list form of the MapReduce set-similarity join
    * (Vernica et al., SIGMOD 2010), with ONE shingle exchange:
    *  1. tokenize, shingle and explode the corpus once;
    *  2. group by shingle into a bounded id list (the native
    *     `capped_ids`, [[graft.functions.CappedIdsAgg]]): at most
    *     `maxShingleFreq` ids per buffer, a hot shingle overflows to a
    *     marker — its cost is O(cap), never O(freq);
    *  3. emit from each kept list one (a, b) row per id pair and one
    *     (a, a) row per id (the native `id_pairs` generator) and count
    *     rows by (a, b): a < b rows are intersections, a = b rows are
    *     set sizes — both from the same exchange;
    *  4. attach na, then nb, to each pair row with two window passes
    *     (partitioned by a, then by b — each holds that id's size row)
    *     and filter on Jaccard: no self-join and no size joins.
    * Only documents sharing a kept shingle ever meet — no n² pair
    * enumeration. The id column must be integral; it is carried as
    * bigint and cast back on output.
    */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                        k: Int = 3, threshold: Double = 0.8,
                        maxShingleFreq: Int = 1000): DataFrame = {
    import graft.functions.GraftFunctions.{cappedIds, ensureRegistered, idPairs}
    ensureRegistered(docs.sparkSession)
    val idType = docs.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"ngramJaccardPairs needs an integral id column, $idCol is ${idType.simpleString}")
    // a's size rides the row (a, a): counted in the partition that
    // holds every (a, ·) row, then b's in the partition of every (·, b).
    // Both exchanges are sized to the session's shuffle partitions: a
    // coalesced single task would run each window serially.
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    def sizeOver(part: String) = max(when(col("ida") === col("idb"), col("i")))
      .over(org.apache.spark.sql.expressions.Window.partitionBy(part))
    docs
      .select(col(idCol).cast("long").as("id"),
        explode(shingles(col(textCol), k)).as("sh"))
      .groupBy("sh").agg(cappedIds(col("id"), maxShingleFreq).as("ids"))
      .select(idPairs(col("ids")))
      .repartition(parts, col("ida"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("i"))
      .withColumn("na", sizeOver("ida"))
      .repartition(parts, col("idb"))
      .withColumn("nb", sizeOver("idb"))
      .filter(col("ida") < col("idb"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("ida").cast(idType).as("ida"),
        col("idb").cast(idType).as("idb"), col("jaccard"))
  }

  /** MinHash signatures: one 64-bit base hash per shingle, then
    * `numHashes` universal-hash permutations folded in a single pass by
    * the native `minhash_sigs` kernel (the compositional
    * `transform(sequence, j => array_min(transform(shingles, xxhash64)))`
    * re-hashes every shingle string once per signature row). Map-only.
    * Requires `GraftFunctions.ensureRegistered`.
    */
  def minhashSignature(text: Column, k: Int = 3, numHashes: Int = 64,
                       seed: Long = 42L): Column =
    // shingles feed the kernel directly: minhash_sigs hashes string
    // elements inline (XXH64 seed 42 — bit-identical to the former
    // `transform(_, xxhash64)` pre-pass, minus its interpreted
    // higher-order evaluation)
    graft.functions.GraftFunctions.minhashSigs(
      shingles(text, k), numHashes, seed)

  /** MinHash + LSH banding: signatures split into `bands` bands of
    * `rowsPerBand`; documents sharing any band hash become candidates;
    * candidates are verified by full-signature agreement (estimated
    * Jaccard). Shuffles only (bandId, bandHash, id) triples.
    *
    * Returns (ida, idb, est_jaccard) with ida < idb, est ≥ threshold.
    *
    * `shards`/`shard` bound peak shuffle exactly like the simhash dial
    * (see [[simhashCandidates]]): pass S > 1 to restrict one run to
    * band hashes with `pmod(bandhash, S) = shard`; the union of the S
    * sequential passes (dedup (ida, idb) after) equals the unsharded
    * pair set, since a colliding pair shares the full band hash. Each
    * pass re-runs the map-only signature stage.
    */
  def minhashLshPairs(docs: DataFrame, textCol: String, idCol: String,
                      k: Int = 3, numHashes: Int = 64, bands: Int = 16,
                      threshold: Double = 0.5,
                      shards: Int = 1, shard: Int = 0): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(shards >= 1 && shard >= 0 && shard < shards,
      s"need 0 <= shard < shards, got shard=$shard shards=$shards")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val rowsPer = numHashes / bands
    // id-partitioned exchange: the signature computation (shingling + 64
    // hash mins per doc — the expensive map) runs once, and all three
    // consumers (banding, the two post-candidate signature joins) reuse
    // it; the id partitioning already matches the re-join keys.
    val sig = docs.select(col(idCol).as("id"),
      minhashSignature(col(textCol), k, numHashes).as("sig"))
      .repartition(col("id"))
    // Band rows carry only (id, band, bandhash) — signatures are re-joined
    // by id AFTER candidate dedup, so the banding shuffle moves 24-byte
    // rows, not 64-long signatures.
    val bandedAll = sig.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rowsPer + 1, lit(rowsPer))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandhash")
    val banded = if (shards > 1)
      bandedAll.filter(pmod(col("bandhash"), lit(shards.toLong)) === shard.toLong)
    else bandedAll
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bandhash") === col("b.bandhash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"))
      .dropDuplicates("ida", "idb")
    cand
      .join(sig.select(col("id").as("ida"), col("sig").as("siga")), "ida")
      .join(sig.select(col("id").as("idb"), col("sig").as("sigb")), "idb")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("siga"), col("sigb"), (x, y) =>
          when(x === y, 1).otherwise(0)), v => v === 1)).cast("double") /
          lit(numHashes))
      .filter(col("est_jaccard") >= threshold)
      .select(col("ida"), col("idb"), round(col("est_jaccard"), 4).as("est_jaccard"))
  }

  /** Index-once / dedup-incrementally — the corpus-refresh path: a
    * standing corpus is MinHash-indexed ONCE, then each incoming batch
    * is checked against the persisted index with no corpus re-scan,
    * re-shingle, or re-shuffle. At 100 TB this is the difference between
    * a nightly batch costing O(batch) and re-running the full O(corpus)
    * pairwise dedup.
    *
    * Persisted layout (BucketedJoin bucket tables):
    *  - `<table>_sigs` (id, sig) bucketed by id — candidate verification
    *    joins land co-located on the index side;
    *  - `<table>_bands` (id, bandkey) bucketed+sorted by bandkey — batch
    *    band rows shuffle TO the index layout, the index never moves.
    * `bandkey` folds (band index, band hash) into one 64-bit key so the
    * bucketed join key is a single column; a cross-band key collision
    * merely creates an extra candidate that signature verification
    * filters out (no correctness impact, ~2⁻⁶⁴ rate).
    */
  def minhashIndexBuild(docs: DataFrame, textCol: String, idCol: String,
                        table: String, k: Int = 3, numHashes: Int = 64,
                        bands: Int = 16, buckets: Int = 8): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val sig = docs.select(col(idCol).as("id"),
      minhashSignature(col(textCol), k, numHashes).as("sig"))
    BucketedJoin.writeBucketed(sig, s"${table}_sigs", "id", buckets)
    val banded = docs.sparkSession.table(s"${table}_sigs")
      .select(col("id"), explode(bandKeys(col("sig"), bands, numHashes / bands))
        .as("bandkey"))
    BucketedJoin.writeBucketed(banded, s"${table}_bands", "bandkey", buckets)
    // fresh index: drop any tombstone set left by a prior index under
    // this name (stale ids would vanish from the new corpus) — cleared
    // AFTER the tables land, so an aborted build can never un-delete
    // docs on the still-standing old index
    Tombstones.clear(docs.sparkSession, table)
  }

  /** Absorb `batch` into a standing [[minhashIndexBuild]] index at
    * O(batch) cost — the missing half of the incremental story: without
    * it, a corpus-refresh loop that checks a batch with
    * [[minhashDedupAgainst]] must re-run the full O(corpus) build to
    * make the batch findable by the NEXT batch. Only the batch is
    * shingled/hashed; both appends re-bucket batch rows into the
    * existing `<table>_sigs`/`<table>_bands` layouts
    * ([[BucketedJoin.appendBucketed]] — co-location is preserved, later
    * lookups stay exchange-free). The signature frame is cached so the
    * expensive minhash map runs once for both appends. Run
    * [[BucketedJoin.compactBucketed]] on a slow cadence to fold
    * accumulated per-append files.
    *
    * Id contract: append-only, ids immutable — re-appending an id
    * (e.g. the same doc id with edited text) leaves two signature rows
    * under it and later [[minhashDedupAgainst]] calls report both.
    * Admission flows never hit this (the dup check precedes the
    * absorb); `checkIds = true` is the opt-in direct-API guard that
    * fails such an append loudly, at the cost of an id-only scan of
    * `<table>_sigs` (O(index) per append — see the same note on
    * [[Similarity.lshIndexAppend]]).
    */
  def minhashIndexAppend(spark: org.apache.spark.sql.SparkSession,
                         table: String, batch: DataFrame,
                         textCol: String, idCol: String,
                         k: Int = 3, numHashes: Int = 64,
                         bands: Int = 16, checkIds: Boolean = false,
                         repair: Boolean = false): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val sig = batch.select(col(idCol).as("id"),
      minhashSignature(col(textCol), k, numHashes).as("sig")).persist()
    try {
      if (checkIds)
        Similarity.failOnIndexedIds(spark, s"${table}_sigs", sig,
          "minhashIndexAppend")
      // repair = re-run of an append that crashed partway: each table
      // takes only ROWS it doesn't already hold (row-level anti-join —
      // a crashed job can leave part of an id's band rows visible, so
      // id-level would under-repair), completing the append exactly.
      // Costs a key-column scan per table — recovery-path only.
      def missing(df: DataFrame, t: String, keys: Seq[String]): DataFrame =
        if (repair) df.join(spark.table(t).select(keys.map(col): _*),
          keys, "left_anti")
        else df
      BucketedJoin.appendBucketed(missing(sig, s"${table}_sigs", Seq("id")),
        s"${table}_sigs", "id")
      val banded = sig.select(col("id"),
        explode(bandKeys(col("sig"), bands, numHashes / bands)).as("bandkey"))
      BucketedJoin.appendBucketed(
        missing(banded, s"${table}_bands", Seq("id", "bandkey")),
        s"${table}_bands", "bandkey")
    } finally sig.unpersist()
  }

  /** Check `batch` against a standing [[minhashIndexBuild]] index:
    * returns (batch_id, corpus_id, est_jaccard) for every batch doc
    * whose estimated Jaccard against an indexed doc reaches `threshold`.
    * Only the batch is shingled/hashed; both index joins are co-located
    * with the bucketed tables (band candidates on bandkey, signature
    * verification on id).
    */
  def minhashDedupAgainst(spark: org.apache.spark.sql.SparkSession,
                          table: String, batch: DataFrame,
                          textCol: String, idCol: String,
                          threshold: Double = 0.5, k: Int = 3,
                          numHashes: Int = 64, bands: Int = 16): DataFrame =
    minhashDedupAgainstSharded(spark, Seq(table), batch, textCol, idCol,
      threshold, k, numHashes, bands)

  /** [[minhashDedupAgainst]] over a DOC-DISJOINT family of S ≥ 1
    * admission shard indexes (a single index is the one-shard family) —
    * the layout when the standing ADMISSION index outgrows one table
    * (the serving indexes got this form in round 15; at 10⁹ admitted
    * docs the signature/band tables are the next single-table wall).
    * The batch is shingled/hashed ONCE (the same id-partitioned
    * exchange feeds every shard's banding and verification arms
    * through exchange reuse); each shard's check is the single-index
    * plan verbatim (co-located bucketed joins, per-shard tombstones),
    * and the union is exact — corpus ids are disjoint across shards,
    * so no pair can appear twice. Cost ≡ Σ per-shard checks on one
    * box, max + batch-hash on a cluster.
    */
  def minhashDedupAgainstSharded(spark: org.apache.spark.sql.SparkSession,
                                 tables: Seq[String], batch: DataFrame,
                                 textCol: String, idCol: String,
                                 threshold: Double = 0.5, k: Int = 3,
                                 numHashes: Int = 64,
                                 bands: Int = 16): DataFrame = {
    require(tables.nonEmpty,
      "minhashDedupAgainstSharded needs at least one shard")
    require(numHashes % bands == 0, "bands must divide numHashes")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    if (tables.size > 1) graft.functions.GraftFunctions.unionGuard(spark)
    val (bsig, bband) = batchSigFrames(batch, textCol, idCol, k,
      numHashes, bands)
    tables.map(minhashCheckShard(spark, _, bsig, bband, numHashes,
      threshold)).reduce(_.unionByName(_))
  }

  /** The batch's signature and band frames: one id-partitioned
    * exchange for the signatures, reused by the banding arm and the
    * verification re-join of every shard. */
  private def batchSigFrames(batch: DataFrame, textCol: String,
                             idCol: String, k: Int, numHashes: Int,
                             bands: Int): (DataFrame, DataFrame) = {
    val bsig = batch.select(col(idCol).as("bid"),
        minhashSignature(col(textCol), k, numHashes).as("bsig"))
      .repartition(col("bid"))
    val bband = bsig.select(col("bid"),
      explode(bandKeys(col("bsig"), bands, numHashes / bands)).as("bandkey"))
    (bsig, bband)
  }

  /** One shard's check body (see [[minhashDedupAgainst]]). */
  private def minhashCheckShard(spark: org.apache.spark.sql.SparkSession,
                                table: String, bsig: DataFrame,
                                bband: DataFrame, numHashes: Int,
                                threshold: Double): DataFrame = {
    // tombstoned corpus ids stop matching immediately (broadcast
    // anti-join over the band scan — no new exchange)
    val bandRows = Tombstones.filterOut(spark, table,
      spark.table(s"${table}_bands"), "id")
    val cand = bband.join(bandRows, "bandkey")
      .select(col("bid"), col("id").as("cid"))
      .dropDuplicates("bid", "cid")
    cand.join(spark.table(s"${table}_sigs"), col("cid") === col("id"))
      .join(bsig, "bid")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("bsig"), col("sig"), (x, y) =>
          when(x === y, 1).otherwise(0)), v => v === 1)).cast("double") /
          lit(numHashes))
      .filter(col("est_jaccard") >= threshold)
      .select(col("bid").as("batch_id"), col("cid").as("corpus_id"),
        round(col("est_jaccard"), 4).as("est_jaccard"))
  }

  /** Grow one minhash ADMISSION shard into two doc-disjoint children —
    * the [[Retrieval.splitShard]] reshard contract applied to the
    * dedup-admission family: signature and band rows rehash by id
    * under the hierarchical router ([[Sharding.staysInFirstChild]]),
    * tombstones fold first (children born clean), and
    * [[minhashDedupAgainstSharded]] over the family with the parent
    * replaced by its children finds EXACTLY the same pairs (candidate
    * generation and verification are per-doc-row facts; the split
    * moves rows, never changes them). The one reshard protocol and
    * crash contract ([[Sharding]]).
    */
  def splitShard(spark: org.apache.spark.sql.SparkSession, parent: String,
                 child0: String, child1: String,
                 shardIndex: Int = 0, nShards: Int = 1): Unit =
    splitShardImpl(spark, parent, child0, child1, shardIndex, nShards,
      failAt = -1)

  /** [[splitShard]] with the [[Retrieval.InjectedSplitCrash]] seam. */
  private[graft] def splitShardImpl(spark: org.apache.spark.sql.SparkSession,
                                    parent: String, child0: String,
                                    child1: String, shardIndex: Int,
                                    nShards: Int, failAt: Int): Unit =
    Sharding.split(spark, reshard, parent, child0, child1, shardIndex,
      nShards, failAt)

  /** The inverse of [[splitShard]] — fold two doc-disjoint minhash
    * ADMISSION shards into one (the shrink path): tombstones fold
    * first, then the merged signature/band tables are the row UNIONS
    * rebucketed (per-doc facts — doc-disjointness makes the union
    * exact, and the sharded check over the family with the parents
    * replaced finds identical pairs).
    */
  def mergeShards(spark: org.apache.spark.sql.SparkSession,
                  parent0: String, parent1: String,
                  merged: String): Unit =
    mergeShardsImpl(spark, parent0, parent1, merged, failAt = -1)

  /** [[mergeShards]] with the [[Retrieval.InjectedSplitCrash]] seam. */
  private[graft] def mergeShardsImpl(spark: org.apache.spark.sql.SparkSession,
                                     parent0: String, parent1: String,
                                     merged: String, failAt: Int): Unit =
    Sharding.merge(spark, reshard, parent0, parent1, merged, failAt)

  /** The minhash admission family's reshard layout: signature and band
    * rows are per-doc; tombstones fold before a split or merge. */
  private[graft] object reshard extends Sharding.Family("_sigs", Seq(
      Sharding.Part("_sigs", "id", Sharding.Rows("id")),
      Sharding.Part("_bands", "bandkey", Sharding.Rows("id")))) {
    override def prepare(spark: org.apache.spark.sql.SparkSession,
                         table: String): Unit =
      minhashFoldTombstones(spark, table)
  }

  /** Physically fold [[Tombstones]] into a [[minhashIndexBuild]] index:
    * signature and band rows rewritten without the tombstoned ids
    * (crash-safe swap per table, idempotent), set cleared after.
    */
  def minhashFoldTombstones(spark: org.apache.spark.sql.SparkSession,
                            table: String): Unit =
    Tombstones.fold(spark, table, Seq(
      (s"${table}_sigs", "id", "id"), (s"${table}_bands", "id", "bandkey")))

  /** Connected components over a near-dup pair graph — cluster-level
    * dedup: the pairwise drop-the-larger-id policy used by the cleaning
    * pipelines under-merges transitive chains (a~b, b~c, a≁c keeps one
    * doc per PAIR, not per cluster); components give one canonical doc
    * (the min id) per near-dup CLUSTER. Returns (id, component) for
    * every id that appears in at least one pair; component = min id
    * reachable through the pair graph.
    *
    * Algorithm — two phases behind one API:
    *
    *  1. Min-label propagation for up to `propagateRounds` rounds:
    *     labels start as own id, each round every node takes the min of
    *     its own and its neighbors' labels. Rounds = graph diameter,
    *     and near-dup graphs are small dense clusters (measured: 2
    *     rounds at 5.1e6 docs), so this is the cheap common case — one
    *     equi-join + one groupBy-min on (long, long) rows per round,
    *     shuffle volume O(edges).
    *  2. If propagation hasn't converged inside its budget (adversarial
    *     long chains — diameter-bound algorithms need O(diameter)
    *     rounds), the remaining budget switches to the published
    *     large-star/small-star contraction (Kiveris, Lattanzi,
    *     Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
    *     MapReduce and Beyond", SoCC'14): alternating star operations
    *     that contract components in O(log) rounds. Phase-1 progress is
    *     preserved by seeding the contraction with the (id, label)
    *     edges — sound because a label is a reachable min.
    *
    * Never materializes components on the driver; per-round lineage is
    * capped by `localCheckpoint` (executor-resident — a lost executor
    * on a real cluster forfeits cached blocks and fails the job; pass
    * `checkpointDir` on an HDFS-visible path to use RELIABLE
    * checkpoints instead, trading per-round filesystem writes for
    * recomputability under executor loss. The default favors speed:
    * component jobs are short and re-runnable).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 50, propagateRounds: Int = 8,
                          checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    val ckpt: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        spark.sparkContext.setCheckpointDir(dir)
        df => df.checkpoint()
      case None => df => df.localCheckpoint()
    }
    val e = pairs.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
    val edges = ckpt(e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b")).distinct())
    // node universe from the RAW pairs: a node appearing only in
    // self-pairs still gets its (singleton) label row
    val nodes = ckpt(e.select(col("a").as("id"))
      .unionByName(e.select(col("b").as("id"))).distinct())
    var labels = nodes.select(col("id"), col("id").as("component"))
    var converged = false
    var i = 0
    while (!converged && i < math.min(propagateRounds, maxIters)) {
      val prop = edges.join(labels, edges("b") === labels("id"))
        .select(edges("a").as("id"), col("component"))
      val next = ckpt(labels.unionByName(prop)
        .groupBy("id").agg(min("component").as("component")))
      val noChange = next
        .join(labels.withColumnRenamed("component", "old"), Seq("id"))
        .filter(col("component") =!= col("old")).isEmpty
      labels = next
      converged = noChange
      i += 1
    }
    if (!converged) {
      // ---- phase 2: large-star/small-star contraction ----
      // symmetric neighborhood view of an undirected edge set
      def symmetric(d: DataFrame): DataFrame =
        d.unionByName(d.select(col("b").as("a"), col("a").as("b")))
      // Large-Star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
      def largeStar(sym: DataFrame): DataFrame = {
        val mins = sym.groupBy("a").agg(min("b").as("mb"))
          .select(col("a"), least(col("a"), col("mb")).as("m"))
        sym.join(mins, "a").filter(col("b") > col("a"))
          .select(col("b").as("a"), col("m").as("b"))
          .filter(col("a") =!= col("b"))
      }
      // Small-Star(u) over larger→smaller edges: m = min(N(u) ∪ {u});
      // emit (v, m) for v ∈ N(u) ∪ {u}, v ≠ m
      def smallStar(raw: DataFrame): DataFrame = {
        val dir = raw.filter(col("a") =!= col("b"))
          .select(greatest(col("a"), col("b")).as("u"),
            least(col("a"), col("b")).as("v"))
          .distinct()
        val mins = dir.groupBy("u").agg(min("v").as("m"))
        dir.join(mins, "u")
          .select(col("v").as("a"), col("m").as("b"))
          .unionByName(mins.select(col("u").as("a"), col("m").as("b")))
          .filter(col("a") =!= col("b"))
      }
      // canonical (lo, hi) form for the fixed-point comparison
      def canon(d: DataFrame): DataFrame =
        d.select(least(col("a"), col("b")).as("lo"),
          greatest(col("a"), col("b")).as("hi")).distinct()
      // seed with phase-1 progress: (id, label) edges are reachable-min
      // facts, so adding them preserves components
      var cur = ckpt(canon(edges.unionByName(
        labels.filter(col("id") =!= col("component"))
          .select(col("id").as("a"), col("component").as("b")))))
      while (!converged && i < maxIters) {
        val raw = cur.select(col("lo").as("a"), col("hi").as("b"))
        val next = ckpt(canon(smallStar(largeStar(symmetric(raw)))))
        converged = next.count() == cur.count() &&
          next.except(cur).isEmpty
        cur = next
        i += 1
      }
      if (converged)
        // at the star fixed point every component is a star centered at
        // its min: children are the hi side, centers label themselves
        // (groupBy-min is defensive canonicalization, free at one row
        // per node)
        labels = cur.select(col("hi").as("id"), col("lo").as("component"))
          .unionByName(cur.select(col("lo").as("id"), col("lo").as("component")))
          .unionByName(nodes.select(col("id"), col("id").as("component")))
          .groupBy("id").agg(min("component").as("component"))
    }
    // a silently split component is wrong output, not degraded output —
    // fail loudly rather than report two canonical docs for one cluster.
    // (Prior rounds' checkpointed sets are dropped references; the
    // ContextCleaner reclaims them — each is O(nodes | edges) compact
    // rows, so peak pressure is modest.)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds " +
          s"(propagation ${math.min(propagateRounds, maxIters)}, then " +
          "star contraction) — raise maxIters")
    labels
  }

  /** Band keys of a minhash signature: per band, xxhash64(band index,
    * hash of the band's signature slice) — the single-column LSH bucket
    * key the incremental index is laid out on.
    */
  private def bandKeys(sig: Column, bands: Int, rowsPer: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, xxhash64(slice(sig, b * rowsPer + 1, lit(rowsPer)))))

  /** 64-bit SimHash over tokens: per bit, count of set token-hash bits vs
    * total, sign → bit. Computed by the native one-pass `simhash64`
    * kernel (a column-expression formulation would traverse the hash
    * array 64 times per row). Near-dups = signatures within `maxHamming`.
    * Banding on 4 × 16-bit chunks gives the LSH blocking (pigeonhole: any
    * pair within hamming 3 shares at least one exact 16-bit chunk).
    * NOTE: requires `GraftFunctions.ensureRegistered` on the session.
    */
  def simhash(text: Column): Column =
    // tokens feed the kernel directly (fused string hashing — see
    // minhashSignature)
    graft.functions.GraftFunctions.simhash64(TextOps.tokens(text))

  /** All r-element combinations of 0 until m, lexicographic. */
  private[graft] def combinations(m: Int, r: Int): Seq[Seq[Int]] =
    (0 until m).combinations(r).map(_.toSeq).toSeq

  /** Chunk bit-ranges splitting 64 bits into `m` near-equal chunks:
    * (startBit, width) pairs, remainder spread over the leading chunks.
    */
  private[graft] def chunkRanges(m: Int): Seq[(Int, Int)] = {
    val base = 64 / m
    val rem = 64 % m
    val widths = Seq.tabulate(m)(i => base + (if (i < rem) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** SimHash banded candidate pairs (ida < idb, with hamming distance,
    * BEFORE the hamming threshold) — the blocking stage of
    * `simhashPairs`, exposed so scale probes can measure the candidate
    * curve directly.
    *
    * Banding scheme (the published multi-chunk design of Manku, Jain &
    * Sarma, "Detecting Near-Duplicates for Web Crawling", WWW'07 §3):
    * the 64-bit signature splits into `numChunks` = m near-equal chunks;
    * a pair within hamming k corrupts at most k chunks, so it matches
    * EXACTLY (pigeonhole) on at least one of the C(m, m−k) bands formed
    * by every (m−k)-chunk combination. m−k chunks concatenated give a
    * ~64·(m−k)/m-bit band key — at the default m=6, k=3 that is 20
    * bands keyed on ~32 bits, so birthday-collision candidates stay
    * negligible into the 10⁸-docs-per-block range, where the old 4×16-bit
    * scheme (the m=4 special case, band keys of only 16 bits) went
    * quadratic near 10⁵-10⁶ docs (measured: 1.4e8 candidate pairs at
    * 2e5 random docs; m=6 cuts that to the true-collision count).
    *
    * `blockWidth` > 0 additionally subdivides every band by a doc-length
    * bucket (⌊n_tokens / blockWidth⌋), probing each bucket's neighbors
    * (±1) so any pair with |Δtokens| < blockWidth still meets — an
    * independent data-dependent subdivision for corpora whose signature
    * space is NOT uniform (boilerplate-heavy crawls concentrate simhash
    * mass; length is cheap and near-invariant for near-dups). Pairs with
    * |Δtokens| ≥ blockWidth are the documented blocking tradeoff.
    * blockWidth = 0 (default) keeps the exact pigeonhole guarantee over
    * all lengths.
    *
    * SHARDED execution for bounded peak spill: the banding exchange is
    * the operator's disk high-water mark (the band table is
    * C(m, m−k)× the corpus — measured as the single-box wall at 1e7
    * docs, BASELINE.md). `shards` = S > 1 restricts this pass to band
    * keys with `pmod(key, S) = shard`; running the S passes
    * SEQUENTIALLY bounds peak shuffle/spill to ~1/S of the full job at
    * the cost of recomputing the map-only signature pass per shard.
    * Band keys are hashes, so the restriction is uniform, and a
    * colliding pair shares the full (band, key) — it surfaces in
    * exactly the shard(s) its colliding band keys select: the UNION of
    * all S passes equals the unsharded candidate set (pairs colliding
    * in several bands may repeat across shards; dedup after the union,
    * as the single-pass form does internally).
    */
  def simhashCandidates(docs: DataFrame, textCol: String, idCol: String,
                        blockWidth: Int = 0, numChunks: Int = 6,
                        maxHamming: Int = 3,
                        shards: Int = 1, shard: Int = 0): DataFrame = {
    require(numChunks > maxHamming && numChunks <= 16,
      s"need maxHamming < numChunks <= 16, got m=$numChunks k=$maxHamming")
    require(shards >= 1 && shard >= 0 && shard < shards,
      s"need 0 <= shard < shards, got shard=$shard shards=$shards")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val ranges = chunkRanges(numChunks)
    val combos = combinations(numChunks, numChunks - maxHamming)
    def chunkVal(sig: Column, i: Int): Column = {
      val (start, width) = ranges(i)
      shiftright(sig, start).bitwiseAND((1L << width) - 1)
    }
    // band key: hash of the combo's chunk values (any m/k fits 64 bits;
    // equal chunk tuples always collide, so the pigeonhole set survives)
    def bandKey(sig: Column, combo: Seq[Int]): Column =
      xxhash64(combo.map(chunkVal(sig, _)): _*)
    val blk = if (blockWidth > 0)
      (TextOps.tokenCount(col(textCol)) / blockWidth).cast("long")
    else lit(0L)
    val sigs = docs.select(col(idCol).as("id"), simhash(col(textCol)).as("sig"),
      blk.as("blk"))
    // (band, key, blk)-partitioned exchange: the build side of the
    // bucket self-join reuses one banding computation; the probe side
    // re-keys to its neighbor length buckets
    val bandedAll = sigs.select(col("id"), col("sig"), col("blk"),
      posexplode(array(combos.map(bandKey(col("sig"), _)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
    // shard restriction BEFORE the exchange: the filtered band rows
    // never enter the shuffle, so peak spill scales with 1/shards
    val banded = (if (shards > 1)
        bandedAll.filter(pmod(col("key"), lit(shards.toLong)) === shard.toLong)
      else bandedAll)
      .repartition(col("band"), col("key"), col("blk"))
    val probe = if (blockWidth > 0)
      banded.select(col("id"), col("sig"), col("band"), col("key"),
        explode(array(col("blk") - 1, col("blk"), col("blk") + 1)).as("blk"))
    else banded
    banded.as("a").join(probe.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        graft.functions.GraftFunctions.hamming(col("a.sig"), col("b.sig")).as("hamming"))
      .dropDuplicates("ida", "idb")
  }

  /** SimHash near-dup pairs: banded LSH candidates (see
    * `simhashCandidates` — C(m, m−k) chunk-combination bands, exact
    * pigeonhole guarantee at `maxHamming`) filtered to `maxHamming`.
    * `shards`/`shard` select one sequential pass of the sharded
    * execution (see [[simhashCandidates]]); union the passes and
    * dropDuplicates(ida, idb) for the full pair set.
    */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3, blockWidth: Int = 0,
                   numChunks: Int = 6, shards: Int = 1,
                   shard: Int = 0): DataFrame =
    simhashCandidates(docs, textCol, idCol, blockWidth, numChunks, maxHamming,
      shards, shard)
      .filter(col("hamming") <= maxHamming)
}
