package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Word-bigram language-model quality scoring — the CCNet-style corpus
  * filter (Wenzek et al., LREC'20: documents improbable under a
  * reference LM are boilerplate/gibberish/wrong-language; they filter
  * CommonCrawl by LM perplexity buckets). Kneser-Ney at 100 TB is a
  * different project; an add-one-smoothed bigram model captures the
  * ranking signal the pipeline dial needs and keeps every number
  * exactly reproducible (integer counts in, one ln per bigram out).
  *
  * Reference lineage: the closest reference surface is the aggregate
  * wordcount family (`hadoop-mapreduce-examples` AggregateWordCount /
  * WordCount chains) — counting n-grams over a corpus and reusing the
  * counts as a side input. This operator is that pattern with a second
  * pass scoring documents against the counts, plus the incremental
  * contract every index family here carries. The batch-term scan
  * narrowing in [[score]] follows the same discipline as the
  * reference's filtered scans
  * (`core:mapreduce/lib/input/SequenceFileInputFilter.java:53-164` —
  * read only the records the query needs, not the whole file).
  *
  * Persisted layout (the incremental-index shape, like the BM25/minhash
  * families):
  *  - `<table>`        bigram COUNT DELTAS `(w1, w2, c, epoch)`,
  *    bucketed+sorted by w1 — [[train]] writes one, each [[append]]
  *    adds a batch's deltas, each [[remove]] adds NEGATED deltas;
  *  - `<table>_vocab`  word OCCURRENCE-count deltas `(w, c, epoch)`,
  *    bucketed by w — a word is IN the vocabulary iff its folded count
  *    is positive, which is what lets [[remove]] retire words exactly
  *    (the last removal drives the fold to zero);
  *  - `<table>_stats`  vocabulary-size deltas `(v, epoch)` — one tiny
  *    row per train/append/remove recording the CHANGE in distinct
  *    live words, so [[score]] reads V as a one-row fold of a
  *    bounded-size table instead of scanning the vocab per call (the
  *    BM25 `_stats` discipline, `Retrieval.scala` corpus stats);
  *  - `<table>_gen`    the model-generation ledger `(g, epoch)` — one
  *    random row per mutation, XOR-folded to a cache key that lets
  *    [[scoreSharded]] memoize its cross-shard vocabulary fold per
  *    model generation (see [[genOf]]).
  *
  * Counts fold at query time: [[score]] aggregates the deltas by
  * (w1, w2), then derives history totals c(w1) = Σ_w2 c from the folded
  * frame. Both aggregates group by a superset of the bucket key (w1),
  * so they reuse the table's bucketing — NO exchange on the big table —
  * and the scans are NARROWED to the batch's distinct w1 via a bounded
  * pushed IN filter (see [[score]]), so a small-batch score pays the
  * batch's term mass, not the index. A grown model is numerically
  * IDENTICAL to one built whole (counts are additive, the vocab fold is
  * a counted set union) — the dd6/t17 grown ≡ whole-built contract,
  * oracle-gated at t25; remove ≡ train-without is gated at t30.
  *
  * Id contract: append-only — re-appending the same documents
  * double-counts them (the [[Retrieval.bm25Append]] contract; run the
  * dedup admission check first in refresh flows), and [[remove]] must
  * be given EXACTLY documents previously absorbed, with identical text
  * (it subtracts their counts; removing never-added docs corrupts the
  * model — the dd11/t19 takedown contract). [[compact]] folds
  * accumulated deltas into one row per bigram/word and one stats row to
  * cap the serve-time fold's input after many appends.
  *
  * [[score]] output is `(id, n_bigrams, logp_micro)`: per-bigram
  * contribution round(ln((c+1)/(ch+V))·1e6) as an integer micro —
  * integer sums are order-independent, so scores are bit-stable under
  * any partitioning (the BM25 determinism discipline). Documents with
  * fewer than two tokens emit `(id, 0, 0)`: a length filter's job, not
  * the LM's — dropping them silently would make the output a filtered
  * view nobody asked for.
  */
object LangModel {

  private def toks(c: Column) = TextOps.tokens(lower(c))

  /** Adjacent-pair bigrams of `textCol` as `(w1, w2)` rows, one per
    * OCCURRENCE (duplicates preserved — counts, not sets).
    */
  private def bigrams(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val t = docs.select(col(idCol).as("id"), toks(col(textCol)).as("ws"))
    t.select(col("id"),
        explode(zip_with(
          slice(col("ws"), lit(1), greatest(size(col("ws")) - 1, lit(0))),
          slice(col("ws"), lit(2), greatest(size(col("ws")) - 1, lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("id"), col("bg.w1"), col("bg.w2"))
  }

  /** One delta row per (w1, w2) per batch — counts SIGNED by the
    * operation (+1 absorb, −1 takedown) — tagged with the batch's
    * `epoch` (−1 for non-streaming writes): the tag is what makes a
    * crashed streaming absorb row-level repairable — a replayed epoch
    * anti-joins on (w1, w2, epoch) and appends only the rows the crash
    * lost, the [[Retrieval.bm25Append]] repair discipline applied to
    * additive counts.
    */
  private def bigramDeltas(docs: DataFrame, idCol: String,
                           textCol: String, epoch: Long,
                           sign: Int): DataFrame =
    bigrams(docs, idCol, textCol)
      .groupBy("w1", "w2").agg((count(lit(1)) * lit(sign.toLong)).as("c"))
      .withColumn("epoch", lit(epoch))

  /** One word-occurrence delta row per distinct batch word, signed and
    * epoch-tagged like [[bigramDeltas]]. Occurrence counts (not set
    * membership) are what make takedown exact: a word leaves the
    * vocabulary precisely when the removals subtract every occurrence
    * the absorbs added.
    */
  private def vocabDeltas(docs: DataFrame, textCol: String, epoch: Long,
                          sign: Int): DataFrame =
    docs.select(explode(toks(col(textCol))).as("w"))
      .groupBy("w").agg((count(lit(1)) * lit(sign.toLong)).as("c"))
      .withColumn("epoch", lit(epoch))

  /** The live vocabulary (folded occurrence count > 0), optionally
    * excluding one epoch's delta rows — the repair path computes
    * "standing state before this epoch" that way, so a replay after a
    * partial vocab landing still derives the exact V delta.
    */
  private def liveVocab(spark: SparkSession, table: String,
                        excludeEpoch: Option[Long]): DataFrame = {
    val base = spark.table(s"${table}_vocab")
    val src = excludeEpoch.map(e => base.filter(col("epoch") =!= e))
      .getOrElse(base)
    src.groupBy("w").agg(sum("c").as("c")).filter(col("c") > 0)
  }

  /** Build: ONE tokenize scan → `<table>` (bigram deltas, bucketed by
    * w1) + `<table>_vocab` (word-occurrence deltas, bucketed by w) +
    * `<table>_stats` (one row: V = the corpus's distinct word count) +
    * `<table>_gen` (the model-generation ledger, see [[genOf]]).
    */
  def train(corpus: DataFrame, idCol: String, textCol: String,
            table: String, buckets: Int = 8): Unit = {
    GraftFunctions.ensureRegistered(corpus.sparkSession)
    BucketedJoin.writeBucketed(
      bigramDeltas(corpus, idCol, textCol, -1L, 1), table, "w1", buckets)
    val vd = vocabDeltas(corpus, textCol, -1L, 1)
    BucketedJoin.writeBucketed(vd, s"${table}_vocab", "w", buckets)
    BucketedJoin.writeBucketed(
      vd.agg(count(lit(1)).as("v")).withColumn("epoch", lit(-1L)),
      s"${table}_stats", "v", 1)
    BucketedJoin.writeBucketed(genRow(corpus.sparkSession, -1L),
      s"${table}_gen", "g", 1)
  }

  /** One fresh generation row `(g, epoch)`: `g` is a random 64-bit
    * draw, so any mutation changes the ledger's XOR-folded generation
    * value with overwhelming probability (a collision needs later
    * draws to XOR to exactly zero against earlier ones — ~2⁻⁶⁴). The
    * value is a CACHE KEY, never a score input: randomness here cannot
    * touch the determinism contract.
    */
  private def genRow(spark: SparkSession, epoch: Long): DataFrame =
    spark.range(1).select(
      lit(scala.util.Random.nextLong()).as("g"),
      lit(epoch).as("epoch"))

  /** The model's current GENERATION — the XOR-fold of the `_gen`
    * ledger's random rows (XOR is order-independent and cannot
    * overflow under ANSI arithmetic, unlike a long sum of random
    * draws): train/append/remove each append a fresh draw (so the
    * generation moves on every mutation), while [[compact]] folds the
    * ledger to one row carrying the SAME fold (compaction changes no
    * score, so caches keyed on the generation stay valid through it).
    * None for a model built before the ledger existed — callers fall
    * back to uncached reads.
    */
  private def genOf(spark: SparkSession, table: String): Option[Long] = {
    val t = s"${table}_gen"
    BucketedJoin.recoverCompacted(spark, t)
    if (!spark.sessionState.catalog.tableExists(
        org.apache.spark.sql.catalyst.TableIdentifier(t))) None
    else Some(spark.table(t)
      .agg(coalesce(expr("bit_xor(g)"), lit(0L))).head().getLong(0))
  }

  /** Absorb a batch of NEW documents at O(batch) cost: the batch's
    * bigram deltas re-bucket into the standing layout, word-occurrence
    * deltas append to the vocab, and one stats row records how many
    * words the batch made newly live. Nothing existing is rewritten —
    * counts fold at query time ([[score]]), or physically via
    * [[compact]]. The one standing read is the vocab fold behind the
    * stats delta (zero-exchange — grouped on the bucket key — and paid
    * on the ingest cadence, which is what bought [[score]] its
    * scan-free V).
    *
    * `epoch`/`repair`: the streaming-replay contract. A replayed epoch
    * calls with `repair = true`; each delta append then anti-joins the
    * standing table's rows FOR THIS EPOCH and appends only what a
    * crash lost (each epoch writes at most one row per (w1, w2) / per
    * w / one stats row, so the anti-joins complete a partial landing
    * exactly), and the stats delta recomputes against the standing
    * vocab EXCLUDING this epoch's rows — exact even when the crash
    * landed part of the batch's vocab deltas first.
    */
  def append(spark: SparkSession, table: String, docs: DataFrame,
             idCol: String, textCol: String, epoch: Long = -1L,
             repair: Boolean = false): Unit =
    absorb(spark, table, docs, idCol, textCol, epoch, repair, sign = 1)

  /** Takedown: subtract previously-absorbed documents from the model by
    * appending NEGATED count deltas — the additive inverse of
    * [[append]], folded by the same query-time/compact machinery. After
    * a remove, scores are numerically IDENTICAL to a model trained
    * without those documents (oracle-gated at t30): bigram counts
    * cancel exactly, words whose occurrences all came from the removed
    * docs drop out of the vocabulary (the counted-vocab fold hits
    * zero), and the stats row subtracts them from V.
    *
    * Contract (the dd11/t19 takedown discipline): `docs` must be
    * documents the model actually absorbed, with IDENTICAL text —
    * removing never-added or altered documents drives counts negative
    * and corrupts the model silently. Same `epoch`/`repair` replay
    * semantics as [[append]].
    */
  def remove(spark: SparkSession, table: String, docs: DataFrame,
             idCol: String, textCol: String, epoch: Long = -1L,
             repair: Boolean = false): Unit =
    absorb(spark, table, docs, idCol, textCol, epoch, repair, sign = -1)

  /** Shared absorb/takedown body — see [[append]]/[[remove]] for the
    * contracts. Write order matters for the crash story: the stats
    * delta lands FIRST (its plan reads the standing vocab, so it must
    * execute before this batch's vocab rows do), then the vocab and
    * bigram deltas; a crash anywhere leaves every table repairable by
    * the epoch anti-joins above.
    */
  private def absorb(spark: SparkSession, table: String, docs: DataFrame,
                     idCol: String, textCol: String, epoch: Long,
                     repair: Boolean, sign: Int): Unit = {
    GraftFunctions.ensureRegistered(spark)
    require(!repair || epoch >= 0,
      "repair replays a uniquely-tagged streaming epoch; tag the batch " +
        s"with epoch >= 0 (got $epoch)")
    val vd0 = vocabDeltas(docs, textCol, epoch, sign)
    // V delta: a word flips live/dead when the batch's signed count
    // crosses its folded standing count through zero
    val standing = liveVocab(spark, table,
        if (repair) Some(epoch) else None)
      .select(col("w"), col("c").as("_sc"))
    val fold = coalesce(col("_sc"), lit(0L))
    val dv = vd0.join(standing, Seq("w"), "left")
      .select((when(fold + col("c") > 0, 1L).otherwise(0L)
             - when(fold > 0, 1L).otherwise(0L)).as("d"))
      .agg(coalesce(sum("d"), lit(0L)).as("v"))
      .withColumn("epoch", lit(epoch))
    val statsHasEpoch = repair &&
      !spark.table(s"${table}_stats").filter(col("epoch") === epoch).isEmpty
    if (!statsHasEpoch)
      BucketedJoin.appendBucketed(dv, s"${table}_stats", "v")
    // move the generation ledger. Lands BEFORE the vocab/bigram deltas:
    // a crash after any delta lands must already have invalidated the
    // caches. The append is UNCONDITIONAL — on repair replays too, even
    // when this epoch already holds a gen row: a crash between the
    // original gen append and the delta appends lets a scoreSharded in
    // that window cache the pre-delta V under the post-append
    // generation, and a replay that skipped the ledger (the old
    // idempotent-per-epoch form) would land the missing deltas WITHOUT
    // moving the generation — serving the stale cached V indefinitely,
    // the one heal path that used to survive repair wrong. A fresh draw
    // per replay costs at most one extra refold (the generation is a
    // cache KEY, never a score input — extra rows only move the XOR
    // fold again). Models from before the ledger existed pick one up on
    // their first mutation.
    BucketedJoin.appendBucketed(genRow(spark, epoch), s"${table}_gen", "g",
      defaultBuckets = 1)
    val vd = if (repair)
      vd0.join(spark.table(s"${table}_vocab")
          .filter(col("epoch") === epoch).select("w"),
        Seq("w"), "left_anti")
    else vd0
    BucketedJoin.appendBucketed(vd, s"${table}_vocab", "w")
    val deltas0 = bigramDeltas(docs, idCol, textCol, epoch, sign)
    val deltas = if (repair)
      deltas0.join(
        spark.table(table).filter(col("epoch") === epoch)
          .select("w1", "w2"),
        Seq("w1", "w2"), "left_anti")
    else deltas0
    BucketedJoin.appendBucketed(deltas, table, "w1")
  }

  /** Physically fold accumulated deltas: one row per (w1, w2) / per
    * word / one stats row, same bucketed layouts, scores unchanged (the
    * fold [[score]] does lazily, made durable). Rows whose counts
    * cancelled to zero — a removed document's bigrams, a retired word —
    * are DROPPED, so a remove-then-compact table is physically the
    * train-without table. Crash-safe via the shared
    * stage → rename-aside swap ([[BucketedJoin.rewriteBucketed]]) —
    * never overwrites the only copy in place.
    *
    * Folded rows carry epoch −1 ("base"): compaction only ever runs on
    * committed epochs (the refresh loop's cadence), and committed
    * epochs never replay their appends, so erasing their tags is safe.
    */
  def compact(spark: SparkSession, table: String): Unit =
    compactImpl(spark, table, failAt = -1)

  /** [[compact]] with the [[BucketedJoin.rewriteBucketedImpl]] crash
    * seam threaded through — the chaos spec kills the fold after every
    * swap boundary and asserts [[score]] heals bit-identical (score
    * runs [[BucketedJoin.recoverCompacted]] on all three tables before
    * reading). `failAt` indexes the 15 boundaries linearly: 0-4 the
    * bigram-table swap, 5-9 the vocab swap, 10-14 the stats swap.
    */
  private[graft] def compactImpl(spark: SparkSession, table: String,
                                 failAt: Int): Unit = {
    def seam(base: Int): Int =
      if (failAt >= base && failAt <= base + 4) failAt - base else -1
    BucketedJoin.rewriteBucketedImpl(spark, table, "w1", seam(0))(df =>
      df.groupBy("w1", "w2").agg(sum("c").as("c"))
        .filter(col("c") =!= 0)
        .withColumn("epoch", lit(-1L)))
    BucketedJoin.rewriteBucketedImpl(spark, s"${table}_vocab", "w",
        seam(5))(df =>
      df.groupBy("w").agg(sum("c").as("c"))
        .filter(col("c") =!= 0)
        .withColumn("epoch", lit(-1L)))
    BucketedJoin.rewriteBucketedImpl(spark, s"${table}_stats", "v",
        seam(10))(df =>
      df.agg(coalesce(sum("v"), lit(0L)).as("v"))
        .withColumn("epoch", lit(-1L)))
    // generation ledger: fold to ONE row carrying the SAME XOR-fold —
    // compaction changes no score, so caches keyed on the generation
    // stay valid through it (no seam needed: the swap is itself
    // crash-safe and every reader heals it via recoverCompacted)
    if (spark.sessionState.catalog.tableExists(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${table}_gen")))
      BucketedJoin.rewriteBucketed(spark, s"${table}_gen", "g")(df =>
        df.agg(coalesce(expr("bit_xor(g)"), lit(0L)).as("g"))
          .withColumn("epoch", lit(-1L)))
  }

  /** Score: per-doc Σ round(ln((c(w1,w2)+1)/(c(w1)+V))·1e6) over the
    * doc's adjacent-pair bigrams (integer micro sum) plus the bigram
    * count. Unseen histories/bigrams smooth to (0+1)/(0+V) naturally
    * through the left joins. Counts fold from the delta table inside
    * the plan (bucket-local aggregates, no exchange on the index).
    *
    * SCAN NARROWING (the BM25 pushed-term discipline,
    * [[Retrieval.prunedByValues]]), gated in two bounded steps so
    * corpus-shaped calls never pay for it:
    *  1. a `limit(maxPushDocs + 1).count()` probe (bounded control
    *     read) — batches past `maxPushDocs` docs (default 2048) take
    *     the unpruned zero-exchange fold directly, WITHOUT the term
    *     collect: a corpus-shaped batch's w1 set is the vocabulary, so
    *     pruning cannot help and the collect's extra tokenize pass is
    *     pure loss (measured: +32% on the full-corpus bench_lm shape
    *     before this gate);
    *  2. for small-doc batches, the distinct w1 values collect under
    *     `maxPushTerms` (default 16384 — the cap bounds the literal
    *     list the plan carries; a vocabulary-sized ~131k-literal IN
    *     was MEASURED to OOM an 8 GiB JVM through optimizer tree
    *     churn) and prune the delta scan: per-value parquet IN up to
    *     256 distinct w1 (pages skip on exact values), post-scan InSet
    *     above (the fold's AGGREGATE then runs on batch-proportional
    *     rows while the scan keeps its bucketing — zero exchange
    *     either way).
    * BOTH folds stay exact: the bigram fold only ever joins on batch
    * (w1, w2) pairs (w1 superset ✓), and the history fold groups by
    * w1 with every w2 row for a retained w1 kept (w1-level pruning
    * loses nothing ✓). Measured (BASELINE.md round-15 LM serving
    * table): a 100-doc batch at 1e7 serves 2.4–3× under the unpruned
    * fold; the full-corpus pass is untouched at ~23 μs/doc.
    * V never touches the vocab: it is the one-row fold of the tiny
    * `_stats` delta ledger maintained by train/append/remove.
    */
  def score(spark: SparkSession, table: String, docs: DataFrame,
            idCol: String, textCol: String,
            maxPushTerms: Int = 1 << 14,
            maxPushDocs: Int = 1 << 11): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    // heal a crashed compact before reading (the rename-aside swap can
    // die between its two renames, leaving a table briefly absent —
    // recoverCompacted rolls the idempotent swap forward or back, the
    // bm25 healFold discipline applied to the LM fold)
    BucketedJoin.recoverCompacted(spark, table)
    BucketedJoin.recoverCompacted(spark, s"${table}_vocab")
    BucketedJoin.recoverCompacted(spark, s"${table}_stats")
    val v = spark.table(s"${table}_stats")
      .agg(coalesce(sum("v"), lit(0L))).head().getLong(0)
    // V = 0 means the model trained on an empty/whitespace-only corpus
    // (or every document was removed): every scored bigram would compute
    // ln((c+1)/0) = +Inf and the long cast would saturate to garbage
    // scores — fail loudly instead
    require(v > 0, s"LangModel.score: model $table has an empty " +
      "vocabulary (trained on an empty or whitespace-only corpus, " +
      "or fully removed)")
    Retrieval.raiseInFilterThreshold(spark, Retrieval.maxInPushValues)
    val bg = bigrams(docs, idCol, textCol)
    val w1s = pushableW1(bg, docs, maxPushTerms, maxPushDocs)
    val idx = w1s.map(Retrieval.prunedByValues(spark.table(table), "w1", _))
      .getOrElse(spark.table(table))
    scoreFolded(bg, docs, idCol, v,
      idx.groupBy("w1", "w2").agg(sum("c").as("c")))
  }

  /** [[score]] against a DOC-DISJOINT family of shard models — the
    * serving form when the corpus trains shard-parallel (the round-15
    * sharded layout applied to the LM: S shards each [[train]] on their
    * own documents with zero coordination — counts are ADDITIVE, so the
    * union of the shard delta tables IS the whole-corpus model's count
    * table, exactly; oracle-gated at t35 against a train-on-everything
    * model). Per-shard folds stay bucket-local zero-exchange; only the
    * FOLDED per-shard (w1, w2) rows — term-pruned for small batches by
    * the same two-step gate as [[score]] — cross shards in the combine.
    *
    * The one cost [[score]] doesn't pay: V must fold ACROSS the shard
    * vocabularies (shards overlap on words, so the per-shard stats
    * ledgers are NOT additive) — a vocabulary-bounded driver count
    * (vocabularies grow ~log with corpus mass; at the measured
    * 10⁷-doc zipf corpus the vocab table is 131k rows — control-plane
    * sized, never corpus sized). `statsTable` MEMOIZES that fold per
    * model generation: pass a table name and the call reads the cached
    * `(sig, v)` row — one tiny-table lookup, no vocab scan — refolding
    * (and rewriting the cache, crash-safe swap) only when any shard's
    * generation ledger moved since ([[genOf]]: every
    * train/append/remove moves it; [[compact]] preserves it). A
    * serving cadence thus pays the fold once per shard-family
    * mutation, not per call. Shards built before the generation ledger
    * existed fall back to the per-call fold until their first
    * mutation.
    */
  def scoreSharded(spark: SparkSession, tables: Seq[String],
                   docs: DataFrame, idCol: String, textCol: String,
                   maxPushTerms: Int = 1 << 14,
                   maxPushDocs: Int = 1 << 11,
                   statsTable: Option[String] = None): DataFrame = {
    require(tables.nonEmpty, "scoreSharded needs at least one shard")
    GraftFunctions.ensureRegistered(spark)
    GraftFunctions.unionGuard(spark)
    tables.foreach { t =>
      BucketedJoin.recoverCompacted(spark, t)
      BucketedJoin.recoverCompacted(spark, s"${t}_vocab")
      BucketedJoin.recoverCompacted(spark, s"${t}_stats")
    }
    val v = shardedV(spark, tables, statsTable)
    require(v > 0, s"LangModel.scoreSharded: shards $tables fold to an " +
      "empty vocabulary (trained on empty or whitespace-only corpora, " +
      "or fully removed)")
    Retrieval.raiseInFilterThreshold(spark, Retrieval.maxInPushValues)
    val bg = bigrams(docs, idCol, textCol)
    val w1s = pushableW1(bg, docs, maxPushTerms, maxPushDocs)
    val cnt = tables.map { t =>
        val base = spark.table(t).select("w1", "w2", "c")
        w1s.map(Retrieval.prunedByValues(base, "w1", _)).getOrElse(base)
          .groupBy("w1", "w2").agg(sum("c").as("c"))
      }.reduce(_.unionByName(_))
      .groupBy("w1", "w2").agg(sum("c").as("c"))
    scoreFolded(bg, docs, idCol, v, cnt)
  }

  /** Global V across DOC-DISJOINT shard models, optionally memoized
    * per model generation (see [[scoreSharded]]'s `statsTable` note).
    * The cache is ONE `(sig, v)` row where `sig` is the exact
    * `shard=generation` list (full-string compare — no hash-collision
    * exposure on a correctness value); any mismatch refolds the
    * vocabularies and swaps the row in crash-safely
    * ([[BucketedJoin.rewriteBucketed]]; a kill mid-swap heals at the
    * next call's recoverCompacted, worst case one extra refold).
    */
  private def shardedV(spark: SparkSession, tables: Seq[String],
                       statsTable: Option[String]): Long = {
    def fold(): Long =
      tables.map(t => spark.table(s"${t}_vocab").select("w", "c"))
        .reduce(_.unionByName(_))
        .groupBy("w").agg(sum("c").as("c")).filter(col("c") > 0)
        .count()
    statsTable match {
      case None => fold()
      case Some(st) =>
        val gens = tables.map(genOf(spark, _))
        if (gens.exists(_.isEmpty)) fold()
        else {
          val sig = tables.zip(gens)
            .map { case (t, g) => s"$t=${g.get}" }.mkString("|")
          BucketedJoin.recoverCompacted(spark, st)
          val exists = spark.sessionState.catalog.tableExists(
            org.apache.spark.sql.catalyst.TableIdentifier(st))
          val hit = if (exists)
            spark.table(st).filter(col("sig") === sig).select("v")
              .collect().headOption.map(_.getLong(0))
          else None
          hit.getOrElse {
            val v = fold()
            val row = spark.range(1)
              .select(lit(sig).as("sig"), lit(v).as("v"))
            if (exists) BucketedJoin.rewriteBucketed(spark, st, "v")(_ => row)
            else BucketedJoin.writeBucketed(row, st, "v", 1)
            v
          }
        }
    }
  }

  /** Grow one LM shard into two doc-disjoint children under the
    * hierarchical router ([[Sharding.staysInFirstChild]]) through the
    * one reshard protocol and its crash contract ([[Sharding]]). The
    * bigram/vocab tables are COUNT AGGREGATES with no doc attribution —
    * a doc-routed split cannot be derived from the index alone — so the
    * split re-trains the children from `docs`, which MUST be exactly
    * the documents the parent absorbed (minus removals), with identical
    * text: the corpus is the system of record, and the cost is
    * O(parent shard's corpus), other shards untouched. Count
    * additivity makes the children's union the parent's counts exactly,
    * so sharded scoring over the family with the parent replaced by its
    * children is numerically IDENTICAL (gated at t41); takedown keeps
    * working because each doc's counts still live in exactly one child.
    */
  def splitShard(spark: SparkSession, parent: String,
                 child0: String, child1: String,
                 docs: DataFrame, idCol: String, textCol: String,
                 shardIndex: Int = 0, nShards: Int = 1): Unit =
    splitShardImpl(spark, parent, child0, child1, docs, idCol, textCol,
      shardIndex, nShards, failAt = -1)

  /** [[splitShard]] with the [[Retrieval.InjectedSplitCrash]] seam. */
  private[graft] def splitShardImpl(spark: SparkSession, parent: String,
                                    child0: String, child1: String,
                                    docs: DataFrame, idCol: String,
                                    textCol: String, shardIndex: Int,
                                    nShards: Int, failAt: Int): Unit =
    Sharding.split(spark, new Reshard(Some((docs, idCol, textCol))), parent,
      child0, child1, shardIndex, nShards, failAt)

  /** The inverse of [[splitShard]] — fold two doc-disjoint LM shards
    * into one ([[Retrieval.mergeShards]]' shrink path for the LM
    * family). Counts are ADDITIVE, so the merged bigram/vocab tables
    * are the row UNIONS of the parents' delta tables verbatim (no
    * corpus needed — unlike the split, which must re-attribute counts
    * to docs); the stats ledger RECOMPUTES (per-shard V deltas are not
    * additive across shards — words overlap), one vocabulary-bounded
    * count paid at merge time; the generation ledger starts fresh (a
    * new table is a new generation — stats caches refold on first
    * use). Sharded scoring over the family with the parents replaced
    * by the merge is numerically identical.
    */
  def mergeShards(spark: SparkSession, parent0: String, parent1: String,
                  merged: String): Unit =
    mergeShardsImpl(spark, parent0, parent1, merged, failAt = -1)

  /** [[mergeShards]] with the [[Retrieval.InjectedSplitCrash]] seam. */
  private[graft] def mergeShardsImpl(spark: SparkSession, parent0: String,
                                     parent1: String, merged: String,
                                     failAt: Int): Unit =
    Sharding.merge(spark, reshard, parent0, parent1, merged, failAt)

  /** The LM family's reshard layout; `corpus` = (the parent's absorbed
    * docs, idCol, textCol) — only a split needs it (see
    * [[splitShard]]). */
  private[graft] final class Reshard(
      corpus: Option[(DataFrame, String, String)])
      extends Sharding.Family("", Seq(
        Sharding.Part("", "w1", Sharding.Counts),
        Sharding.Part("_vocab", "w", Sharding.Counts),
        Sharding.Part("_stats", "v"), Sharding.Part("_gen", "g"))) {
    override def buildChild(spark: SparkSession, parent: String,
                            child: String, keep: String => Column,
                            buckets: Int): Unit = {
      val (docs, idCol, textCol) = corpus.getOrElse(throw
        new IllegalArgumentException("an LM split re-trains the children " +
          "from the parent's absorbed corpus (docs, idCol, textCol)"))
      train(docs.filter(keep(idCol)), idCol, textCol, child, buckets)
    }
    override def derive(spark: SparkSession, table: String,
                        parents: Seq[String], buckets: Int): Unit = {
      BucketedJoin.writeBucketed(
        spark.table(s"${table}_vocab")
          .groupBy("w").agg(sum("c").as("c")).filter(col("c") > 0)
          .agg(count(lit(1)).as("v")).withColumn("epoch", lit(-1L)),
        s"${table}_stats", "v", 1)
      BucketedJoin.writeBucketed(genRow(spark, -1L), s"${table}_gen", "g", 1)
    }
  }

  /** The LM layout for merges and liveness probes. */
  private[graft] val reshard: Reshard = new Reshard(None)

  /** The two-step scan-narrowing gate shared by [[score]] and
    * [[scoreSharded]] (see [[score]]'s SCAN NARROWING note): None ⇒
    * take the unpruned fold; Some(w1s) ⇒ prune the delta scan(s) to the
    * batch's distinct w1 values.
    */
  private def pushableW1(bg: DataFrame, docs: DataFrame,
                         maxPushTerms: Int, maxPushDocs: Int)
      : Option[Seq[String]] = {
    val smallBatch = maxPushDocs > 0 &&
      docs.limit(maxPushDocs + 1).count() <= maxPushDocs
    if (!smallBatch) None
    else {
      val w1s = bg.select("w1").distinct().limit(maxPushTerms + 1)
        .collect().map(_.getString(0)).toSeq
      if (w1s.size <= maxPushTerms) Some(w1s) else None
    }
  }

  /** The shared scoring tail: smooth-join the batch's bigrams against
    * the FOLDED count table `cnt` (one row per (w1, w2); `hist` derives
    * from it, so w1-level pruning upstream stays exact), integer-micro
    * per-doc sums, <2-token docs restored as (0, 0).
    */
  private def scoreFolded(bg: DataFrame, docs: DataFrame, idCol: String,
                          v: Long, cnt: DataFrame): DataFrame = {
    val hist = cnt.groupBy("w1").agg(sum("c").as("ch"))
    val contrib = bg
      .join(cnt, Seq("w1", "w2"), "left")
      .join(hist, Seq("w1"), "left")
      .select(col("id"),
        round(log(
            (coalesce(col("c"), lit(0L)).cast("double") + lit(1.0)) /
            (coalesce(col("ch"), lit(0L)).cast("double") + lit(v.toDouble)))
          * lit(1e6)).cast("long").as("lp"))
    val scored = contrib.groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lp").as("logp_micro"))
    // <2-token docs produced no bigram rows: restore them with (0, 0)
    docs.select(col(idCol).as("id")).distinct()
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("logp_micro"), lit(0L)).as("logp_micro"))
  }
}
